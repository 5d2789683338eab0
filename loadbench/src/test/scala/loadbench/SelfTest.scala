package loadbench

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own helpers: percentiles and the "≥ 10 samples
  * beyond" rule, span self time, the remote-write encoder (round-tripped
  * through the server's decoder), and generator determinism, including the
  * bulk loader agreeing with the oracle's value formulas.
  *
  *   python3 loadbench/run.py --self-test
  */
object SelfTest {

  private val results = ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r =
      try { body; None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString)) }
    results += ((name, r))
    println(r.fold(s"ok   $name")(m => s"FAIL $name: $m"))
  }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("nearest-rank quantiles") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.median(xs), 50.0)
      eq(Stats.quantile(xs, 0.95), 95.0)
      eq(Stats.quantile(xs, 1.0), 100.0)
      eq(Stats.quantile(Seq(7.0), 0.5), 7.0)
      eq(Stats.quantile(Seq(3.0, 1.0, 2.0), 0.5), 2.0, "unsorted input")
      eq(Stats.rank(200, 0.95), 190, "0.95 * 200 must not round up to 191")
    }

    test("percentile needs 10 samples beyond it") {
      eq(Stats.beyond(200, 0.95), 10)
      eq(Stats.supports(200, 0.95), true)
      eq(Stats.supports(199, 0.95), false)
      eq(Stats.samplesNeeded(0.95), 200)
      eq(Stats.samplesNeeded(0.99), 1000)
      eq(Stats.samplesNeeded(0.5), 20)
      val (q, v, n) = Stats.tail((1 to 56).map(_.toDouble))
      eq((q, v, n), (0.75, 42.0, 56), "56 samples support p75, not p90")
      eq(Stats.tail((1 to 1000).map(_.toDouble))._1, 0.99)
    }

    test("span self time subtracts the union of direct children") {
      val spans = Seq(
        Span(1, 0, 1, "root", 0, 100),
        Span(2, 1, 1, "a", 10, 30),
        Span(3, 1, 1, "b", 20, 50), // overlaps a: counted once
        Span(4, 1, 1, "c", 90, 120), // clipped to the parent's end
        Span(5, 2, 1, "grandchild", 12, 28)) // covered by a; not the root's child
      val self = Span.selfTimes(spans)
      eq(self(1), 100L - 40L - 10L, "root")
      eq(self(2), 20L - 16L, "a")
      eq(self(5), 16L, "leaf")
      eq(Span.coveredNs(Seq((5L, 8L), (1L, 3L), (2L, 4L)), 0L, 10L), 6L)
      eq(Span.coveredNs(Seq((5L, 8L)), 6L, 7L), 1L)
      eq(Span.subtree(spans, 2), Set(2L, 5L))
    }

    test("tracer records nested spans and passes through when off") {
      val t = new Tracer(true)
      val req = t.newRequest()
      val v = t.span("outer", req)(t.span("inner", req)(41) + 1)
      eq(v, 42)
      val spans = t.finish()
      eq(spans.map(_.name).toSet, Set("outer", "inner"))
      val outer = spans.find(_.name == "outer").get
      eq(spans.find(_.name == "inner").get.parent, outer.id)
      val off = new Tracer(false)
      eq(off.span("x", 1)(7), 7)
      eq(off.finish(), Nil)
    }

    test("remote-write encoder round-trips through PromWire") {
      val series = Seq(
        RemoteWrite.Series(Seq("__name__" -> "req_total", "pod" -> "pod-00042", "zone" -> "é"),
          Seq((1704067200000L, 12.0), (1704067210000L, 0.0))),
        RemoteWrite.Series(Seq("__name__" -> "temp", "pod" -> "pod-00001"),
          Seq((1704067200123L, -3.5), (1704067200124L, -7.0), (1704067200125L, 1e300))))
      val body = RemoteWrite.body(series)
      eq(org.xerial.snappy.Snappy.uncompress(body).toSeq, RemoteWrite.encode(series).toSeq, "snappy")
      val pts = graft.ingest.PromWire.toRoutedPoints(org.xerial.snappy.Snappy.uncompress(body))
      eq(pts.size, 5, "points")
      eq(pts.head.metricName, "req_total")
      eq(pts.head.labels, Map("pod" -> "pod-00042", "zone" -> "é"))
      eq(pts.head.timestampNs, 1704067200000L * 1000000L)
      eq((pts.head.valueU64, pts.head.valueF64), (Some(12L), None), "integral → u64")
      eq((pts(2).valueF64, pts(2).timestampNs), (Some(-3.5), 1704067200123L * 1000000L))
      eq(pts(3).valueI64, Some(-7L), "negative integral → i64")
      eq(pts(4).valueF64, Some(1e300), "huge → f64")
      val ws = new Gen.WriteStream(5, 50)
      val decoded = graft.ingest.PromWire.toRoutedPoints(RemoteWrite.encode(ws.series(3)))
      eq(decoded.size, ws.samplesPerWrite)
      eq(decoded.groupBy(_.metricName).map { case (m, p) => m -> p.size.toLong }, ws.perMetric(3))
      eq(decoded.forall(p => p.timestampNs >= ws.sliceStartNs(3) && p.timestampNs < ws.sliceEndNs(3)),
        true, "slice bounds")
    }

    test("generators are deterministic per seed and differ across seeds") {
      def wh(s: Long) = new Gen.Warehouse(s).digest(new Gen.Digest).hex
      eq(wh(1), wh(1)); assert(wh(1) != wh(2), "warehouse seeds 1 and 2 agree")
      def writes(s: Long) = {
        val d = new Gen.Digest
        (0 until 4).foreach(i => d.add(RemoteWrite.encode(new Gen.WriteStream(s, 100).series(i))))
        d.hex
      }
      eq(writes(7), writes(7)); assert(writes(7) != writes(8), "write seeds 7 and 8 agree")
      def corpus(s: Long) = Gen.digest(Gen.corpus(s, 40, 5, 5, 5, 20, 4, 3), new Gen.Digest).hex
      eq(corpus(3), corpus(3)); assert(corpus(3) != corpus(4), "corpus seeds 3 and 4 agree")
      val w = new Gen.Warehouse(9)
      val used = scala.collection.mutable.HashSet.empty[String]
      val a = new Gen.PanelStream(w, 1, used)
      val b = new Gen.PanelStream(w, 2, used)
      val panels = (1 to 30).flatMap(_ => a.refresh() ++ b.refresh())
      eq(panels.map(_.key).distinct.size, panels.size, "cold windows must never repeat")
      eq((0 until Gen.Pods).groupBy(w.labels.service).values.map(_.size).toSet, Set(Gen.Pods / Gen.Services),
        "pods per service")
    }

    test("planted corpus: duplicates, near-duplicates and low-quality docs") {
      val c = Gen.corpus(11, 60, 10, 10, 10, 20, 4, 3)
      eq(c.docs.size, 90)
      def norm(s: String) = s.trim.toLowerCase.split("\\s+").mkString(" ")
      c.exactCopyIds.foreach { id =>
        assert(c.docs.exists(d => d.id < id && norm(d.text) == norm(c.byId(id))), s"copy $id has no original")
      }
      c.nearPairs.foreach { case (a, b) =>
        def sh(t: String) = norm(t).split(" ").sliding(3).map(_.mkString(" ")).toSet
        val j = (sh(c.byId(a)) intersect sh(c.byId(b))).size.toDouble / (sh(c.byId(a)) union sh(c.byId(b))).size
        assert(j >= 0.75 && j < 1.0, s"pair ($a, $b) has 3-shingle Jaccard $j")
      }
      assert(c.lowIds.forall(c.words(_) < 50), "low-quality docs must fail the token-count rule")
    }

    test("bulk loader rows equal the oracle's formulas") {
      val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val w = new Gen.Warehouse(4)
        val rows = w.frame(spark, 100, 130).collect()
        eq(rows.length, 30 * w.ticks * 2, "rows")
        rows.foreach { r =>
          val pod = r.getAs[String]("pod").stripPrefix("pod-").toInt
          val ts = r.getAs[Long]("timestamp_ns")
          val t = ((ts / 1000000000L - w.t0Sec) / w.tickSec).toInt
          eq(ts, w.tsSec(t) * 1000000000L, "tick alignment")
          eq(r.getAs[Double]("value_f64"), w.value(r.getAs[String]("metric_name"), pod, t), s"value $pod/$t")
          eq(r.getAs[String]("service"), Gen.serviceName(w.labels.service(pod)))
          eq(r.getAs[String]("region"), Gen.regionName(w.labels.region(pod)))
        }
      } finally spark.stop()
    }

    val failed = results.count(_._2.isDefined)
    println(s"${results.size - failed} passed, $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
