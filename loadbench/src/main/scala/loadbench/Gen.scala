package loadbench

import java.security.MessageDigest

/** Seeded input generators. Every generator is a pure function of the seed,
  * so a run's inputs, and the expected answers derived from them, repeat
  * exactly for the same seed. The system under test only ever sees the
  * generated rows, requests and documents.
  */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) from hash stream (seed, salt, i). */
  def draw(seed: Long, salt: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(seed * 0x2545F4914F6CDD1DL + salt) + i), n)

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Digest = { md.update(s.getBytes("UTF-8")); md.update(0.toByte); this }
    def add(b: Array[Byte]): Digest = { md.update(b); this }
    def add(l: Long): Digest = add(l.toString)
    def hex: String = md.digest().take(8).map(b => f"${b & 0xFF}%02x").mkString
  }

  // ---- metrics label space shared by dashboard and ingest_mixed ----------

  val Pods = 10000
  val Services = 20
  val Regions = 4
  def podName(p: Int): String = f"pod-$p%05d"
  def serviceName(s: Int): String = f"svc-$s%02d"
  def regionName(r: Int): String = s"region-$r"

  /** Seeded pod → service / region assignment; every service gets exactly
    * Pods / Services pods (the multiplier is a unit modulo Services).
    */
  final class Labels(seed: Long) {
    private val units = Array(1L, 3L, 7L, 9L, 11L, 13L, 17L, 19L)
    val svcMul: Long = units(draw(seed, 1, 0, units.length).toInt)
    val svcAdd: Long = draw(seed, 2, 0, Services)
    val regAdd: Long = draw(seed, 3, 0, Regions)
    def service(p: Int): Int = ((p * svcMul + svcAdd) % Services).toInt
    def region(p: Int): Int = ((p / 7 + regAdd) % Regions).toInt
  }

  // ---- dashboard: a static multi-hour warehouse --------------------------

  /** 2 metrics × 10 000 pods sampled every 10 minutes for 4 hours. Values are
    * integer arithmetic in the pod and tick (exact in doubles), written in
    * both Scala (the oracle) and Spark SQL (the bulk loader) below.
    */
  final class Warehouse(val seed: Long) {
    val labels = new Labels(seed)
    val hours = 4
    val tickSec = 600
    val ticks: Int = hours * 3600 / tickSec
    val t0Sec = 1704067200L // 2024-01-01T00:00:00Z
    val Counter = "http_requests_total"
    val Gauge = "mem_bytes"
    val metrics = Seq(Counter, Gauge)
    val a1: Long = 1 + draw(seed, 10, 0, 1000)
    val a2: Long = 1 + draw(seed, 11, 0, 1000)
    val a3: Long = 1 + draw(seed, 12, 0, 1000)
    val a4: Long = 1 + draw(seed, 13, 0, 1000)
    val c1: Long = draw(seed, 14, 0, 10000)
    val rows: Long = Pods.toLong * ticks * metrics.size

    def tsSec(tick: Int): Long = t0Sec + tick.toLong * tickSec
    def counterRate(p: Int): Long = 1 + Math.floorMod(p * a2 + c1, 50L)
    def counterBase(p: Int): Long = Math.floorMod(p * a1 + c1, 10000L)
    def counter(p: Int, t: Int): Double = (counterBase(p) + t * counterRate(p)).toDouble
    def gauge(p: Int, t: Int): Double =
      Math.floorMod(p * a3 + t * a4 + Math.floorMod(p.toLong * t, 97L) * 7L + c1, 1000L).toDouble
    def value(m: String, p: Int, t: Int): Double = if (m == Counter) counter(p, t) else gauge(p, t)

    /** Ticks whose timestamp lies in [startSec, endSec] (inclusive). */
    def ticksIn(startSec: Long, endSec: Long): Seq[Int] =
      (0 until ticks).filter { t => val s = tsSec(t); s >= startSec && s <= endSec }

    def digest(d: Digest): Digest =
      d.add("warehouse").add(seed).add(labels.svcMul).add(labels.svcAdd).add(labels.regAdd)
        .add(a1).add(a2).add(a3).add(a4).add(c1).add(rows)

    /** The same rows as a Spark DataFrame, for pods [fromPod, untilPod). */
    def frame(spark: org.apache.spark.sql.SparkSession, fromPod: Int, untilPod: Int)
        : org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      val pods = (untilPod - fromPod).toLong
      val p = col("p")
      val t = col("t")
      val base = spark.range(0, pods * ticks * 2, 1, 4)
        .select((col("id") % 2).as("m"), expr(s"(id div 2) % $pods + $fromPod").as("p"),
          expr(s"id div ${2L * pods}").as("t"))
      val counterV = (pmod(p * a1 + c1, lit(10000L)) +
        t * (pmod(p * a2 + c1, lit(50L)) + 1)).cast("double")
      val gaugeV = pmod(p * a3 + t * a4 + pmod(p * t, lit(97L)) * 7 + c1, lit(1000L)).cast("double")
      val tsNs = (lit(t0Sec) + t * tickSec) * 1000000000L
      base.select(
        timestamp_seconds(lit(t0Sec) + t * tickSec).as("timestamp"),
        tsNs.as("timestamp_ns"),
        when(col("m") === 0, lit(Counter)).otherwise(lit(Gauge)).as("metric_name"),
        format_string("pod-%05d", p).as("pod"),
        concat(lit("region-"), pmod(p.divide(7).cast("long") + labels.regAdd, lit(Regions.toLong)))
          .as("region"),
        format_string("svc-%02d", pmod(p * labels.svcMul + labels.svcAdd, lit(Services.toLong)))
          .as("service"),
        when(col("m") === 0, counterV).otherwise(gaugeV).as("value_f64"),
        lit(null).cast("long").as("value_i64"),
        lit(null).cast("long").as("value_u64"))
    }
  }

  /** One dashboard panel request. Windows are in unix seconds, inclusive. */
  sealed trait Panel { def startSec: Long; def endSec: Long; def key: String }
  final case class RatePanel(pod: Int, startSec: Long, endSec: Long) extends Panel {
    def key = s"rate|$pod|$startSec"
  }
  final case class SumByPanel(startSec: Long, endSec: Long) extends Panel {
    def key = s"sumby|$startSec"
  }
  final case class SqlPanel(region: Int, startSec: Long, endSec: Long) extends Panel {
    def key = s"sql|$region|$startSec"
  }
  final case class LabelPanel(service: Int, startSec: Long, endSec: Long) extends Panel {
    def key = s"label|$service|$startSec"
  }

  val StepSec = 900L
  val WindowSec = 3600L

  /** The panel set of one refresh, each with a seeded window that no
    * earlier request of the run used (so no cache tier can serve it).
    */
  final class PanelStream(wh: Warehouse, stream: Long,
                          used: scala.collection.mutable.Set[String]) {
    private var i = 0L
    private def next(n: Long): Long = { i += 1; draw(wh.seed, 100 + stream, i, n) }
    private def fresh(mk: => Panel): Panel = {
      var p = mk
      while (!used.add(p.key)) p = mk
      p
    }
    private def window(): (Long, Long) = {
      val span = wh.hours * 3600L - WindowSec
      val s = wh.t0Sec + next(span)
      (s, s + WindowSec)
    }
    def refresh(): Seq[Panel] = Seq(
      fresh { val (s, e) = window(); RatePanel(next(Pods).toInt, s, e) },
      fresh { val (s, e) = window(); SumByPanel(s, e) },
      fresh { val (s, e) = window(); SqlPanel(next(Regions).toInt, s, e) },
      fresh { val (s, e) = window(); LabelPanel(next(Services).toInt, s, e) })
  }

  // ---- ingest_mixed: remote-write batches with advancing timestamps -------

  /** Write i carries `seriesPerWrite` distinct pods' series, 6 samples each,
    * 10 s apart, in its own 60 s slice of virtual time starting at t0.
    */
  final class WriteStream(val seed: Long, val seriesPerWrite: Int) {
    val labels = new Labels(seed)
    val t0Sec = 1704067200L
    val sliceSec = 60L
    val samplesPerSeries = 6
    val metricNames = Seq("req_total", "latency_ms", "queue_depth")
    def samplesPerWrite: Int = seriesPerWrite * samplesPerSeries
    def sliceStartNs(i: Int): Long = (t0Sec + i * sliceSec) * 1000000000L
    def sliceEndNs(i: Int): Long = sliceStartNs(i + 1) // exclusive

    def pods(i: Int): Seq[Int] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
      var k = 0L
      while (seen.size < seriesPerWrite) { seen += draw(seed, 200, i * 100000L + k, Pods).toInt; k += 1 }
      seen.toSeq
    }
    def metricOf(i: Int, pod: Int): Int = Math.floorMod(pod + i, metricNames.size)

    def series(i: Int): Seq[RemoteWrite.Series] = pods(i).map { p =>
      val m = metricOf(i, p)
      val lbls = Seq("__name__" -> metricNames(m), "pod" -> podName(p),
        "region" -> regionName(labels.region(p)), "service" -> serviceName(labels.service(p)))
      val samples = (0 until samplesPerSeries).map { j =>
        val tsMs = (t0Sec + i * sliceSec + j * 10L) * 1000L
        val raw = draw(seed, 300 + m, p * 1000003L + i * 7L + j, 100000L)
        // latency is fractional (value_f64); counters and depths integral (value_u64)
        val v = if (m == 1) raw / 4.0 + 0.5 else raw.toDouble
        (tsMs, v)
      }
      RemoteWrite.Series(lbls, samples)
    }

    /** Expected per-metric sample counts of write i. */
    def perMetric(i: Int): Map[String, Long] =
      pods(i).groupBy(p => metricNames(metricOf(i, p))).map { case (m, ps) =>
        m -> ps.size.toLong * samplesPerSeries
      }
  }

  // ---- curation: a corpus with planted duplicates and low-quality docs -----

  final case class Doc(id: Long, text: String)
  final case class Corpus(docs: Seq[Doc], lowIds: Set[Long], exactCopyIds: Set[Long],
                          nearPairs: Seq[(Long, Long)], vectors: Seq[(Long, Array[Double])],
                          queries: Seq[(Long, Array[Double])]) {
    def words(id: Long): Int = byId(id).trim.split("\\s+").length
    lazy val byId: Map[Long, String] = docs.map(d => d.id -> d.text).toMap
  }

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
  private val syllables = Seq("ka", "lo", "mi", "ren", "tas", "vo", "shi", "mar", "den", "qui",
    "pol", "ter", "nu", "sa", "fen", "gro", "bal", "wi", "zo", "ark", "el", "tun", "ver", "ox")

  def corpus(seed: Long, originals: Int, exactCopies: Int, nearDups: Int, lowQuality: Int,
             vectors: Int, dims: Int, queries: Int): Corpus = {
    var ctr = 0L
    def rnd(n: Long): Long = { ctr += 1; draw(seed, 400, ctr, n) }
    val vocab = (0 until 3000).map { w =>
      val n = 1 + (Gen.draw(seed, 401, w, 2)).toInt
      (0 until n).map(k => syllables(Gen.draw(seed, 402, w * 8L + k, syllables.size).toInt))
        .mkString + w.toString.map(c => ('a' + (c - '0')).toChar)
    }.distinct
    def word(): String = if (rnd(10) < 3) stopwords(rnd(stopwords.size).toInt) else vocab(rnd(vocab.size).toInt)
    def goodText(): String = {
      val n = 60 + rnd(50).toInt
      ("the" +: "of" +: Seq.fill(n - 2)(word())).mkString(" ")
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var id = 0L
    def add(t: String): Long = { id += 1; docs += Doc(id, t); id }
    val orig = (0 until originals).map(_ => add(goodText()))
    require(exactCopies + nearDups <= originals, "not enough originals to plant duplicates")
    val low = (0 until lowQuality).map(_ => add(Seq.fill(10 + rnd(20).toInt)(word()).mkString(" "))).toSet
    // exact copies differ only in whitespace and case, which the fingerprint normalizes
    val copies = (0 until exactCopies).map { k =>
      val src = docs(orig(k).toInt - 1).text
      add(("  " + src.capitalize.replace(" of ", "  of\t") + " ").replace(" the ", " The "))
    }.toSet
    // near duplicates: two words swapped for other vocabulary words
    val pairs = (0 until nearDups).map { k =>
      val src = orig(exactCopies + k)
      val toks = docs(src.toInt - 1).text.split(" ")
      val a = 2 + rnd(toks.length - 2).toInt
      val b = 2 + rnd(toks.length - 2).toInt
      toks(a) = vocab(rnd(vocab.size).toInt) + "x"
      toks(b) = vocab(rnd(vocab.size).toInt) + "y"
      (src, add(toks.mkString(" ")))
    }
    val centers = (0 until 16).map(_ => Array.fill(dims)((rnd(2001) - 1000) / 1000.0))
    def noisy(c: Array[Double]): Array[Double] =
      c.map(x => x + (rnd(2001) - 1000) / 4000.0)
    val vecs = (1 to vectors).map(v => v.toLong -> noisy(centers(rnd(centers.size).toInt)))
    val qs = (1 to queries).map(q => q.toLong -> noisy(centers(rnd(centers.size).toInt)))
    Corpus(docs.toSeq, low, copies, pairs, vecs, qs)
  }

  def digest(c: Corpus, d: Digest): Digest = {
    c.docs.foreach(x => d.add(x.id).add(x.text))
    (c.vectors ++ c.queries).foreach { case (i, v) => d.add(i); v.foreach(x => d.add(x.toString)) }
    d
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}
