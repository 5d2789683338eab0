package loadbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import graft.catalog.ChunkCatalog
import graft.engine.ResultFormat
import graft.ingest.ChunkWriter
import graft.promql.PromQL
import Gen.{LabelPanel, Panel, RatePanel, SqlPanel, SumByPanel}

/** `dashboard`: read-only serving over a static four-hour warehouse. Two
  * closed-loop viewers refresh a fixed panel set; each panel is sent once
  * with a window no earlier request used (cold) and then repeated
  * identically `WarmRepeats` times (warm, other viewers of the same panel),
  * well inside the 2 s response-byte-cache TTL.
  */
object Dashboard {

  /** Refreshes per viewer, sized so the timed phase lasts about `seconds`
    * on a 4-core host (a refresh is 4 cold + 16 warm requests, ~1.4 s).
    */
  def refreshes(seconds: Int): Int =
    if (seconds == 0) 1 else math.max(4, math.ceil(seconds * 0.7).toInt)

  /** Identical repeats after each cold request; each takes about 1 ms, so
    * four of them give the warm median four times the samples for little time.
    */
  val WarmRepeats = 4

  /** Untimed refreshes (split over two threads) before the timed phase. */
  val WarmupRefreshes = 4

  final case class Sample(panel: Panel, coldMs: Double, warmMs: Seq[Double],
                          cold: Http#Response, warm: Seq[Http#Response])

  private def rateQuery(p: RatePanel) = s"""rate(${"http_requests_total"}{pod="${Gen.podName(p.pod)}"}[5m])"""
  private val sumByQuery = "sum by (service) (mem_bytes)"
  private def sql(p: SqlPanel): String =
    s"SELECT service, COUNT(*) AS n, SUM(value_f64) AS total FROM metrics " +
      s"WHERE metric_name = 'mem_bytes' AND region = '${Gen.regionName(p.region)}' " +
      s"AND timestamp_ns >= ${p.startSec * 1000000000L} AND timestamp_ns <= ${p.endSec * 1000000000L} " +
      "GROUP BY service ORDER BY service"
  private def labelMatch(p: LabelPanel) = s"""http_requests_total{service="${Gen.serviceName(p.service)}"}"""

  def send(h: Http, p: Panel): Http#Response = p match {
    case r: RatePanel =>
      h.get(s"/api/v1/query_range?query=${Http.enc(rateQuery(r))}&start=${r.startSec}" +
        s"&end=${r.endSec}&step=${Gen.StepSec}")
    case s: SumByPanel =>
      h.get(s"/api/v1/query_range?query=${Http.enc(sumByQuery)}&start=${s.startSec}" +
        s"&end=${s.endSec}&step=${Gen.StepSec}")
    case q: SqlPanel => h.post("/api/v1/sql", Serving.sqlBody(sql(q)), "application/json")
    case l: LabelPanel =>
      h.get(s"/api/v1/label/pod/values?match[]=${Http.enc(labelMatch(l))}&start=${l.startSec}&end=${l.endSec}")
  }

  // ---- oracle: expected answers computed from the generator ---------------

  private def bucketSec(tsSec: Long): Long = tsSec / Gen.StepSec * Gen.StepSec

  /** Expected matrix series: label value → (bucket second → value). */
  def expectedMatrix(wh: Gen.Warehouse, p: Panel): Map[String, Map[Long, Double]] = p match {
    case r: RatePanel =>
      val pts = wh.ticksIn(r.startSec, r.endSec).groupBy(t => bucketSec(wh.tsSec(t)))
      Map(Gen.podName(r.pod) -> pts.map { case (b, ts) =>
        val vs = ts.map(wh.counter(r.pod, _))
        b -> (vs.max - vs.min) / 300.0
      })
    case s: SumByPanel =>
      val ticks = wh.ticksIn(s.startSec, s.endSec)
      val acc = scala.collection.mutable.HashMap.empty[(Int, Long), Double]
      var pod = 0
      while (pod < Gen.Pods) {
        val svc = wh.labels.service(pod)
        ticks.foreach { t =>
          val k = (svc, bucketSec(wh.tsSec(t)))
          acc(k) = acc.getOrElse(k, 0.0) + wh.gauge(pod, t)
        }
        pod += 1
      }
      acc.groupBy(e => Gen.serviceName(e._1._1)).map { case (svc, m) =>
        svc -> m.map { case ((_, b), v) => b -> v }.toMap
      }
    case _ => Map.empty
  }

  def verify(wh: Gen.Warehouse, p: Panel, body: String): Option[String] = {
    import org.json4s._
    try p match {
      case _: RatePanel | _: SumByPanel =>
        val want = expectedMatrix(wh, p)
        val label = if (p.isInstanceOf[RatePanel]) "pod" else "service"
        val JArray(series) = org.json4s.jackson.JsonMethods.parse(body) \ "data" \ "result"
        val got = series.map { s =>
          Serving.str(s \ "metric" \ label) -> ((s \ "values") match {
            case JArray(vs) => vs.map { case JArray(List(ts, v)) =>
              math.round(Serving.num(ts)) -> Serving.num(v) }.toMap
            case _ => Map.empty[Long, Double]
          })
        }.toMap
        val ok = got.keySet == want.keySet && want.forall { case (k, pts) =>
          got(k).keySet == pts.keySet && pts.forall { case (b, v) => Serving.close(got(k)(b), v) }
        }
        if (ok) None else Some(s"${p.key}: matrix differs (series ${got.size} vs ${want.size})")
      case q: SqlPanel =>
        val ticks = wh.ticksIn(q.startSec, q.endSec)
        val want = (0 until Gen.Pods).filter(wh.labels.region(_) == q.region)
          .groupBy(pod => Gen.serviceName(wh.labels.service(pod))).map { case (svc, pods) =>
            svc -> (pods.size.toLong * ticks.size, pods.map(pod => ticks.map(wh.gauge(pod, _)).sum).sum)
          }
        val got = Serving.rowsOf(body).map { r =>
          Serving.str(r(0)) -> (Serving.num(r(1)).toLong, Serving.num(r(2)))
        }.toMap
        val ok = got.keySet == want.keySet && want.forall { case (k, (n, s)) =>
          got(k)._1 == n && Serving.close(got(k)._2, s)
        }
        if (ok) None else Some(s"${q.key}: sql aggregate differs")
      case l: LabelPanel =>
        val want = (0 until Gen.Pods).filter(wh.labels.service(_) == l.service).map(Gen.podName)
        val JArray(vals) = org.json4s.jackson.JsonMethods.parse(body) \ "data"
        if (vals.map(Serving.str) == want) None
        else Some(s"${l.key}: ${vals.size} label values, want ${want.size}")
    } catch {
      case scala.util.control.NonFatal(e) => Some(s"${p.key}: unparseable response ($e)")
    }
  }

  // ---- setup -------------------------------------------------------------

  /** Bulk-load the warehouse through ChunkWriter in two batches of half the
    * pods each (two L0 chunks per hour) and run one maintenance sweep, which
    * merges each hour into one L1 chunk.
    */
  def load(c: Ctx, wh: Gen.Warehouse, root: Path): ChunkCatalog = {
    val catalog = new ChunkCatalog(root)
    val writer = new ChunkWriter(catalog)
    writer.write(wh.frame(c.spark, 0, Gen.Pods / 2))
    writer.write(wh.frame(c.spark, Gen.Pods / 2, Gen.Pods))
    Serving.maintenance(c.spark, catalog, l0Threshold = 2).runOnce()
    catalog
  }

  // ---- run ---------------------------------------------------------------

  def run(c: Ctx): Unit = {
    val wh = new Gen.Warehouse(c.seed)
    val nRefresh = refreshes(c.args.seconds)
    def plan(seed: Long): Seq[Seq[Seq[Panel]]] = {
      val w = new Gen.Warehouse(seed)
      val u = scala.collection.mutable.HashSet.empty[String]
      // stream 0: warm-up; 1, 2: the viewers; 3, 4: the traced direct-call phase
      (0 to 4).map { s =>
        val ps = new Gen.PanelStream(w, s, u)
        Seq.fill(if (s == 0) math.min(WarmupRefreshes, 2 * nRefresh) else if (s <= 2) nRefresh else math.max(2, nRefresh / 2))(ps.refresh())
      }
    }
    c.determinism { s =>
      val d = new Gen.Warehouse(s).digest(new Gen.Digest)
      plan(s).flatten.flatten.foreach(p => d.add(p.toString))
      d.hex
    }
    val streams = plan(c.seed)

    // set up three times on fresh warehouses; serve from the last
    val loads = (1 to c.setupReps).map { r =>
      val t0 = System.nanoTime()
      val cat = load(c, wh, c.work.resolve(s"wh-$r"))
      ((System.nanoTime() - t0) / 1e9, cat)
    }
    val catalog = loads.last._2
    val env = Serving.open(c.spark, c.work.resolve(s"wh-${c.setupReps}"), catalog)
    val tw = System.nanoTime()
    // warm-up: the viewers' request mix from two threads, on its own windows
    streams(0).flatten.grouped(4).toSeq.zipWithIndex.groupBy(_._2 % 2).values.map { part =>
      val th = new Thread(() => {
        val h = new Http(env.port)
        part.flatMap(_._1).foreach { p =>
          val r1 = send(h, p); val r2 = send(h, p)
          c.op(r1.code == 200 && r2.code == 200 && verify(wh, p, r1.text).isEmpty,
            s"warm-up ${p.key}: HTTP ${r1.code}")
        }
      })
      th.start(); th
    }.foreach(_.join())
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = c.sessionS + Stats.median(loads.map(_._1)) + warmupS
    c.record("setup.session_s") = c.sessionS
    c.record("setup.load_s") = loads.map(_._1)
    c.record("setup.warmup_s") = warmupS

    // ---- timed phase: two closed-loop viewers over HTTP ----
    val before = Serving.tiers()
    val jobs0 = c.jobs.count(c.spark.sparkContext)
    Host.settle()
    val win = new Host.Window
    val samples = Seq(1, 2).map { v =>
      val out = ArrayBuffer.empty[Sample]
      val th = new Thread(() => {
        val h = new Http(env.port)
        streams(v).flatten.foreach { p =>
          val t0 = System.nanoTime()
          val cold = send(h, p)
          val t1 = System.nanoTime()
          val warm = (1 to WarmRepeats).map { _ =>
            val w0 = System.nanoTime()
            val r = send(h, p)
            (r, (System.nanoTime() - w0) / 1e6)
          }
          out += Sample(p, (t1 - t0) / 1e6, warm.map(_._2), cold, warm.map(_._1))
        }
      }, s"viewer-$v")
      th.start()
      (th, out)
    }.map { case (th, out) => th.join(); out.toSeq }.flatten
    val wallS = win.wallS
    val cpuMs = win.cpuMs
    val gcMs = win.gcDeltaMs
    val steal = win.steal
    val pauseMax = Host.maxPause
    val jobs1 = c.jobs.count(c.spark.sparkContext)
    val delta = Serving.tiers() - before
    val heapMb = Host.liveHeapMb()

    var rejected = 0L
    samples.foreach { s =>
      // identical bodies (a warm repeat served the cold answer's bytes) get one verdict
      val verdicts = scala.collection.mutable.HashMap.empty[String, Option[String]]
      (s.cold +: s.warm).foreach { r =>
        if (r.code == 429) rejected += 1
        val err = if (r.code != 200) Some("") else verdicts.getOrElseUpdate(r.text, verify(wh, s.panel, r.text))
        c.op(err.isEmpty, s"${s.panel.key}: HTTP ${r.code} ${err.getOrElse("")}")
      }
    }
    val cold = samples.map(_.coldMs)
    val warm = samples.flatMap(_.warmMs)
    val queries = cold.size + warm.size
    c.record("latency.cold_tail") = Stats.tail(cold).productIterator.toSeq
    c.record("latency.cold_ms") = cold.map(x => math.round(x * 10) / 10.0)

    c.record("counts.cold_queries") = cold.size
    c.record("counts.byte_cache_hits") = delta.bytes
    c.record("counts.engine_l1_hits") = delta.l1
    c.record("counts.engine_l2_hits") = delta.l2
    c.record("counts.engine_misses") = delta.misses
    c.record("spark.jobs_total") = jobs1 - jobs0
    c.record("counts.chunks_live") = catalog.state.chunks.size
    c.record("host.steal_pct") = steal
    c.record("host.gc_ms") = gcMs
    c.record("host.gc_pause_max_ms") = pauseMax
    c.record("latency.cold_by_panel_p50_ms") = samples.groupBy(_.panel.getClass.getSimpleName)
      .map { case (k, v) => k -> Stats.median(v.map(_.coldMs)) }

    c.record("e2e") = Map("cold_query_p50_ms" -> Stats.median(cold),
      "warm_query_p50_ms" -> Stats.median(warm), "queries_per_s" -> queries / wallS,
      "cpu_ms_per_query" -> cpuMs / queries)

    if (!c.traced) {
      c.endToEnd(setupS, Stats.median(cold), queries, wallS, cpuMs, heapMb)
    } else {
      traced(c, wh, env, streams(3), streams(4), Stats.median(cold), delta, rejected)
      c.metric("jvm.gc_ms", gcMs, "ms")
      c.metric("jvm.gc_pause_max_ms", pauseMax.toDouble, "ms")
      c.metric("host.steal_pct", steal, "%")
    }
    env.stop()
  }

  // ---- traced direct-call phase ------------------------------------------

  /** One cold panel through the layer functions, as its handler calls them. */
  def direct(t: Tracer, env: Serving.Env, p: Panel): (String, Option[Serving.PruneSeen], Long) = {
    val req = t.newRequest()
    val eng = env.engine
    def matrix(df: DataFrame) = ResultFormat.toPromMatrix(df)
    val (body, seen) = t.span("query", req) {
      p match {
        case r: RatePanel =>
          val sql = t.span("promql.transpile", req)(PromQL.transpileRange(rateQuery(r),
            r.startSec * 1000000000L, r.endSec * 1000000000L, Gen.StepSec))
          val (b, s) = Serving.directQuery(t, req, eng, sql, matrix)
          (b, Some(s))
        case s: SumByPanel =>
          val sql = t.span("promql.transpile", req)(PromQL.transpileRange(sumByQuery,
            s.startSec * 1000000000L, s.endSec * 1000000000L, Gen.StepSec))
          val (b, ps) = Serving.directQuery(t, req, eng, sql, matrix)
          (b, Some(ps))
        case q: SqlPanel =>
          val (b, s) = Serving.directQuery(t, req, eng, sql(q), Serving.json)
          (b, Some(s))
        case l: LabelPanel =>
          val vals = t.span("engine.label_values", req)(eng.labelValues("pod",
            PromQL.parseMatchers(labelMatch(l)), Some(l.startSec * 1000000000L),
            Some(l.endSec * 1000000000L)).collect().map(r => String.valueOf(r.get(0))).toSeq.sorted)
          val b = t.span("format.serialize", req) {
            import org.json4s._
            org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
              JObject("status" -> JString("success"), "data" -> JArray(vals.toList.map(JString(_))))))
          }
          (b, None)
      }
    }
    (body, seen, req)
  }

  private def traced(c: Ctx, wh: Gen.Warehouse, env: Serving.Env, s1: Seq[Seq[Panel]],
                     s2: Seq[Seq[Panel]], httpColdP50: Double, tiers: Serving.Tiers,
                     rejected: Long): Unit = {
    val off = new Tracer(false)
    // (panel, traced?, wall ms, request id, prune view)
    val ops = Seq(s1, s2).zipWithIndex.map { case (stream, v) =>
      val out = ArrayBuffer.empty[(Panel, Boolean, Double, Long, Option[Serving.PruneSeen])]
      val th = new Thread(() => {
        stream.flatten.zipWithIndex.foreach { case (p, i) =>
          val on = (i + v) % 2 == 0 // alternate traced and untraced calls
          val t0 = System.nanoTime()
          val (body, seen, req) = direct(if (on) c.tracer else off, env, p)
          val ms = (System.nanoTime() - t0) / 1e6
          c.op(verify(wh, p, body).isEmpty, s"direct ${p.key}: ${verify(wh, p, body).getOrElse("")}")
          out += ((p, on, ms, req, seen))
        }
      }, s"direct-$v")
      th.start()
      (th, out)
    }.map { case (th, out) => th.join(); out.toSeq }.flatten
    val spans = c.tracer.finish()
    val lay = new Layers(c, spans)
    val onOps = ops.filter(_._2)
    val queryReqs = onOps.filterNot(_._1.isInstanceOf[LabelPanel]).map(_._4).toSet

    // direct-call latency without the benchmark's own extra analyze + prune calls
    val directMs = onOps.map { o =>
      val own = lay.of(o._4, "engine.analyze", "catalog.state", "prune").map(_.durationNs).sum / 1e6
      lay.root(o._4).durationNs / 1e6 - own
    }
    c.metric("server.overhead_ms", httpColdP50 - Stats.median(directMs), "ms")
    c.metric("server.byte_cache_hits", tiers.bytes.toDouble, "count")
    c.metric("server.rejected", rejected.toDouble, "count")
    c.metric("promql.transpile_us", lay.medianMs("promql.transpile") * 1000.0, "us")
    lay.engineMetrics(queryReqs)
    c.metric("engine.l1_hits", tiers.l1.toDouble, "count")
    c.metric("engine.l2_hits", tiers.l2.toDouble, "count")
    c.metric("engine.cache_misses", tiers.misses.toDouble, "count")
    c.metric("engine.rollup_routed", tiers.rollup.toDouble, "count")
    lay.pruneMetrics(onOps.flatMap(_._5), env.catalog)
    c.metric("catalog.versions_per_write", 0.0, "count") // a static warehouse: no writes
    c.metric("format.serialize_ms", lay.medianMs("format.serialize"), "ms")
    lay.traceMetrics(ops.filter(_._2).map(_._3), ops.filterNot(_._2).map(_._3), onOps.map(_._4))
  }
}
