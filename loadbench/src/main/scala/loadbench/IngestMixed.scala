package loadbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.ingest.{ChunkWriter, Converters, PromWire}

/** `ingest_mixed`: one closed-loop writer POSTs snappy remote-write batches
  * with advancing timestamps and runs a maintenance sweep inline after
  * every K-th write; one closed-loop reader checks read-your-writes on the
  * newest acknowledged slice and reads a wide window over many L0 chunks.
  */
object IngestMixed {

  val SweepEvery = 8
  val SeriesPerWrite = 1000
  val WarmupWrites = 4
  val WideSlices = 24

  /** Timed writes, a whole number of sweep intervals: 16 at `--seconds 8`
    * (~0.55 s per write with the reads beside it on a 4-core host).
    */
  def writes(seconds: Int): Int =
    SweepEvery * (if (seconds == 0) 1 else math.max(2, math.round(seconds * 0.3).toInt))

  final class Sweeper(c: Ctx, catalog: ChunkCatalog) {
    private val maint = Serving.maintenance(c.spark, catalog, SweepEvery)
    private var prevStartMs = 0L
    val sweeps = new AtomicLong
    val compacted = new AtomicLong
    val rewrittenBytes = new AtomicLong
    val gcDeleted = new AtomicLong

    /** One sweep. GC runs on a clock one sweep behind: files replaced
      * before the previous sweep started are deleted, so the grace period
      * is one sweep interval, counted in writes rather than seconds.
      */
    def sweep(t: Tracer, req: Long): Unit = {
      val startMs = System.currentTimeMillis()
      val before = catalog.state.chunks.keySet
      val report = t.span("compact.sweep", req)(maint.runOnce(nowMs = prevStartMs + 300001L))
      prevStartMs = startMs
      val after = catalog.state.chunks.keySet
      sweeps.incrementAndGet()
      compacted.addAndGet((before -- after).size.toLong)
      rewrittenBytes.addAndGet(report.compacted.map(_.sizeBytes).sum)
      gcDeleted.addAndGet(report.gcDeleted.size.toLong)
    }
  }

  private def sliceSql(a: Long, b: Long) =
    s"SELECT metric_name, COUNT(*) AS n FROM metrics WHERE timestamp_ns >= $a " +
      s"AND timestamp_ns < $b GROUP BY metric_name ORDER BY metric_name"
  private def countSql(a: Long, b: Long) =
    s"SELECT COUNT(*) AS n, MIN(timestamp_ns) AS lo, MAX(timestamp_ns) AS hi FROM metrics " +
      s"WHERE timestamp_ns >= $a AND timestamp_ns < $b"

  /** Reads of write j: (kind, sql, expected check). */
  def reads(ws: Gen.WriteStream, j: Int): Seq[(String, String, String => Option[String])] = {
    def perMetric(from: Int)(body: String): Option[String] = {
      val want = (from to j).map(ws.perMetric).reduce { (a, b) =>
        (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
      }
      val got = Serving.rowsOf(body).map(r => Serving.str(r(0)) -> Serving.num(r(1)).toLong).toMap
      if (got == want) None else Some(s"slices $from..$j: per-metric counts $got, want $want")
    }
    def counts(body: String): Option[String] = Serving.rowsOf(body) match {
      case List(n, lo, hi) :: Nil if Serving.num(n).toLong == ws.samplesPerWrite &&
          Serving.num(lo).toLong == ws.sliceStartNs(j) &&
          Serving.num(hi).toLong == ws.sliceStartNs(j) + (ws.samplesPerSeries - 1) * 10000000000L => None
      case other => Some(s"slice $j: read $other, want ${ws.samplesPerWrite} samples")
    }
    val newest = Seq(
      ("newest", countSql(ws.sliceStartNs(j), ws.sliceEndNs(j)), counts _),
      ("newest", sliceSql(ws.sliceStartNs(j), ws.sliceEndNs(j)), perMetric(j) _))
    if (j % 4 == 3) {
      val from = math.max(0, j - WideSlices + 1)
      newest :+ (("wide", sliceSql(ws.sliceStartNs(from), ws.sliceEndNs(j)), perMetric(from) _))
    } else newest
  }

  def directWrite(t: Tracer, req: Long, env: Serving.Env, writer: ChunkWriter,
                  body: Array[Byte]): Seq[ChunkMeta] =
    t.span("write", req) {
      val points = t.span("ingest.decode", req)(
        PromWire.toRoutedPoints(org.xerial.snappy.Snappy.uncompress(body)))
      val df = t.span("ingest.convert", req)(Converters.routedToDf(env.engine.spark, points))
      t.span("ingest.write", req) {
        val metas = writer.write(df)
        env.catalog.invalidateCache()
        metas
      }
    }

  def run(c: Ctx): Unit = {
    val n = writes(c.args.seconds)
    val total = WarmupWrites + n
    c.determinism { s =>
      val w = new Gen.WriteStream(s, SeriesPerWrite)
      val d = new Gen.Digest
      (0 until total).foreach(i => d.add(RemoteWrite.encode(w.series(i))))
      d.hex
    }
    val ws = new Gen.WriteStream(c.seed, SeriesPerWrite)
    val bodies = (0 until total).map(i => RemoteWrite.body(ws.series(i)))

    // ---- setup, three times on fresh warehouses; keep the last ----
    def setUp(r: Int): (Serving.Env, Sweeper) = {
      val root = c.work.resolve(s"wh-$r")
      val catalog = new ChunkCatalog(root)
      val env = Serving.open(c.spark, root, catalog)
      val sweeper = new Sweeper(c, catalog)
      val h = new Http(env.port)
      (0 until WarmupWrites).foreach { i =>
        val res = h.post("/api/v1/write", bodies(i), "application/x-protobuf")
        c.op(res.code == 204, s"warm-up write $i: HTTP ${res.code}")
      }
      sweeper.sweep(c.tracer, 0L)
      reads(ws, WarmupWrites - 1).foreach { case (_, sql, check) =>
        val res = h.post("/api/v1/sql", Serving.sqlBody(sql), "application/json")
        c.op(res.code == 200 && check(res.text).isEmpty, s"warm-up read: HTTP ${res.code}")
      }
      (env, sweeper)
    }
    val reps = (1 to c.setupReps).map { r =>
      val t0 = System.nanoTime()
      val s = setUp(r)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    reps.init.foreach(_._2._1.stop())
    val (env, sweeper) = reps.last._2
    val setupS = c.sessionS + Stats.median(reps.map(_._1))
    c.record("setup.session_s") = c.sessionS
    c.record("setup.rep_s") = reps.map(_._1)
    val sweepsBefore = sweeper.sweeps.get()
    val compactedBefore = sweeper.compacted.get()
    val rewrittenBefore = sweeper.rewrittenBytes.get()
    val gcBefore = sweeper.gcDeleted.get()

    // ---- timed phase ----
    val off = new Tracer(false)
    val writer = new ChunkWriter(env.catalog)
    val ackLock = new Object
    var acked = WarmupWrites - 1
    val writeMs = ArrayBuffer.empty[(Boolean, Double)] // (traced?, wall)
    val writeOk = new AtomicLong
    val metas = ArrayBuffer.empty[ChunkMeta]
    val versions = ArrayBuffer.empty[Long]
    val readMs = ArrayBuffer.empty[(String, Boolean, Double, Long, Option[Serving.PruneSeen])]
    var writerWallS = 0.0
    Host.settle()
    val win = new Host.Window
    val jobs0 = c.jobs.count(c.spark.sparkContext)
    val tiers0 = Serving.tiers()

    val writerThread = new Thread(() => {
      val h = new Http(env.port)
      val t0 = System.nanoTime()
      (WarmupWrites until total).foreach { i =>
        val on = c.traced && i % 2 == 0
        val w0 = System.nanoTime()
        val ok =
          if (!c.traced) h.post("/api/v1/write", bodies(i), "application/x-protobuf").code == 204
          else {
            val v0 = env.catalog.state.version
            val m = directWrite(if (on) c.tracer else off, c.tracer.newRequest(), env, writer, bodies(i))
            versions += env.catalog.state.version - v0
            metas ++= m
            m.map(_.rowCount).sum == ws.samplesPerWrite
          }
        writeMs += ((on, (System.nanoTime() - w0) / 1e6))
        c.op(ok, s"write $i failed")
        if (ok) writeOk.incrementAndGet()
        ackLock.synchronized { acked = i; ackLock.notifyAll() }
        if ((i + 1) % SweepEvery == 0) sweeper.sweep(c.tracer, c.tracer.newRequest())
      }
      writerWallS = (System.nanoTime() - t0) / 1e9
    }, "writer")
    val readerThread = new Thread(() => {
      val h = new Http(env.port)
      (WarmupWrites until total).foreach { j =>
        ackLock.synchronized { while (acked < j) ackLock.wait() }
        reads(ws, j).zipWithIndex.foreach { case ((kind, sql, check), k) =>
          val on = c.traced && (j + k) % 2 == 0
          val r0 = System.nanoTime()
          val (code, body, req, seen) =
            if (!c.traced) {
              val res = h.post("/api/v1/sql", Serving.sqlBody(sql), "application/json")
              (res.code, res.text, 0L, None)
            } else {
              val t = if (on) c.tracer else off
              val req = t.newRequest()
              val (b, s) = t.span("query", req)(Serving.directQuery(t, req, env.engine, sql, Serving.json))
              (200, b, req, Some(s))
            }
          readMs += ((kind, on, (System.nanoTime() - r0) / 1e6, req, seen))
          c.op(code == 200 && check(body).isEmpty, s"read of slice $j: HTTP $code ${check(body).getOrElse("")}")
        }
      }
    }, "reader")
    writerThread.start(); readerThread.start()
    writerThread.join(); readerThread.join()
    val cpuMs = win.cpuMs
    val gcMs = win.gcDeltaMs
    val steal = win.steal
    val pauseMax = Host.maxPause
    val jobs1 = c.jobs.count(c.spark.sparkContext)
    val tiers = Serving.tiers() - tiers0
    val heapMb = Host.liveHeapMb()

    // final sweep, then conservation: every acknowledged sample is live
    sweeper.sweep(c.tracer, c.tracer.newRequest())
    val live = env.catalog.state.chunks.values
    val samplesTimed = writeOk.get() * ws.samplesPerWrite
    val samplesAll = samplesTimed + WarmupWrites.toLong * ws.samplesPerWrite
    c.op(live.map(_.rowCount).sum == samplesAll,
      s"row conservation: ${live.map(_.rowCount).sum} live rows, $samplesAll acknowledged")
    val cold = readMs.filter(_._1 == "newest").map(_._3).toSeq
    c.record("latency.cold_tail") = Stats.tail(cold).productIterator.toSeq

    c.record("counts.writes") = n
    c.record("counts.sweeps") = sweeper.sweeps.get()
    c.record("counts.chunks_compacted") = sweeper.compacted.get()
    c.record("counts.gc_deleted") = sweeper.gcDeleted.get()
    c.record("counts.chunks_live") = live.size
    c.record("counts.rows_live") = live.map(_.rowCount).sum
    c.record("spark.jobs_total") = jobs1 - jobs0
    c.record("latency.wide_read_p50_ms") = Stats.median(readMs.filter(_._1 == "wide").map(_._3).toSeq)
    c.record("host.steal_pct") = steal
    c.record("host.gc_ms") = gcMs
    c.record("host.gc_pause_max_ms") = pauseMax

    val writeP50 = Stats.median(writeMs.map(_._2).toSeq)
    c.record("e2e") = Map("cold_query_p50_ms" -> Stats.median(cold),
      "ingest_samples_per_s" -> samplesTimed / writerWallS, "write_p50_ms" -> writeP50,
      "stored_bytes_per_sample" -> live.map(_.sizeBytes).sum.toDouble / samplesAll,
      "cpu_us_per_sample" -> cpuMs * 1000.0 / samplesTimed)

    if (!c.traced) {
      c.endToEnd(setupS, writeP50, samplesTimed.toDouble, writerWallS, cpuMs, heapMb)
    } else {
      val spans = c.tracer.finish()
      val lay = new Layers(c, spans)
      val tracedWrites = lay.named("write")
      val nw = math.max(1, tracedWrites.size).toDouble
      val ww = lay.work(tracedWrites)
      val ingestBytes = metas.map(_.sizeBytes).sum.toDouble
      val rewritten = (sweeper.rewrittenBytes.get() - rewrittenBefore).toDouble
      c.metric("ingest.decode_ms", lay.medianMs("ingest.decode"), "ms")
      c.metric("ingest.convert_ms", lay.medianMs("ingest.convert"), "ms")
      c.metric("ingest.write_ms", lay.medianMs("ingest.write"), "ms")
      c.metric("ingest.jobs_per_write", ww.jobs / nw, "count")
      c.metric("ingest.task_cpu_ms_per_write", ww.taskCpuMs / nw, "ms")
      c.metric("ingest.chunks_per_write", metas.size.toDouble / n, "count")
      c.metric("ingest.bytes_per_sample", ingestBytes / samplesTimed, "B")
      c.metric("catalog.versions_per_write", Stats.mean(versions.map(_.toDouble).toSeq), "count")
      c.metric("compact.sweep_ms", lay.medianMs("compact.sweep"), "ms")
      c.metric("compact.sweeps", (sweeper.sweeps.get() - sweepsBefore).toDouble, "count")
      c.metric("compact.chunks_compacted", (sweeper.compacted.get() - compactedBefore).toDouble, "count")
      c.metric("compact.bytes_rewritten", rewritten, "B")
      c.metric("compact.write_amp", (ingestBytes + rewritten) / ingestBytes, "ratio")
      c.metric("compact.gc_deleted", (sweeper.gcDeleted.get() - gcBefore).toDouble, "count")
      val onReads = readMs.filter(_._2).toSeq
      lay.engineMetrics(onReads.map(_._4).toSet)
      c.metric("engine.l1_hits", tiers.l1.toDouble, "count")
      c.metric("engine.l2_hits", tiers.l2.toDouble, "count")
      c.metric("engine.cache_misses", tiers.misses.toDouble, "count")
      c.metric("engine.rollup_routed", tiers.rollup.toDouble, "count")
      lay.pruneMetrics(onReads.flatMap(_._5), env.catalog)
      c.metric("format.serialize_ms", lay.medianMs("format.serialize"), "ms")
      lay.traceMetrics(writeMs.filter(_._1).map(_._2).toSeq, writeMs.filterNot(_._1).map(_._2).toSeq,
        tracedWrites.map(_.request) ++ onReads.map(_._4))
      c.metric("jvm.gc_ms", gcMs, "ms")
      c.metric("jvm.gc_pause_max_ms", pauseMax.toDouble, "ms")
      c.metric("host.steal_pct", steal, "%")
    }
    env.stop()
  }
}
