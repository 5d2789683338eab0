package loadbench

/** Per-layer figures of a traced run, computed from its spans and from the
  * Spark work the listener attributed to them.
  */
final class Layers(c: Ctx, spans: Seq[Span]) {
  private val byRequest = spans.groupBy(_.request)
  private val byName = spans.groupBy(_.name)
  private val self = Span.selfTimes(spans)

  def root(req: Long): Span = byRequest(req).find(_.parent == 0L).get
  def of(req: Long, names: String*): Seq[Span] =
    byRequest.getOrElse(req, Nil).filter(s => names.contains(s.name))
  def named(name: String): Seq[Span] = byName.getOrElse(name, Nil)

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def medianMs(name: String): Double = medianOr0(named(name).map(_.durationNs / 1e6))

  /** Spark work attributed to `spans` and everything below them. */
  final case class Work(jobs: Long, tasks: Long, taskCpuMs: Double, intervals: Seq[(Long, Long)])
  def work(of: Seq[Span]): Work = {
    val ids = of.flatMap(s => Span.subtree(spans, s.id)).distinct
    val w = c.tracer.workOf(ids)
    import scala.jdk.CollectionConverters._
    Work(w.map(_.jobs.get).sum, w.map(_.tasks.get).sum, w.map(_.taskCpuNs.get).sum / 1e6,
      w.flatMap(_.jobIntervals.asScala))
  }

  /** Span wall time that no Spark job of its subtree covers, in ms. */
  def driverMs(s: Span): Double = {
    val w = work(Seq(s))
    (s.durationNs - Span.coveredNs(w.intervals, s.startNs, s.endNs)) / 1e6
  }

  /** engine.* figures over the traced queries `reqs`. */
  def engineMetrics(reqs: Set[Long]): Unit = {
    val exec = named("engine.execute").filter(s => reqs(s.request))
    val n = math.max(1, reqs.size).toDouble
    val w = work(exec)
    c.metric("engine.analyze_ms", medianOr0(named("engine.analyze").filter(s => reqs(s.request))
      .map(_.durationNs / 1e6)), "ms")
    c.metric("engine.execute_ms", medianOr0(exec.map(s => self(s.id) / 1e6)), "ms")
    c.metric("engine.driver_ms", medianOr0(exec.map(s =>
      driverMs(s) - (s.durationNs - self(s.id)) / 1e6)), "ms")
    c.metric("engine.jobs_per_query", w.jobs / n, "count")
    c.metric("engine.tasks_per_query", w.tasks / n, "count")
    c.metric("engine.task_cpu_ms_per_query", w.taskCpuMs / n, "ms")
  }

  /** prune.* and catalog.* figures from the traced queries' prune views. */
  def pruneMetrics(seen: Seq[Serving.PruneSeen], catalog: graft.catalog.ChunkCatalog): Unit = {
    c.metric("prune.ms", medianMs("prune"), "ms")
    c.metric("prune.chunks_seen", Stats.mean(seen.map(_.seen.toDouble)), "count")
    c.metric("prune.chunks_kept", Stats.mean(seen.map(_.kept.toDouble)), "count")
    c.metric("prune.kept_ratio",
      seen.map(_.kept).sum.toDouble / math.max(1, seen.map(_.seen).sum), "ratio")
    c.metric("catalog.state_ms", medianMs("catalog.state"), "ms")
    c.metric("catalog.chunks_live", catalog.state.chunks.size.toDouble, "count")
  }

  /** trace.overhead_pct from interleaved traced and untraced walls of the
    * same operations; trace.unaccounted_share from the traced requests.
    */
  def traceMetrics(tracedMs: Seq[Double], untracedMs: Seq[Double], reqs: Seq[Long]): Unit = {
    c.metric("trace.overhead_pct",
      100.0 * (Stats.median(tracedMs) / Stats.median(untracedMs) - 1.0), "%")
    val children = spans.groupBy(_.parent)
    var total = 0L
    var uncovered = 0L
    reqs.foreach { r =>
      val rt = root(r)
      val kids = children.getOrElse(rt.id, Nil).map(k => (k.startNs, k.endNs))
      total += rt.durationNs
      uncovered += rt.durationNs - Span.coveredNs(kids, rt.startNs, rt.endNs)
    }
    c.metric("trace.unaccounted_share", uncovered.toDouble / math.max(1L, total), "ratio")
  }
}
