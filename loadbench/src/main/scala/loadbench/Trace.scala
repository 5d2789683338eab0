package loadbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed call into a layer. Times are epoch nanoseconds (the span clock
  * is anchored to the wall clock once, so Spark's millisecond job times can
  * be placed on the same axis). `parent` is 0 for a request's root span.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

object Span {

  /** Total length of the union of `intervals`, each clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durationNs - coveredNs(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root).toSet
  }
}

/** Spark work attributed to one span: jobs started under it, their
  * [start, end) intervals, and the tasks, task CPU and shuffle bytes of the
  * stages those jobs ran.
  */
final class SparkWork {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
}

/** Records spans in memory; with `enabled = false` every call is a plain
  * pass-through. Spark jobs are attributed to the innermost open span of
  * the submitting thread through a local property, which a
  * [[Tracer.JobListener]] reads back from each job's properties.
  */
final class Tracer(val enabled: Boolean) {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def nowNs: Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, request id)

  /** Spark work per span id, filled by the listener. */
  val work = new ConcurrentHashMap[Long, SparkWork]()

  private var sc: SparkContext = _
  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) context.addSparkListener(new Tracer.JobListener(this))
  }

  def newRequest(): Long = ids.incrementAndGet()

  /** Time `body` as span `name` of `request`, nested under the caller's open span. */
  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      open.set((id, request) :: stack)
      if (sc != null) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = nowNs
      try body
      finally {
        val end = nowNs
        spans.add(Span(id, parent, request, name, start, end))
        open.set(stack)
        if (sc != null) sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Every span recorded so far, after Spark's listener bus has delivered
    * the events of finished jobs.
    */
  def finish(): Seq[Span] = {
    if (sc != null) org.apache.spark.LoadbenchBridge.drainListeners(sc)
    spans.asScala.toSeq.sortBy(_.id)
  }

  def workOf(ids: Iterable[Long]): Seq[SparkWork] = ids.flatMap(i => Option(work.get(i))).toSeq
}

object Tracer {
  val SpanProperty = "loadbench.span"

  final class JobListener(t: Tracer) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, startNs)

    private def workFor(span: Long): SparkWork = t.work.computeIfAbsent(span, _ => new SparkWork)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { s =>
        val span = s.toLong
        jobSpan.put(e.jobId, (span, e.time * 1000000L))
        e.stageIds.foreach(st => stageSpan.put(st, span))
        workFor(span).jobs.incrementAndGet()
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (span, startNs) =>
        workFor(span).jobIntervals.add((startNs, e.time * 1000000L))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) Option(stageSpan.get(e.stageId)).foreach { span =>
        val w = workFor(span)
        w.tasks.incrementAndGet()
        w.taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime +
          e.taskMetrics.executorDeserializeCpuTime)
        w.shuffleWriteBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
  }
}
