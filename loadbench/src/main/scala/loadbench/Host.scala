package loadbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and host counters read around the timed phase: process CPU,
  * GC time and pauses, live heap, and the host's steal share and load.
  */
object Host {

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val maxPauseMs = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var pauseWatch = false

  /** Start recording GC pause durations (max only). */
  def watchPauses(): Unit = if (!pauseWatch) {
    pauseWatch = true
    gcBeans.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            // concurrent-cycle notifications are not pauses
            if (!info.getGcCause.contains("No GC") && !info.getGcName.contains("Concurrent"))
              maxPauseMs.accumulateAndGet(info.getGcInfo.getDuration, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ => ()
    }
  }

  def resetMaxPause(): Unit = maxPauseMs.set(0L)
  def maxPause: Long = maxPauseMs.get()

  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => throw new IllegalStateException("process CPU time is not available")
    }

  /** Wall time since the JVM started, in seconds. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap in use after full collections, in MiB. Collections repeat with
    * pauses in between so that Spark's ContextCleaner, which frees shuffle
    * and broadcast state once GC has cleared their references, has run.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Aggregate CPU jiffies (total, steal) from /proc/stat, or None off Linux. */
  def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f.take(8).sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def stealPct(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }

  def loadAvg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Start a timed phase from a collected heap, so that where young
    * collections fall inside it does not depend on set-up garbage.
    */
  def settle(): Unit = { System.gc(); Thread.sleep(200) }

  /** Counters taken at the start of a timed phase. */
  final class Window {
    val wallNs: Long = System.nanoTime()
    val cpuNs: Long = processCpuNs
    val gc: Long = gcMs
    val jiffies: Option[(Long, Long)] = cpuJiffies()
    resetMaxPause()
    def wallS: Double = (System.nanoTime() - wallNs) / 1e9
    def cpuMs: Double = (processCpuNs - cpuNs) / 1e6
    def gcDeltaMs: Double = (gcMs - gc).toDouble
    def steal: Double = stealPct(jiffies, cpuJiffies())
  }
}
