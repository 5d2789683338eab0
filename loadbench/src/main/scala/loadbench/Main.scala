package loadbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Entry point: `--workload <dashboard|ingest_mixed|curation> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir>`. Prints one JSON result as the
  * last stdout line and writes a fuller run record under `<work>/runs/`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be positive")
    a
  }

  val Workloads = Seq("dashboard", "ingest_mixed", "curation")

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"loadbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def context(a: Args, spark: SparkSession): Ctx = {
    val tracer = new Tracer(a.trace)
    tracer.attach(spark.sparkContext)
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    new Ctx(a, spark, tracer, jobs, Host.uptimeS)
  }

  def runWorkload(ctx: Ctx): Unit = ctx.args.workload match {
    case "dashboard" => Dashboard.run(ctx)
    case "ingest_mixed" => IngestMixed.run(ctx)
    case "curation" => Curation.run(ctx)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Host.watchPauses()
    val loadAtStart = Host.loadAvg1()
    val spark = session(a)
    val ctx = context(a, spark)
    ctx.record("host.load1_at_start") = loadAtStart
    ctx.record("host.cores") = Runtime.getRuntime.availableProcessors()
    val exit =
      try {
        runWorkload(ctx)
        ctx.emit()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[loadbench] run aborted: $e")
          e.printStackTrace()
          1
      }
    try spark.stop() catch { case scala.util.control.NonFatal(_) => () }
    deleteTree(ctx.work)
    System.exit(exit)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally walk.close()
  }
}

/** Counts every Spark job the process starts, in total and per value of
  * the stage local property the submitting thread had set.
  */
final class JobCounter extends org.apache.spark.scheduler.SparkListener {
  private val n = new AtomicLong
  private val perStage = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    n.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(JobCounter.StageProperty)))
      .foreach(s => perStage.computeIfAbsent(s, _ => new AtomicLong).incrementAndGet())
  }
  def count(sc: org.apache.spark.SparkContext): Long = {
    org.apache.spark.LoadbenchBridge.drainListeners(sc)
    n.get()
  }
  def byStage(sc: org.apache.spark.SparkContext): Map[String, Long] = {
    org.apache.spark.LoadbenchBridge.drainListeners(sc)
    import scala.jdk.CollectionConverters._
    perStage.asScala.map { case (k, v) => k -> v.get }.toMap
  }
}

object JobCounter {
  val StageProperty = "loadbench.stage"
}

/** Shared state of one run: arguments, session, tracer, the op ledger and
  * the metrics and record to emit.
  */
final class Ctx(val args: Main.Args, val spark: SparkSession, val tracer: Tracer,
                val jobs: JobCounter, val sessionS: Double) {
  def seed: Long = args.seed
  def traced: Boolean = args.trace

  /** `--seconds 0` is the class-loading training run: the least work that
    * still executes every code path once.
    */
  def training: Boolean = args.seconds == 0

  /** How many times set-up runs; `setup_s` reports the median. */
  def setupReps: Int = if (training) 1 else 3
  val work: Path = args.work.resolve(s"${args.workload}-${ProcessHandle.current().pid()}")
  Files.createDirectories(work)

  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  val record = LinkedHashMap.empty[String, Any]

  /** Count one attempted operation; `ok = false` also counts it failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (failures.size < 50) failures.add(what)
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not a number: $value")
    metrics += ((name, value, unit))
  }

  /** The end-to-end metrics, the same five in every workload: each over the
    * workload's own request (a cold panel query, a remote-write POST, a
    * curation pass) and unit of work (a query, a sample, a document in one
    * pass), with `cpuMs` the process CPU time of that work.
    */
  def endToEnd(setupS: Double, requestP50Ms: Double, units: Double, wallS: Double,
               cpuMs: Double, heapMb: Double): Unit = {
    metric("setup_s", setupS, "s")
    metric("request_p50_ms", requestP50Ms, "ms")
    metric("units_per_s", units / wallS, "1/s")
    metric("cpu_ms_per_unit", cpuMs / units, "ms")
    metric("heap_live_mb", heapMb, "MB")
  }

  /** Runs-the-same check on an input digest: the same seed must reproduce
    * it and the next seed must change it.
    */
  def determinism(digest: Long => String): Unit = {
    val d = digest(seed)
    record("input_digest") = d
    op(d == digest(seed), s"inputs for seed $seed are not reproducible")
    op(d != digest(seed + 1), s"seeds $seed and ${seed + 1} generate the same inputs")
    System.err.println(s"[loadbench] ${args.workload} seed=$seed input digest $d")
  }

  def emit(): Unit = {
    def num(v: Any): JValue = v match {
      case d: Double => JDouble(d)
      case f: Float => JDouble(f.toDouble)
      case i: Int => JLong(i.toLong)
      case l: Long => JLong(l)
      case b: Boolean => JBool(b)
      case m: collection.Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> num(x) })
      case s: Iterable[_] => JArray(s.map(num).toList)
      case other => JString(String.valueOf(other))
    }
    val failed = failedN.get()
    val metricObj = JObject(metrics.toList.map { case (n, v, u) =>
      n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) })
    val result = JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JLong(attemptedN.get()),
      "failed" -> JLong(failed),
      "metrics" -> metricObj)
    val full = JObject(
      "workload" -> JString(args.workload), "seed" -> JLong(seed),
      "seconds" -> JLong(args.seconds.toLong), "trace" -> JBool(traced),
      "result" -> result, "record" -> num(record),
      "failures" -> JArray(failures.toArray.toList.map(f => JString(f.toString))))
    val runs = args.work.resolve("runs")
    Files.createDirectories(runs)
    Files.write(runs.resolve(s"${args.workload}-seed$seed-trace${if (traced) 1 else 0}.json"),
      JsonMethods.pretty(JsonMethods.render(full)).getBytes("UTF-8"))
    failures.forEach(f => System.err.println(s"[loadbench] FAILED: $f"))
    record.foreach { case (k, v) => System.err.println(s"[loadbench] $k = ${JsonMethods.compact(JsonMethods.render(num(v)))}") }
    println(JsonMethods.compact(JsonMethods.render(result)))
    System.out.flush()
  }
}
