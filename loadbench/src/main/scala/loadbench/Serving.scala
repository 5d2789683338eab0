package loadbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.ChunkCatalog
import graft.compact.{Compactor, Maintenance}
import graft.engine.{QueryEngine, ResultFormat, Telemetry}
import graft.server.{HttpApi, RateLimiter}

/** The serving stack both metrics workloads run: catalog, interactive query
  * engine with its L1 and L2 result tiers, and the HTTP API on a loopback
  * port, plus the direct-call query path the traced runs time layer by layer.
  */
object Serving {

  /** Admission limits far above anything two closed-loop clients can offer,
    * so the rate limiter never denies a benchmark request.
    */
  val Quota = RateLimiter.TenantQuota(maxWriteRps = 1000000L, maxWriteBytesPerSec = 1L << 40,
    maxQueryRps = 1000000L, maxConcurrentQueries = 100000L)

  val HourNs: Long = 3600L * 1000000000L

  final class Env(val root: Path, val catalog: ChunkCatalog, val engine: QueryEngine,
                  val server: HttpApi) {
    def port: Int = server.boundPort
    def stop(): Unit = server.stop()
  }

  def open(spark: SparkSession, root: Path, catalog: ChunkCatalog): Env = {
    val engine = QueryEngine.interactive(spark, catalog,
      QueryEngine.QueryLimits(l2CacheDir = Some(root.resolveSibling(root.getFileName + "-l2").toString)))
    new Env(root, catalog, engine, new HttpApi(engine, 0, Quota).start())
  }

  /** One maintenance sweep per call: compaction with leveled merges capped
    * at one hour of data, retention off (the data is historical), GC of
    * files whose deferral is older than the given clock.
    */
  def maintenance(spark: SparkSession, catalog: ChunkCatalog, l0Threshold: Int): Maintenance =
    new Maintenance(spark, catalog, retentionNs = 100L * 365 * 86400 * 1000000000L,
      compactor = new Compactor(spark, catalog, l0FileThreshold = l0Threshold,
        maxMergeSpanNs = Some(HourNs)))

  /** Engine tier counters, read before and after a phase. */
  final case class Tiers(l1: Long, l2: Long, misses: Long, rollup: Long, bytes: Long) {
    def -(o: Tiers): Tiers = Tiers(l1 - o.l1, l2 - o.l2, misses - o.misses, rollup - o.rollup,
      bytes - o.bytes)
  }
  def tiers(): Tiers = Tiers(Telemetry.cacheHits.sum(), Telemetry.l2Hits.sum(),
    Telemetry.cacheMisses.sum(), Telemetry.rollupRouted.sum(), Telemetry.httpByteCacheHits.sum())

  /** What one direct-call query saw at the prune step. */
  final case class PruneSeen(seen: Int, kept: Int)

  /** A query through the layers in the order the HTTP handler calls them:
    * (transpile, done by the caller) → analyze + catalog prune → execute,
    * with the rows collected inside execute and serialized from a local
    * relation, so that serialization time is separate from Spark work.
    */
  def directQuery(t: Tracer, req: Long, engine: QueryEngine, sql: String,
                  format: DataFrame => String): (String, PruneSeen) = {
    val nowNs = System.currentTimeMillis() * 1000000L
    val (range, preds) = t.span("engine.analyze", req)(engine.analyze(sql, nowNs))
    t.span("catalog.state", req)(engine.catalog.state)
    val paths = t.span("prune", req)(engine.prune(range, preds))
    val body = t.span("engine.execute", req) {
      engine.execute(sql, nowNs) { df =>
        val rows = df.collect()
        val local = engine.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        t.span("format.serialize", req)(format(local))
      }
    }
    val seen = engine.catalog.chunksInRange(range.startNs, range.endNs).size
    (body, PruneSeen(seen, paths.size))
  }

  def json(df: DataFrame): String = ResultFormat.toJson(df, 0L, HttpApi.MaxResultRows)

  def sqlBody(sql: String): Array[Byte] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      JObject("query" -> JString(sql)))).getBytes("UTF-8")
  }

  def rowsOf(s: String): List[List[org.json4s.JValue]] = {
    import org.json4s._
    (org.json4s.jackson.JsonMethods.parse(s) \ "data") match {
      case JArray(rows) => rows.map { case JArray(cells) => cells; case other => List(other) }
      case _ => Nil
    }
  }

  def num(v: org.json4s.JValue): Double = v match {
    case org.json4s.JDouble(d) => d
    case org.json4s.JLong(l) => l.toDouble
    case org.json4s.JInt(i) => i.toDouble
    case org.json4s.JDecimal(d) => d.toDouble
    case org.json4s.JString(s) => s.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def str(v: org.json4s.JValue): String = v match {
    case org.json4s.JString(s) => s
    case other => String.valueOf(other.values)
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
