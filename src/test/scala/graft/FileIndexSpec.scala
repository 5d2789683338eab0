package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.ChunkCatalog
import graft.ingest.{ChunkWriter, Converters, MetricPoint}
import graft.plans.ZoneMapFileIndex
import java.nio.file.Files

/** Zone-map pruning inside the DataSource: any DataFrame/SQL over the
  * ZoneMapFileIndex table must skip non-matching chunks at PLANNING time
  * (file listing), not just at parquet row-group level.
  */
class FileIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val hourNs = 3600L * 1000000000L
  private val t0 = 1704067200L * 1000000000L

  private def warehouse(): ChunkCatalog = {
    val cat = new ChunkCatalog(Files.createTempDirectory("graft_fidx_"), cacheTtlMs = 0L)
    val points = for {
      h <- 0 until 3
      m <- Seq("cpu_usage", "mem_usage")
      i <- 0 until 6
    } yield MetricPoint(t0 + h * hourNs + i * 600L * 1000000000L,
      m, i / 10.0 + h, Map("host" -> s"server$h"))
    new ChunkWriter(cat).write(Converters.pointsToDf(spark, points))
    cat
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // materialize → metrics populated
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans.map(_.metrics("numFiles").value).sum
  }

  test("time filter prunes chunk files at listing time; results exact") {
    val cat = warehouse()
    assert(cat.allChunks.size == 3)
    val table = ZoneMapFileIndex.table(spark, cat)

    // unfiltered: all 3 chunks' files scanned
    val nAll = scannedFiles(table.select("timestamp_ns"))
    // hour-1 window: only that chunk's files listed
    val hour1 = table.filter(
      col("timestamp_ns") >= t0 + hourNs && col("timestamp_ns") < t0 + 2 * hourNs)
    val nPruned = scannedFiles(hour1.select("timestamp_ns"))
    assert(nPruned < nAll)
    assert(hour1.count() == 12) // 2 metrics × 6 points
  }

  test("label zone-map predicate prunes chunks (host is per-hour here)") {
    val cat = warehouse()
    val table = ZoneMapFileIndex.table(spark, cat)
    // host=serverH only exists in hour H → zone maps keep 1 of 3 chunks.
    // Real pushed path: the scan's numFiles metric shows the pruning.
    val one = table.filter(col("host") === "server2")
    val nOne = scannedFiles(one)
    val nAll = scannedFiles(ZoneMapFileIndex.table(spark, cat).select("host"))
    assert(nOne < nAll)
    assert(one.count() == 12)
    assert(one.select("metric_name").distinct().count() == 2)
    // decision-level check with a resolved catalyst expression (what
    // FileSourceStrategy actually hands a FileIndex)
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    val idx = ZoneMapFileIndex(spark, cat.root, cat.allChunks)
    idx.listFiles(Nil, Seq(EqualTo(Symbol("host").string, Literal("server2"))))
    assert(idx.lastSelectedPaths.size == 1)
  }

  test("joins over the table self-prune through Catalyst-pushed filters") {
    val cat = warehouse()
    val table = ZoneMapFileIndex.table(spark, cat)
    import spark.implicits._
    val dim = Seq(("cpu_usage", "compute")).toDF("metric_name", "family")
    val joined = table
      .filter(col("timestamp_ns") >= t0 + 2 * hourNs) // → hour-2 chunk only
      .join(broadcast(dim), "metric_name")
    assert(joined.count() == 6)
    val n = scannedFiles(joined)
    // join plan still lists only the hour-2 chunk's files on the fact side
    val nAll = scannedFiles(ZoneMapFileIndex.table(spark, cat).select("timestamp_ns"))
    assert(n < nAll)
  }

  test("sizeInBytes feeds the optimizer; refresh clears caches") {
    val cat = warehouse()
    val idx = ZoneMapFileIndex(spark, cat.root, cat.allChunks)
    assert(idx.dataSchema == ChunkCatalog.mergedSchema(cat.allChunks).get)
    assert(idx.sizeInBytes == cat.allChunks.map(_.sizeBytes).sum)
    assert(idx.inputFiles.nonEmpty)
    idx.refresh() // must not throw; clears file listings
    assert(idx.inputFiles.nonEmpty)
  }
}
