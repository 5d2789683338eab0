package graft.plans

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import graft.catalog.{ChunkCatalog, ChunkMeta}
import graft.prune.PredicateExtraction

/** Catalog-zone-map pruning INSIDE the DataSource (SURVEY §7.3 preference (c):
  * a custom Spark integration only where built-ins can't express it).
  *
  * Spark's FileSourceStrategy hands every scan's `dataFilters` to its
  * FileIndex; this implementation converts them to the engine's TimeRange +
  * ColumnPredicates (the same extraction the reference runs in
  * src/query/engine.rs:368-487) and lists ONLY the chunk files whose catalog
  * zone maps might match. Effect: ANY DataFrame/SQL plan over the table —
  * including joins and subqueries Catalyst builds — skips non-matching chunks
  * at PLANNING time, before a single parquet footer is opened; Parquet
  * row-group stats then re-prune inside the surviving files (the reference's
  * two-tier metadata-then-parquet scheme, README.md:288-290).
  *
  * The index is PINNED to the chunk snapshot it was built over: it lists and
  * sizes exactly `chunks`, never the catalog's live state, so a plan keeps
  * reading the chunk set it was analyzed against. QueryEngine binds every
  * query's `metrics` to an index over the chunks it just pruned (or, AS OF a
  * version, that version's chunks).
  *
  * Semantics note: the engine's default last-1-hour window (applied when a
  * query has NO time predicate) is a QUERY-level rule and stays in
  * QueryEngine.sql; a filter-less scan here correctly sees all chunks.
  *
  * Driver-side only, O(#chunks) metadata — the data path is untouched.
  */
final class ZoneMapFileIndex(
    root: java.nio.file.Path,
    chunks: Seq[ChunkMeta],
    val dataSchema: StructType) extends FileIndex {

  /** Last listFiles pruning decision — observability for tests/telemetry. */
  @volatile var lastSelectedPaths: Seq[String] = Nil

  override def rootPaths: Seq[HPath] = Seq(new HPath(root.toUri))

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected =
      if (dataFilters.isEmpty) chunks
      else {
        // nowNs only matters for the default-window fallback, which extraction
        // applies when NO bound is found — irrelevant here because a scan with
        // no usable time filter must see every chunk. Detect that case by
        // comparing against the sentinel default range.
        val nowNs = Long.MaxValue / 2
        val (range, preds) = PredicateExtraction.extractFromExpression(
          dataFilters.reduce(org.apache.spark.sql.catalyst.expressions.And), nowNs)
        val isDefaultWindow =
          range == graft.prune.TimeRange(nowNs - PredicateExtraction.DefaultWindowNs, nowNs)
        val timed =
          if (isDefaultWindow) chunks
          else chunks.filter(_.overlaps(range.startNs, range.endNs))
        timed.filter(c => preds.forall(_.keepChunk(c)))
      }
    lastSelectedPaths = selected.map(_.path)
    selected.map { c =>
      PartitionDirectory(InternalRow.empty, listChunkFiles(c.path).toArray)
    }
  }

  // FileStatus listings cached per chunk dir — chunk files are immutable
  // (rewrites create NEW paths; old ones go through grace-period GC).
  private val fileCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[FileStatus]]()

  /** The chunk dir's parquet files, skipping `_`/`.`-prefixed names at any
    * depth (committer scratch, checksums) exactly like Spark's own listing.
    * A missing chunk dir fails the scan, as a missing path fails
    * InMemoryFileIndex: a snapshot whose chunks GC already deleted (an AS OF
    * version past the grace window) must not answer from what is left.
    */
  private def listChunkFiles(dir: String): Seq[FileStatus] =
    fileCache.computeIfAbsent(dir, d => {
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p))
        throw new java.io.FileNotFoundException(s"chunk path does not exist: $d")
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet") &&
          p.relativize(f).iterator().asScala.forall { n =>
            val name = n.toString
            !name.startsWith("_") && !name.startsWith(".")
          })
        .map[FileStatus] { f =>
          new FileStatus(java.nio.file.Files.size(f), false, 1, 134217728L,
            java.nio.file.Files.getLastModifiedTime(f).toMillis,
            new HPath(f.toUri))
        }
        .toArray(n => new Array[FileStatus](n))
      finally s.close()
    }).toSeq

  override def inputFiles: Array[String] =
    chunks.flatMap(c => listChunkFiles(c.path).map(_.getPath.toString)).toArray

  override def refresh(): Unit = fileCache.clear()

  override def sizeInBytes: Long = chunks.map(_.sizeBytes).sum

  override def metadataOpsTimeNs: Option[Long] = None

  // Equal over the same chunk set, like InMemoryFileIndex over the same root
  // paths: plans over equal snapshots match in Spark's CacheManager (chunk
  // files are immutable, so a persisted result stays valid for them).
  private lazy val pathSet = chunks.iterator.map(_.path).toSet

  override def equals(other: Any): Boolean = other match {
    case o: ZoneMapFileIndex => o.pathSet == pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

object ZoneMapFileIndex {

  /** An index pinned to `chunks`. Schema from the catalog-held DDL when every
    * chunk carries one (no footer reads), else inferred; the empty set gets
    * the default metrics schema, so a query over it returns 0 rows.
    */
  def apply(spark: SparkSession, root: java.nio.file.Path,
            chunks: Seq[ChunkMeta]): ZoneMapFileIndex = {
    val schema = ChunkCatalog.mergedSchema(chunks).getOrElse {
      if (chunks.isEmpty) graft.schema.MetricSchema.default
      else spark.read.option("mergeSchema", "true").parquet(chunks.map(_.path): _*).schema
    }
    new ZoneMapFileIndex(root, chunks, schema)
  }

  /** A DataFrame over a snapshot of the catalog's whole chunk set whose scans
    * self-prune by zone maps.
    */
  def table(spark: SparkSession, catalog: ChunkCatalog): org.apache.spark.sql.DataFrame = {
    val index = ZoneMapFileIndex(spark, catalog.root, catalog.allChunks)
    GraftBridge.ofRows(spark, GraftBridge.fileIndexRelation(spark, index, index.dataSchema))
  }
}
