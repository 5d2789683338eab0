package loadbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.pipeline.Pipeline
import graft.sim.IvfIndex
import graft.text.TextFunctions

/** `curation`: fixed passes of a batch data-curation pipeline over a seeded
  * corpus with planted exact duplicates, near-duplicate pairs and
  * low-quality documents, plus an embedding set for the IVF stage. One
  * driver thread runs the stages in order; warm-up passes are not timed.
  */
object Curation {

  val Originals = 1000
  val ExactCopies = 100
  val NearDups = 100
  val LowQuality = 100
  val Vectors = 1000
  val Dims = 16
  val Queries = 32
  val K = 10
  val NProbe = 4
  val Cells = 16
  val BpeMerges = 4
  val SeqTokens = 256
  val RecallFloor = 0.8

  /** Timed passes, sized so the timed phase lasts about `seconds` on a
    * 4-core host (~6 s per pass); at least 2, so a traced run has one
    * traced and one untraced pass.
    */
  def passes(seconds: Int): Int =
    if (seconds == 0) 1 else math.max(2, math.round(seconds / 6.0).toInt)

  val Stages = Seq("text.quality", "dedup.exact", "dedup.minhash", "dedup.cluster",
    "text.bpe_encode", "pipeline.pack", "sim.ivf_build", "sim.ivf_probe")

  final case class Inputs(docs: DataFrame, vectors: DataFrame, queries: DataFrame, n: Long)

  def generate(seed: Long): Gen.Corpus =
    Gen.corpus(seed, Originals, ExactCopies, NearDups, LowQuality, Vectors, Dims, Queries)

  /** Write the corpus and embeddings as parquet under `dir` and read them back. */
  def materialize(spark: SparkSession, corpus: Gen.Corpus, dir: java.nio.file.Path): Inputs = {
    import spark.implicits._
    corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(4).write.parquet(dir.resolve("docs").toString)
    corpus.vectors.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(4).write.parquet(dir.resolve("vectors").toString)
    corpus.queries.map { case (i, v) => (i, v.toSeq) }.toDF("query_id", "query_vec")
      .write.parquet(dir.resolve("queries").toString)
    Inputs(spark.read.parquet(dir.resolve("docs").toString),
      spark.read.parquet(dir.resolve("vectors").toString),
      spark.read.parquet(dir.resolve("queries").toString), corpus.docs.size.toLong)
  }

  /** Expected answers, computed from the generator alone. */
  final class Expected(val corpus: Gen.Corpus) {
    val qualityIds: Set[Long] = corpus.docs.map(_.id).toSet -- corpus.lowIds
    val exactIds: Set[Long] = qualityIds -- corpus.exactCopyIds
    val pairs: Set[(Long, Long)] = corpus.nearPairs.toSet
    val curatedCount: Long = exactIds.size - pairs.size
    def truth(q: Array[Double]): Set[Long] =
      corpus.vectors.map { case (i, v) => (i, Gen.cosine(q, v)) }
        .sortBy { case (i, s) => (-s, i) }.take(K).map(_._1).toSet
    val truths: Map[Long, Set[Long]] = corpus.queries.map { case (q, v) => q -> truth(v) }.toMap
  }

  /** One pass; returns its request id, wall time in ms and process CPU
    * time in ms. Stage results are checked against `exp` after the pass
    * and counted as ops.
    */
  def pass(c: Ctx, t: Tracer, in: Inputs, exp: Expected, ivfRoot: String,
           jobsPerStage: ArrayBuffer[(String, Long)]): (Long, Double, Double) = {
    val spark = c.spark
    val sc = spark.sparkContext
    val req = t.newRequest()
    val results = ArrayBuffer.empty[(String, Any)]
    val jobs0 = c.jobs.byStage(sc)
    def stage[T](name: String)(body: => T): T = {
      sc.setLocalProperty(JobCounter.StageProperty, name)
      try t.span(name, req)(body) finally sc.setLocalProperty(JobCounter.StageProperty, null)
    }
    val cpu0 = Host.processCpuNs
    val t0 = System.nanoTime()
    t.span("pass", req) {
      val scored = stage("text.quality") {
        in.docs.withColumn("quality", TextFunctions.qualityScore(col("text")))
          .filter(TextFunctions.gopherKeep(col("text"))).localCheckpoint()
      }
      val exact = stage("dedup.exact")(Dedup.exact(scored).localCheckpoint())
      val pairs = stage("dedup.minhash")(Dedup.minhashNearDupPairs(exact).localCheckpoint())
      val (curated, kept) = stage("dedup.cluster") {
        val clusters = Dedup.connectedComponents(pairs)
        val kept = Dedup.keepBestPerCluster(clusters, scored.select("doc_id", "quality"))
          .localCheckpoint()
        val drop = clusters.join(kept, col("doc_id") === col("kept_doc_id"), "left_anti")
          .select("doc_id")
        (exact.join(drop, Seq("doc_id"), "left_anti").localCheckpoint(), kept)
      }
      val bpe = stage("text.bpe_encode")(TextFunctions.bpeEncode(curated, BpeMerges).localCheckpoint())
      val packed = stage("pipeline.pack") {
        Pipeline.packSequences(curated, "doc_id", "text", SeqTokens)
          .agg(count(lit(1)), max(col("seq_last")), sum(col("n_tok"))).collect().head
      }
      stage("sim.ivf_build")(IvfIndex.build(in.vectors, ivfRoot, nCentroids = Cells))
      val top = stage("sim.ivf_probe")(IvfIndex.topK(spark, ivfRoot, in.queries, K, NProbe).collect())
      results ++= Seq("scored" -> scored, "exact" -> exact, "pairs" -> pairs, "kept" -> kept,
        "curated" -> curated, "bpe" -> bpe, "packed" -> packed, "top" -> top)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Host.processCpuNs - cpu0) / 1e6
    val jobs1 = c.jobs.byStage(sc)
    Stages.foreach(st => jobsPerStage += ((st, jobs1.getOrElse(st, 0L) - jobs0.getOrElse(st, 0L))))

    // ---- checks, outside the timed pass ----
    val r = results.toMap
    def ids(df: Any): Set[Long] =
      df.asInstanceOf[DataFrame].select("doc_id").collect().map(_.getLong(0)).toSet
    val scoredIds = ids(r("scored"))
    c.op(scoredIds == exp.qualityIds,
      s"quality filter kept ${scoredIds.size} docs, want ${exp.qualityIds.size}")
    val exactIds = ids(r("exact"))
    c.op(exactIds == exp.exactIds, s"exact dedup kept ${exactIds.size}, want ${exp.exactIds.size}")
    val found = r("pairs").asInstanceOf[DataFrame].select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    c.op(exp.pairs.subsetOf(found),
      s"near-dup pairs: ${(exp.pairs -- found).size} of ${exp.pairs.size} planted pairs missed")
    val kept = r("kept").asInstanceOf[DataFrame].select("kept_doc_id").collect().map(_.getLong(0))
    c.op(kept.length == exp.pairs.size &&
      kept.forall(k => exp.pairs.exists { case (a, b) => a == k || b == k }),
      s"cluster selection kept ${kept.length}, want one per planted pair (${exp.pairs.size})")
    val curatedIds = ids(r("curated"))
    c.op(curatedIds.size == exp.curatedCount, s"curated ${curatedIds.size}, want ${exp.curatedCount}")
    val words = curatedIds.toSeq.map(exp.corpus.words).sum.toLong
    val bpeRow = r("bpe").asInstanceOf[DataFrame].agg(count(lit(1)), sum(col("n_tokens"))).collect().head
    c.op(bpeRow.getLong(0) == curatedIds.size && bpeRow.getLong(1) >= words,
      s"bpe encoded ${bpeRow.getLong(0)} docs / ${bpeRow.getLong(1)} tokens, want ${curatedIds.size} / ≥ $words")
    val packed = r("packed").asInstanceOf[org.apache.spark.sql.Row]
    c.op(packed.getLong(0) == curatedIds.size && packed.getLong(2) == words &&
      packed.getLong(1) == (words - 1) / SeqTokens,
      s"packed ${packed.getLong(0)} docs into ${packed.getLong(1) + 1} sequences, want ${curatedIds.size} " +
        s"into ${(words - 1) / SeqTokens + 1}")
    val top = r("top").asInstanceOf[Array[org.apache.spark.sql.Row]]
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = Stats.mean(exp.truths.toSeq.map { case (q, want) =>
      (top.getOrElse(q, Set.empty[Long]) intersect want).size.toDouble / K })
    c.op(recall >= RecallFloor, f"IVF recall@$K $recall%.3f below the floor $RecallFloor")
    Seq("scored", "exact", "pairs", "kept", "curated", "bpe").foreach(k =>
      r(k).asInstanceOf[DataFrame].unpersist(blocking = true))
    c.record("outputs") = Seq(scoredIds.size, exactIds.size, found.size, kept.length,
      curatedIds.size, packed.getLong(1) + 1, f"$recall%.4f")
    (req, wallMs, cpuMs)
  }

  def run(c: Ctx): Unit = {
    val nPass = passes(c.args.seconds)
    c.determinism(s => Gen.digest(generate(s), new Gen.Digest).hex)

    val reps = (1 to c.setupReps).map { r =>
      val t0 = System.nanoTime()
      val corpus = generate(c.seed)
      val in = materialize(c.spark, corpus, c.work.resolve(s"corpus-$r"))
      val exp = new Expected(corpus)
      ((System.nanoTime() - t0) / 1e9, (in, exp))
    }
    val (in, exp) = reps.last._2
    val off = new Tracer(false)
    val stageJobs = ArrayBuffer.empty[(String, Long)]
    val tw = System.nanoTime()
    (1 to (if (c.training) 0 else 1)).foreach(i =>
      pass(c, off, in, exp, c.work.resolve(s"ivf-w$i").toString, stageJobs))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = c.sessionS + Stats.median(reps.map(_._1)) + warmupS
    c.record("setup.session_s") = c.sessionS
    c.record("setup.generate_s") = reps.map(_._1)
    c.record("setup.warmup_s") = warmupS
    stageJobs.clear()

    // pass walls and CPU times exclude the result checks, which run after each pass
    val timed = ArrayBuffer.empty[(Boolean, Long, Double, Double)]
    Host.settle()
    val win = new Host.Window
    (0 until nPass).foreach { i =>
      val on = c.traced && (i % 4 == 0 || i % 4 == 3) // traced, untraced, untraced, traced, ...
      val (req, ms, cpuMs) = pass(c, if (on) c.tracer else off, in, exp,
        c.work.resolve(s"ivf-t$i").toString, stageJobs)
      timed += ((on, req, ms, cpuMs))
    }
    val gcMs = win.gcDeltaMs
    val steal = win.steal
    val pauseMax = Host.maxPause
    val heapMb = Host.liveHeapMb()
    val docs = in.n * nPass
    val wallMs = timed.map(_._3).sum
    val cpuMs = timed.map(_._4).sum

    val perStage = stageJobs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    c.record("counts.passes") = nPass
    c.record("counts.jobs_per_stage") = Stages.map(s => s -> perStage.getOrElse(s, Nil)).toMap
    c.op(perStage.values.forall(_.size == 1), s"Spark jobs per stage differ between passes: $perStage")
    c.record("host.steal_pct") = steal
    c.record("host.gc_ms") = gcMs
    c.record("host.gc_pause_max_ms") = pauseMax
    c.record("latency.pass_ms") = timed.map(_._3).toSeq

    c.record("e2e") = Map("curation_docs_per_s" -> docs / (wallMs / 1000.0),
      "cpu_ms_per_doc" -> cpuMs / docs)

    if (!c.traced) {
      c.endToEnd(setupS, Stats.median(timed.map(_._3).toSeq), docs.toDouble, wallMs / 1000.0,
        cpuMs, heapMb)
    } else {
      val spans = c.tracer.finish()
      val lay = new Layers(c, spans)
      val onPasses = timed.filter(_._1)
      val np = math.max(1, onPasses.size).toDouble
      c.metric("text.quality_ms", lay.medianMs("text.quality"), "ms")
      c.metric("dedup.exact_ms", lay.medianMs("dedup.exact"), "ms")
      c.metric("dedup.minhash_ms", lay.medianMs("dedup.minhash"), "ms")
      c.metric("dedup.minhash_task_cpu_ms", lay.work(lay.named("dedup.minhash")).taskCpuMs / np, "ms")
      c.metric("dedup.cluster_ms", lay.medianMs("dedup.cluster"), "ms")
      c.metric("text.bpe_encode_ms", lay.medianMs("text.bpe_encode"), "ms")
      c.metric("text.bpe_jobs", lay.work(lay.named("text.bpe_encode")).jobs / np, "count")
      c.metric("pipeline.pack_ms", lay.medianMs("pipeline.pack"), "ms")
      c.metric("sim.ivf_build_ms", lay.medianMs("sim.ivf_build"), "ms")
      c.metric("sim.ivf_probe_ms", lay.medianMs("sim.ivf_probe"), "ms")
      c.metric("curation.driver_gap_ms", Stats.median(lay.named("pass").map(lay.driverMs)), "ms")
      lay.traceMetrics(onPasses.map(_._3).toSeq, timed.filterNot(_._1).map(_._3).toSeq,
        onPasses.map(_._2).toSeq)
      c.metric("jvm.gc_ms", gcMs, "ms")
      c.metric("jvm.gc_pause_max_ms", pauseMax.toDouble, "ms")
      c.metric("host.steal_pct", steal, "%")
    }
  }
}
