package graft.perfbench

import graft._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** img-batch: `Pipeline.runCheckpointed` into a fresh `ParquetTableIO`,
  * the DedupJob path, over `Fixtures.corpus`. Power-law cluster sizes (up
  * to 48) give hot LSH buckets and many shared candidates, so signatures,
  * the three candidate families, merge, scoring, PSNR verify and CC carry
  * the work; the stream's per-batch history joins are bypassed.
  */
final class ImgBatch extends Workload {
  import ImgBatch._
  import Workload._

  private val cfg = DedupConfig()
  private var corpusPath = ""
  private var labels: Labels = _

  override def prepare(spark: SparkSession, inputs: String, seed: Long): Unit = {
    val n = ImgInputs.clustersFor(Rows, seed)
    corpusPath = ImgInputs.batch(spark, inputs, "img-batch", n, seed)
    labels = ImgInputs.labels(spark, corpusPath, n, seed)
  }

  override def writeWarmUp(spark: SparkSession, dir: String): Unit =
    Fixtures.corpus(spark, ImgInputs.clustersFor(WarmRows, WarmUpSeed), WarmUpSeed)
      .write.parquet(s"$dir/corpus")

  override def notes: Seq[(String, Double)] =
    Seq("planted_dup_pairs" -> labels.planted.toDouble,
      "planted_dup_pairs_below_keep_rule" -> labels.belowKeepRule.toDouble)

  private def quality(rows: Seq[(String, String)]): Quality = {
    val q = Quality.of(rows, labels.golden, labels.positives, labels.negatives)
    q.copy(problems = labels.problems ++ q.problems)
  }

  private def assignment(df: DataFrame): Seq[(String, String)] =
    df.select(col("image_id"), col("cluster_id")).collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private def run(spark: SparkSession, path: String, out: String): (Double, ParquetTableIO) = {
    val io = new ParquetTableIO(spark, out, "perfbench", cfg.configHash)
    val corpus = spark.read.parquet(path)
    val t0 = System.nanoTime()
    val r = Pipeline.runCheckpointed(corpus, cfg, io)
    r.clusters.count()
    val wall = since(t0)
    r.unpersist()
    (wall, io)
  }

  override def warmUp(spark: SparkSession, dir: String, out: String): Unit =
    run(spark, s"$dir/corpus", out)

  override def job(spark: SparkSession, out: String): JobOutcome = {
    val (wall, io) = run(spark, corpusPath, out)
    val rows = assignment(io.load("clusters").get)
    JobOutcome(wall, labels.golden.size, Io.treeBytes(out), quality(rows), Io.outputHash(rows))
  }

  /** `Pipeline.runStaged` with a TableIO, call for call (default config:
    * no exact tier), each stage's output persisted and counted inside its
    * span and then committed through the timed TableIO.
    */
  override def traced(spark: SparkSession, out: String): TracedOutcome = {
    val tr = new Tracer(spark.sparkContext)
    val io = Tracer.timedTableIO(new ParquetTableIO(spark, out, "perfbench", cfg.configHash), tr)
    val corpus = spark.read.parquet(corpusPath)
    val n = scala.collection.mutable.Map.empty[String, Long]
    def stage(name: String)(df: => DataFrame): DataFrame = tr.span(name) {
      val (p, rows) = materialize(tr, df)
      n(name) = rows
      p
    }
    val t0 = System.nanoTime()
    val repairs = tr.span("idhash.build_repairs")(IdHash.buildRepairs(corpus.select(col("image_id"))))
      .map(r => io.commit("id_repairs", r))
    val clean = corpus
      .where(col("caption").isNotNull && length(col("caption")) > 0)
      .where(col("w") > 0 && col("h") > 0)
    val sigs = io.commitBucketed("signatures",
      stage("signatures.signatures")(Signatures.signatures(clean, cfg, repairs)), "id", cfg.sigBuckets)
    val bands = stage("lsh.bands")(Lsh.bands(sigs, cfg))
    io.commit("bucket_stats", Lsh.bucketStats(bands, cfg))
    val lsh = stage("lsh.lsh_candidates")(
      Lsh.lshCandidates(bands, cfg, dedup = false, census = Some(new Observation())))
    val sh = stage("lsh.simhash_candidates")(
      Lsh.simhashCandidates(sigs, cfg, dedup = false, census = Some(new Observation())))
    val span = stage("suffix.span_candidates")(SuffixPass.spanCandidates(
      sigs.select(col("id"), col("norm")), cfg, census = Some(new Observation()),
      docCensus = Some(new Observation())))
    val candidates = io.commitBucketed("candidates",
      stage("pipeline.merge_candidates")(Pipeline.mergeCandidates(Seq(lsh -> 1, sh -> 2, span -> 4))),
      "a", cfg.sigBuckets)
    val survivors = io.commitBucketed("scored", stage("scoring.score_topk")(
      Scoring.filterAndTopK(Scoring.score(candidates, sigs, cfg, sigs.count()), cfg)),
      "a", cfg.sigBuckets)
    val verifiedRows = stage("scoring.verify")(
      Scoring.verify(survivors, corpus, cfg, repairs, survivors.count())
        .withColumn("dup_part", col("is_dup").cast("int")))
    val verified = io.commitPartitioned("verified", verifiedRows, Seq("dup_part"))
    val clusters = io.commitSorted("clusters", stage("cc.cluster_hashed")(
      ConnectedComponents.clusterHashed(verified.where(col("dup_part") === 1).select(col("a"), col("b")),
        corpus.select(col("image_id")), repairs = repairs)),
      "cluster_id", spark.conf.get("spark.sql.shuffle.partitions").toInt)
    clusters.count()
    val wall = since(t0)
    tr.finish()

    val rows = assignment(clusters)
    val dupPairs = verifiedRows.where(col("is_dup")).select(col("a"), col("b")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val extra = Map(
      "candidates.dup_factor" ->
        (n("lsh.lsh_candidates") + n("lsh.simhash_candidates") + n("suffix.span_candidates")).toDouble /
          math.max(1L, n("pipeline.merge_candidates")),
      "scoring.verify.dup_yield" -> dupPairs.size.toDouble / math.max(1L, n("scoring.verify"))) ++
      ImgInputs.kernels(spark, corpusPath, dupPairs, cfg)
    TracedOutcome(wall, Io.outputHash(rows), quality(rows).problems, tr, extra)
  }
}

object ImgBatch {
  val Rows = 1500
  val WarmRows = 20
}
