package graft.perfbench

import graft._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** text-cascade: `TieredDedup.cascade` plus `io.commit("assignment")`,
  * wired as `TextDedupJob.main` wires it, over a seeded docs + embeddings
  * corpus (see [[TextGen]]). SemDedup's exact all-pairs prune and
  * `nearDupExact` carry the work; there are no pixels, no span pass and one
  * commit, so TableIO and verify changes should not move this workload.
  */
final class TextCascade extends Workload {
  import TextCascade._
  import Workload._

  private val cfg = DedupConfig()
  private var docsPath, embPath = ""
  private var golden: Map[String, String] = Map.empty
  private var positives: Seq[(String, String)] = Nil
  private var texts: IndexedSeq[String] = IndexedSeq.empty

  /** The corpus in the layout of the SF text tables: documents.parquet (doc_id,
    * text) and embeddings.parquet (vec_id, embedding) under `dir`.
    */
  private def write(spark: SparkSession, c: TextGen.Corpus, dir: String): Unit = {
    import spark.implicits._
    c.docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    c.emb.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
  }

  override def writeWarmUp(spark: SparkSession, dir: String): Unit =
    write(spark, TextGen.generate(WarmDocs, WarmUpSeed), dir)

  override def prepare(spark: SparkSession, inputs: String, seed: Long): Unit = {
    val c = TextGen.generate(Docs, seed)
    val dir = Io.cached(inputs, s"text-cascade-s$seed-n$Docs-g${c.fingerprint.take(16)}")(write(spark, c, _))
    docsPath = s"$dir/documents.parquet"; embPath = s"$dir/embeddings.parquet"
    golden = c.golden.map { case (id, g) => id.toString -> g.toString }
    positives = c.golden.toSeq.groupBy(_._2).values.toSeq.flatMap { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i).toString, ids(j).toString)
    }
    texts = c.docs.map(_._2)
  }

  private def inputs(spark: SparkSession, docs: String, emb: String): (DataFrame, DataFrame) = (
    spark.read.parquet(docs).select(col("doc_id"), col("text")),
    spark.read.parquet(emb).select(col("vec_id").as("id"), col("embedding").as("vec")))

  /** TextDedupJob's near-pair generator: text MinHash, then nearDupExact. */
  private def nearPairs(surv: DataFrame): DataFrame = {
    val sdocs = surv.select(col("doc_id").as("id"), col("text"))
    SparkEntry.nearDupExact(sdocs, minhash(sdocs), cfg).select(col("a"), col("b"))
  }

  private def minhash(sdocs: DataFrame): DataFrame =
    sdocs.select(col("id"), GraftFunctions.minhashCol(
      GraftFunctions.shinglesCol(col("text"), cfg.shingleK), cfg.numPerms).as("minhash")).localCheckpoint()

  /** Commit the assignment and read back its per-tier counts, as TextDedupJob does. */
  private def commit(io: TableIO, assignment: DataFrame): DataFrame = {
    val committed = io.commit("assignment", assignment)
    committed.groupBy("tier").agg(count(lit(1)).as("n")).collect()
    committed
  }

  private def run(spark: SparkSession, docsIn: String, embIn: String, out: String): (Double, DataFrame) = {
    val (docs, emb) = inputs(spark, docsIn, embIn)
    val t0 = System.nanoTime()
    val assignment = TieredDedup.cascade(docs, emb, nearPairs, tauSem = TauSem)
    val committed = commit(new ParquetTableIO(spark, out, "perfbench", cfg.configHash), assignment)
    (since(t0), committed)
  }

  override def warmUp(spark: SparkSession, dir: String, out: String): Unit =
    run(spark, s"$dir/documents.parquet", s"$dir/embeddings.parquet", out)

  /** (doc_id, tier, dup_of) rows, and each doc's group: the end of its dup_of chain. */
  private def outcome(committed: DataFrame): (Seq[(String, String)], Quality) = {
    val rows = committed.select(col("doc_id"), col("tier"), col("dup_of")).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val dupOf = rows.map(r => r._1 -> r._3).toMap
    def root(id: Long, hops: Int = 0): Long = dupOf.get(id).flatten match {
      case Some(p) if hops < dupOf.size => root(p, hops + 1)
      case _ => id
    }
    val groups = rows.map(r => (r._1.toString, root(r._1).toString)).toSeq
    (rows.map(r => (r._1.toString, s"${r._2}\t${r._3.getOrElse("")}")).toSeq,
      Quality.of(groups, golden, positives, Nil))
  }

  override def job(spark: SparkSession, out: String): JobOutcome = {
    val (wall, committed) = run(spark, docsPath, embPath, out)
    val (rows, q) = outcome(committed)
    JobOutcome(wall, golden.size, Io.treeBytes(out), q, Io.outputHash(rows))
  }

  /** `TieredDedup.cascade`'s body, step for step, with spans around the
    * near-pair generator (materialized inside its spans) and the semantic
    * prune, then the commit through the timed TableIO.
    */
  override def traced(spark: SparkSession, out: String): TracedOutcome = {
    val tr = new Tracer(spark.sparkContext)
    val io = Tracer.timedTableIO(new ParquetTableIO(spark, out, "perfbench", cfg.configHash), tr)
    val (docs, emb) = inputs(spark, docsPath, embPath)
    var sigs: DataFrame = null
    var kept = 0L
    val t0 = System.nanoTime()
    val assignment = tr.span("tiered.cascade") {
      val tag1 = docs.withColumn("h", md5(col("text").cast("binary")))
      val canon = tag1.groupBy("h").agg(min("doc_id").as("canon"))
      val t1 = tag1.join(canon, "h").localCheckpoint(eager = false)
      val exactDups = t1.where(col("doc_id") =!= col("canon"))
        .select(col("doc_id"), lit("exact").as("tier"), col("canon").as("dup_of"))
      val surv1 = t1.where(col("doc_id") === col("canon")).select(col("doc_id"), col("text"))

      val sdocs = surv1.select(col("doc_id").as("id"), col("text"))
      sigs = tr.span("signatures.text_minhash") {
        val s = minhash(sdocs)
        tr.rowsOut(s.count())
        s
      }
      val pairs = tr.span("sparkentry.near_dup_exact") {
        val (p, n) = materialize(tr, SparkEntry.nearDupExact(sdocs, sigs, cfg).select(col("a"), col("b")))
        kept = n
        p
      }
      val clu = ConnectedComponents.cluster(pairs, surv1.select(col("doc_id").as("image_id")))
        .select(col("image_id").as("doc_id"), col("cluster_id"))
        .localCheckpoint(eager = false)
      val nearDups = clu.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit("near").as("tier"), col("cluster_id").as("dup_of"))
      val surv2 = clu.where(col("doc_id") === col("cluster_id")).select(col("doc_id"))

      val e = emb.join(surv2, emb("id") === surv2("doc_id"))
        .select(emb("id"), emb("vec"))
        .localCheckpoint()
      val pr = tr.span("semdedup.prune")(materialize(tr, SemDedup.prune(e, tau = TauSem, nList = 1))._1)
      val verdict = surv2.join(pr, surv2("doc_id") === pr("id"), "left")
        .select(surv2("doc_id"),
          when(col("keep") === 0, lit("semantic")).otherwise(lit("kept")).as("tier"),
          when(col("keep") === 0, col("dup_of")).cast("long").as("dup_of"))
      materialize(tr, exactDups.unionByName(nearDups).unionByName(verdict))._1
    }
    val committed = commit(io, assignment)
    val wall = since(t0)
    tr.finish()

    val (rows, q) = outcome(committed)
    val lshCandidates = Lsh.lshCandidates(Lsh.bands(sigs, cfg), cfg).count()
    val extra = Map("sparkentry.near_dup_exact.verify_yield" -> kept.toDouble / math.max(1L, lshCandidates)) ++
      Kernels.text(texts, texts.map(_ => 0L), cfg)
    TracedOutcome(wall, Io.outputHash(rows), q.problems, tr, extra)
  }
}

object TextCascade {
  val Docs = 1500
  val WarmDocs = 40
  /** TextDedupJob's --tau-sem. Its 0.35 default suits wide embeddings; over
    * 64 dims, unrelated random vectors pass cosine 0.35 at about 0.3% of
    * pairs, which would make precision measure the generator. At 0.7 that
    * share is far below one pair per run.
    */
  val TauSem = 0.7
}
