package graft.perfbench

import graft._
import graft.streaming.StreamJob
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The image stream's layers, traced: `StreamJob.runOnce`'s wiring over a
  * pre-split fixture corpus, drained at one file per trigger (AvailableNow),
  * each batch starting once the previous one committed. Here the per-batch
  * fixed cost is the whole story: TableIO load/append/replace, the
  * committed-history joins, per-batch CC and the Spark job count; the
  * candidate kernels see small inputs.
  *
  * It is not a timed workload: a run of it (warm-up stream plus a timed
  * stream of at least two batches) costs about 90 s on a 4-core host,
  * more than the benchmark's time budget has for a run. The traced run of
  * [[Host]] drains it once after its own replica, and its metrics carry
  * the [[Prefix]] so they cannot be read as that workload's.
  */
object ImgStream {
  val Rows = 200
  val Splits = 2
  /** The workload whose traced run also traces the stream. */
  val Host = "text-cascade"
  val Prefix = "img-stream."

  /** The spans of [[traced]], in stream order. */
  val Spans: Seq[String] = Seq("streamjob.process_batch", "tableio.load", "tableio.append",
    "tableio.replace", "streamjob.compact_clusters")

  final case class Outcome(tracer: Tracer, triggerOverheadS: Double, problems: Seq[String])

  /** Prepare this seed's stream input, then drain it with runOnce's wiring
    * (a fresh stream's tag prefix, AvailableNow at one file per trigger,
    * end-of-stream compaction), the timed TableIO handed to
    * `processBatch` and a span around each batch. The trigger overhead is
    * the wall time not covered by batches or compaction.
    */
  def traced(spark: SparkSession, inputs: String, seed: Long, out: String): Outcome = {
    val cfg = DedupConfig()
    val n = ImgInputs.clustersFor(Rows, seed)
    val dir = ImgInputs.split(spark, inputs, "img-stream", n, seed, Splits)
    val labels = ImgInputs.labels(spark, dir, n, seed)
    val tr = new Tracer(spark.sparkContext)
    val io = Tracer.timedTableIO(new ParquetTableIO(spark, out, "perfbench", cfg.configHash), tr)
    val tagPrefix = java.util.UUID.randomUUID().toString.take(8) + "-"
    val t0 = System.nanoTime()
    try {
      spark.readStream
        .schema(Encoders.product[ImageRow].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .writeStream
        .foreachBatch((batch: DataFrame, id: Long) =>
          tr.span("streamjob.process_batch")(
            StreamJob.processBatch(io, cfg, verbose = false, tagPrefix)(batch, id)))
        .option("checkpointLocation", out + "-checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      tr.span("streamjob.compact_clusters")(StreamJob.compactClusters(io))
    } finally tr.finish()
    val wall = Workload.since(t0)

    val batches = tr.occurrences("streamjob.process_batch")
    val rows = new ParquetTableIO(spark, out, "perfbench", cfg.configHash).load("clusters").get
      .select(col("image_id"), col("cluster_id")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val q = Quality.of(rows, labels.golden, labels.positives, labels.negatives)
    val problems = (labels.problems ++ q.problems).map("stream: " + _) ++
      (if (batches.size == Splits) Nil else Seq(s"stream: ${batches.size} micro-batches for $Splits files"))
    Outcome(tr, wall - batches.map(_.wallS).sum - tr.total("streamjob.compact_clusters").wallS, problems)
  }
}
