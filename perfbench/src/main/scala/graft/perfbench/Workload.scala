package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: seeded inputs, an untimed warm-up job on a small
  * input of the same shape, the timed job, and a traced replica of the job.
  */
trait Workload {
  /** Write the small warm-up input (seed [[Workload.WarmUpSeed]]) under
    * `dir`. run.py writes it once per build, in a JVM of its own, so every
    * run's set-up does the same work: none before the warm-up job.
    */
  def writeWarmUp(spark: SparkSession, dir: String): Unit

  /** Generate (or reuse from the on-disk cache) this seed's inputs. */
  def prepare(spark: SparkSession, inputs: String, seed: Long): Unit

  /** Facts about the prepared inputs, recorded beside each result. */
  def notes: Seq[(String, Double)] = Nil

  /** The job on the warm-up input written under `dir`, untimed. */
  def warmUp(spark: SparkSession, dir: String, out: String): Unit

  /** One job into the fresh directory `out`, timed from the engine call to
    * the fully committed result, then checked against the planted labels.
    */
  def job(spark: SparkSession, out: String): JobOutcome

  /** The job again with a span around each layer call, under `out`; its
    * output must hash the same as [[job]]'s.
    */
  def traced(spark: SparkSession, out: String): TracedOutcome
}

final case class JobOutcome(wallS: Double, rows: Long, storedBytes: Long,
    quality: Quality, outputHash: String)

/** `tracer` traced the replica of the job, whose wall time is `wallS`.
  * `extra` carries the workload's ratios, kernel timings and other
  * per-layer values.
  */
final case class TracedOutcome(wallS: Double, outputHash: String, problems: Seq[String],
    tracer: Tracer, extra: Map[String, Double])

object Workload {
  val WarmUpSeed = 1L

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Persist and count `df` inside the open span, recording the count as the
    * span's rows_out.
    */
  def materialize(tr: Tracer, df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    tr.rowsOut(n)
    (p, n)
  }
}
