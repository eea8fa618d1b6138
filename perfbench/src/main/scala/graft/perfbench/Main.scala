package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --warmup <dir> --inputs <dir> --cores <n> --heap <size>
  * --result <file>`. Started by run.py, which builds the classpath, writes
  * the warm-up inputs under `--warmup` once per build and sizes the JVM
  * from the host. `--inputs` caches generated inputs across runs; `--work`
  * is emptied by every run.
  *
  * One run: start the session, register the engine's functions and run an
  * untimed warm-up job on the workload's warm-up input; `setup_s` is the
  * time from JVM start to the end of the warm-up. Then the seed's inputs are generated (or reused from the
  * cache), the peak RSS is reset, and the run repeats the timed job, one
  * client in a closed loop, for `--seconds` (at least once), checking each
  * job's output. A traced run then adds one traced replica of the job (and
  * on [[ImgStream.Host]] the traced image stream) and prints the per-layer
  * metrics instead.
  *
  * Set-up is measured once per run, not as a median of several: a cold
  * warm-up job costs 20-40 s, mostly per-Spark-job overhead and JIT, even
  * on a small input, and the benchmark's time budget cannot pay for
  * repeats.
  */
object Main {
  /** No job starts after this many seconds of JVM life, so a run ends well
    * inside its 180 s limit.
    */
  private val LastStartS = 120.0

  /** The local-mode Spark settings of DedupJob.main, plus the benchmark's
    * scratch locations inside its work directory.
    */
  def settings(work: String): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, warmup: String, inputs: String, cores: Int, heap: String, result: String)

  private def pairs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map(a => a(0) -> a(1)).toMap
  }

  private def parse(m: Map[String, String]): Opts = {
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") match { case "0" => false; case "1" => true; case t => sys.error(s"--trace $t") },
      get("--work"), get("--warmup"), get("--inputs"), get("--cores").toInt, get("--heap"),
      get("--result"))
  }

  private val Workloads: Map[String, () => Workload] =
    Map("img-batch" -> (() => new ImgBatch), "text-cascade" -> (() => new TextCascade))

  private def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
    settings(work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `--write-warmup <dir> --work <dir>` writes every workload's warm-up
    * input under `<dir>/<workload>`; run.py does this once per build.
    */
  def main(args: Array[String]): Unit = {
    val m = pairs(args)
    m.get("--write-warmup") match {
      case Some(dir) =>
        val spark = session(Runtime.getRuntime.availableProcessors, m("--work"))
        Workloads.foreach { case (name, wl) => wl().writeWarmUp(spark, s"$dir/$name") }
      case None =>
        val o = parse(m)
        val (config, result) = run(o)
        Files.writeString(Paths.get(o.result), config + "\n" + result + "\n")
    }
    // the stream and Spark leave non-daemon threads behind
    System.exit(0)
  }

  private def run(o: Opts): (String, String) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def jvmAgeS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val wl = Workloads.getOrElse(o.workload, () => sys.error(s"unknown workload ${o.workload}"))()
    val jobsDir = Paths.get(o.work, "jobs")
    val spark = session(o.cores, o.work)
    val sessionS = jvmAgeS
    GraftFunctions.register(spark)
    wl.warmUp(spark, s"${o.warmup}/${o.workload}", jobsDir.resolve("warmup").toString)
    Io.deleteTree(jobsDir)
    val setupS = jvmAgeS
    val prepStart = System.nanoTime()
    wl.prepare(spark, o.inputs, o.seed)
    System.err.println(s"[perfbench] set-up took $setupS s (session $sessionS s), " +
      s"inputs ${Workload.since(prepStart)} s")
    // peak RSS covers the timed jobs only, not input generation or labels
    Io.resetPeakRss()

    // closed loop, one client: the next job starts when the previous one
    // has committed and been checked
    val jobs = mutable.ArrayBuffer.empty[JobOutcome]
    var attempted, failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    val loopStart = System.nanoTime()
    var lastWall = 0.0
    while (attempted == 0 ||
      Workload.since(loopStart) < o.seconds && jvmAgeS + lastWall < LastStartS) {
      val out = jobsDir.resolve(s"job-$attempted").toString
      val t0 = System.nanoTime()
      attempted += 1
      try {
        val j = wl.job(spark, out)
        if (j.quality.ok) jobs += j
        else { failed += 1; problems ++= j.quality.problems }
      } catch {
        case e: Exception =>
          e.printStackTrace()
          failed += 1; problems += e.toString
      }
      lastWall = Workload.since(t0)
      System.err.println(s"[perfbench] job $attempted took $lastWall s with its checks")
      Io.deleteTree(jobsDir)
    }
    val hashes = jobs.map(_.outputHash).distinct
    if (hashes.size > 1) problems += s"repeated jobs gave ${hashes.size} different outputs"

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        if (jobs.isEmpty) Nil
        else Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", Stats.median(jobs.map(j => j.rows / j.wallS).toSeq), "rows/s"),
          ("pair_recall", Stats.median(jobs.map(_.quality.recall).toSeq), "ratio"),
          ("pair_precision", Stats.median(jobs.map(_.quality.precision).toSeq), "ratio"),
          ("peak_rss_mb", Io.peakRssMb(), "MB"),
          ("stored_bytes_per_row", Stats.median(jobs.map(j => j.storedBytes.toDouble / j.rows).toSeq), "B/row"))
      } else if (jobs.isEmpty) Nil
      else {
        attempted += 1
        try {
          val traced = wl.traced(spark, jobsDir.resolve("traced").toString)
          val bad = traced.problems ++ (if (traced.outputHash == jobs.head.outputHash) Nil
            else Seq("traced output differs from the untraced job's: the replica has drifted from the engine"))
          if (bad.nonEmpty) { failed += 1; problems ++= bad }
          val stream =
            if (o.workload != ImgStream.Host) None
            else {
              attempted += 1
              val s = ImgStream.traced(spark, o.inputs, o.seed, jobsDir.resolve("stream").toString)
              if (s.problems.nonEmpty) { failed += 1; problems ++= s.problems }
              Some(s)
            }
          Layers.metrics(traced, Stats.median(jobs.map(_.wallS).toSeq), stream)
        } catch {
          case e: Exception =>
            e.printStackTrace()
            failed += 1; problems += e.toString
            Nil
        }
      }

    val correct = failed == 0 && problems.isEmpty
    problems.distinct.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    System.err.println(s"[perfbench] done at JVM age $jvmAgeS s")
    val config = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString, "trace" -> o.trace.toString,
      "cores" -> o.cores.toString, "heap" -> Json.str(o.heap),
      "master" -> Json.str(spark.sparkContext.master),
      "jobs" -> jobs.size.toString,
      "inputs" -> Json.obj(wl.notes.map { case (k, v) => k -> Json.num(v) }),
      "spark" -> Json.obj(settings("<work>").map { case (k, v) => k -> Json.str(v) })))
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj((if (correct) metrics else Nil).map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    (Json.obj(Seq("perfbench_config" -> config)), result)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d")
    d.toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
