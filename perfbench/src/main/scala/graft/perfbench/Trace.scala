package graft.perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.util.concurrent.ConcurrentHashMap
import graft.TableIO
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans the benchmark records around its calls into each engine layer.
  *
  * A span tags every Spark job submitted inside it with a local property;
  * a listener adds up the tasks' CPU time, shuffle writes and written
  * records per tag. A tag is the '/'-joined path of the open spans, each
  * component `name#occurrence`, so a span's totals include its children's
  * and repeated spans (one per micro-batch) stay apart. Spans live in
  * memory and are read once, after the traced job.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private final class Acc { var jobs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var written = 0L }
  private val byTag = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  // listener callbacks run on the single listener-bus thread
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).getOrElse("")
      e.stageIds.foreach(stageTag.putIfAbsent(_, tag))
      acc(tag).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val a = acc(stageTag.getOrDefault(e.stageId, ""))
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.written += m.outputMetrics.recordsWritten
      }
  }
  sc.addSparkListener(listener)

  private val occs = mutable.ArrayBuffer.empty[Occ]
  private val open = mutable.ArrayBuffer.empty[String]
  private val seen = mutable.HashMap.empty[String, Int]
  private val rowsSet = mutable.HashMap.empty[String, Long]

  /** Run `body` inside span `name`; `detail` (a TableIO stage) also keeps a
    * per-detail wall time. Spans may be opened from the stream's batch
    * thread: only one thread works at a time, and the local property is
    * set on the calling thread.
    */
  def span[T](name: String, detail: String = "")(body: => T): T = {
    val path = synchronized {
      val k = seen.getOrElse(name, 0)
      seen(name) = k + 1
      open += s"$name#$k"
      open.mkString("/")
    }
    val prior = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, path)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Prop, prior)
      synchronized {
        occs += Occ(name, detail, path, wall)
        open.remove(open.length - 1)
      }
    }
  }

  /** Rows the innermost open span produced (default: records it wrote). */
  def rowsOut(n: Long): Unit = synchronized { rowsSet(open.mkString("/")) = n }

  /** Stop recording once the listener has seen every finished task. */
  def finish(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** One occurrence's totals, its children's jobs and tasks included. */
  private def statsOf(o: Occ): SpanStats = {
    val under = byTag.asScala.filter { case (t, _) => t == o.path || t.startsWith(o.path + "/") }.values
    SpanStats(o.wallS, under.map(_.jobs).sum, under.map(_.cpuNs).sum / 1e9,
      under.map(_.shuffleBytes).sum / 1e6,
      rowsSet.getOrElse(o.path, under.map(_.written).sum))
  }

  /** Sum over every occurrence of `name` (all zero if it never ran). */
  def total(name: String): SpanStats =
    occs.filter(_.name == name).map(statsOf).foldLeft(SpanStats.Zero)(_ + _)

  /** Per-occurrence totals of `name`, in order. */
  def occurrences(name: String): Seq[SpanStats] = occs.filter(_.name == name).map(statsOf).toSeq

  /** Wall time of `name` summed per detail (e.g. per committed stage). */
  def wallByDetail(name: String): Map[String, Double] =
    occs.filter(_.name == name).groupBy(_.detail).map { case (d, os) => d -> os.map(_.wallS).sum }

  /** Summed wall time of the spans opened outside any other span. */
  def topLevelWall: Double = occs.filter(o => !o.path.contains('/')).map(_.wallS).sum

}

final case class SpanStats(wallS: Double, jobs: Long, taskCpuS: Double, shuffleMb: Double, rowsOut: Long) {
  def +(o: SpanStats): SpanStats = SpanStats(wallS + o.wallS, jobs + o.jobs,
    taskCpuS + o.taskCpuS, shuffleMb + o.shuffleMb, rowsOut + o.rowsOut)
}

object SpanStats {
  val Zero: SpanStats = SpanStats(0, 0, 0, 0, 0)

  /** Field-wise median (one value per field). */
  def median(xs: Seq[SpanStats]): SpanStats =
    if (xs.isEmpty) Zero
    else SpanStats(Stats.median(xs.map(_.wallS)), Stats.median(xs.map(_.jobs.toDouble)).round,
      Stats.median(xs.map(_.taskCpuS)), Stats.median(xs.map(_.shuffleMb)),
      Stats.median(xs.map(_.rowsOut.toDouble)).round)
}

object Tracer {
  val Prop = "perfbench.span"

  /** One closed span: its name, detail, tag path and wall time. */
  private final case class Occ(name: String, detail: String, path: String, wallS: Double)

  private val spanOf: Map[String, String] = Map(
    "commit" -> "tableio.commit", "commitPartitioned" -> "tableio.commit",
    "commitBucketed" -> "tableio.commit", "commitSorted" -> "tableio.commit",
    "load" -> "tableio.load", "loadTagged" -> "tableio.load",
    "loadRange" -> "tableio.load", "loadAt" -> "tableio.load",
    "append" -> "tableio.append",
    "replace" -> "tableio.replace", "replaceTagged" -> "tableio.replace")

  /** `io` with each read and write inside a span whose detail is the stage.
    * A dynamic proxy, so every other TableIO method passes straight through.
    */
  def timedTableIO(io: TableIO, tr: Tracer): TableIO =
    Proxy.newProxyInstance(classOf[TableIO].getClassLoader, Array(classOf[TableIO]),
      new InvocationHandler {
        override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = Option(args).getOrElse(Array.empty[AnyRef])
          def call(): AnyRef =
            try m.invoke(io, a: _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          spanOf.get(m.getName) match {
            case Some(s) => tr.span(s, String.valueOf(a.headOption.orNull))(call())
            case None => call()
          }
        }
      }).asInstanceOf[TableIO]
}
