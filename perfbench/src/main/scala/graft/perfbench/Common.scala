package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Output quality of one job against the generator's planted labels. */
final case class Quality(recall: Double, precision: Double, problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

object Quality {
  val MinRecall = 0.99 // BASELINE L2

  private def pairs(n: Long): Long = n * (n - 1) / 2

  /** `assigned` is the job's output as (id, group) rows, `golden` the planted
    * group of every input id, `positives`/`negatives` the planted labelled
    * pairs. Recall is the share of planted dup pairs placed in one group;
    * precision comes from the (assigned group, golden group) contingency.
    * A negative pair placed in one group is a decoy merge.
    */
  def of(assigned: Seq[(String, String)], golden: Map[String, String],
      positives: Seq[(String, String)], negatives: Seq[(String, String)]): Quality = {
    val problems = Seq.newBuilder[String]
    val groupOf = assigned.toMap
    if (groupOf.size != assigned.size)
      problems += s"${assigned.size - groupOf.size} output rows repeat an id"
    val missing = golden.keySet.count(id => !groupOf.contains(id))
    val extra = groupOf.keySet.count(id => !golden.contains(id))
    if (missing > 0) problems += s"$missing input rows have no assignment"
    if (extra > 0) problems += s"$extra assigned ids are not input rows"
    def together(p: (String, String)) = groupOf.get(p._1).exists(g => groupOf.get(p._2).contains(g))
    val recall = if (positives.isEmpty) 1.0 else positives.count(together).toDouble / positives.size
    val tp = groupOf.toSeq.groupBy { case (id, g) => (g, golden.getOrElse(id, "")) }
      .values.map(v => pairs(v.size.toLong)).sum
    val predicted = groupOf.values.groupBy(identity).values.map(v => pairs(v.size.toLong)).sum
    val goldPairs = golden.values.groupBy(identity).values.map(v => pairs(v.size.toLong)).sum
    if (goldPairs != positives.size)
      problems += s"planted labels (${positives.size}) disagree with golden groups ($goldPairs pairs)"
    val precision = if (predicted == 0) 1.0 else tp.toDouble / predicted
    val decoys = negatives.count(together)
    if (recall < MinRecall) problems += f"pair recall $recall%.4f < $MinRecall"
    if (decoys > 0) problems += s"$decoys decoy pairs merged"
    Quality(recall, precision, problems.result())
  }
}

object Io {
  def sha256(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Hash of an output, independent of row order. */
  def outputHash(rows: Seq[(String, String)]): String =
    sha256(rows.map { case (a, b) => s"$a\t$b" }.sorted)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  /** `key`'s directory under `root`, written by `write` on first use. The
    * key must name everything the content depends on: a changed generator
    * must never be served a directory written by the old one.
    */
  def cached(root: String, key: String)(write: String => Unit): String = {
    val dir = Paths.get(root, key)
    if (!Files.exists(dir.resolve("_DONE"))) {
      val tmp = Paths.get(root, key + ".tmp")
      deleteTree(tmp)
      deleteTree(dir)
      Files.createDirectories(tmp)
      write(tmp.toString)
      Files.move(tmp, dir)
      Files.createFile(dir.resolve("_DONE"))
    }
    dir.toString
  }

  /** Reset this JVM's peak resident set (VmHWM) to its current one. */
  def resetPeakRss(): Unit = Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  /** Peak resident set of this JVM (VmHWM) since the last reset, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
