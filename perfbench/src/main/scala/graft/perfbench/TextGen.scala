package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded documents + embeddings corpus shaped like the SF 0.1 text
  * tables (docs of about 300 characters, 64-float embeddings for about
  * 40% of docs), with labelled planted duplicates: exact copies, near
  * copies (two words replaced, 5-gram Jaccard about 0.85) and semantic
  * copies (fresh text whose embedding lies at cosine about 0.9 to its
  * group's). Words are random over the full alphabet, so unrelated docs
  * share almost no 5-grams.
  */
object TextGen {
  val Dim = 64

  final case class Corpus(docs: IndexedSeq[(Long, String)], emb: IndexedSeq[(Long, Array[Float])],
      golden: Map[Long, Int]) {
    def fingerprint: String = Io.sha256(
      docs.map { case (id, t) => s"$id:$t" } ++
        emb.map { case (id, v) => s"$id:" + v.map(java.lang.Float.floatToIntBits).mkString(",") })
  }

  private val words: Array[String] = Array.tabulate(20000) { i =>
    val rng = new SplittableRandom(0x7e47L + i)
    val sb = new StringBuilder
    (0 until 3 + rng.nextInt(6)).foreach(_ => sb.append(('a' + rng.nextInt(26)).toChar))
    var v = i // base-26 suffix: every word distinct
    do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
    sb.toString
  }

  private def text(rng: SplittableRandom): Array[String] = {
    val target = 240 + rng.nextInt(120)
    val out = ArrayBuffer.empty[String]
    var len = 0
    while (len < target) { val w = words(rng.nextInt(words.length)); out += w; len += w.length + 1 }
    out.toArray
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `c` moved by `eps` along a random direction, renormalized:
    * cosine to `c` is about 1 / sqrt(1 + eps^2).
    */
  private def near(c: Array[Double], eps: Double, rng: SplittableRandom): Array[Float] = {
    val g = Array.fill(Dim)(gauss(rng) / math.sqrt(Dim))
    unit(c.indices.map(i => c(i) + eps * g(i)).toArray).map(_.toFloat)
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Whole groups until there are at least `docs` documents. */
  def generate(docs: Int, seed: Long): Corpus = {
    val rng = new SplittableRandom(seed)
    // (group, text, embedding) before ids are assigned
    val rows = ArrayBuffer.empty[(Int, String, Option[Array[Float]])]
    var g = 0
    while (rows.size < docs) {
      val base = text(rng)
      val semantic = rng.nextDouble() < 0.10
      val withEmb = semantic || rng.nextDouble() < 0.35
      val center = unit(Array.fill(Dim)(gauss(rng)))
      def emb(eps: Double) = if (withEmb) Some(near(center, eps, rng)) else None
      rows += ((g, base.mkString(" "), emb(0.15)))
      if (rng.nextDouble() < 0.12)
        (0 until 1 + rng.nextInt(2)).foreach(_ => rows += ((g, base.mkString(" "), emb(0.15))))
      if (rng.nextDouble() < 0.15)
        (0 until 1 + rng.nextInt(2)).foreach { _ =>
          val t = base.clone()
          (0 until 2).foreach(_ => t(rng.nextInt(t.length)) = words(rng.nextInt(words.length)))
          rows += ((g, t.mkString(" "), emb(0.15)))
        }
      if (semantic) rows += ((g, text(rng).mkString(" "), emb(0.45)))
      g += 1
    }
    // shuffled ids: the keeper of a group is not always its base doc
    val ids = (0 until rows.size).toArray
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val byId = rows.indices.map(i => (ids(i).toLong, rows(i))).sortBy(_._1)
    Corpus(
      byId.map { case (id, (_, t, _)) => (id, t) },
      byId.collect { case (id, (_, _, Some(v))) => (id, v) },
      byId.map { case (id, (g, _, _)) => id -> g }.toMap)
  }
}
