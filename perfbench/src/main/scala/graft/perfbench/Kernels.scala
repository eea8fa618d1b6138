package graft.perfbench

import graft.{DedupConfig, Hashing, Imaging, SuffixPass}
import graft.functions.SimHashExpr

/** Single-thread timings of the engine's hot row kernels over a
  * workload's own rows: two warm-up passes, then the median of five.
  * `freshThread` runs each pass on a new thread, so per-thread caches
  * start cold in every pass.
  */
object Kernels {
  @volatile private var sink = 0L

  private def nsPer[A](items: IndexedSeq[A], freshThread: Boolean = false)(f: A => Long): Double =
    if (items.isEmpty) 0.0
    else {
      def timed(): Double = {
        val t0 = System.nanoTime()
        var acc = 0L
        items.foreach(x => acc += f(x))
        sink += acc
        (System.nanoTime() - t0).toDouble
      }
      def pass(): Double =
        if (!freshThread) timed()
        else {
          var ns = 0.0
          val t = new Thread(() => ns = timed())
          t.start()
          t.join()
          ns
        }
      pass(); pass()
      Stats.median(Seq.fill(5)(pass())) / items.size
    }

  /** Shingle, MinHash, OPH, SimHash and suffix-array + LCP kernels over
    * the texts the engine feeds them (`phashes` folds into SimHash).
    */
  def text(texts: IndexedSeq[String], phashes: IndexedSeq[Long], cfg: DedupConfig): Map[String, Double] = {
    val sh = texts.map(Hashing.shingles(_, cfg.shingleK))
    val codes = texts.filter(_.nonEmpty).map(_.toCharArray.map(_.toInt + 2))
    Map(
      "kernel.shingles.ns_per_row" -> nsPer(texts)(Hashing.shingles(_, cfg.shingleK).length.toLong),
      "kernel.minhash.ns_per_row" -> nsPer(sh)(Hashing.minHash(_, cfg.numPerms)(0).toLong),
      "kernel.oph.ns_per_row" -> nsPer(sh)(Hashing.ophMinHash(_, cfg.numPerms)(0)),
      "kernel.simhash.ns_per_row" -> nsPer(texts.indices)(i =>
        Hashing.simHash(SimHashExpr.tokenHashes(texts(i)), phashes(i), 2)),
      "kernel.suffix_array.ns_per_row" -> nsPer(codes) { c =>
        SuffixPass.lcpArray(c, SuffixPass.suffixArray(c)).length.toLong
      })
  }

  /** PSNR verify per image pair. The engine's decode cache is per thread,
    * so each pass starts it cold and decodes every image once, as one
    * verify task over these pairs would.
    */
  def psnr(pairs: IndexedSeq[(Array[Byte], Array[Byte])]): Double =
    nsPer(pairs, freshThread = true)(p => Imaging.psnr(p._1, p._2).toLong)
}
