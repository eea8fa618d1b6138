package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.Fixtures
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Labels of one fixture corpus, keyed by image_id; `planted` dup pairs of
  * which `belowKeepRule` fail the keep rule (see [[ImgInputs.labels]]).
  */
final case class Labels(golden: Map[String, String], positives: Seq[(String, String)],
    negatives: Seq[(String, String)], planted: Int, belowKeepRule: Int) {
  /** The split may only trim the planted labels: past [[KeepRule.MaxSplitShare]]
    * the generator or the reference has changed, and the recall check
    * would test a shrunken label set.
    */
  def problems: Seq[String] =
    if (belowKeepRule <= KeepRule.MaxSplitShare * planted) Nil
    else Seq(s"$belowKeepRule of $planted planted dup pairs fail the keep rule " +
      s"(more than ${(KeepRule.MaxSplitShare * 100).round}%)")
}

/** The pixel keep rule that defines an image duplicate (BASELINE.json L15),
  * written here with no engine code so the labels cannot move with the
  * engine under test: decode with javax.imageio, mean squared error over
  * the RGB channels, PSNR against 255, a duplicate at 40 dB or more.
  * Images of different sizes, or that do not decode, are not duplicates.
  */
object KeepRule {
  val ThresholdDb = 40.0

  /** At most this share of planted dup pairs may be left out by the split.
    * Over seeds 1-30 at img-batch's 1,500 rows 1-15% of them fail the rule
    * directly (median 5%); over seeds 1-40 at the stream's 200 rows 0-18%,
    * since one large group's lossy variant weighs more in a small corpus.
    */
  val MaxSplitShare = 0.25

  final case class Pixels(rgb: Array[Int], w: Int, h: Int)

  def decode(bytes: Array[Byte]): Option[Pixels] =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      Pixels(img.getRGB(0, 0, w, h, null, 0, w), w, h)
    }

  def psnrDb(a: Pixels, b: Pixels): Double =
    if (a.w != b.w || a.h != b.h) Double.NegativeInfinity
    else {
      var se = 0L
      var i = 0
      while (i < a.rgb.length) {
        var shift = 0
        while (shift <= 16) {
          val d = ((a.rgb(i) >> shift) & 0xff) - ((b.rgb(i) >> shift) & 0xff)
          se += d * d
          shift += 8
        }
        i += 1
      }
      if (se == 0) Double.PositiveInfinity
      else 10 * math.log10(255.0 * 255.0 * a.rgb.length * 3 / se)
    }

  def keeps(a: Option[Pixels], b: Option[Pixels]): Boolean =
    a.zip(b).exists { case (x, y) => psnrDb(x, y) >= ThresholdDb }
}

/** Inputs of the image workloads: `Fixtures.corpus` and its labels. */
object ImgInputs {

  /** Planted clusters needed for at least `rows` images at `seed`. Cluster
    * sizes are power-law, so a fixed cluster count gives a row count that
    * varies by seed; the jobs' wall time is mostly fixed cost, so rows/s
    * stays comparable across seeds only at a fixed row count.
    */
  def clustersFor(rows: Int, seed: Long): Int = {
    var (lo, hi) = (1, rows)
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (Fixtures.plan(mid, seed)._1.size >= rows) hi = mid else lo = mid + 1
    }
    lo
  }

  /** `Fixtures.pairLabels` and `Fixtures.goldenClusters` for the corpus at
    * `path`, each planted group split into the connected components of the
    * [[KeepRule]]. The generator plants JPEG variants of some base images
    * at 37-40 dB; such a pair is not a duplicate by the rule, so no correct
    * engine output can recall it, and at 1,000 rows it pulls the
    * planted-label recall below 0.99 on most seeds. The split keeps the
    * recall check a test of the engine, not of the generator; the planted
    * count and the share left out are reported, and a share above
    * [[KeepRule.MaxSplitShare]] fails the run.
    */
  def labels(spark: SparkSession, path: String, nClusters: Int, seed: Long): Labels = {
    val planted = Fixtures.goldenClusters(spark, nClusters, seed).collect()
      .map(r => r.image_id -> r.cluster_id).toMap
    val (pos, neg) = Fixtures.pairLabels(spark, nClusters, seed).collect().partition(_.label)
    val pixels = spark.read.parquet(path).select(col("image_id"), col("bytes")).collect()
      .map(r => r.getString(0) -> KeepRule.decode(r.getAs[Array[Byte]](1))).toMap
    val parent = scala.collection.mutable.Map(planted.keys.map(k => k -> k).toSeq: _*)
    def find(x: String): String = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pos.foreach { l =>
      if (KeepRule.keeps(pixels(l.a), pixels(l.b))) parent(find(l.a)) = find(l.b)
    }
    val kept = pos.filter(l => find(l.a) == find(l.b)).map(l => (l.a, l.b)).toSeq
    Labels(planted.map { case (id, _) => id -> find(id) }, kept, neg.map(l => (l.a, l.b)).toSeq,
      pos.length, pos.length - kept.size)
  }

  /** Fingerprint of the generator's output for (nClusters, seed): the
    * planned specs plus the rendered bytes of the first and last image.
    */
  private def fingerprint(nClusters: Int, seed: Long): String = {
    val (specs, _) = Fixtures.plan(nClusters, seed)
    Io.sha256(specs.map(_.toString) ++
      Seq(specs.head, specs.last).map(s => Io.sha256(Seq(
        java.util.Base64.getEncoder.encodeToString(Fixtures.render(s).bytes)))))
  }

  /** The corpus as one parquet directory (the DedupJob input). */
  def batch(spark: SparkSession, root: String, workload: String,
      nClusters: Int, seed: Long): String = {
    val key = s"$workload-s$seed-n$nClusters-g${fingerprint(nClusters, seed).take(16)}"
    Io.cached(root, key) { dir =>
      Fixtures.corpus(spark, nClusters, seed).write.parquet(s"$dir/corpus")
    } + "/corpus"
  }

  /** The corpus as `files` bare parquet files in one directory (the
    * StreamJob input). Rows go to files by a hash of image_id, so planted
    * duplicates span files and meet through the committed history. Files
    * carry increasing modification times: the stream reads them in order.
    */
  def split(spark: SparkSession, root: String, workload: String,
      nClusters: Int, seed: Long, files: Int): String = {
    val key = s"$workload-s$seed-n$nClusters-f$files-g${fingerprint(nClusters, seed).take(16)}"
    Io.cached(root, key) { dir =>
      Fixtures.corpus(spark, nClusters, seed).toDF()
        .withColumn("f", pmod(xxhash64(col("image_id")), lit(files)))
        .repartition(col("f"))
        .write.partitionBy("f").parquet(s"$dir/split")
      Files.createDirectories(Paths.get(dir, "in"))
      val t0 = System.currentTimeMillis() - 1000L * files
      for (i <- 0 until files) {
        val parts = Option(Paths.get(dir, "split", s"f=$i").toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
        require(parts.length == 1, s"file $i of the stream split has ${parts.length} parts")
        val to = Paths.get(dir, "in", f"batch-$i%03d.parquet")
        Files.move(parts.head.toPath, to, StandardCopyOption.REPLACE_EXISTING)
        to.toFile.setLastModified(t0 + 1000L * i)
      }
      Io.deleteTree(Paths.get(dir, "split"))
    } + "/in"
  }

  /** Normalized captions, pHashes and image bytes of a corpus, for the
    * single-thread kernel timings.
    */
  def rowsForKernels(spark: SparkSession, path: String)
      : (IndexedSeq[String], IndexedSeq[Long], Map[String, Array[Byte]]) = {
    val rows = spark.read.parquet(path)
      .select(col("image_id"), graft.Text.normalizeCol(col("caption")), col("phash"), col("bytes"))
      .collect()
    (rows.map(_.getString(1)).toIndexedSeq, rows.map(_.getLong(2)).toIndexedSeq,
      rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](3)).toMap)
  }

  /** Kernel timings over a corpus's rows; `pairs` are verified (a, b)
    * image_id pairs for the PSNR kernel.
    */
  def kernels(spark: SparkSession, path: String, pairs: Seq[(String, String)],
      cfg: graft.DedupConfig): Map[String, Double] = {
    val (norms, phashes, bytes) = rowsForKernels(spark, path)
    Kernels.text(norms, phashes, cfg) +
      ("kernel.psnr.ns_per_pair" -> Kernels.psnr(pairs.map(p => (bytes(p._1), bytes(p._2))).toIndexedSeq))
  }
}
