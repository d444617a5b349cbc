package graft.operators

import java.awt.image.BufferedImage

import graft.config.DedupConfig
import graft.functions._
import graft.synth.ImageCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference implementations the operator specs compare against. */
object Oracles {

  /** Brute-force directional containment — the exact O(n^2) oracle for
    * [[containmentPairs]] (small inputs only), same DISTINCT shingle sets
    * (textFeatures' raw shingle array keeps repeats; containment is a set
    * measure), same integer-form boundary gate. */
  def bruteForceContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, cfg: DedupConfig, containMin: Double): DataFrame = {
    val EPS = 1e-9
    val feat = docs.select(col(idCol).as("id"),
        array_distinct(
          shingle_hashes(tokens(col(textCol)), cfg.shingleK, cfg.seed)).as("sh"))
      .where(size(col("sh")) > 0)
    val fa = feat.select(col("id").as("a"), col("sh").as("sh_a"))
    val fb = feat.select(col("id").as("b"), col("sh").as("sh_b"))
    fa.crossJoin(fb).where(col("a") =!= col("b"))
      .withColumn("overlap", size(array_intersect(col("sh_a"), col("sh_b"))))
      .where(col("overlap") >= ceil(size(col("sh_a")) * containMin - EPS))
      .withColumn("containment",
        round(col("overlap").cast("double") / size(col("sh_a")), 4))
      .select("a", "b", "containment")
  }

  /**
   * FaST-style alignment score (reference: ea/sim/main/methods/classic/fast.py:49-133):
   * df-damped positional weights w(pos) = (pos+1)^-alpha * exp(-beta * df/N);
   * matched tokens contribute (w1 + w2) * exp(-gamma * |pos1 - pos2|);
   * normalized by total weight mass of both docs. Pair-level kernel over
   * token arrays; the df map rides in as a broadcast plan via the idf join
   * being pre-applied by the caller (here: unweighted df=0 default).
   */
  def fastAlignScore(a: Array[String], b: Array[String],
      df: collection.Map[String, Long] = Map.empty, n: Long = 1L,
      alpha: Double = 0.0, beta: Double = 0.0, gamma: Double = 1.0): Double = {
    def weights(t: Array[String]): Array[Double] =
      t.zipWithIndex.map { case (tok, pos) =>
        math.pow(pos + 1.0, -alpha) *
          math.exp(-beta * df.getOrElse(tok, 0L).toDouble / n)
      }
    val wa = weights(a); val wb = weights(b)
    // first-occurrence position per token (reference aligns sorted id lists)
    def firstPos(t: Array[String]): Map[String, Int] =
      t.zipWithIndex.reverse.toMap
    val pa = firstPos(a); val pb = firstPos(b)
    var score = 0.0
    pa.foreach { case (tok, i) =>
      pb.get(tok).foreach { j =>
        score += (wa(i) + wb(j)) * math.exp(-gamma * math.abs(i - j))
      }
    }
    val norm = wa.sum + wb.sum
    if (norm == 0.0) 0.0 else score / norm
  }

  /** PSNR in dB between two same-size images (Double.PositiveInfinity if equal). */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight,
      "psnr requires equal dimensions")
    var mse = 0.0
    val n = a.getWidth * a.getHeight * 3
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var shift = 0
        while (shift <= 16) {
          val d = ((pa >> shift) & 0xFF) - ((pb >> shift) & 0xFF)
          mse += d.toDouble * d
          shift += 8
        }
        x += 1
      }
      y += 1
    }
    mse /= n
    if (mse == 0.0) Double.PositiveInfinity else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  /** PSNR-based per-row fidelity check of a lossy payload vs reference pixels
    * (BASELINE.json input_hint: PSNR >= 40 dB for lossy fmt). Driver-side
    * helper for validation sampling, not a bulk operator. */
  def psnrAgainst(reference: java.awt.image.BufferedImage, bytes: Array[Byte]): Double = {
    val img = ImageCodec.decode(bytes)
    val ref =
      if (img.getWidth == reference.getWidth && img.getHeight == reference.getHeight) reference
      else ImageCodec.resize(reference, img.getWidth, img.getHeight)
    psnr(ImageCodec.toRgb(ref), ImageCodec.toRgb(img))
  }
}
