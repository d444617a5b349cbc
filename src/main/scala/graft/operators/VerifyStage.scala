package graft.operators

import graft.config.DedupConfig
import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Exact verification of LSH candidate pairs — the Spark replacement for the
 * reference's scoring stage (reference: ea/sim/main/methods/scoring_model.py:9-57):
 * exact Jaccard on caption shingles (replaces FaST/Lerch scores), Hamming on
 * the phash-derived SimHash (replaces the S3M neural scorer), and an optional
 * longest-common-substring pass for exact long matches.
 *
 * A pair is a verified duplicate when ANY detector clears its threshold
 * (the three signature methods of the north rule are independent evidence).
 */
object VerifyStage {

  /**
   * @param pairs (`a`, `b`) candidate pairs
   * @param left  the features of every `a`: (`id`, `shingles` array<long>,
   *              `simhash` long, `norm_text` string, plus `simhash_m` under
   *              mirrorDups) — one row per `id`; an optional string
   *              `image_id` rides through as `image_a`
   * @param right the same for every `b`; its `image_id` rides through as
   *              `image_b`. A caller with one feature frame passes it twice.
   * @return pairs with `jaccard`, `hamming`, `lcs`, `is_dup`, and
   *         `image_a`/`image_b` when the sides carry `image_id`
   *
   * Each side is read once, so a bipartite caller joins its new rows on `a`
   * and its corpus rows on `b`, and a caller whose join key is an internal
   * node id gets the image ids back without another join.
   */
  def verify(pairs: DataFrame, left: DataFrame, right: DataFrame,
      cfg: DedupConfig): DataFrame = {
    // mirrorDups: the image distance is the MIN of the raw and the
    // orbit-canonical simhash Hamming — the raw leg keeps ordinary
    // near-dups exactly as without the flag (the canonical argmin can flip
    // under small phash noise), the canonical leg catches mirrored copies
    val mirrorCols =
      if (cfg.mirrorDups) Seq("simhash_m") else Seq.empty[String]
    def ids(f: DataFrame, tag: String) =
      if (f.columns.contains("image_id")) Seq(s"image_$tag") else Nil
    def side(f: DataFrame, tag: String) = f.select(
      (Seq(col("id").as(tag), col("shingles").as(s"sh_$tag"),
        col("simhash").as(s"sim_$tag"), col("norm_text").as(s"txt_$tag")) ++
        mirrorCols.map(c => col(c).as(s"${c}_$tag")) ++
        ids(f, tag).map(col("image_id").as(_))): _*)

    val joined = pairs.join(side(left, "a"), "a").join(side(right, "b"), "b")
      .withColumn("jaccard", jaccard_sim(col("sh_a"), col("sh_b")))
      .withColumn("hamming",
        (if (cfg.mirrorDups)
          least(hamming64(col("sim_a"), col("sim_b")),
            hamming64(col("simhash_m_a"), col("simhash_m_b")))
        else hamming64(col("sim_a"), col("sim_b"))).cast("int"))

    // LCS is the expensive detector: compute it only when enabled and only on
    // pairs the cheap detectors did not already settle.
    val withLcs =
      if (cfg.lcsMin > 0)
        joined.withColumn("lcs",
          when(col("jaccard") >= cfg.jaccardMin || col("hamming") <= cfg.hammingMax,
            lit(0))
            .otherwise(lcs_length(col("txt_a"), col("txt_b"), cfg.lcsCap)))
      else joined.withColumn("lcs", lit(0))

    // the caption leg needs text on both sides: two empty shingle sets
    // score Jaccard 1.0 but share nothing
    withLcs
      .withColumn("is_dup",
        (size(col("sh_a")) > 0 && size(col("sh_b")) > 0 &&
          col("jaccard") >= cfg.jaccardMin) ||
        col("hamming") <= cfg.hammingMax ||
        (lit(cfg.lcsMin) > 0 && col("lcs") >= cfg.lcsMin))
      .select((Seq("a", "b") ++ ids(left, "a") ++ ids(right, "b") ++
        Seq("jaccard", "hamming", "lcs", "is_dup")).map(col): _*)
  }
}
