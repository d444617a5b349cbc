package graft.operators

import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/**
 * Fused ingest: per-row payload validation (decode + phash recompute + dims,
 * the BASELINE.json input_hint invariant) AND signature feature extraction in
 * ONE pass over the payload table. At 100 TB the payload bytes dominate every
 * scan; reading them once — instead of once for validation and again for the
 * dedup features — halves the job's I/O and decode cost. The output is the
 * compact metadata+features frame (no payload column), repartitioned to a
 * data-sized partition count and persisted, so every downstream dedup stage
 * reads kilobyte-scale cached partitions instead of re-splitting the
 * payload files.
 *
 * Reference analogue: the reference also validates and featurizes in its
 * single ingest path (parse + tolerant field checks + tokenization:
 * parsers/parser_v1.py:38-60 then seq_coder partial_fit) — it never re-reads
 * a report for a second pass.
 */
object Ingest {

  val carrySchema: StructType = StructType(Seq(
    StructField("image_id", StringType),
    StructField("decode_ok", BooleanType),
    StructField("phash_match", BooleanType),
    StructField("dims_match", BooleanType),
    StructField("valid", BooleanType),
    StructField("caption", StringType),
    StructField("phash", LongType)))

  /** Decode-validate every row ([[Validate.rowCheck]]), carrying the
    * metadata columns the dedup features need. */
  def validatedCarry(spark: SparkSession, images: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(carrySchema)
    images
      .select(col("image_id"), col("bytes"), col("w"), col("h"),
        col("caption"), col("phash"))
      .mapPartitions(_.map { r =>
        val ph = r.getLong(5)
        val flags = Validate.rowCheck(r.getAs[Array[Byte]](1), r.getInt(2),
          r.getInt(3), ph)
        Row.fromSeq((r.getString(0) +: flags) :+ r.getString(4) :+ ph)
      })(enc).toDF()
  }

  /**
   * One payload pass -> persisted (MEMORY_AND_DISK) compact features frame:
   * validation columns + the DedupPipeline feature columns. Feed to
   * [[DedupPipeline.runFromFeatures]]. Several downstream stages read the
   * frame; the CALLER owns the cache entry and `unpersist()`s it when the
   * run completes (as [[graft.Main]] does).
   *
   * @param partitions repartition the (small) carried rows before feature
   *                   computation — sized to the FEATURE data, decoupled from
   *                   the payload scan's file splits; 0 keeps scan partitioning
   */
  def run(spark: SparkSession, images: DataFrame, cfg: DedupConfig,
      partitions: Int = 0): DataFrame = {
    val carried = validatedCarry(spark, images)
    val sized = if (partitions > 0) carried.repartition(partitions) else carried
    DedupPipeline.features(sized, cfg,
        carry = Seq("decode_ok", "phash_match", "dims_match", "valid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }
}
