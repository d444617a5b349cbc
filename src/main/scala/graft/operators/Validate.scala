package graft.operators

import graft.synth.ImageCodec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Per-row input validation — the BASELINE.json input_hint invariant made a
 * first-class stage: every row's payload must decode, its pixels must
 * reproduce the stored perceptual hash, and its declared dims must match.
 * (The PSNR-vs-source check needs the source pixels and lives in the test
 * harness, ImagePipelineSpec; at ingest the source is the payload itself.)
 *
 * Runs as a partition-wise map over the binary column — the compute-dense
 * stage of a real ingest (decode dominates at 100 TB), so it is also part of
 * the bench harness's scaled job.
 */
object Validate {

  val schema: StructType = StructType(Seq(
    StructField("image_id", StringType),
    StructField("decode_ok", BooleanType),
    StructField("phash_match", BooleanType),
    StructField("dims_match", BooleanType),
    StructField("valid", BooleanType)))

  /** @param images (image_id, bytes, w, h, fmt, phash); each row gets the
    *               flags of [[rowCheck]] */
  def perRow(spark: SparkSession, images: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(schema)
    images.select(col("image_id"), col("bytes"), col("w"), col("h"), col("phash"))
      .mapPartitions(_.map { r =>
        Row.fromSeq(r.getString(0) +: rowCheck(r.getAs[Array[Byte]](1),
          r.getInt(2), r.getInt(3), r.getLong(4)))
      })(enc).toDF()
  }

  /** The row check [[perRow]] and [[Ingest.validatedCarry]] share: decode,
    * then phash and dims against the declared ones, as (decode_ok,
    * phash_match, dims_match, valid). An empty payload (light synthetic
    * inputs) counts as skipped: decode_ok=false, other checks vacuously
    * true. */
  private[operators] def rowCheck(bytes: Array[Byte], w: Int, h: Int,
      ph: Long): Seq[Boolean] =
    if (bytes == null || bytes.isEmpty) Seq(false, true, true, false)
    else (try Option(ImageCodec.decode(bytes)) catch { case _: Throwable => None }) match {
      case Some(i) =>
        val phOk = ImageCodec.averageHash(i) == ph
        val dimOk = i.getWidth == w && i.getHeight == h
        Seq(true, phOk, dimOk, phOk && dimOk)
      case None => Seq(false, false, false, false)
    }

  /** Aggregate validation report (one row). */
  def report(validated: DataFrame): DataFrame =
    validated.agg(
      count(lit(1)).as("rows"),
      sum(when(col("decode_ok"), 1L).otherwise(0L)).as("decoded"),
      sum(when(col("valid"), 1L).otherwise(0L)).as("valid"),
      sum(when(!col("phash_match"), 1L).otherwise(0L)).as("phash_mismatches"),
      sum(when(!col("dims_match"), 1L).otherwise(0L)).as("dims_mismatches"))

  /**
   * Embedding-corpus sanity report — the pre-flight gate before the ANN /
   * SemDeDup families consume a vector column: zero vectors make cosine
   * undefined ([[Ann]] guards per-row, but a corpus-level count localizes
   * the upstream bug), non-finite values poison every distance downstream,
   * and mixed dimensionality breaks the fused corpus pass outright. One
   * narrow pass over the vectors (per-row fold for the squared norm, no
   * shuffle) into one aggregation row. Norm extremes catch silent scale
   * bugs (an un-normalized batch mixed into a unit-norm corpus shows up as
   * max_norm >> 1 long before recall drops).
   *
   * @return single row (n_vecs, n_zero, n_nonfinite, n_dims, min_norm,
   *         max_norm, avg_norm) — norms rounded to 6 places
   */
  def embeddingReport(embeddings: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val perRow = embeddings.select(
      aggregate(v, lit(0.0), (acc, x) =>
        acc + x.cast("double") * x.cast("double")).as("ss"),
      size(v).as("dim"),
      exists(v, x => isnan(x) || x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity)).as("bad"))
    // norm stats over FINITE rows only (a single NaN would otherwise poison
    // min/max/avg and hide the report it is supposed to produce)
    val norm = when(col("bad"), lit(null)).otherwise(sqrt(col("ss")))
    perRow.agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("ss") === 0.0 && !col("bad"), 1L).otherwise(0L)).as("n_zero"),
      sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
      countDistinct(col("dim")).as("n_dims"),
      round(min(norm), 6).as("min_norm"),
      round(max(norm), 6).as("max_norm"),
      round(avg(norm), 6).as("avg_norm"))
  }

  /**
   * Embedding-space drift between two corpus slices — the vector-modality
   * companion of [[graft.operators.TextScores.distributionDrift]]: compare
   * snapshot A's embedding cloud with snapshot B's before folding B into
   * ANN / SemDeDup state built on A's geometry. A mean-direction swing
   * (low `mean_cosine`) or a norm-scale shift flags an encoder change or a
   * content shift that silently degrades every cosine threshold downstream.
   *
   * Both per-dimension means are ROUNDED to 6 before the cosine so the
   * statistic is a pure function of the two rounded mean vectors —
   * re-derivable bit-for-bit by an independent engine (the oracle), the
   * same determinism device as the mixture-rate tables.
   *
   * Scale shape: one posexplode + dimension-keyed aggregation per side
   * (shuffle width = dim rows), a dim-sized equi-join for the dot product,
   * and one narrow per-row pass for the norm averages; the 1-row frames
   * meet by broadcast. Non-finite rows are excluded from norms (the
   * [[embeddingReport]] rule) and, being unusable, from means as well.
   *
   * @return one row: (dim, n_a, n_b, mean_norm_a, mean_norm_b,
   *         mean_cosine) — doubles rounded to 6; mean_cosine is 0.0 when
   *         either mean vector is all-zero
   */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    def finite(df: DataFrame) = df.where(!exists(v, x =>
      isnan(x) || x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity)))
    def meanVec(df: DataFrame) = finite(df)
      .select(posexplode(v).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg(col("x").cast("double")), 6).as("m"))
    def normAvg(df: DataFrame, nOut: String, out: String) = finite(df)
      .select(sqrt(aggregate(v, lit(0.0), (acc, x) =>
        acc + x.cast("double") * x.cast("double"))).as("nrm"), size(v).as("d"))
      .agg(count(lit(1)).as(nOut), round(avg(col("nrm")), 6).as(out),
        max(col("d")).as(s"__dim_$out"))
    val ma = meanVec(a).select(col("pos"), col("m").as("ma"))
    val mb = meanVec(b).select(col("pos"), col("m").as("mb"))
    val cosParts = ma.join(mb, Seq("pos"), "full_outer")
      .select(coalesce(col("ma"), lit(0.0)).as("ma"),
        coalesce(col("mb"), lit(0.0)).as("mb"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("na2"),
        sum(col("mb") * col("mb")).as("nb2"))
      .select(when(col("na2") === 0.0 || col("nb2") === 0.0, lit(0.0))
        .otherwise(round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))),
          6)).as("mean_cosine"))
    val na = normAvg(a, "n_a", "mean_norm_a")
    val nb = normAvg(b, "n_b", "mean_norm_b")
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(cosParts))
      .select(greatest(col("__dim_mean_norm_a"), col("__dim_mean_norm_b"))
          .cast("long").as("dim"),
        col("n_a"), col("n_b"), col("mean_norm_a"), col("mean_norm_b"),
        col("mean_cosine"))
  }

  /**
   * ANALYZE-style per-column table profile — the pre-flight a pipeline
   * runs on an unfamiliar snapshot before pointing the dedup DAG at it:
   * one row per requested column with row count, null count, distinct
   * cardinality, and min/max (rendered as strings so heterogeneous column
   * types share one output schema; min/max are computed on the NATIVE type
   * first, so numeric columns order numerically).
   *
   * Scale: a single aggregation pass. Exact `count(DISTINCT)` over k
   * columns expands the input k-ways before the shuffle (Spark's standard
   * multi-distinct Expand plan) — the right default here because the
   * profile doubles as an oracle-checkable correctness surface; at
   * 10¹²-row scale pass `approx = true` to swap in HyperLogLog
   * `approx_count_distinct` (±2.3% relative error, no Expand, not
   * oracle-comparable across engines).
   *
   * @return one row per column: (col_name, n_rows, n_nulls, n_distinct,
   *         min_val, max_val), in the requested column order
   */
  def tableProfile(df: DataFrame, cols: Seq[String],
      approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "tableProfile: at least one column")
    // the stack() unpivot goes through selectExpr: plain identifiers only
    // (no quoting games with injected names)
    require(cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"tableProfile: column names must be plain identifiers, got $cols")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__${c}_nulls"),
        (if (approx) approx_count_distinct(col(c))
         else countDistinct(col(c))).as(s"__${c}_distinct"),
        min(col(c)).cast("string").as(s"__${c}_min"),
        max(col(c)).cast("string").as(s"__${c}_max"))
    }
    val one = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    // unpivot the single stats row into one row per column: stack() keeps
    // this a narrow projection of the 1-row aggregate (no joins, no extra
    // shuffle beyond the aggregation's own)
    val stackArgs = cols.map { c =>
      s"'$c', __rows, __${c}_nulls, __${c}_distinct, __${c}_min, __${c}_max"
    }.mkString(", ")
    one.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
      "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)")
  }
}
