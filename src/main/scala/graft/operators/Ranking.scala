package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Candidate ranking — the set-based form of the reference RankingModel
 * (reference: ea/sim/main/methods/ranking_model.py:15-101): per-anchor
 * candidate scores are attributed to clusters, reduced per cluster
 * (max or avg — issue_scorer/max.py:7-16, avg.py:7-14), ranked, truncated.
 */
object Ranking {

  /**
   * @param pairScores  (query_id, item_id, score) — scored candidates per anchor
   * @param assignments (item_id -> cluster_id); broadcast when small
   * @param k           output truncation (reference top-10, eval_fast.py:95-96)
   * @param useMax      max (default) or avg per-cluster reduction
   * @return (query_id, cluster_id, cluster_score, rank) with rank <= k
   */
  def rankClusters(pairScores: DataFrame, assignments: DataFrame, k: Int,
      useMax: Boolean = true): DataFrame = {
    val reduceFn = if (useMax) max(col("score")) else avg(col("score"))
    pairScores
      .join(assignments, "item_id")
      .groupBy("query_id", "cluster_id")
      .agg(reduceFn.as("cluster_score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cluster_score").desc, col("cluster_id"))))
      .where(col("rank") <= k)
  }

  /** Per-query top-k items by `scoreCol` descending, ties on item_id
    * (reference retrieval top-n = 50,
    * ea/sim/main/methods/retrieval_model.py:15-21). */
  def topKItems(pairScores: DataFrame, k: Int, scoreCol: String = "score"): DataFrame =
    pairScores
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col(scoreCol).desc, col("item_id"))))
      .where(col("rank") <= k)

  /**
   * Global percentile ranks WITHOUT a global window — the calibration step
   * before fusing heterogeneous quality scores (perplexity, char entropy,
   * repetition fractions live on incomparable scales; their percentile
   * transforms are directly mixable). SQL `percent_rank` semantics:
   * pct = #{rows with strictly smaller score} / (n − 1), ties share a
   * value, single-row/degenerate input → 0.
   *
   * Scale: the q62 device — distinct scores collapse first (the widest
   * shuffle is bounded by the value domain), cumulative counts ride
   * [[OrderedScan.cumSums]]' value-bucketed prefix sums, and the tiny
   * (score → pct) table equi-joins back on the score value. No
   * unpartitioned window anywhere. NULL scores pass through with NULL pct.
   *
   * @return `df` plus `outCol` (double, rounded to 6)
   */
  def percentileRanks(df: DataFrame, scoreCol: String,
      outCol: String = "pct"): DataFrame = {
    // single-signal path: the direct mapping join (no signal stacking, no
    // local checkpoint — those pay off only when SEVERAL signals would
    // each re-evaluate an expensive base projection; for one signal the
    // checkpoint materialization barrier and the unknown-size RDD join
    // cost more than they save — measured q119 2.2 s via the stacked path
    // vs 0.7 s direct)
    val counts = df.where(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).cast("double").as("__s"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val cum = OrderedScan.cumSums(counts, "__s", Seq("__c" -> "__cum"))
    val total = counts.agg(sum(col("__c")).as("__n"))
    val pct = cum.crossJoin(broadcast(total)) // 1-row broadcast
      .select(col("__s"),
        when(col("__n") <= 1.0, lit(0.0))
          .otherwise(round((col("__cum") - col("__c")) / (col("__n") - 1.0),
            6)).as(outCol))
    df.join(pct, df(scoreCol).cast("double") === pct("__s"), "left")
      .drop("__s")
  }

  /**
   * Calibrate SEVERAL incomparable signals of ONE frame in a single
   * composition — every (scoreCol -> outCol) mapping is computed from `df`
   * ITSELF, then all of them join back onto the accumulating frame.
   *
   * Distributed shape: ALL signals' (signal, value) pairs are STACKED into
   * one frame by a single pass over `df` (one explode — the expensive base
   * projection is evaluated once for every signal together, where the
   * previous per-signal [[OrderedScan.cumSums]] calls each paid their own
   * quantile sketch and count exchange over the base: measured on q125 the
   * initial plan carried 80 parquet scans, one full regex/entropy
   * projection per branch). Per-signal cumulative counts ride ONE
   * [[OrderedScan.cumSumsBy]] call partitioned by the signal id; the
   * resulting (signal, value -> pct) table — bounded by the distinct-score
   * cardinality, never data-sized — is locally checkpointed, which cuts
   * the lineage so the per-signal join build sides read the tiny
   * materialized table instead of re-deriving the whole stack (and keeps
   * Catalyst from pushing the per-signal filter below the shared exchange,
   * which would re-evaluate the base once per signal again). The
   * checkpoint is an in-run artifact of THIS DataFrame's lineage — a fresh
   * call rebuilds it from the parquet inputs, nothing persists across
   * invocations. Output is column-for-column identical to chained
   * [[percentileRanks]] calls (each join matches one mapping row per
   * distinct score, so row multiplicity and every other column are
   * preserved).
   */
  def percentileRanksMulti(df: DataFrame,
      specs: Seq[(String, String)]): DataFrame = {
    require(specs.nonEmpty, "percentileRanksMulti: at least one signal")
    if (specs.size == 1)
      return percentileRanks(df, specs.head._1, specs.head._2)
    val stacked = df.select(explode(array(specs.zipWithIndex.map {
        case ((scoreCol, _), i) =>
          struct(lit(i).as("__sig"), col(scoreCol).cast("double").as("__s"))
      }: _*)).as("g"))
      .select(col("g.__sig").as("__sig"), col("g.__s").as("__s"))
      .where(col("__s").isNotNull)
    val counts = stacked.groupBy("__sig", "__s")
      .agg(count(lit(1)).cast("double").as("__c"))
    val cum = OrderedScan.cumSumsBy(counts, Seq("__sig"), "__s",
      Seq("__c" -> "__cum"))
    // per-signal totals: a <= |signals|-row frame, reuses the counts
    // exchange at runtime
    val totals = counts.groupBy("__sig").agg(sum(col("__c")).as("__n"))
    val pct = cum.join(broadcast(totals), "__sig")
      .select(col("__sig"), col("__s"),
        when(col("__n") <= 1.0, lit(0.0))
          .otherwise(round((col("__cum") - col("__c")) / (col("__n") - 1.0),
            6)).as("__p"))
      // lazy: materialized by the first consuming job, not at plan build
      .localCheckpoint(false)
    specs.zipWithIndex.foldLeft(df) { case (acc, ((scoreCol, outCol), i)) =>
      val slice = pct.where(col("__sig") === i)
        .select(col("__s"), col("__p").as(outCol))
      acc.join(slice, acc(scoreCol).cast("double") === slice("__s"), "left")
        .drop("__s")
    }
  }

  /**
   * EXACT global top-fraction gate without a global window — the
   * FineWeb-style "keep the best `frac` of the corpus by quality score" step
   * at 10^12 rows. A row is kept iff #{rows with a strictly greater score}
   * < k, with k = max(1, floor(frac * n)): upward-closed in score and
   * TIE-INCLUSIVE — every row tied with the k-th survives, so the kept
   * count can exceed k by the size of the boundary tie group (the honest
   * semantics for coarse scores, where an arbitrary intra-tie cut would be
   * nondeterministic or hash-biased).
   *
   * Distributed shape: distinct-score counts (one shuffle), the cumulative
   * count per score via [[OrderedScan.cumSums]] (value-bucketed prefix sums
   * — NO single-partition window), the per-score kept bit, and an equi-join
   * back on the score. Score must be non-null.
   *
   * @return the input plus a `kept` boolean column
   */
  def topFractionGlobal(df: DataFrame, scoreCol: String,
      frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac($frac) must be in (0, 1]")
    // n stays an EAGER count: the in-plan 1-row-combine variant was tried in
    // round 6 and reverted — the cross join's product-of-children size
    // estimate inflated the kept-bits branch so the join back onto `df`
    // stopped broadcasting (the idfTable lesson, measured on q62)
    val n = df.count()
    val k = math.max(1L, math.floor(frac * n).toLong)
    val byScore = df.groupBy(col(scoreCol))
      .agg(count(lit(1)).cast("double").as("__c"))
    // cum(s) = #{rows with score <= s}; kept iff n - cum(s) < k
    val kept = OrderedScan.cumSums(byScore, scoreCol, Seq("__c" -> "__cum"))
      .select(col(scoreCol), (col("__cum") > lit((n - k).toDouble)).as("kept"))
    df.join(kept, scoreCol)
  }

  /**
   * PER-GROUP exact top-fraction gate — the FineWeb-style per-language
   * quality threshold ("keep the best `frac` of EACH language/source"),
   * with [[topFractionGlobal]]'s tie-inclusive semantics per group: a row
   * is kept iff #{same-group rows with a strictly greater score} < k_g,
   * k_g = max(1, floor(frac * n_g)).
   *
   * Distributed shape: per-group counts (one shuffle), per-(group, score)
   * counts (one shuffle), then a window over DISTINCT SCORES within each
   * group — bounded by the distinct-score cardinality, not the group size,
   * so it needs the same coarse-score contract as q62's distinct-score
   * aggregation (quality scores are rounded by construction; round a
   * continuous score first or the per-group frame degenerates back to data
   * size). The kept bits join back on (group, score).
   *
   * @return the input plus a `kept` boolean column
   */
  def topFractionByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac($frac) must be in (0, 1]")
    val ks = df.groupBy(col(groupCol))
      .agg(greatest(lit(1L), floor(count(lit(1)) * frac).cast("long")).as("__k"))
    val byScore = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = byScore
      .withColumn("__geq", sum(col("__c")).over(w))
      .join(ks, groupCol)
      .select(col(groupCol), col(scoreCol),
        (col("__geq") - col("__c") < col("__k")).as("kept"))
    df.join(kept, Seq(groupCol, scoreCol))
  }
}
