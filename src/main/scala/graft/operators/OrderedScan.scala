package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/**
 * Distributed globally-ordered scans — the scale-safe replacement for
 * `Window.orderBy(...)` with no `partitionBy` (which funnels the entire
 * input through ONE task; the round-1 `WindowExec: No Partition Defined`
 * warnings all came from that pattern).
 *
 * Shape: split the order-column's VALUE range into ~`spark.sql.shuffle
 * .partitions` buckets at approximate quantiles (one sketch pass — the
 * sketch never collects data rows), tag every row with its bucket via a
 * pure literal when-chain, run the window PER BUCKET in parallel, then
 * stitch buckets together with per-bucket boundary aggregates joined back
 * broadcast-side. The boundary frames have at most `buckets` rows — a
 * config-bounded size independent of data scale.
 *
 * Because the bucket id is a deterministic function of the ROW VALUE (not
 * of physical partition placement), every branch of the plan that
 * recomputes the input agrees on bucket membership by construction — no
 * cache, no collected offsets, no dependence on exchange reuse. (The
 * previous design keyed the stitch on `spark_partition_id()` after a
 * `repartitionByRange`, which is only consistent across the two passes if
 * the exact same shuffle is reused — so it had to persist the full frame
 * and leaked a MEMORY_AND_DISK entry per call; at 100 TB that cache IS the
 * bottleneck.)
 *
 * Order column must be numeric (all engine callers order on scores, counts
 * or ids). Works on any input size: 10^12 rows cost one sketch pass + two
 * parallel passes, vs. the single-task O(n) sort the naive window pays.
 */
object OrderedScan {

  /** Order-preserving bucket id (-1..bounds.length) for `orderCol`: index of
    * the first bound >= the value (bounds.length past the last; NULL keys
    * get bucket -1, matching their nulls-first sort position so the stitch
    * stays aligned with the window order). A pure per-row expression, so
    * re-executions of any plan branch agree on membership; built as a
    * BALANCED binary-search tree of whens — log2(buckets) comparisons per
    * row and log-depth Catalyst nesting, where a linear when-chain would
    * evaluate O(buckets) branches per row and nest that deep (stack-hostile
    * past a few thousand shuffle partitions). Monotone even when the
    * comparison widens a long to double: a non-strict monotone cast keeps
    * v1 <= v2 => bucket(v1) <= bucket(v2), and the within-bucket window
    * still sorts on the original column. */
  private def bucketCol(orderCol: String, bounds: Array[Double]): Column = {
    // smallest i in [lo, hi] with value <= bounds(i); leaf hi == bounds.length
    // is the catch-all last bucket
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(col(orderCol) <= lit(bounds(mid)), search(lo, mid))
          .otherwise(search(mid + 1, hi))
      }
    when(col(orderCol).isNull, lit(-1)).otherwise(search(0, bounds.length))
  }

  /** Approximate-quantile bucket bounds for ~`nPart` equal-occupancy
    * buckets — one deterministic sketch job at call time (the sketch result
    * is a <= nPart-1 element array of doubles, never data rows). Callers'
    * tie contract (one row per distinct order value) keeps occupancy sane:
    * a heavy tie cannot straddle a bound because equal values share a
    * bucket by construction. */
  private def rangeBounds(df: DataFrame, orderCol: String, nPart: Int): Array[Double] = {
    require(df.schema(orderCol).dataType.isInstanceOf[NumericType],
      s"OrderedScan: order column '$orderCol' must be numeric, " +
        s"got ${df.schema(orderCol).dataType.simpleString}")
    if (nPart <= 1) Array.empty
    else df.stat.approxQuantile(orderCol,
      (1 until nPart).map(_.toDouble / nPart).toArray, 0.001).distinct.sorted
  }

  /**
   * Cumulative sums over a global ordering, fully distributed.
   *
   * For each `(valueCol -> outCol)` adds `outCol` = sum of `valueCol` over
   * all rows with `orderCol` <= this row's (rows-between semantics within
   * ties: callers must pre-aggregate tie groups to one row per distinct
   * `orderCol` — the same contract the reference sweep has). Integer-valued
   * doubles (counts — every engine caller) sum exactly at any magnitude up
   * to 2^53; general float values carry the standard distributed-sum
   * last-ulp order drift, here and in any Spark `sum`.
   */
  def cumSums(df: DataFrame, orderCol: String,
      sums: Seq[(String, String)]): DataFrame =
    cumSumsBy(df, Nil, orderCol, sums)

  /**
   * [[cumSums]] PER GROUP: the cumulative sums reset for each distinct value
   * combination of `partCols` — the device that lets SEVERAL stacked signals
   * (e.g. [[Ranking.percentileRanksMulti]]'s (signal, value) frame) share
   * ONE pass over the expensive base frame instead of one cumSums call (and
   * its own eager quantile sketch + exchange) per signal. Value buckets are
   * computed over the whole frame's `orderCol` domain and simply intersect
   * each group; the window runs per (group, bucket), the boundary offsets
   * stitch within the group. Empty `partCols` is exactly [[cumSums]].
   */
  def cumSumsBy(df: DataFrame, partCols: Seq[String], orderCol: String,
      sums: Seq[(String, String)]): DataFrame = {
    val bounds = rangeBounds(df, orderCol, Spread.shufflePartitions(df.sparkSession))
    val bucketed = df.withColumn("__bk", bucketCol(orderCol, bounds))
    val keyCols = partCols :+ "__bk"

    // per-(group, bucket) running sums — the window shuffles on the group +
    // bucket key and sorts each bucket in parallel
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = sums.foldLeft(bucketed) { case (d, (v, out)) =>
      d.withColumn(out, sum(col(v)).over(w))
    }

    // per-(group, bucket) totals (<= groups x buckets rows) -> same-group
    // earlier-bucket offsets via a triangular self-join over that TINY
    // frame — no driver action, no cache
    val totalAggs = sums.map { case (v, _) =>
      sum(col(v)).cast("double").as(s"__t_$v")
    }
    val totals = bucketed.groupBy(keyCols.map(col): _*)
      .agg(totalAggs.head, totalAggs.tail: _*)
    val offAggs = sums.map { case (v, _) =>
      coalesce(sum(col(s"b.__t_$v")), lit(0.0)).as(s"__off_$v")
    }
    val joinCond = partCols
      .map(c => col(s"b.$c") === col(s"a.$c"))
      .foldLeft(col("b.__bk") < col("a.__bk"))(_ && _)
    val offsets = totals.as("a")
      .join(totals.as("b"), joinCond, "left")
      .groupBy(partCols.map(c => col(s"a.$c")) :+ col("a.__bk"): _*)
      .agg(offAggs.head, offAggs.tail: _*)

    val stitched = withLocal.join(broadcast(offsets), keyCols)
    sums.foldLeft(stitched) { case (d, (v, out)) =>
      d.withColumn(out, col(out) + col(s"__off_$v"))
    }.drop("__bk" +: sums.map { case (v, _) => s"__off_$v" }: _*)
  }

  /**
   * Cyclic global successor: adds `outCol` = the next distinct-row value of
   * `orderCol` in ascending order; the globally-largest row wraps around to
   * the globally-smallest value. Distributed via the same value-bucket +
   * per-bucket `lead` + boundary-stitch shape as [[cumSums]]: a bucket's
   * last row leads into the minimum of the next non-empty bucket (buckets
   * are value-ordered, so that is the min over all later buckets), and the
   * wraparound target is the global minimum — both <= buckets-row frames.
   */
  def cyclicLead(df: DataFrame, orderCol: String, outCol: String): DataFrame = {
    val bounds = rangeBounds(df, orderCol, Spread.shufflePartitions(df.sparkSession))
    val bucketed = df.withColumn("__bk", bucketCol(orderCol, bounds))

    val w = Window.partitionBy("__bk").orderBy(col(orderCol))
    val withLead = bucketed.withColumn(outCol, lead(col(orderCol), 1).over(w))

    val mins = bucketed.groupBy(col("__bk")).agg(min(col(orderCol)).as("__mn"))
    val nexts = mins.as("a")
      .join(mins.as("b"), col("b.__bk") > col("a.__bk"), "left")
      .groupBy(col("a.__bk"))
      .agg(min(col("b.__mn")).as("__next"))
    // wraparound folded in at the tiny-frame level (1-row cross join over
    // <= buckets rows), so the data-sized side sees one broadcast hash join
    val nextsWithWrap = nexts
      .crossJoin(broadcast(mins.agg(min(col("__mn")).as("__gmn"))))
      .select(col("__bk"), coalesce(col("__next"), col("__gmn")).as("__next"))

    withLead.join(broadcast(nextsWithWrap), "__bk")
      .withColumn(outCol, coalesce(col(outCol), col("__next")))
      .drop("__bk", "__next")
  }

  /** Convenience: single cumulative sum. */
  def cumSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String): DataFrame =
    cumSums(df, orderCol, Seq(valueCol -> outCol))
}
