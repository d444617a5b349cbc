package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Evaluation harness as DataFrame aggregations — mirrors the reference
 * evaluator (reference: ea/sim/dev/evaluation/evaluator.py:12-50).
 */
object Metrics {

  /**
   * Accuracy@k and MRR over ranked predictions vs truth.
   * @param ranked (query_id, cluster_id, rank)
   * @param truth  (query_id, true_cluster_id)
   * Reference: metrics/base/per_instance/accuracy.py:11-27, mrr.py:11-26.
   */
  def accuracyAndMrr(ranked: DataFrame, truth: DataFrame, ks: Seq[Int]): DataFrame = {
    // rename before joining: truth is often derived from ranked, which would
    // otherwise trip Spark's ambiguous-self-join detection
    val r = ranked.select(col("query_id").as("r_qid"),
      col("cluster_id").as("r_cid"), col("rank"))
    val tr = truth.select(col("query_id").as("t_qid"),
      col("true_cluster_id").as("t_cid"))
    val hits = tr.join(r,
        col("t_qid") === col("r_qid") && col("t_cid") === col("r_cid"), "left")
      .select(col("t_qid").as("query_id"), col("rank"))
    val perQuery = hits.groupBy("query_id").agg(min("rank").as("true_rank"))
    val aggs =
      ks.map(k => avg(when(col("true_rank") <= k, 1.0).otherwise(0.0)).as(s"acc_at_$k")) :+
      avg(when(col("true_rank").isNotNull, lit(1.0) / col("true_rank"))
        .otherwise(0.0)).as("mrr")
    perQuery.agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Duplicate-pair recall & precision of predicted pairs vs oracle pairs —
   * THE gate of BASELINE.json (`dup-pair recall >= 0.99`). Pairs are
   * canonicalized (a < b) and compared with semi/anti joins, never collected.
   */
  def pairRecallPrecision(predicted: DataFrame, oracle: DataFrame): DataFrame = {
    def canon(df: DataFrame) = df.select(
      least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val p = canon(predicted).cache()
    val o = canon(oracle).cache()
    val hit = o.join(p, Seq("a", "b"), "left_semi").count().toDouble
    val oc = o.count().toDouble
    val pc = p.count().toDouble
    val spark = predicted.sparkSession
    import spark.implicits._
    Seq((
      if (oc == 0) 1.0 else hit / oc,
      if (pc == 0) 1.0 else hit / pc,
      oc.toLong, pc.toLong, hit.toLong))
      .toDF("recall", "precision", "oracle_pairs", "predicted_pairs", "matched_pairs")
  }

  /**
   * Cluster-agreement between two assignments of the same id universe —
   * Adjusted Rand Index (pair-counting, chance-corrected: Hubert & Arabie
   * 1985) and Normalized Mutual Information (sqrt normalization), fully
   * distributed: one equi-join on id, a contingency groupBy, two marginal
   * groupBys, and 1-row combinations — no driver collect, no windows, so the
   * plan holds at any assignment-table size. The partition-level counterpart
   * of [[pairRecallPrecision]]: recall/precision score a predicted pair SET;
   * ARI/NMI score whole partitions against each other — the standard
   * "matches the reference's cluster assignments" measures. Cluster LABELS
   * are irrelevant (any equatable type); only co-membership matters.
   *
   * ARI is exact: every pair/marginal count is an integer carried in a
   * double (exact to 2^53), so both the statistic and a replicated oracle
   * compute bit-identical values. NMI's entropy sums are floating-point
   * (last-ulp summation-order drift — round before hashing).
   *
   * Degenerate-edge conventions (sklearn-compatible): ARI = 1 when the
   * chance-corrected denominator is 0 (both partitions pair-wise trivial and
   * identical); NMI = 1 when both entropies are 0, 0 when exactly one is.
   *
   * @param a (idCol, clusterCol) assignment; inner-joined with `b` on id —
   *          ids outside the intersection are ignored (align upstream)
   * @return one row: n, clusters_a, clusters_b, ari, nmi
   */
  def clusterAgreement(a: DataFrame, b: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    import org.apache.spark.sql.Column
    val pa = a.select(col(idCol).as("id"), col(clusterCol).as("ca"))
    val pb = b.select(col(idCol).as("id"), col(clusterCol).as("cb"))
    val cont = pa.join(pb, "id")
      .groupBy("ca", "cb").agg(count(lit(1)).cast("double").as("nij"))
    val am = cont.groupBy("ca").agg(sum("nij").as("ai"))
    val bm = cont.groupBy("cb").agg(sum("nij").as("bj"))
    def c2(x: Column): Column = x * (x - 1) / 2
    val nRow = cont.agg(coalesce(sum("nij"), lit(0.0)).as("n"),
      coalesce(sum(c2(col("nij"))), lit(0.0)).as("sumIJ"))
    val aRow = am.agg(coalesce(sum(c2(col("ai"))), lit(0.0)).as("sumA"),
      count(lit(1)).as("clusters_a"))
    val bRow = bm.agg(coalesce(sum(c2(col("bj"))), lit(0.0)).as("sumB"),
      count(lit(1)).as("clusters_b"))
    // the MI/entropy terms need n alongside every row: n rides a broadcast
    // 1-row frame (all inputs here are strictly positive, so log is safe)
    val miRow = cont.join(am, "ca").join(bm, "cb").crossJoin(broadcast(nRow))
      .agg(coalesce(sum(col("nij") / col("n") *
        log(col("n") * col("nij") / (col("ai") * col("bj")))), lit(0.0)).as("mi"))
    val haRow = am.crossJoin(broadcast(nRow))
      .agg(coalesce(-sum(col("ai") / col("n") * log(col("ai") / col("n"))),
        lit(0.0)).as("ha"))
    val hbRow = bm.crossJoin(broadcast(nRow))
      .agg(coalesce(-sum(col("bj") / col("n") * log(col("bj") / col("n"))),
        lit(0.0)).as("hb"))
    nRow.crossJoin(aRow).crossJoin(bRow)
      .crossJoin(miRow).crossJoin(haRow).crossJoin(hbRow)
      .withColumn("expected",
        when(col("n") < 2, lit(0.0))
          .otherwise(col("sumA") * col("sumB") / c2(col("n"))))
      .withColumn("maxI", (col("sumA") + col("sumB")) / 2)
      .withColumn("ari",
        when(col("maxI") === col("expected"), lit(1.0))
          .otherwise((col("sumIJ") - col("expected")) /
            (col("maxI") - col("expected"))))
      .withColumn("nmi",
        when(col("ha") === 0 && col("hb") === 0, lit(1.0))
          .when(col("ha") === 0 || col("hb") === 0, lit(0.0))
          .otherwise(col("mi") / sqrt(col("ha") * col("hb"))))
      .select(col("n").cast("long").as("n"),
        col("clusters_a"), col("clusters_b"), col("ari"), col("nmi"))
  }

  /**
   * CLUSTER-level churn between two assignment snapshots — the structural
   * complement of [[graft.operators.Dedup.assignmentDiff]] (which counts
   * per-ROW status) and [[clusterAgreement]] (which scores global overlap):
   * this one answers the incremental-run operator's question "did today's
   * fold split or merge yesterday's clusters, and how many survived
   * intact?". Computed over ids present in BOTH snapshots (row arrivals /
   * departures are assignmentDiff's axis):
   *
   *  - `n_split`  — before-clusters whose shared members land in > 1
   *                 after-cluster
   *  - `n_merged` — after-clusters receiving members from > 1 before-cluster
   *  - `n_stable` — before-clusters mapping 1:1 onto an after-cluster (one
   *                 target, and that target has exactly one source — label
   *                 values may differ; identity is structural)
   *
   * Scale shape: the (before, after) label contingency edge list is ONE
   * equi-join on id + one agg — at most min(|clusters_b|, rows) edges; the
   * three counts are aggregations over it. No windows, nothing collects.
   *
   * @return single row (n_before, n_after, n_split, n_merged, n_stable)
   */
  def clusterChurn(before: DataFrame, after: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    val b = before.select(col(idCol).as("id"), col(clusterCol).as("cb"))
    val a = after.select(col(idCol).as("id"), col(clusterCol).as("ca"))
    val edges = b.join(a, "id").groupBy("cb", "ca").agg(count(lit(1)).as("n"))
    val bySrc = edges.groupBy("cb").agg(countDistinct("ca").as("n_targets"),
      first("ca").as("only_target")) // only meaningful when n_targets = 1
    val byDst = edges.groupBy("ca").agg(countDistinct("cb").as("n_sources"))
    val stable = bySrc.where(col("n_targets") === 1)
      .join(byDst, col("only_target") === col("ca"))
      .where(col("n_sources") === 1)
      .agg(count(lit(1)).as("n_stable"))
    val srcStats = bySrc.agg(count(lit(1)).as("n_before"),
      coalesce(sum(when(col("n_targets") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_split"))
    val dstStats = byDst.agg(count(lit(1)).as("n_after"),
      coalesce(sum(when(col("n_sources") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_merged"))
    srcStats.crossJoin(dstStats).crossJoin(stable)
      .select("n_before", "n_after", "n_split", "n_merged", "n_stable")
  }

  /**
   * Transitivity audit of a near-dup pair list — the pre-clustering
   * diagnostic for CHAIN COLLAPSE: connected components treats similarity
   * as transitive, so a pair set with many open wedges (a~b, b~c, a!~c)
   * will chain unrelated items into one cluster. Global transitivity
   * 3·triangles / wedges close to 1 means the pair graph is already
   * clique-like and CC is safe; low transitivity says the threshold admits
   * chains and the verify gate (or a higher threshold) should tighten
   * before grouping. Input is an undirected pair list; duplicates, self
   * loops, and either orientation are tolerated (canonicalized first).
   *
   * Scale shape: the classic skew trap in triangle counting is enumerating
   * wedges at million-degree hubs (O(deg²) per node). Wedges are therefore
   * ENUMERATED only under the degree-ordered orientation (each edge points
   * low→high by (degree, id) — Suri & Vassilvitskii WWW'11 / Cohen's
   * MapReduce scheme): every triangle is counted exactly once at its
   * lowest-ordered vertex, and per-node work drops from O(deg²) to
   * O(oriented-out-degree²), bounded by O(m^1.5) total. The wedge COUNT
   * (denominator) needs no enumeration at all — Σ C(deg, 2) off the degree
   * table. Joins: two equi-joins to attach degrees, one self-join on the
   * wedge center, one equi-join to close triangles.
   *
   * @param pairs two-column frame (a, b)
   * @return single row (n_edges, n_wedges, n_triangles, transitivity) —
   *         transitivity = 3·triangles/wedges rounded to 6, 0.0 when the
   *         graph has no wedge
   */
  def transitivityAudit(pairs: DataFrame): DataFrame = {
    val Seq(ca, cb) = pairs.columns.take(2).toSeq
    val edges = pairs.select(least(col(ca), col(cb)).as("u"),
        greatest(col(ca), col(cb)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val deg = edges.select(col("u").as("x"))
      .union(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // (degree, id)-ordered orientation: lo is the edge's smaller endpoint
    // in that total order, so high-degree hubs never center a wedge scan
    val withDeg = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("lo"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("hi"))
    val wedgesAtLo = oriented.as("e1").join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(least(col("e1.hi"), col("e2.hi")).as("u"),
        greatest(col("e1.hi"), col("e2.hi")).as("v"))
    val triangles = wedgesAtLo.join(edges, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val counts = edges.agg(count(lit(1)).as("n_edges"))
    // shiftright, not `/`: Column `/` is double division, which loses
    // exactness past 2^53 (a 10^9-degree hub squares to 10^18)
    val wedgeTotal = deg.agg(
      coalesce(sum(shiftright(col("d") * (col("d") - 1), 1)), lit(0L))
        .as("n_wedges"))
    counts.crossJoin(wedgeTotal).crossJoin(triangles)
      .withColumn("transitivity",
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)))
      .select("n_edges", "n_wedges", "n_triangles", "transitivity")
  }

  /**
   * Power-law fit over the spectrum of a positive count column — the
   * generic heavy-tail gate behind `TextScores.zipfFit`: build the
   * frequency-of-frequencies spectrum (count value → how many entities
   * carry it), then ordinary least squares on (ln value, ln n_entities).
   * Heavy-tailed count distributions (dup-cluster sizes, per-user event
   * volumes, in-degrees) sit on a line with negative slope and high r²;
   * a near-zero r² says the tail is NOT power-law (e.g. Poisson-ish
   * uniform traffic) — both are one-number answers to "does this
   * distribution have the hub/boilerplate shape the skew devices exist
   * for".
   *
   * Scale: one aggregation to the spectrum (≤ distinct count values —
   * tiny) plus one to a single row. Non-positive counts carry no log
   * point and are excluded.
   *
   * @param counts one row per entity, `countCol` a positive integral count
   * @return one row: (n_points, slope, intercept, r2), rounded to 6;
   *         degenerate fits (fewer than 2 points, zero x-variance) yield
   *         zeros
   */
  def powerLawFit(counts: DataFrame, countCol: String): DataFrame = {
    val pts = counts.where(col(countCol) > 0)
      .groupBy(col(countCol).as("value"))
      .agg(count(lit(1)).as("n_entities"))
      .select(log(col("value").cast("double")).as("x"),
        log(col("n_entities").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").cast("long").as("n_points"),
      when(col("n") < 2 || varXN === 0.0, lit(0.0))
        .otherwise(round(covN / varXN, 6)).as("slope"),
      when(col("n") < 2 || varXN === 0.0, lit(0.0))
        .otherwise(round((col("sy") - covN / varXN * col("sx")) / col("n"),
          6)).as("intercept"),
      when(col("n") < 2 || varXN === 0.0 || varYN === 0.0, lit(0.0))
        .otherwise(round(covN * covN / (varXN * varYN), 6)).as("r2"))
  }

  /**
   * ROC-AUC via the rank-statistic (Mann-Whitney U) form, fully distributed:
   * AUC = (sum of positive ranks - P(P+1)/2) / (P*N), with average ranks on
   * ties. Reference: metrics/base/aggregate/roc_auc.py:12-17 (sklearn there).
   */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String): Double = {
    // Tie groups are aggregated FIRST (distributed groupBy); the cumulative
    // rank offsets then come from OrderedScan.cumSum — value-bucketed
    // per-bucket windows stitched with O(buckets) boundary offsets,
    // never a single-partition global window (for continuous double scores
    // distinct ~ N, so the old Window.orderBy funneled the whole dataset
    // through one task).
    val groups = scored.select(
        col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("y"), 1L).otherwise(0L)).as("posCnt"))
    val ranked = graft.operators.OrderedScan.cumSum(groups, "s", "cnt", "cumCnt")
      // average rank of a tie group = rank offset + (size + 1) / 2
      .withColumn("ar", col("cumCnt") - col("cnt") + (col("cnt") + 1) / 2.0)
    val row = ranked.agg(
      sum(col("posCnt") * col("ar")).as("sumPos"),
      sum("posCnt").as("p"),
      sum(col("cnt") - col("posCnt")).as("n")).head()
    val sumPos = Option(row.get(0)).map(_.toString.toDouble).getOrElse(0.0)
    val p = row.getLong(1).toDouble
    val n = row.getLong(2).toDouble
    if (p == 0 || n == 0) 0.5
    else (sumPos - p * (p + 1) / 2.0) / (p * n)
  }

  /**
   * Distributed bootstrap confidence interval of a mean (reference: 100
   * resamples, 2.5/97.5 percentiles — ea/common/evaluation/intervals.py:18-32).
   * Each (resample, row) weight is Poisson(1) — the standard bootstrap
   * approximation that avoids materializing resample indices — drawn from a
   * seeded hash so the result is deterministic and partitioning-independent.
   */
  def bootstrapCI(scored: DataFrame, scoreCol: String, keyCol: String,
      resamples: Int = 100,
      lo: Double = 0.025, hi: Double = 0.975, seed: Long = 42L): DataFrame = {
    val spark = scored.sparkSession
    // weights keyed off a caller-supplied unique key so the draw is
    // deterministic AND independent of physical partitioning
    val withIdx = scored.select(col(scoreCol).cast("double").as("s"),
        col(keyCol).as("k"))
      .withColumn("u64", xxhash64(col("k")))
    val r = spark.range(resamples).withColumnRenamed("id", "resample")
    // Poisson(1) via inverse CDF on a per-(row, resample) uniform
    val u = abs(xxhash64(col("u64"), col("resample"), lit(seed)))
      .cast("double") / Long.MaxValue.toDouble
    val w = when(u < math.exp(-1.0), 0)
      .when(u < 2 * math.exp(-1.0), 1)
      .when(u < 2.5 * math.exp(-1.0), 2)
      .otherwise(3)
    val means = withIdx.crossJoin(r)
      .withColumn("w", w)
      .groupBy("resample")
      .agg((sum(col("s") * col("w")) / sum(col("w"))).as("mean"))
    means.agg(
      avg("mean").as("mean"),
      expr(s"percentile(mean, $lo)").as("ci_lo"),
      expr(s"percentile(mean, $hi)").as("ci_hi"),
      // the ACTUAL resample count, derived from the means frame — lets a
      // caller verify the configured draw really happened instead of
      // echoing the parameter back
      count(lit(1)).as("n_resamples"))
  }

  /**
   * F-beta threshold sweep over new-issue detection scores — closed-form
   * cumulative confusion counts per candidate threshold via window sums
   * (reference iterative sweep: metrics/wrappers/f_beta/helpers.py:86-117).
   * @param scored (score DOUBLE, is_new BOOLEAN); predicts "new" when
   *               score < threshold.
   * @return per-threshold precision/recall/fbeta, best row first.
   */
  def fBetaSweep(scored: DataFrame, scoreCol: String, isNewCol: String,
      beta: Double): DataFrame = {
    // candidate thresholds = distinct scores: aggregate tie groups first
    // (distributed), then cumulate with OrderedScan.cumSums — for continuous
    // double scores distinct ~ N, so the cumulation itself must be
    // distributed too (value-bucketed windows + boundary offsets), never
    // a single-partition global window
    // coalesce: sum() over zero rows is null — an empty frame must yield an
    // empty sweep, not a driver NPE. The total stays an EAGER head(): the
    // in-plan 1-row cross-join combine inflates plan size estimates (the
    // idfTable lesson) and the pass it saves is one column-pruned scan.
    val totals = scored.agg(
      coalesce(sum(when(col(isNewCol), 1L).otherwise(0L)), lit(0L)).as("pos")).head()
    val pos = totals.getLong(0).toDouble
    val b2 = beta * beta
    val grouped = scored
      .groupBy(scoreCol)
      .agg(sum(when(col(isNewCol), 1L).otherwise(0L)).as("tpg"),
        sum(when(!col(isNewCol), 1L).otherwise(0L)).as("fpg"))
    graft.operators.OrderedScan.cumSums(grouped, scoreCol,
        Seq("tpg" -> "tp", "fpg" -> "fp"))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp") / lit(pos))
      // tp = 0 makes precision + recall = 0: define F-beta as 0 there
      // (ANSI mode would otherwise throw on the 0/0)
      .withColumn("fbeta",
        when(col("tp") === 0, lit(0.0)).otherwise(
          (lit(1 + b2) * col("precision") * col("recall")) /
          (lit(b2) * col("precision") + col("recall"))))
      .select(col(scoreCol).as("threshold"), col("precision"), col("recall"), col("fbeta"))
      .orderBy(col("fbeta").desc_nulls_last)
  }

  /**
   * F-beta threshold sweep, "improved" update rule — the reference's
   * AttachFBetaV2 (reference: metrics/wrappers/f_beta/attach_f_beta_v2.py:10,
   * helpers.py:47-81 `ImprovedUpdateRule(reverse=True)`). Differs from
   * [[fBetaSweep]] in how the un-flagged side is scored: a prediction above
   * the threshold counts as a TRUE negative only when it is both not-new AND
   * a retrieval hit (`is_hit` — the top-ranked issue was the target); a
   * not-new prediction whose retrieval missed is a FALSE negative, so recall
   * now punishes bad attachments, not just missed new issues. Closed-form
   * cumulative confusion counts per candidate threshold (predict "new" when
   * score <= threshold, matching the reference's ascending sweep):
   *   TP = new & score<=th            FP = !new & score<=th
   *   TN = !new & hit & score>th      FN = (score>th) - TN
   * Like [[fBetaSweep]], rows where the reference's f_beta is undefined
   * (precision = recall = 0) report fbeta = 0 instead of being dropped.
   *
   * @param scored (score DOUBLE, is_new BOOLEAN, is_hit BOOLEAN)
   * @return per-threshold precision/recall/fbeta, best row first.
   */
  def fBetaSweepV2(scored: DataFrame, scoreCol: String, isNewCol: String,
      isHitCol: String, beta: Double): DataFrame = {
    // coalesce: see fBetaSweep — empty input must not NPE on a null sum;
    // the totals stay an EAGER head() (the fBetaSweep/idfTable lesson)
    val totalsRow = scored.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(!col(isNewCol) && col(isHitCol), 1L).otherwise(0L)),
        lit(0L)).as("tn"))
      .head()
    val n = totalsRow.getLong(0).toDouble
    val tnTotal = totalsRow.getLong(1).toDouble
    val b2 = beta * beta
    val grouped = scored
      .groupBy(scoreCol)
      .agg(count(lit(1)).as("cntg"),
        sum(when(col(isNewCol), 1L).otherwise(0L)).as("tpg"),
        sum(when(!col(isNewCol) && col(isHitCol), 1L).otherwise(0L)).as("tng"))
    graft.operators.OrderedScan.cumSums(grouped, scoreCol,
        Seq("cntg" -> "ccnt", "tpg" -> "tp", "tng" -> "ctn"))
      .withColumn("fp", col("ccnt") - col("tp"))
      .withColumn("tn", lit(tnTotal) - col("ctn"))
      .withColumn("fn", lit(n) - col("ccnt") - col("tn"))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("fbeta",
        when(col("tp") === 0, lit(0.0)).otherwise(
          (lit(1 + b2) * col("precision") * col("recall")) /
          (lit(b2) * col("precision") + col("recall"))))
      .select(col(scoreCol).as("threshold"), col("precision"), col("recall"), col("fbeta"))
      .orderBy(col("fbeta").desc_nulls_last)
  }
}
