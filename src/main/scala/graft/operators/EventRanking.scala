package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The reference's main replay entry point, batch form: for every query event,
 * build the as-of candidate set (state BEFORE the event, restricted to the
 * `forget_days` retention window), score candidates, keep the retrieval
 * top-n, attribute scores to clusters, reduce per cluster, default unscored
 * in-window clusters to `minScore`, rank, truncate.
 *
 * Reference: ea/sim/main/methods/ranking_model.py:15-101 (orchestration),
 * ea/sim/main/data/buckets/event_state_model.py:106-121 (pre-event state
 * snapshot), ranking_model.py:67-73 (min-score default for unscored issues),
 * ea/sim/main/data/buckets/issues_selector.py:17-48 (forget-days window).
 *
 * Scale design: the as-of join is NOT a theta/range join (which Spark would
 * execute as a broadcast-nested-loop). Candidates are bucketed by event-time
 * day; each query is exploded to the `forgetDays + 1` day buckets its window
 * can touch, the join runs as a plain equi-join on the day key, and the exact
 * `cand.ts < q.ts AND q.ts - cand.ts <= forgetDays` predicate filters the
 * joined rows. Replication factor is the (small, config-bounded) window
 * length in days — independent of data size — and the equi-join shuffles,
 * salts, and AQE-splits like any other join at 100 TB.
 */
object EventRanking {

  private val DaySec = 86400L

  /**
   * As-of candidate pairs via the day-bucketed equi-join.
   *
   * @param queries    query events: (queryIdCol, tsCol)
   * @param candidates candidate events: (itemIdCol, tsCol)
   * @param forgetDays retention window in days (reference forget_days)
   * @param qExtra     extra query columns carried through the join (avoids a
   *                   post-hoc re-join shuffling the full pair fan-out)
   * @param cExtra     extra candidate columns carried through, same reason
   * @return one row per (query, candidate) with cand.ts < q.ts and
   *         q.ts - cand.ts <= forgetDays days, carrying `query_id`,
   *         `item_id`, `q_ts`, `c_ts` plus the extras
   */
  def asOfCandidates(queries: DataFrame, candidates: DataFrame, forgetDays: Int,
      queryIdCol: String = "query_id", itemIdCol: String = "item_id",
      tsCol: String = "ts",
      qExtra: Seq[String] = Nil, cExtra: Seq[String] = Nil): DataFrame = {
    val qs = queries.select(
      col(queryIdCol).as("query_id") +:
      col(tsCol).cast("timestamp").as("q_ts") +:
      col(tsCol).cast("timestamp").cast("long").as("__qsec") +:
      qExtra.map(col): _*)
    val cs = candidates.select(
      col(itemIdCol).as("item_id") +:
      col(tsCol).cast("timestamp").as("c_ts") +:
      floor(col(tsCol).cast("timestamp").cast("long") / DaySec).as("__day") +:
      cExtra.map(col): _*)
    // explode each query to every day bucket its window can reach
    val qDays = qs.withColumn("__day",
        explode(sequence(
          floor(col("__qsec") / DaySec) - forgetDays,
          floor(col("__qsec") / DaySec))))
    qDays.join(cs, "__day")
      .where(col("c_ts") < col("q_ts") &&
        col("__qsec") - col("c_ts").cast("long") <= forgetDays * DaySec)
      .select((Seq("query_id", "item_id", "q_ts", "c_ts") ++ qExtra ++ cExtra)
        .map(col): _*)
  }

  /**
   * The reference's SECOND retention-window variant
   * (`LastUpdateIssueSelector`, issues_selector.py:17-29, vs the per-report
   * `ReportTimeIssueSelector` that [[asOfCandidates]] implements): a cluster
   * stays candidate-eligible when its LAST update before the query falls
   * inside the window, and then ALL its pre-query members are candidates —
   * old members of recently-active clusters re-enter.
   *
   * Plan: in-window clusters are exactly the clusters with >= 1 event in the
   * window (their last pre-query update is then necessarily in-window too),
   * so activation reuses the day-bucketed [[asOfCandidates]] join; a second
   * equi-join on the cluster key re-attaches the full pre-query membership.
   *
   * @return one row per (query, candidate member of an active cluster) with
   *         `query_id`, `item_id`, `q_ts`, `c_ts`, `clusterCol`
   */
  def asOfCandidatesLastUpdate(queries: DataFrame, candidates: DataFrame,
      forgetDays: Int, queryIdCol: String = "query_id",
      itemIdCol: String = "item_id", tsCol: String = "ts",
      clusterCol: String = "cluster_id",
      qExtra: Seq[String] = Nil, cExtra: Seq[String] = Nil): DataFrame = {
    val active = asOfCandidates(queries, candidates, forgetDays,
        queryIdCol, itemIdCol, tsCol, qExtra = qExtra, cExtra = Seq(clusterCol))
      .select((Seq("query_id", "q_ts", clusterCol) ++ qExtra).map(col): _*)
      .distinct()
    val cs = candidates.select(
      col(itemIdCol).as("item_id") +:
      col(tsCol).cast("timestamp").as("c_ts") +:
      col(clusterCol) +:
      cExtra.map(col): _*)
    active.join(cs, clusterCol)
      .where(col("c_ts") < col("q_ts"))
      .select((Seq("query_id", "item_id", "q_ts", "c_ts", clusterCol) ++
        qExtra ++ cExtra).map(col): _*)
  }

  /**
   * Cluster ranking with the min-score default: clusters present in
   * `universe` but absent from the scored set still appear, at `minScore`,
   * ranked after every scored cluster (reference ranking_model.py:67-73 —
   * issues with no scored member are ranked last at model.min_score).
   *
   * @param pairScores (query_id, item_id, score) — scored candidates
   * @param assignments (item_id -> cluster_id)
   * @param universe   (query_id, cluster_id) — the full in-window cluster set
   *                   per query (pre-retrieval); defines which clusters exist
   * @param k          output truncation
   * @param minScore   default for unscored clusters
   * @param useMax     max (default) or avg per-cluster reduction
   */
  def rankClustersWithDefault(pairScores: DataFrame, assignments: DataFrame,
      universe: DataFrame, k: Int, minScore: Double,
      useMax: Boolean = true): DataFrame = {
    val reduceFn = if (useMax) max(col("score")) else avg(col("score"))
    val scored = pairScores
      .join(assignments, "item_id")
      .groupBy("query_id", "cluster_id")
      .agg(reduceFn.as("__s"))
    universe
      .join(scored, Seq("query_id", "cluster_id"), "left")
      .withColumn("cluster_score", coalesce(col("__s"), lit(minScore)))
      .drop("__s")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cluster_score").desc, col("cluster_id"))))
      .where(col("rank") <= k)
  }

  /**
   * Full replay harness over one event log: every event is both a query and
   * (for later events) a candidate.
   *
   * @param events      (idCol, clusterCol, tsCol) — the attach log; an
   *                    event's cluster is its ground-truth assignment
   * @param queryFilter which events are queries (e.g. the test slice)
   * @param score       pair score as a Column over the joined row — sees
   *                    query columns under `q_*` aliases (`q_val`) and
   *                    candidate columns under `c_*` (`c_val`) when
   *                    `valueCol` is set
   * @param forgetDays  retention window (reference forget_days)
   * @param retrievalTopN retrieval truncation before scoring attribution
   *                    (reference index_top_stacks = 50)
   * @param k           final ranking truncation (reference top-10)
   * @param minScore    default for in-window clusters with no retrieved
   *                    member (reference model.min_score)
   * @param lastUpdateWindow false (default) = per-report slicing
   *        (`ReportTimeIssueSelector`); true = cluster-last-update candidacy
   *        (`LastUpdateIssueSelector`) — see [[asOfCandidatesLastUpdate]].
   * @return (query_id, cluster_id, cluster_score, rank)
   */
  def replayRank(events: DataFrame, queryFilter: Column, score: Column,
      forgetDays: Int, retrievalTopN: Int, k: Int, minScore: Double,
      idCol: String = "event_id", clusterCol: String = "cluster_id",
      tsCol: String = "ts", valueCol: String = "value",
      lastUpdateWindow: Boolean = false): DataFrame = {
    // queryFilter is evaluated against the ORIGINAL event columns (it may
    // reference fields the harness itself does not carry, e.g. event_type)
    val queries = events.where(queryFilter).select(
      col(idCol).as("query_id"), col(tsCol).as("ts"),
      col(valueCol).as("q_val"))
    val cands = events.select(col(idCol).as("item_id"), col(tsCol).as("ts"),
      col(valueCol).as("c_val"), col(clusterCol).as("cluster"))

    // value/cluster columns ride through the as-of join itself — re-joining
    // them afterwards would shuffle the full pair fan-out twice more
    val asOf =
      if (lastUpdateWindow)
        asOfCandidatesLastUpdate(queries, cands, forgetDays,
          clusterCol = "cluster", qExtra = Seq("q_val"), cExtra = Seq("c_val"))
      else
        asOfCandidates(queries, cands, forgetDays,
          qExtra = Seq("q_val"), cExtra = Seq("c_val", "cluster"))
    val pairs = asOf.withColumn("score", score)

    // retrieval truncation BEFORE cluster attribution (retrieval_model.py:15-21)
    val retrieved = Ranking.topKItems(
      pairs.select("query_id", "item_id", "score"), retrievalTopN)

    // cluster universe = every cluster with a member in the window
    // (pre-retrieval — this is the reference's state-snapshot issue list)
    val universe = pairs.select("query_id", "cluster").distinct()
      .withColumnRenamed("cluster", "cluster_id")

    rankClustersWithDefault(
      retrieved.select("query_id", "item_id", "score"),
      cands.select(col("item_id"), col("cluster").as("cluster_id")),
      universe, k, minScore)
  }
}
