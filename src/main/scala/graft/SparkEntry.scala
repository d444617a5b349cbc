package graft

import graft.config.DedupConfig
import graft.eval.Metrics
import graft.functions._
import graft.operators._
import graft.pipeline.DedupPipeline
import graft.synth.ImageGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md section 7 + the builder prompt.
  *
  * Every entry exercises one operator family from SURVEY.md section 2; each
  * key with an `oracleSql` twin is hash-compared against DuckDB at sf0.01.
  * Output columns are aliased identically on both sides and double aggregates
  * are rounded, so value hashing is stable across engines.
  */
object SparkEntry {

  /** All table reads go through the TableIO abstraction (Iceberg on a
    * catalog-configured cluster, parquet directories here — SURVEY section 7
    * step 1). */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.TableIO.resolve(spark, dir).read(name)

  /** Scale-adaptive post-scan spread — the guide §2.5 input-skew fix for a
    * table that arrives in fewer input splits than the session has cores
    * (here: each sf table is ONE small parquet file, so every scan is a
    * single task and the per-row kernels — tokenize/regex/shingle/vector
    * math — run single-threaded; measured: q125's scan-side stages were all
    * `tasks=1` at local[32]). Round-robin repartition to defaultParallelism,
    * guarded so a production-scale scan (splits >= cores) is a NO-OP — the
    * repartition is the degenerate-input escape hatch, not a tuned constant.
    * Content-neutral: row placement changes, values never do (and Spark's
    * default sort-before-repartition keeps the placement deterministic
    * under retries), so every oracle hash is unchanged. Applied only where
    * the downstream per-row work is expensive; narrow projection queries
    * with exchange-free plan pins (q73/q76/q83/q87/q111...) keep the bare
    * scan. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Shared (id, key) bucket frame for the skew family (q54/q55/q56):
    * documents keyed by lang AND source, hashed with distinct prefixes.
    * NULL keys are excluded up front — xxhash64 skips NULL inputs (all
    * NULL-lang docs would share one bucket) while the oracles' equality
    * joins / GROUP BYs treat NULLs differently; the filter pins one
    * semantic for engine and oracle alike. */
  private def langSourceKeyed(spark: SparkSession, dir: String): DataFrame =
    spread(t(spark, dir, "documents")).select("doc_id", "lang", "source")
      .where(col("lang").isNotNull && col("source").isNotNull)
      .select(col("doc_id").as("id"),
        explode(array(xxhash64(lit("lang"), col("lang")),
          xxhash64(lit("source"), col("source")))).as("key"))

  /** Documents corpus + a near-duplicate variant per doc (one appended token,
    * shingle Jaccard ~0.99) — makes the LSH dedup output exactly enumerable. */
  private def docsWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(t(spark, dir, "documents")).select("doc_id", "text")
    d.union(d.select(col("doc_id") + 100000, concat(col("text"), lit(" zz"))))
  }

  /** Documents corpus + an identical copy per doc (SimHash Hamming = 0). */
  private def docsWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(t(spark, dir, "documents")).select("doc_id", "text")
    d.union(d.select(col("doc_id") + 100000, col("text")))
  }

  private def embWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val e = spread(t(spark, dir, "embeddings")).select("vec_id", "embedding")
    e.union(e.select(col("vec_id") + 100000, col("embedding")))
  }

  /** Flagship: full image near-dup pipeline on a seeded synthetic table
    * (BASELINE.json north rule); returns cluster assignments. */
  def entry(spark: SparkSession): DataFrame = {
    val images = ImageGen.generate(spark, bases = 40, seed = 42L)
    DedupPipeline.run(spark, images.toDF(), DedupConfig.default)
      .assignments.orderBy("image_id")
  }

  /** Cache lifecycle across a long drive — investigated in round 6 and
    * deliberately left UNCHANGED. The operator family persists feature
    * frames and one-shot queries never unpersist, so entries accumulate
    * across a 125-query drive; an inter-query
    * `catalog.clearCache()` (+ RDD-level unpersist for localCheckpoint
    * blocks) was prototyped and benched. Verdict from three full-suite
    * runs inside the same hypervisor-steal window: totals statistically
    * identical (206.5 / 205.9 / 204.0 s) — the pileup's eviction cost and
    * the cleared state's lost pass-2 cache reuse trade within noise, and
    * in a calm window (the round-5 baseline run) the uncleaned state is
    * measurably the faster one because the min-of-2-passes estimator
    * keeps the warm-cache pass. A same-session 30-query slice that first
    * suggested a 116 -> 95 s win for clearing did not replicate — two
    * sequential runs straddling a steal-window boundary (the BENCH.md
    * round-3 lesson). BenchExtra keeps the BENCH_EXTRA_CLEAR_CACHE knob
    * for future A/Bs. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scans / projections / filters / aggregations (SURVEY 2.1-2.2, 2.4)
    "q01_pricing_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_time_slice" -> ((s, d) => {
      // reference DataSegment time-slice filter (bucket_data.py:43-47)
      EventReplay.timeSlice(t(s, d, "events"), "ts",
          lit("2024-01-05").cast("timestamp"), lit("2024-01-15").cast("timestamp"))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }),

    // ---- joins (SURVEY 2.3)
    "q03_revenue_by_segment" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("c_mktsegment")
    }),

    "q04_brand_volume" -> ((s, d) => {
      // small dims are broadcast (plan asserts in the spec)
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("p_brand")
    }),

    "q05_customers_with_orders" -> ((s, d) => {
      // existing-report semi filter (events_from_state.py:88)
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q06_parts_never_ordered" -> ((s, d) => {
      // seen-hash anti-join pattern (event_state_model.py:94-101)
      t(s, d, "part")
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    }),

    // ---- windows / sorts / top-k (SURVEY 2.5)
    "q07_top_orders_per_customer" -> ((s, d) => {
      t(s, d, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "q08_last_event_per_user" -> ((s, d) => {
      // attach/detach replay, batch form (event_state_model.py:45-62)
      EventReplay.currentAssignments(t(s, d, "events"),
          idCol = "user_id", clusterCol = "event_type", tsCol = "ts", evIdCol = "event_id")
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    "q09_event_type_stats" -> ((s, d) => {
      // dataset statistics (print_dataset_sizes.py:50-76)
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    "q10_prior_events_window" -> ((s, d) => {
      // forget_days retention window as a range frame (issues_selector.py:17-48)
      EventReplay.priorEventsWithin(t(s, d, "events"), forgetDays = 1,
          partitionCol = "user_id")
        .select("event_id", "user_id", "prior_in_window")
        .orderBy("event_id")
    }),

    // ---- text analysis over documents (SURVEY 2.4 df/idf + pipeline ops)
    "q11_df_idf" -> ((s, d) => {
      // document frequency + IDF (classic/fast.py:17-36, cross_encoders/lerch.py:22-33)
      val docs = t(s, d, "documents")
      val n = docs.count()
      docs.select(explode(array_distinct(split(col("text"), " "))).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token")
        .agg(count(lit(1)).as("df"))
        .withColumn("idf", round(lit(1.0) + log(lit(n.toDouble) / (col("df") + 1)), 6))
        .orderBy("token")
    }),

    "q12_dedup_exact" -> ((s, d) => {
      Dedup.exact(docsWithExactDups(s, d), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    "q13_token_stats" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          token_count(col("text")).as("n_tokens"),
          subword_count(col("text")).as("n_subwords"),
          length(col("text")).as("text_chars"))
        .orderBy("doc_id")
    }),

    "q14_lang_stopwords" -> ((s, d) => {
      // stopword_ratio (2x regexp_replace + split + regexp_count) is
      // projected ONCE and both outputs derive from the column: inlining
      // lang_id(text) would evaluate the whole chain a second time per row
      // if codegen subexpression elimination doesn't fire on the projection.
      // Two selects stay two Projects — CollapseProject refuses to inline a
      // non-cheap producer referenced more than once. pred_lang thresholds
      // the UNROUNDED ratio (the lang_id contract and the oracle's CASE).
      spread(t(s, d, "documents"))
        .select(col("doc_id"), stopword_ratio(col("text")).as("__sr"))
        .select(col("doc_id"),
          round(col("__sr"), 4).as("stop_ratio"),
          lang_id_from_ratio(col("__sr")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // ---- signature dedup (north rule operators; outputs exactly enumerable)
    "q15_minhash_dup_pairs" -> ((s, d) => {
      Dedup.minhashLshPairs(docsWithNearDups(s, d), "doc_id", "text",
          DedupConfig.default)
        .select("a", "b").orderBy("a")
    }),

    "q16_simhash_dup_pairs" -> ((s, d) => {
      // restrict to the enumerable (orig, exact-copy) pairs: Hamming distance
      // 0 makes both recall (chunk pigeonhole) and the oracle exact; the
      // fuzzy-Hamming behavior is golden-tested in DedupSpec instead
      Dedup.simhashPairs(docsWithExactDups(s, d), "doc_id", "text",
          DedupConfig.default)
        .where(col("b") - col("a") === 100000)
        .select("a", "b").orderBy("a")
    }),

    "q17_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id", "rank")
    }),

    "q18_embedding_neardup" -> ((s, d) => {
      Dedup.embeddingNearDupPairs(embWithExactDups(s, d), "vec_id", "embedding",
          cosineMin = 0.99)
        .select("a", "b").orderBy("a")
    }),

    "q19_cc_exact_groups" -> ((s, d) => {
      // connected components over exact-dup edges: every (orig, copy1, copy2)
      // triple must land in one component labeled by its min doc_id
      val docs = t(s, d, "documents").select("doc_id", "text")
      val corpus = docs
        .union(docs.select(col("doc_id") + 100000, col("text")))
        .union(docs.select(col("doc_id") + 200000, col("text")))
      val groups = Dedup.exactGroups(corpus, "doc_id", "text")
      val edges = groups.where(col("doc_id") =!= col("dup_group_id"))
        .select(col("doc_id").as("src"), col("dup_group_id").as("dst"))
      val cc = ConnectedComponents.run(edges)
      val singletons = corpus.select(col("doc_id").as("id"))
        .join(cc.select("id"), Seq("id"), "left_anti")
        .withColumn("component", col("id"))
      cc.union(singletons).select(col("id"), col("component")).orderBy("id")
    }),

    "q20_rank_clusters" -> ((s, d) => {
      // RankingModel semantics (ranking_model.py:55-75): score events per
      // user, attribute to event_type "clusters", per-cluster max, top-3
      val ev = t(s, d, "events")
      val pairScores = ev.select(col("user_id").as("query_id"),
        col("event_id").as("item_id"), col("value").as("score"))
      val assignments = ev.select(col("event_id").as("item_id"),
        col("event_type").as("cluster_id"))
      Ranking.rankClusters(pairScores, assignments, k = 3)
        .select(col("query_id"), col("cluster_id"),
          round(col("cluster_score"), 2).as("cluster_score"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q21_eval_metrics" -> ((s, d) => {
      // Acc@k / MRR harness (evaluator.py:12-18). Truth is INDEPENDENT of the
      // ranking signal: truth cluster = the user's modal event_type by count
      // (ties to the lexicographically smallest), while ranking is by max
      // event value — so the metrics are real fractions the oracle recomputes
      // from scratch and the check can actually fail.
      val ev = t(s, d, "events")
      val pairScores = ev.select(col("user_id").as("query_id"),
        col("event_id").as("item_id"), col("value").as("score"))
      val assignments = ev.select(col("event_id").as("item_id"),
        col("event_type").as("cluster_id"))
      val ranked = Ranking.rankClusters(pairScores, assignments, k = 3)
      val truth = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("__n").desc, col("event_type"))))
        .where(col("__rn") === 1)
        .select(col("user_id").as("query_id"),
          col("event_type").as("true_cluster_id"))
      Metrics.accuracyAndMrr(ranked, truth, Seq(1, 3))
        .select(round(col("acc_at_1"), 6).as("acc_at_1"),
          round(col("acc_at_3"), 6).as("acc_at_3"),
          round(col("mrr"), 6).as("mrr"))
    }),

    "q22_event_admission" -> ((s, d) => {
      // admission predicate (event_state_model.py:81-104): admitted = typed
      // events treated as labeled attaches; cluster from the JSON props
      val ev = t(s, d, "events")
        .withColumn("cluster_id",
          get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("label", col("event_type").isin("click", "purchase"))
        .withColumnRenamed("user_id", "image_id")
      val admittedEv = EventReplay.admitted(ev,
        contentHashes = ev.select(col("image_id"), col("image_id").as("content_hash")).limit(0),
        onlyLabeled = true, dupAttach = true)
      admittedEv.select("event_id", "image_id", "cluster_id").orderBy("event_id")
    }),

    "q23_image_pipeline" -> ((s, _) => {
      // flagship synthetic image dedup (no DuckDB oracle — golden-tested in
      // ImagePipelineSpec against the brute-force oracle + ground truth)
      val images = ImageGen.generate(s, bases = 60, seed = 42L)
      DedupPipeline.run(s, images.toDF(), DedupConfig.default)
        .assignments.orderBy("image_id")
    }),

    "q24_multimodal_decode" -> ((s, _) => {
      val images = ImageGen.generate(s, bases = 30, seed = 42L).toDF()
      Multimodal.decodeFeatures(s, images)
        .select("image_id", "decoded", "dec_w", "dec_h")
        .orderBy("image_id")
    }),

    "q26_lerch_pair_score" -> ((s, d) => {
      // Lerch TF-IDF pair scoring (SURVEY 2.4 / 2.9) over the near-dup corpus
      val corpus = docsWithNearDups(s, d)
      val pairs = t(s, d, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 100000).as("b"))
      TextScores.lerchPairScores(corpus, pairs, "doc_id", "text")
        .select(col("a"), col("b"), round(col("lerch_score"), 4).as("lerch_score"))
        .orderBy("a")
    }),

    "q27_set_ops" -> ((s, d) => {
      // token-set intersection/union sizes per near-dup pair (SURVEY 2.6)
      val docs = t(s, d, "documents").select("doc_id", "text")
      val a = docs.select(col("doc_id").as("a"),
        array_distinct(split(col("text"), " ")).as("ta"))
      val b = docs.select(col("doc_id").as("a"),
        array_distinct(split(concat(col("text"), lit(" zz")), " ")).as("tb"))
      a.join(b, "a")
        .select(col("a"),
          size(array_intersect(col("ta"), col("tb"))).as("n_common"),
          size(array_union(col("ta"), col("tb"))).as("n_union"),
          size(array_except(col("tb"), col("ta"))).as("n_only_b"))
        .orderBy("a")
    }),

    "q28_tail_truncate" -> ((s, d) => {
      // tail truncation to max_len + SOS/EOS (SURVEY 2.5,
      // reference tokenizers/padding.py:22-39)
      val toks = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ",
            concat(array(lit("<s>")), slice(toks, -5, 5), array(lit("</s>"))))
            .as("tail_seq"))
        .orderBy("doc_id")
    }),

    "q29_bootstrap_ci" -> ((s, d) => {
      // bootstrap CI of mean event value (SURVEY 2.4,
      // reference ea/common/evaluation/intervals.py:18-32). The percentile
      // endpoints are engine-specific (seeded Poisson resampling), but the
      // run emits STRUCTURAL invariants a SQL oracle can check exactly —
      // the q25/q30 pattern: the input stats (n_rows, data mean) recomputed
      // by the oracle from the table, the resample count DERIVED from the
      // bootstrap's own output (bootstrapCI counts its resample means — a
      // literal here would verify nothing), and the CI's order/range
      // properties. ci_lo <= ci_hi and [v_min, v_max] containment hold for
      // ANY correct bootstrap (resample means are convex combinations of
      // the data); ci_brackets_mean — avg of resample means inside their
      // own 2.5/97.5 percentile band — is NOT universal for arbitrarily
      // skewed resample-mean distributions, but the draw is fully seeded
      // and deterministic, so on THIS table it is a stable reproducible
      // bit, not a flaky assertion. Exact percentile values stay
      // spec-gated in MetricsSpec (determinism + hand-computed cases).
      val ev = spread(t(s, d, "events"))
      val ci = Metrics.bootstrapCI(ev, "value", "event_id")
      val stats = ev.agg(count(lit(1)).as("n_rows"),
        round(avg("value"), 4).as("data_mean"),
        min("value").as("v_min"), max("value").as("v_max"))
      ci.crossJoin(stats).select(
        col("n_rows"), col("data_mean"),
        col("n_resamples").cast("int").as("resamples"),
        (col("ci_lo") <= col("ci_hi")).as("ci_ordered"),
        (col("ci_lo") <= col("mean") && col("mean") <= col("ci_hi"))
          .as("ci_brackets_mean"),
        (col("ci_lo") >= col("v_min") && col("ci_hi") <= col("v_max"))
          .as("ci_within_data_range"))
    }),

    "q30_fast_align" -> ((s, d) => {
      // FaST positional alignment (SURVEY 2.9) with a closed-form oracle:
      // per doc, a synthetic ALL-DISTINCT token array a = [w0..w(n-1)],
      // n = 3 + doc_id % 7. With alpha = 0 every positional weight is 1, so
      // fast_align(a, a) = 2n/2n = 1 exactly, and appending one unmatched
      // token gives 2n/(2n+1) — both SQL-expressible, upgrading q30 from a
      // rows-only check (full pair semantics unit-tested in TextScoresSpec)
      val docs = t(s, d, "documents").select("doc_id")
      val n = (lit(3) + col("doc_id") % 7).cast("int")
      val toks = transform(sequence(lit(0), n - 1), i => concat(lit("w"), i))
      docs.select(col("doc_id"),
          round(fast_align(toks, toks), 4).as("score_self"),
          round(fast_align(toks,
            concat(toks, array(lit("zz")))), 4).as("score_pad"))
        .orderBy("doc_id")
    }),

    "q35_fbeta_sweep" -> ((s, d) => {
      // F-beta threshold sweep via cumulative window sums (reference
      // metrics/wrappers/f_beta/helpers.py:86-117 iterative sweep)
      val scored = spread(t(s, d, "events"))
        .select(col("value").as("score"), (col("event_type") === "click").as("is_new"))
      Metrics.fBetaSweep(scored, "score", "is_new", beta = 1.0)
        .select(round(col("threshold"), 2).as("threshold"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("fbeta"), 6).as("fbeta"))
        .orderBy(col("threshold"))
    }),

    "q49_fbeta_sweep_v2" -> ((s, d) => {
      // AttachFBetaV2 sweep — ImprovedUpdateRule(reverse=True) (reference
      // attach_f_beta_v2.py:10 + f_beta/helpers.py:47-81): recall counts a
      // not-new prediction whose retrieval MISSED (is_hit false) as a false
      // negative. is_hit derives deterministically from event_id so the
      // DuckDB oracle re-derives it
      val scored = spread(t(s, d, "events"))
        .select(col("value").as("score"),
          (col("event_type") === "click").as("is_new"),
          (col("event_id") % 3 === 0).as("is_hit"))
      Metrics.fBetaSweepV2(scored, "score", "is_new", "is_hit", beta = 1.0)
        .select(round(col("threshold"), 2).as("threshold"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("fbeta"), 6).as("fbeta"))
        .orderBy(col("threshold"))
    }),

    "q36_roc_auc" -> ((s, d) => {
      // ROC-AUC in Mann-Whitney rank form (reference
      // metrics/wrappers/attach_roc_auc.py:11-16)
      val scored = spread(t(s, d, "events"))
        .select(col("value").as("score"), (col("event_type") === "click").as("is_new"))
      val auc = Metrics.rocAuc(scored, "score", "is_new")
      import s.implicits._
      // HALF_UP to match DuckDB's round-half-away on positive doubles
      Seq(BigDecimal(auc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toDF("auc")
    }),

    "q34_regex_filter" -> ((s, d) => {
      // regex admission filter (reference issue_events_filter.py:10-37
      // ticket-pattern regex on comments, grafted to document text)
      t(s, d, "documents")
        .where(regexp_like(col("text"), lit("\\bspark\\b.*\\bjoin\\b")))
        .select("doc_id").orderBy("doc_id")
    }),

    "q32_training_pairs" -> ((s, d) => {
      // positive-pair mining per cluster with a deterministic sample cap
      // (reference datasets/pair.py:22-57; user_id plays the issue id)
      val asg = spread(t(s, d, "events")).select(col("event_id"), col("user_id"))
      TrainingData.pairs(asg, "event_id", "user_id", maxPerCluster = 3)
        .select(col("cluster_id"), col("a"), col("b"))
        .orderBy("cluster_id", "a", "b")
    }),

    "q33_training_triplets" -> ((s, d) => {
      // pair + deterministic cross-cluster negative (datasets/triplet.py:23-62)
      val asg = spread(t(s, d, "events")).select(col("event_id"), col("user_id"))
      TrainingData.triplets(asg, "event_id", "user_id", maxPerCluster = 2)
        .select(col("cluster_id"), col("a"), col("b"), col("neg"))
        .orderBy("cluster_id", "a", "b")
    }),

    "q31_quality_score" -> ((s, d) => {
      // length/punct/stopword quality heuristic (training-data pipeline op)
      spread(t(s, d, "documents"))
        .select(col("doc_id"), quality_score(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    "q25_fingerprint" -> ((s, d) => {
      // rolling-hash document fingerprint (content-identity analogue,
      // stack.py:54-57). The raw 64-bit fp is engine-specific, so the check
      // asserts its defining STRUCTURE instead (q39's structural-oracle
      // pattern): a copy of the text — fingerprinted on a SEPARATE row, so
      // the comparison crosses a real shuffle — matches, and a one-token
      // append differs
      val docs = t(s, d, "documents").select("doc_id", "text")
      val base = docs.select(col("doc_id"),
        rolling_fingerprint(col("text")).as("fp"),
        rolling_fingerprint(concat(col("text"), lit(" zz"))).as("fp_zz"))
      val copies = docs.select(col("doc_id").as("doc_id2"),
        rolling_fingerprint(col("text")).as("fp_copy"))
      base.join(copies, col("doc_id") === col("doc_id2"))
        .select(col("doc_id"),
          (col("fp") === col("fp_copy")).as("copy_match"),
          (col("fp") =!= col("fp_zz")).as("append_differs"))
        .orderBy("doc_id")
    }),

    "q37_event_ranking" -> ((s, d) => {
      // THE reference entry point, end to end (ranking_model.py:15-101 +
      // event_state_model.py:106-121): per query event, as-of candidates
      // under forget_days (day-bucketed equi-join, no range join), retrieval
      // top-n, per-cluster max, min-score default for unscored in-window
      // clusters (ranking_model.py:67-73), rank, truncate. user_id plays the
      // issue id; score = value proximity.
      // query slice: every 10th error event — keeps the as-of fan-out
      // (queries x in-window candidates) bounded across sf levels while the
      // candidate side stays complete
      EventRanking.replayRank(spread(t(s, d, "events")),
          queryFilter = col("event_type") === "error" &&
            col("event_id") % 10 === 0,
          score = -abs(col("q_val") - col("c_val")),
          forgetDays = 1, retrievalTopN = 20, k = 3, minScore = -1000.0,
          idCol = "event_id", clusterCol = "user_id")
        .select(col("query_id"), col("cluster_id"),
          round(col("cluster_score"), 2).as("cluster_score"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q38_retrieval_topk" -> ((s, d) => {
      // retrieval top-n truncation (retrieval_model.py:15-21) as its own
      // driver query: per-user top-5 events by value
      val ev = t(s, d, "events")
      Ranking.topKItems(ev.select(col("user_id").as("query_id"),
          col("event_id").as("item_id"), col("value").as("score")), k = 5)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id", "rank")
    }),

    "q39_lsh_ann_rank1" -> ((s, d) => {
      // SRP-LSH top-k (Ann.lshTopK) on corpus + exact copies: a copy's
      // signature equals its original's in EVERY table, so the (copy ->
      // original) collision is structural and rank 1 is the cosine-1.0
      // original — an enumerable oracle that exercises the full LSH path
      val emb = spread(t(s, d, "embeddings")).select("vec_id", "embedding")
      val corpus = emb.unionByName(
        emb.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val queriesDf = corpus.where(col("vec_id") >= 100000)
      Ann.lshTopK(corpus, queriesDf, "vec_id", "embedding", k = 3)
        .where(col("rank") === 1)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id")
    }),

    "q40_lcs_verify" -> ((s, d) => {
      // suffix/LCS exact-long-match detector as the ONLY firing rule
      // (north-rule third signature method): variants share the full original
      // text as a substring but carry enough unique junk tokens that Jaccard
      // stays far below the 0.95 gate; Hamming is disabled (hammingMax = -1).
      // Corpus is a small slice — LCS is the expensive detector by design.
      val cfg = DedupConfig.default.copy(
        jaccardMin = 0.95, hammingMax = -1, lcsMin = 60)
      val docs = spread(t(s, d, "documents"))
        .where(col("doc_id") < 60 && col("n_chars") >= 80)
        .select("doc_id", "text")
      val variants = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" "), concat_ws(" ",
          transform(sequence(lit(1), lit(40)),
            i => concat(lit("j"), col("doc_id"), lit("x"), i)))).as("text"))
      val corpus = docs.unionByName(variants)
      val feat = Dedup.textFeatures(corpus, "doc_id", "text", cfg)
      val buckets = CandidateGen.explodeBands(
        feat.where(size(col("shingles")) > 0), "id", "band_keys")
      val pairs = CandidateGen.pairsFromBuckets(buckets, cfg.maxBucketSize)
      // restrict to each doc's own (orig, variant) pair: the corpus carries
      // genuine cross-doc long matches too (e.g. built-in near-dup docs share
      // >= 60-char runs), which the detector correctly finds but which no
      // closed-form oracle can enumerate — same enumerability move as q16
      VerifyStage.verify(pairs, feat, feat, cfg)
        .where(col("is_dup") && col("b") - col("a") === 100000)
        .select("a", "b").orderBy("a")
    }),

    "q43_prefix_unique_members" -> ((s, d) => {
      // cross-issue unique member listing, prefix semantics
      // (stack_state_model.py:25-47): per (issue=user, content=event_type),
      // only the chronologically-first event survives
      EventReplay.uniqueMembers(spread(t(s, d, "events")),
          issueCol = "user_id", hashCol = "event_type", orderCol = "event_id")
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    }),

    "q44_normalize_seq" -> ((s, d) => {
      // exception-set normalize `sorted(set(errors), reverse=True)`
      // (entry_coders.py:91) + frame-order reversal (entry_coders.py:73) +
      // days-diff projection (events_from_state.py:68-69) in one pass
      t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ",
            reverse(array_sort(array_distinct(split(col("text"), " ")))))
            .as("norm_errors"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("rev_frames"))
        .orderBy("doc_id")
    }),

    "q45_csv_state_scan" -> ((s, d) => {
      // label-state CSV scan (events_from_state.py:71-73): state.csv columns
      // (timestamp, rid, iid) read with an explicit schema and sorted by
      // timestamp. The CSV is materialized once from the events table so the
      // query exercises a REAL csv source, not a parquet stand-in.
      val csvDir = s"/tmp/graft_state_csv_${d.replaceAll("\\W", "_")}"
      val marker = new org.apache.hadoop.fs.Path(csvDir, "_SUCCESS")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        t(s, d, "events")
          .select(col("ts").cast("timestamp").cast("long").as("timestamp"),
            col("event_id").as("rid"), col("user_id").as("iid"))
          .write.mode("overwrite").option("header", "true").csv(csvDir)
      }
      s.read
        .schema("timestamp LONG, rid LONG, iid LONG")
        .option("header", "true").csv(csvDir)
        // ts -> day offset projection (events_from_state.py:68-69)
        .withColumn("day", floor(col("timestamp") / 86400).cast("long"))
        .orderBy("timestamp", "rid")
        .select("timestamp", "rid", "iid", "day")
    }),

    "q42_dataset_converter" -> ((s, d) => {
      // external-corpus on-ramp (helpers/dataset_converter.py:7-58): build a
      // JSON corpus from documents (dup_id present for 2 of 3 rows), run the
      // converter, emit the event log — (rid, iid) with self-id fallback
      val raw = t(s, d, "documents").select(to_json(struct(
        col("doc_id").as("id"),
        lit("2024-01-01 00:00:00").as("ts"),
        col("text"),
        when(col("doc_id") % 3 =!= 0, col("doc_id") % 100).as("dup_id")))
        .as("json"))
      val (_, events) = DatasetConverter.convert(raw)
      events.select(col("record_id").as("rid"), col("cluster_id").as("iid"))
        .orderBy("rid")
    }),

    "q41_pair_metrics" -> ((s, d) => {
      // dup-pair recall/precision (Metrics.pairRecallPrecision — the
      // BASELINE.json gate shape) with GENUINELY differing sets: predicted =
      // LSH pairs at Jaccard >= 0.5; oracle set = brute-force pairs at 0.3.
      // The 0.4-Jaccard variants land in the oracle set but not the
      // prediction, so recall is a real fraction both engines compute
      // independently. Corpus is a fixed slice: the brute-force oracle is
      // O(n^2) BY DESIGN (it is the thing LSH replaces) and must stay
      // bounded at every sf the bench runs.
      val docs = t(s, d, "documents").select("doc_id", "text")
        .where(col("doc_id") < 200)
      val midJunk = concat_ws(" ", transform(
        sequence(lit(1), ceil(size(split(col("text"), " ")) * 1.5).cast("int")),
        i => concat(lit("k"), col("doc_id"), lit("x"), i)))
      val corpus = docs
        .unionByName(docs.select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text")))
        .unionByName(docs.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" "), midJunk).as("text")))
      val predicted = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        DedupConfig.default)
      val oracle = Dedup.bruteForceJaccardPairs(corpus, "doc_id", "text",
        DedupConfig.default.copy(jaccardMin = 0.3))
      Metrics.pairRecallPrecision(predicted, oracle)
        .select(round(col("recall"), 6).as("recall"),
          round(col("precision"), 6).as("precision"),
          col("oracle_pairs"), col("predicted_pairs"), col("matched_pairs"))
    }),

    "q46_ngram_jaccard_exact" -> ((s, d) => {
      // EXACT prefix-filtered n-gram Jaccard join (AllPairs family): same
      // corpus + threshold as q15, but zero recall loss by construction — the
      // result must equal the brute-force oracle pair-for-pair
      Dedup.ngramJaccardPairs(docsWithNearDups(s, d), "doc_id", "text",
          DedupConfig.default)
        .select("a", "b").orderBy("a", "b")
    }),

    "q48_last_update_window" -> ((s, d) => {
      // second forget-days variant (LastUpdateIssueSelector,
      // issues_selector.py:17-29): clusters active within the window expose
      // ALL their pre-query members — per-query aggregate keeps output small
      val ev = spread(t(s, d, "events"))
      val queriesDf = ev.where(col("event_type") === "error" &&
          col("event_id") % 20 === 0)
        .select(col("event_id").as("query_id"), col("ts"))
      val cands = ev.select(col("event_id").as("item_id"), col("ts"),
        col("user_id").as("cluster_id"))
      EventRanking.asOfCandidatesLastUpdate(queriesDf, cands, forgetDays = 1)
        .groupBy("query_id")
        .agg(countDistinct("cluster_id").as("n_clusters"),
          count(lit(1)).as("n_candidates"),
          min("item_id").as("min_item"))
        .orderBy("query_id")
    }),

    "q47_ivf_ann_rank1" -> ((s, d) => {
      // IVF top-k (Ann.ivfTopK) on corpus + exact copies: a copy is assigned
      // to its original's cell (identical vector, deterministic tie-break)
      // and always probes that cell first, so rank 1 is the cosine-1.0
      // original — enumerable oracle exercising the full quantize/probe path
      val emb = spread(t(s, d, "embeddings")).select("vec_id", "embedding")
      val corpus = emb.unionByName(
        emb.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val queriesDf = corpus.where(col("vec_id") >= 100000)
      Ann.ivfTopK(corpus, queriesDf, "vec_id", "embedding", k = 3,
          nlist = 16, nProbe = 4)
        .where(col("rank") === 1)
        .select("query_id", "item_id", "rank")
        .orderBy("query_id")
    }),

    "q50_pq_adc_guarantee" -> ((s, d) => {
      // Product-quantization ADC invariant (Ann.pqTopK): a query vector's
      // own codes are per-subspace argmax of its lookup table (encode and
      // LUT share the same L2-via-dot score q_sub.c - ||c||^2/2), so NO
      // corpus item can ADC-score strictly above the query's own original —
      // and double addition is monotone, so the termwise domination survives
      // the float sum. Emitting that check per query exercises codebook
      // training, encoding, LUT construction and ADC ranking end to end with
      // an enumerable oracle (every row hit = true).
      val emb = spread(t(s, d, "embeddings")).select("vec_id", "embedding")
      // query side capped at 500 so the flat cross-score stays proportionate
      // at larger sf (the corpus side still grows with sf)
      val queriesDf = emb.where(col("vec_id") < 500).select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val books = Ann.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, k = 16, iters = 1)
      val top1 = Ann.pqTopK(emb, queriesDf, books, "vec_id", "embedding", k = 1)
      val own = Ann.pqScorePairs(
        queriesDf.select(col("vec_id").as("query_id"),
          (col("vec_id") - 100000).as("item_id")),
        emb, queriesDf, books, "vec_id", "embedding")
        .select(col("query_id"), col("adc").as("own_adc"))
      top1.join(own, "query_id")
        .select(col("query_id"), (col("own_adc") >= col("adc")).as("hit"))
        .orderBy("query_id")
    }),

    "q52_ivfpq_residual_guarantee" -> ((s, d) => {
      // Residual IVFADC invariant (Ann.ivfPqResidualTopK — the FAISS
      // IndexIVFPQ default, where q50 covers the flat-codes variant): a
      // query copying a corpus vector is assigned the copy's cell
      // (deterministic tie-break), probes exactly that cell at nProbe = 1,
      // and every same-cell candidate shares its lookup table — the copy's
      // codes are the per-subspace argmax of that table, so no candidate
      // ADC-scores strictly above the query's own original. Exercises
      // coarse training, residual codebook training, cell assignment,
      // probe selection, residual encode and the per-(query, cell) LUT +
      // cross-cell adjustment end to end with an enumerable oracle.
      val emb = spread(t(s, d, "embeddings")).select("vec_id", "embedding")
      val queriesDf = emb.where(col("vec_id") < 500).select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding",
        nlist = 16, iters = 1)
      val books = Ann.pqResidualCodebooks(emb, cents, "vec_id", "embedding",
        m = 4, k = 16, iters = 1)
      val top1 = Ann.ivfPqResidualTopK(emb, queriesDf, cents, books,
        "vec_id", "embedding", k = 1, nProbe = 1)
      val own = Ann.pqResidualScorePairs(
        queriesDf.select(col("vec_id").as("query_id"),
          (col("vec_id") - 100000).as("item_id")),
        emb, queriesDf, cents, books, "vec_id", "embedding")
        .select(col("query_id"), col("adc").as("own_adc"))
      top1.join(own, "query_id")
        .select(col("query_id"), (col("own_adc") >= col("adc")).as("hit"))
        .orderBy("query_id")
    }),

    "q53_cluster_agreement" -> ((s, d) => {
      // Partition-level agreement (Metrics.clusterAgreement: ARI + NMI)
      // between two portable assignment rules over a copy-augmented corpus:
      // A groups exact text (one pair-cluster per doc + its copy), B groups
      // a 12-char text prefix — coarser, since prefixes collide across
      // distinct docs — so both scores land strictly inside (0, 1) and the
      // oracle recomputes them from first principles. Labels are the raw
      // grouping keys: agreement metrics see only co-membership, so no
      // engine-specific hashing is involved. doc_id < 100000 keeps the copy
      // ids disjoint from original ids at EVERY scale factor (a collision
      // would fan the engine's id join out where the oracle reads row-wise).
      val docs = t(s, d, "documents").select("doc_id", "text")
        .where(col("doc_id") < 100000)
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val aAsg = corpus.select(col("doc_id").as("id"), col("text").as("c"))
      val bAsg = corpus.select(col("doc_id").as("id"),
        substring(col("text"), 1, 12).as("c"))
      Metrics.clusterAgreement(aAsg, bAsg, "id", "c")
        .select(col("n"), col("clusters_a"), col("clusters_b"),
          round(col("ari"), 6).as("ari"), round(col("nmi"), 6).as("nmi"))
    }),

    "q54_salted_band_pairs" -> ((s, d) => {
      // Triangular band-key salting (CandidateGen.saltedAllPairs): EXACT
      // intra-bucket all-pairs when a bucket blows past the skew cap — the
      // north-rule "band-key salting" device, as a first-class query. Keys
      // are portable group keys (lang, source) so the oracle can enumerate
      // the identical pair set with a plain self-join: the handful of lang
      // buckets (~100-200 rows each) exceed the cap of 32 and take the
      // salted grid, the 20 source buckets (25 rows) stay on the
      // small-bucket all-pairs join, and the final distinct merges pairs
      // that share both keys. Salting reshapes only the physical plan —
      // membership is key-derived — so the oracle is exact, not
      // approximate.
      CandidateGen.pairsFromBuckets(langSourceKeyed(s, d), maxBucketSize = 32,
          saltOversized = true)
        .orderBy("a", "b")
    }),

    "q55_skew_stats" -> ((s, d) => {
      // The measurement half of q54's salting: SkewStats.bucketHistogram
      // over the same portable (lang, source) bucket keys — per
      // power-of-two size class (bit length of the bucket size: exact
      // integer arithmetic, no float-log edge cases), how many buckets,
      // member rows, the class max, and the all-pairs workload the class
      // would emit. This is the one-shuffle profile a 100 TB run reads
      // BEFORE picking maxBucketSize / saltOversized.
      SkewStats.bucketHistogram(langSourceKeyed(s, d))
    }),

    "q56_heavy_keys" -> ((s, d) => {
      // SkewStats.heavyKeys: the over-cap keys q54's salting would split,
      // with the announced grid shape (groups = ceil(n/cap), cells =
      // g(g+1)/2). The hashed key itself is engine-internal, so the query
      // projects the portable shape columns; at cap=32 exactly the lang
      // buckets qualify and the 25-row source buckets do not.
      SkewStats.heavyKeys(langSourceKeyed(s, d), cap = 32)
        .select("bucket_n", "groups", "cells")
        .orderBy(desc("bucket_n"))
    }),

    "q51_long_match_pairs" -> ((s, d) => {
      // winnowed-anchor exact long-match (Dedup.longMatchPairs — the
      // north-rule suffix-array substring pass, distributed): plant
      // junk+orig+junk variants whose 60 unique junk tokens push set
      // similarity far below any banding regime — unlike q40's detector,
      // recall here is GUARANTEED by the shared run alone (winnowing: any
      // pair sharing an exact >= minLen-char run shares an anchor), and the
      // emitted LCS has the closed form len(orig) (orig is contiguous in its
      // variant, and no common substring can exceed the shorter side)
      val docs = t(s, d, "documents")
        .where(col("doc_id") < 40 && col("n_chars").between(120, 1000))
        .select("doc_id", "text")
      def junk(tag: String) = concat_ws(" ",
        transform(sequence(lit(1), lit(30)),
          i => concat(lit(tag), col("doc_id"), lit("_"), i)))
      val variants = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(junk("u"), lit(" "), col("text"), lit(" "), junk("x")).as("text"))
      val corpus = docs.unionByName(variants)
      // same enumerability restriction as q40: the corpus also carries
      // genuine cross-doc long matches (built-in near-dup docs) that no
      // closed-form oracle can list
      Dedup.longMatchPairs(corpus, "doc_id", "text", minLen = 64, k = 16)
        .where(col("b") - col("a") === 100000)
        .select("a", "b", "lcs")
        .orderBy("a")
    }),

    "q57_incremental_neardup" -> ((s, d) => {
      // incremental near-dup: NEW batch (every doc re-ingested with one
      // appended token, Jaccard ~0.97 vs its original) against the existing
      // corpus — the daily-ingest shape (Dedup.incrementalNearDupPairs; the
      // batch analogue of the reference's incremental index insert,
      // faiss.py:40-51). Oracle = brute-force bipartite trigram Jaccard:
      // exact by the q15 argument (LSH recall 1.0 at this config for
      // near-identical pairs), bipartite edition
      val corpus = spread(t(s, d, "documents")).select("doc_id", "text")
      val fresh = corpus.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      Dedup.incrementalNearDupPairs(fresh, corpus, "doc_id", "text",
          DedupConfig.default)
        .select("a", "b")
        .orderBy("a", "b")
    }),

    "q58_tfidf_cosine" -> ((s, d) => {
      // TF-IDF vector cosine (reference mix/lerch.py:13-58 TfIdfEncoder +
      // IP similarity, cosine-normalized) over the q26 pair set
      val corpus = docsWithNearDups(s, d)
      val pairs = t(s, d, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + 100000).as("b"))
      TextScores.tfidfCosinePairs(corpus, pairs, "doc_id", "text")
        .select(col("a"), col("b"),
          round(col("tfidf_cosine"), 4).as("tfidf_cosine"))
        .orderBy("a")
    }),

    "q59_group_signatures" -> ((s, d) => {
      // mergeable MinHash group signatures (Dedup.groupSignatures): per lang
      // group, elementwise-min of member sigs == sig(union of shingle sets)
      // — the min-merge property, emitted as the merged_eq_union bit the
      // oracle pins TRUE; counts/lengths recomputed by SQL
      Dedup.groupSignatures(
          t(s, d, "documents").where(col("lang").isNotNull),
          "doc_id", "text", "lang", DedupConfig.default, verifyUnion = true)
        .select("group", "n_members", "sig_len", "merged_eq_union")
        .orderBy("group")
    }),

    "q60_repetition_quality" -> ((s, d) => {
      // Gopher/FineWeb-family repetition signals: distinct-token ratio +
      // duplicate-bigram fraction (TextScores.repetitionSignals)
      TextScores.repetitionSignals(spread(t(s, d, "documents")), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q62_quality_top_fraction" -> ((s, d) => {
      // exact global top-fraction quality gate (FineWeb-style "keep the best
      // 25% by score"), distributed via value-bucketed prefix sums — no
      // global window (Ranking.topFractionGlobal). Tie-INCLUSIVE semantics:
      // the coarse quality score makes the boundary tie group large, which
      // is exactly the case an arbitrary intra-tie cut would get wrong
      val scored = spread(t(s, d, "documents"))
        .select(col("doc_id"), quality_score(col("text")).as("quality"))
      Ranking.topFractionGlobal(scored, "quality", frac = 0.25)
        .select("doc_id", "quality", "kept")
        .orderBy("doc_id")
    }),

    "q61_semantic_dedup" -> ((s, d) => {
      // SemDeDup (cluster-restricted embedding dedup) with planted exact
      // duplicates: identical vectors always co-cell (deterministic
      // assignment), cosine 1 >= 0.999, and no non-planted pair reaches
      // 0.999 (the q18 argument) — groups exactly enumerable
      Dedup.semanticDedupGroups(embWithExactDups(s, d), "vec_id", "embedding",
          cosineMin = 0.999, nlist = 16)
        .orderBy("id")
    }),

    "q63_tfidf_index_topk" -> ((s, d) => {
      // TF-IDF as the retrieval INDEX (reference eval_lerch_as_index.py:
      // 36-38): candidates come from the sparse posting-list join itself,
      // score = sum(idf^2) over shared distinct tokens, per-query top-10.
      // Queries = every 25th doc; self-matches excluded (the reference
      // retrieval never returns the anchor). Rank is computed on the
      // ROUNDED score so tie-breaking (item_id asc) is oracle-deterministic
      // — raw double sums can differ in the last ulp across engines'
      // summation orders and silently swap a tie.
      val docs = spread(t(s, d, "documents"))
      val queries = docs.where(col("doc_id") % 25 === 0)
      val scored = TextScores.tfidfIndexScores(docs, queries, "doc_id", "text")
        .where(col("query_id") =!= col("item_id"))
        .withColumn("score", round(col("score"), 4))
      Ranking.topKItems(scored, 10)
        .select("query_id", "item_id", "rank", "score")
        .orderBy("query_id", "rank")
    }),

    "q64_bipartite_hotkey" -> ((s, d) => {
      // planted-hot-key gate for the incremental dedup join
      // (CandidateGen.bipartitePairsFromBuckets): ~40% of each side shares
      // band key 0 (the degenerate-boilerplate shape), the rest spread over
      // 96 cold keys. maxBucketSize = 64 puts key 0 far over the
      // 64*63/2-pair volume ceiling, so BOTH oversized paths execute:
      // `salted` must equal the exact cross-pair set (grid salting is a
      // plan device, not a semantics change) and `degrade` must keep only
      // each left row x the hot key's 8 smallest-id right rows. The oracle
      // recomputes both sets in plain SQL.
      val docs = spread(t(s, d, "documents"))
      val key = when(col("doc_id") % 10 < 4, lit(0L))
        .otherwise(col("doc_id") % 97)
      val l = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a"), key.as("key"))
      val r = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("b"), key.as("key"))
      CandidateGen.bipartitePairsFromBuckets(l, r, maxBucketSize = 64,
          saltOversized = false)
        .withColumn("mode", lit("degrade"))
        .unionByName(CandidateGen.bipartitePairsFromBuckets(l, r,
            maxBucketSize = 64, saltOversized = true)
          .withColumn("mode", lit("salted")))
        .select("mode", "a", "b")
        .orderBy("mode", "a", "b")
    }),

    "q65_incremental_assign" -> ((s, d) => {
      // delta connected components (ConnectedComponents.incrementalRun):
      // fold a day's evidence into an EXISTING labeling without
      // re-clustering the corpus — the clustering leg of the daily-ingest
      // story (q57/q64 are the evidence leg). Corpus = every doc twice
      // (orig + its 200000 copy), deliberately labeled as singletons
      // ("yesterday's corpus, not yet merged"); batch = a third exact copy
      // (+100000). Evidence = exact-group star edges over the combined
      // frame, mixing new-corpus and corpus-corpus delta edges. The
      // relabeled corpus view plus the new-node labels must equal the
      // from-scratch labeling: every triple collapses to component = base
      // doc_id — the q19 shape, reached incrementally.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val corpus = docs.union(docs.select(col("doc_id") + 200000, col("text")))
      val assignments = corpus.select(col("doc_id").cast("long").as("id"),
        col("doc_id").cast("long").as("component"))
      val fresh = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val groups = Dedup.exactGroups(corpus.union(fresh), "doc_id", "text")
      val delta = groups.where(col("doc_id") =!= col("dup_group_id"))
        .select(col("doc_id").cast("long").as("src"),
          col("dup_group_id").cast("long").as("dst"))
      val inc = ConnectedComponents.incrementalRun(assignments, delta)
      ConnectedComponents.applyRelabels(assignments, inc.relabels)
        .union(inc.newAssignments)
        .orderBy("id")
    }),

    "q66_dedup_cascade" -> ((s, d) => {
      // tiered dedup cascade (Dedup.cascade): exact -> near -> semantic,
      // each tier on the previous tier's survivors. Planted so every tier
      // fires: +100000 = exact copy (exact tier), +200000 = one appended
      // token (near tier, jaccard >= 0.8), +300000 = two-token unique text
      // (zero trigrams — invisible to the text tiers) carrying the base
      // row's EXACT embedding (semantic tier at cosine 0.999; natural
      // embedding pairs top out at 0.51). The oracle recomputes all three
      // tiers in SQL — near-tier groups via recursive min-label CC over
      // brute-force trigram Jaccard, so the documents table's natural
      // near-dup chains (incl. their +200000 variants) resolve exactly,
      // and canonical ids resolve through later tiers the way cascade()
      // documents (a near loser's members follow its semantic fate).
      val docs = spread(t(s, d, "documents")).select("doc_id", "text")
      val emb = spread(t(s, d, "embeddings"))
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val base = docs.join(emb, "doc_id")
      val frame = base
        .unionByName(base.select((col("doc_id") + 100000).as("doc_id"),
          col("text"), col("embedding")))
        .unionByName(base.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"), col("embedding")))
        .unionByName(base.select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("sem "), col("doc_id").cast("string")).as("text"),
          col("embedding")))
      Dedup.cascade(frame, "doc_id", "text", "embedding",
          DedupConfig.default, cosineMin = 0.999, nlist = 16)
        .orderBy("id")
    }),

    "q67_incremental_semantic" -> ((s, d) => {
      // bipartite SemDeDup evidence (Dedup.incrementalSemanticPairs): a new
      // batch (every corpus embedding re-ingested under +100000) against the
      // corpus, through the corpus-trained coarse quantizer. The oracle is
      // the full brute-force bipartite cosine join — identical vectors land
      // in the same cell, so the cell restriction loses nothing at this
      // threshold (natural cross pairs top out at cosine 0.51)
      val emb = spread(t(s, d, "embeddings")).select("vec_id", "embedding")
      val fresh = emb.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))
      Dedup.incrementalSemanticPairs(fresh, emb, "vec_id", "embedding",
          cosineMin = 0.999, nlist = 16)
        .select("a", "b")
        .orderBy("a", "b")
    }),

    "q68_canonical_by_quality" -> ((s, d) => {
      // canonical-by-quality near-dup groups (Dedup.minhashLshGroupsBy) on
      // the q15 corpus (each doc + a ' zz'-appended near-copy under
      // +100000), quality = char length. The appended copy is strictly
      // longer, so every planted pair's canonical flips to the +100000
      // member — the opposite of the min-id convention — and natural
      // near-dup chains resolve to their longest member. Oracle recomputes
      // brute-force trigram-Jaccard edges + recursive min-label CC (the q66
      // device) + the same (quality desc, id asc) argmax window.
      val frame = docsWithNearDups(s, d)
        .withColumn("quality", length(col("text")))
      Dedup.minhashLshGroupsBy(frame, "doc_id", "text", "quality",
          DedupConfig.default)
        .orderBy("doc_id")
    }),

    "q69_dedup_audit" -> ((s, d) => {
      // per-run dedup audit histogram (Dedup.auditHistogram) over the q15
      // corpus's near-dup groups: natural chains in `documents` give
      // cluster sizes beyond the planted 2s, so the histogram has real
      // shape. Oracle rebuilds the groups via brute-force trigram Jaccard +
      // recursive min-label CC (the q68 device) and aggregates identically.
      val groups = Dedup.minhashLshGroups(docsWithNearDups(s, d),
        "doc_id", "text", DedupConfig.default)
      Dedup.auditHistogram(groups, "dup_group_id")
        .orderBy("cluster_size")
    }),

    "q70_tfidf_index_eval" -> ((s, d) => {
      // the reference's eval-Lerch-as-index END STATE: the TF-IDF retrieval
      // index (q63) evaluated by the metrics harness (q21's Acc@k/MRR,
      // evaluator.py:12-18). Corpus = documents (the fitted index); queries
      // = a 1-in-20 SAMPLE of docs re-issued with an appended token under
      // +100000 — UNSEEN by the index, the way the reference queries new
      // reports against the fitted encoder (and sampled the way the
      // reference evaluates on a query subset, not the corpus crossed with
      // itself: all-docs-as-queries measured 102 s at sf0.1 and is
      // near-quadratic at scale). Truth: the original. Scores rounded +
      // item-id tie-break exactly as q63; MRR is rank-truncated at k=5
      // (only top-5 retrieval results exist, the retrieval-model contract).
      val docs = spread(t(s, d, "documents")).select("doc_id", "text")
      val queries = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val scored = TextScores.tfidfIndexScores(docs, queries, "doc_id", "text")
        .withColumn("score", round(col("score"), 4))
      val ranked = Ranking.topKItems(scored, 5)
        .select(col("query_id"), col("item_id").as("cluster_id"), col("rank"))
      val truth = queries.select(col("doc_id").as("query_id"),
        (col("doc_id") - 100000).as("true_cluster_id"))
      Metrics.accuracyAndMrr(ranked, truth, Seq(1, 5))
        .select(round(col("acc_at_1"), 6).as("acc_at_1"),
          round(col("acc_at_5"), 6).as("acc_at_5"),
          round(col("mrr"), 6).as("mrr"))
    }),

    "q71_assignment_churn" -> ((s, d) => {
      // churn between two assignment snapshots (Dedup.assignmentDiff):
      // `before` = exact-only groups over the corpus minus a tranche
      // (doc_id % 89 == 7 arrives later -> 'added'); `after` = near-dup
      // groups over the corpus minus a deletion sweep (doc_id % 97 == 3 ->
      // 'removed'). Every text in the q15 corpus is unique, so the exact
      // label is the id itself and 'relabeled' counts exactly the non-min
      // members of after's near-dup components — the oracle recomputes all
      // of it (recursive CC over the FILTERED corpus: deleting a chain
      // member genuinely splits components).
      val corpus = docsWithNearDups(s, d)
      val before = Dedup.exactGroups(
        corpus.where(col("doc_id") % 89 =!= 7), "doc_id", "text")
      val after = Dedup.minhashLshGroups(
        corpus.where(col("doc_id") % 97 =!= 3), "doc_id", "text",
        DedupConfig.default)
      Dedup.assignmentDiff(before, after, "doc_id", "dup_group_id")
        .orderBy("status")
    }),

    "q72_contamination" -> ((s, d) => {
      // decontamination report (Dedup.contaminationReport): benchmark =
      // every 7th doc perturbed by one appended token (leaks — near-dups
      // its corpus original at jaccard ~0.97) plus clean probes ('probe
      // <id>', two tokens -> a single whole-sequence shingle no corpus
      // trigram can match). Oracle recomputes the bipartite brute-force
      // jaccard evidence (the q57 device) and the same three aggregates.
      val corpus = spread(t(s, d, "documents")).select("doc_id", "text")
      val leaked = corpus.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text"))
      val clean = corpus.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("probe "), col("doc_id").cast("string")).as("text"))
      Dedup.contaminationReport(leaked.unionByName(clean), corpus,
        "doc_id", "text", DedupConfig.default)
    }),

    "q73_phash_orbit" -> ((s, d) => {
      // the D4 orbit kernels (transpose / rot90 / full-dihedral canonical —
      // the rotation-invariant image-dedup signature space) validated
      // against an independent engine: p is a deterministic 64-bit grid
      // hash built from (doc_id, n_chars) with overflow-safe arithmetic
      // BOTH engines evaluate exactly (xor/shift/mask only; bit 63 set via
      // the two's-complement +MinValue device), and the oracle re-derives
      // every transform as an explicit 64-term bit permutation, LEAST-ing
      // the eight symmetries for the canonical. Hash-equality here proves
      // the delta-swap transpose and the whole orbit algebra bit-for-bit.
      val p0 = col("doc_id") * lit(2654435761L) + col("n_chars") * lit(40503L)
      val p1 = p0.bitwiseXOR(shiftleft(p0.bitwiseAND(lit(4294967295L)), 31))
      val p2 = p1.bitwiseXOR(shiftright(p1, 17))
      val p3 = p2.bitwiseXOR(shiftleft(p2.bitwiseAND(lit(65535L)), 47))
      val p = p3 + shiftright(p3, 5).bitwiseAND(lit(1L)) * lit(Long.MinValue)
      t(s, d, "documents")
        .select(col("doc_id"), p.as("p"))
        .select(col("doc_id"), col("p"),
          phash_transpose(col("p")).as("p_t"),
          phash_rot90(col("p")).as("p_r90"),
          phash_canonical_d4(col("p")).as("p_canon"))
        .orderBy("doc_id")
    }),

    "q74_oph_dup_pairs" -> ((s, d) => {
      // one-permutation MinHash (cfg.oph: OPH + optimal densification,
      // HashKernels.ophArray — ONE hash per shingle instead of numHashes
      // multiply-adds, the web-scale featurization kernel) through the SAME
      // LSH band + exact-Jaccard verify DAG as q15. The brute-force oracle
      // is signature-scheme-independent: verify makes precision exact, and
      // OPH band recall is complete on this corpus — so the pair set must
      // EQUAL q15's, proving kernel swap changes cost, not semantics.
      Dedup.minhashLshPairs(docsWithNearDups(s, d), "doc_id", "text",
          DedupConfig.default.copy(oph = true))
        .select("a", "b").orderBy("a")
    }),

    "q75_bloom_known" -> ((s, d) => {
      // Bloom-prefiltered exact membership (Dedup.bloomKnownExact): batch =
      // every 3rd doc re-crawled verbatim (known) + fresh probe pages
      // (unknown). The sketch probe is a narrow zero-shuffle projection;
      // only might_known rows reach the exact verify join, and is_known is
      // EXACT — the oracle recomputes plain raw-text membership.
      val corpus = t(s, d, "documents").select("doc_id", "text")
      val recrawled = corpus.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      val fresh = corpus.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(lit("fresh page "), col("doc_id").cast("string")).as("text"))
      Dedup.bloomKnownExact(recrawled.unionByName(fresh), corpus,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q76_stratified_sample" -> ((s, d) => {
      // reproducible-by-construction corpus mixture (Curation
      // .stratifiedSample): per-lang keep rates as a narrow md5-threshold
      // filter — membership is a pure function of (salt, doc_id), never of
      // rand() or execution order, so the oracle re-derives the exact sample
      // by recomputing the hash compare in SQL
      Curation.stratifiedSample(
          t(s, d, "documents").select("doc_id", "lang")
            .where(col("lang").isNotNull),
          "doc_id", "lang", Map("en" -> 0.8), defaultRate = 0.25)
        .orderBy("doc_id")
    }),

    "q77_sequence_packing" -> ((s, d) => {
      // LLM-pretraining sequence packing (Curation.packAssignments):
      // concat-then-chunk layout over 512-token context windows; the global
      // running offset is OrderedScan.cumSums (value-bucketed prefix sums,
      // no single-partition window — the q62 machinery), the rest is narrow
      Curation.packAssignments(
          t(s, d, "documents")
            .select(col("doc_id"), token_count(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", 512L)
        .select("doc_id", "n_tokens", "start_offset", "bin_first", "bin_last")
        .orderBy("doc_id")
    }),

    "q78_per_source_cap" -> ((s, d) => {
      // RefinedWeb-style per-domain cap (Curation.capPerKey): at most 5 docs
      // per source, best-first by (n_chars desc, doc_id asc) — one shuffle
      // on the key, per-key window
      Curation.capPerKey(
          t(s, d, "documents").select("doc_id", "source", "n_chars")
            .where(col("source").isNotNull),
          "source", 5, Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    "q79_ngram_novelty" -> ((s, d) => {
      // exact n-gram novelty vs the corpus (TextScores.noveltyExact —
      // posting equi-join on 8-byte shingle hashes): re-crawls score 0.0,
      // one appended token scores 1/(n-1) (one new tail trigram), 3-novel-
      // token probes score 1.0. The zero-shuffle bloom path is spec-gated
      // (lower bound only — fpp); this oracled query pins the exact one.
      val corpus = spread(t(s, d, "documents")).select("doc_id", "text")
      val batch =
        corpus.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        .unionByName(corpus.where(col("doc_id") % 4 === 1)
          .select((col("doc_id") + 600000).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text")))
        .unionByName(corpus.where(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 700000).as("doc_id"),
            concat(lit("qq"), col("doc_id").cast("string"),
              lit(" ww"), col("doc_id").cast("string"),
              lit(" ee"), col("doc_id").cast("string")).as("text")))
      TextScores.noveltyExact(batch, corpus, "doc_id", "text",
          DedupConfig.default)
        .orderBy("id")
    }),

    "q80_quality_gate_by_lang" -> ((s, d) => {
      // per-group exact top-fraction (Ranking.topFractionByGroup): keep the
      // best 25% of EACH language by quality score, tie-inclusive — the
      // FineWeb per-language threshold. The window runs over distinct
      // (lang, quality) rows only (quality is rounded to 2 places), never
      // data-sized partitions.
      val docs = spread(t(s, d, "documents"))
        .where(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          quality_score(col("text")).as("quality"))
      Ranking.topFractionByGroup(docs, "lang", "quality", 0.25)
        .select("doc_id", "lang", "quality", "kept")
        .orderBy("doc_id")
    }),

    "q81_line_dedup" -> ((s, d) => {
      // corpus-wide boilerplate-LINE removal (Curation
      // .removeBoilerplateLines — the CCNet/RefinedWeb line-dedup pass):
      // plant a shared header on every 5th doc and a shared footer on every
      // 3rd; any line >= 5 chars appearing in >= 10 distinct docs is removed
      // from ALL of them, per-doc line order preserved, every doc returned
      // (possibly empty). Lines shuffle as 8-byte hashes; the heavy set is
      // boilerplate-sized so the flag join broadcasts.
      val planted = t(s, d, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, lit("SHARED HEADER LINE\n"))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0, lit("\nCOOKIE BANNER ACCEPT"))
            .otherwise(lit(""))).as("text"))
      Curation.removeBoilerplateLines(planted, "doc_id", "text", minDf = 10)
        .orderBy("doc_id")
    }),

    "q82_mixture_sample" -> ((s, d) => {
      // data-mixing sampler (Curation.mixtureSample): per-lang char budgets
      // at weights en/de/fr = 0.5/0.35/0.15 over an 80k-char budget; rates
      // derive from EXACT long char totals (fixed-order IEEE arithmetic both
      // engines), the keep test is the q76 md5-threshold device, so the
      // oracle re-derives rates AND membership in SQL. de clamps to rate 1.0
      // at sf<=0.01 (smaller than its allotment); es/zh are unweighted ->
      // excluded.
      Curation.mixtureSample(
          t(s, d, "documents").select("doc_id", "lang", "n_chars")
            .where(col("lang").isNotNull),
          "doc_id", "lang", "n_chars", q82Weights, q82Budget)
        .orderBy("doc_id")
    }),

    "q83_pii_redaction" -> ((s, d) => {
      // PII scrub (Curation.redactPii — the Dolma/CCNet redaction tier):
      // the synthetic docs are PII-free word salad, so plant deterministic
      // PII — every 4th doc an email, every 6th an IPv4, every 5th an
      // international phone; redaction replaces each family with its token
      // and counts matches on the text state its redaction sees. One narrow
      // codegen projection; the oracle re-runs the same RE2-compatible
      // patterns in DuckDB.
      val planted = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, concat(lit(" mail user"),
            col("doc_id").cast("string"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 6 === 0, concat(lit(" from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(lit(" call +1 555 01"),
            (col("doc_id") % 100).cast("string"), lit(" ok")))
            .otherwise(lit(""))).as("text"))
      Curation.redactPii(planted, "doc_id", "text").orderBy("doc_id")
    }),

    "q84_leakfree_split" -> ((s, d) => {
      // cluster-coherent train/eval split (Curation.leakFreeSplit): plant
      // exact dups (every 4th doc re-appears as doc_id+100000), assignments
      // = Dedup.exactGroups min-id labels; the split unit is the CLUSTER so
      // a dup pair can never straddle train and eval — the leakage
      // contaminationReport (q72) measures, prevented at split time. Unit
      // membership is the md5-threshold device at evalFrac=0.3, re-derived
      // exactly by the oracle.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val planted = docs.union(
        docs.where(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val assignments = Dedup.exactGroups(planted, "doc_id", "text")
      Curation.leakFreeSplit(planted, "doc_id", assignments,
          "doc_id", "dup_group_id", evalFrac = 0.3)
        .select("doc_id", "split_unit", "split")
        .orderBy("doc_id")
    }),

    "q85_heavy_ngrams" -> ((s, d) => {
      // corpus-wide boilerplate n-gram report (TextScores.heavyNgrams):
      // plant a shared cookie-banner sentence on every 3rd doc; every word
      // trigram in >= 20 distinct docs comes back with its df and total
      // count. One explode + one aggregation (map-side partial combine);
      // the n-gram string shuffles because the report needs the text back.
      val planted = spread(t(s, d, "documents")).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" accept all cookies to continue browsing this site"))
            .otherwise(lit(""))).as("text"))
      TextScores.heavyNgrams(planted, "doc_id", "text", n = 3, minDf = 20)
        .orderBy("ngram")
    }),

    "q86_exact_quantiles" -> ((s, d) => {
      // exact distributed quantiles (SkewStats.exactQuantiles —
      // PERCENTILE_DISC semantics, no approxQuantile error, no
      // single-partition sort): doc-length profile that sizes the length
      // filters / token budgets. Distinct-value collapse + value-bucketed
      // cumSums + literal probe explode; the oracle is DuckDB's own
      // quantile_disc — an independent implementation of the definition.
      SkewStats.exactQuantiles(t(s, d, "documents"), "n_chars",
          Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
        .orderBy("q")
    }),

    "q87_dup_line_signals" -> ((s, d) => {
      // intra-doc duplicate-line signals (TextScores.duplicateLineSignals):
      // plant a looping doc shape on every 2nd doc (its text twice plus a
      // unique tail); the dup-line fraction separates loopers from clean
      // docs. Pure narrow projection — scan-speed at 100 TB.
      val planted = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws("\n", col("text"), col("text"),
            concat(lit("tail "), col("doc_id").cast("string"))))
          .otherwise(col("text")).as("text"))
      TextScores.duplicateLineSignals(planted, "doc_id", "text")
        .orderBy("id")
    }),

    "q88_crop_dups" -> ((s, _) => {
      // crop-resilient image dedup (Dedup.cropDups): 300 synthetic bases,
      // each paired with one lossless lattice-2 crop (quadrant / right
      // half / bottom half cycling by base). Recall is guaranteed by the
      // regionCells arithmetic identity, precision by the raw-cell-grid
      // key, so the EXACT planted pair set is the oracle — enumerable in
      // SQL (generate_series), making this the image query a DuckDB oracle
      // CAN check (unlike q23/q24, no pixel decode needed on the oracle
      // side: determinism does the work).
      import s.implicits._
      val images = s.range(0L, 300L, 1L, 32).as[Long].flatMap { i =>
        val png = graft.synth.ImageCodec.encodePng(ImageGen.renderBase(777L, i))
        val (lx0, ly0, lx1, ly1) = (i % 3) match {
          case 0 => (0, 0, 1, 1)   // top-left quadrant
          case 1 => (1, 0, 2, 2)   // right half
          case _ => (0, 1, 2, 2)   // bottom half
        }
        val crop = ImageGen.cropOf(png, 2, lx0, ly0, lx1, ly1)
        Seq((f"b$i%04d", png, "png"), (f"c$i%04d", crop, "png"))
      }.toDF("image_id", "bytes", "fmt")
      // minContrast = 0: every region keys, so n_regions is pure lattice
      // geometry — a quadrant crop shares only its own full frame (1), a
      // half crop also re-aligns its two halves with source quadrants (3)
      Dedup.cropDups(s, images, lattice = 2, minContrast = 0.0)
        .select("a", "b", "n_regions").orderBy("a", "b")
    }),

    "q89_border_dups" -> ((s, _) => {
      // border-resilient image dedup (Dedup.borderDups): 300 bases, each
      // re-posted inside a solid bar whose width cycles 2..14 px and whose
      // color alternates black/white. Both sides trim to pixel-identical
      // content (the contentBounds invariant), so the planted pair set is
      // exact and SQL-enumerable — recall AND precision, no pixel decode on
      // the oracle side (the q88 device for the border transform).
      import s.implicits._
      val images = s.range(0L, 300L, 1L, 32).as[Long].flatMap { i =>
        val png = graft.synth.ImageCodec.encodePng(ImageGen.renderBase(919L, i))
        val bordered = ImageGen.withBorder(png, px = (i % 13).toInt + 2,
          rgb = if (i % 2 == 0) 0x000000 else 0xFFFFFF)
        Seq((f"b$i%04d", png, "png"), (f"p$i%04d", bordered, "png"))
      }.toDF("image_id", "bytes", "fmt")
      Dedup.borderDups(s, images, minContrast = 0.0)
        .select("a", "b").orderBy("a", "b")
    }),

    "q90_lm_perplexity" -> ((s, d) => {
      // corpus-trained bigram LM quality score (TextScores.bigramLmScores):
      // the classical perplexity filter of web-pipeline curation, trained
      // by aggregation and applied by join — the model never leaves the
      // cluster. Self-scored here (docs = corpus, the classic shape); the
      // oracle retrains the identical counts in SQL, so the check is exact
      // end to end (counts are integers, the only float step is the final
      // per-doc mean of logs, rounded like every float oracle in this map).
      val docs = spread(t(s, d, "documents"))
      TextScores.bigramLmScores(docs, docs, "doc_id", "text").orderBy("id")
    }),

    "q91_containment_pairs" -> ((s, d) => {
      // exact directional n-gram containment (Dedup.containmentPairs): the
      // small-inside-big copy shape Jaccard misses. Corpus = documents +
      // planted snippets (first 25 tokens of every doc with >= 30 tokens,
      // contained in its source at exactly 1.0); the prefix-filtered join
      // is exact, so DuckDB's brute-force posting join is a full oracle.
      val docs = spread(t(s, d, "documents"))
      val snippets = docs.select(col("doc_id"), tokens(col("text")).as("l"))
        .where(size(col("l")) >= 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat_ws(" ", slice(col("l"), 1, 25)).as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(snippets)
      Dedup.containmentPairs(corpus, "doc_id", "text", DedupConfig.default, 0.8)
        .orderBy("a", "b")
    }),

    "q92_overlay_dups" -> ((s, _) => {
      // overlay-resilient image dedup (Dedup.overlayDups): 300 bases, each
      // re-posted with a solid stamp strictly inside one grid-4 tile (the
      // tile cycles through all 16 positions). Tile keys outside the stamp
      // are exact, so every planted pair shares exactly 15 of 16 tiles —
      // the q88/q89 enumeration device for the third re-post transform.
      import s.implicits._
      val images = s.range(0L, 300L, 1L, 32).as[Long].flatMap { i =>
        val png = graft.synth.ImageCodec.encodePng(ImageGen.renderBase(555L, i))
        val side = graft.synth.ImageCodec.decode(png).getWidth
        val tile = side / 4
        val (tx, ty) = ((i % 4).toInt, ((i / 4) % 4).toInt)
        val stamped = ImageGen.withOverlay(png, tx * tile + 2, ty * tile + 2,
          tile - 4, tile - 4, if (i % 2 == 0) 0xFF0000 else 0x0000FF)
        Seq((f"b$i%04d", png, "png"), (f"o$i%04d", stamped, "png"))
      }.toDF("image_id", "bytes", "fmt")
      Dedup.overlayDups(s, images, grid = 4, minTiles = 12, minContrast = 0.0)
        .select("a", "b", "n_tiles").orderBy("a", "b")
    }),

    "q93_frequency_spectrum" -> ((s, d) =>
      // corpus Zipf diagnostic (TextScores.frequencySpectrum): token
      // frequency-of-frequencies — hapax mass and boilerplate tail in one
      // tiny table; two map-side-combining aggregations, nothing collects
      TextScores.frequencySpectrum(t(s, d, "documents"), "text")
        .orderBy("freq")),

    "q94_cluster_churn" -> ((s, d) => {
      // cluster-level churn (Metrics.clusterChurn): before = events
      // clustered by user; after = an engineered re-run that splits every
      // 7th user by event parity, merges the users at residues 1 and 2,
      // and relabels the rest 1:1 (structural stability — labels moved).
      // The oracle recomputes the same contingency logic in SQL.
      val e = spread(t(s, d, "events")).select(col("event_id").as("id"),
        col("user_id").cast("long").as("u"))
      val before = e.select(col("id"), col("u").as("c"))
      val after = e.select(col("id"),
        when(col("u") % 7 === 0, col("u") * 10 + col("id") % 2)
          .when(col("u") % 7 === 1 || col("u") % 7 === 2,
            lit(20000000L) + (col("u") - col("u") % 7))
          .otherwise(lit(30000000L) + col("u")).as("c"))
      Metrics.clusterChurn(before, after, "id", "c")
    }),

    "q95_caption_spam" -> ((s, _) => {
      // cross-modal spam report (Curation.captionSpam): 4 planted spam
      // captions over 15 DISTINCT images each flag; 10 one-image galleries
      // (5 re-posts of one payload) and 30 unique captions do not — the
      // distinct-payload count is the whole point, so the enumeration
      // oracle checks precision and recall of exactly that
      import s.implicits._
      val images = s.range(0L, 100L, 1L, 32).as[Long].flatMap { i =>
        if (i < 60L)
          Seq((f"s$i%03d", graft.synth.ImageCodec.encodePng(
            ImageGen.renderBase(333L, i)), s"promo ${i % 4}"))
        else if (i < 70L) {
          val one = graft.synth.ImageCodec.encodePng(
            ImageGen.renderBase(333L, 1000L + i))
          (0 until 5).map(j => (f"g$i%03d_$j", one, s"gallery $i"))
        } else
          Seq((f"u$i%03d", graft.synth.ImageCodec.encodePng(
            ImageGen.renderBase(333L, 2000L + i)), s"unique caption $i"))
      }.toDF("image_id", "bytes", "caption")
      Curation.captionSpam(images, "caption", "bytes", minImages = 3)
        .select("caption", "n_images", "n_rows").orderBy("caption")
    }),

    "q96_temperature_rates" -> ((s, d) =>
      // temperature-flattened mixing rates (Curation.temperatureRates):
      // alpha = 0.5 square-root flattening over per-language char mass —
      // the T5-style multilingual sampling knob; the oracle re-derives
      // share^(alpha-1) normalized to max 1 in SQL
      Curation.temperatureRates(t(s, d, "documents"), "lang", "n_chars",
        alpha = 0.5).orderBy("stratum")),

    "q97_embedding_report" -> ((s, d) =>
      // embedding-corpus sanity report (Validate.embeddingReport): the
      // pre-flight gate before the ANN/SemDeDup families — zero/non-finite
      // counts, dim cardinality, norm extremes; one narrow pass, one agg row
      Validate.embeddingReport(t(s, d, "embeddings"), "embedding")),

    "q98_bm25_index_topk" -> ((s, d) => {
      // BM25 as the retrieval index (TextScores.bm25IndexScores): the q63
      // posting-join shape with Okapi saturation + length normalization.
      // Same determinism device as q63: rank on the ROUNDED score so ties
      // break identically across engines.
      val docs = spread(t(s, d, "documents"))
      val queries = docs.where(col("doc_id") % 25 === 0)
      val scored = TextScores.bm25IndexScores(docs, queries, "doc_id", "text")
        .where(col("query_id") =!= col("item_id"))
        .withColumn("score", round(col("score"), 4))
      Ranking.topKItems(scored, 10)
        .select("query_id", "item_id", "rank", "score")
        .orderBy("query_id", "rank")
    }),

    "q99_transitivity_audit" -> ((s, d) => {
      // chain-collapse diagnostic (Metrics.transitivityAudit): global
      // clustering coefficient of a pair graph via degree-ordered triangle
      // counting. Input = a deterministic tripartite graph derived from
      // event ids (three residue families), dense enough to close many
      // triangles; the oracle recomputes edges + wedges + triangles in SQL.
      val e = t(s, d, "events").select(col("event_id").cast("long").as("id"))
      val pairs = e.select((col("id") % 61).as("a"),
          (lit(100L) + col("id") % 53).as("b"))
        .union(e.select((lit(100L) + col("id") % 53).as("a"),
          (lit(200L) + col("id") % 47).as("b")))
        .union(e.select((col("id") % 61).as("a"),
          (lit(200L) + col("id") % 47).as("b")))
      Metrics.transitivityAudit(pairs)
    }),

    "q100_lsh_plan" -> ((s, _) => {
      // analytic banding planner (Dedup.lshPlan): every factorization of a
      // 128-hash signature scored against Jaccard threshold 0.8; the oracle
      // recomputes the S-curve point values and midpoint-rule areas in SQL
      Dedup.lshPlan(s, 128, 0.8)
    }),

    "q101_distribution_drift" -> ((s, d) => {
      // corpus drift gate (TextScores.distributionDrift): KL/JS/TV between
      // the token distributions of two deterministic corpus slices
      // (doc_id parity); Jeffreys alpha=0.5 over the union vocabulary
      val docs = t(s, d, "documents")
      TextScores.distributionDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text")
    }),

    "q102_cap_loss_report" -> ((s, d) => {
      // cap-loss accounting (CandidateGen.capLossReport): planted keyed
      // frame with 25 small buckets (size 2) and 3 hot keys; cap 16,
      // neighborhood 4 — the oracle recomputes the pair arithmetic in SQL
      val keyed = t(s, d, "documents").select(col("doc_id").as("id"),
        when(col("doc_id") < 50, col("doc_id") % 25)
          .otherwise(lit(25L) + col("doc_id") % 3).as("key"))
      CandidateGen.capLossReport(keyed, 16, 4)
    }),

    "q103_bipartite_cap_loss" -> ((s, d) => {
      // incremental-path cap-loss accounting (bipartiteCapLossReport):
      // left keys 0/1 stay small (exact), keys 2-4 go hot (degraded at
      // cap 40, neighborhood 4); oracle recomputes the volumes in SQL
      val docs = t(s, d, "documents")
      val left = docs.select(col("doc_id").as("a"),
        when(col("doc_id") < 6, lit(0L))
          .when(col("doc_id") < 12, lit(1L))
          .otherwise(col("doc_id") % 3 + 2).as("key"))
      val right = docs.select(col("doc_id").as("b"),
        (col("doc_id") % 5).as("key"))
      CandidateGen.bipartiteCapLossReport(left, right, 40, 4)
    }),

    "q104_data_card" -> ((s, d) =>
      // one-row dataset card (Curation.dataCard): volume, dup/empty counts,
      // exact median length, English share — oracle recomputes all of it
      Curation.dataCard(spread(t(s, d, "documents")), "doc_id", "text")),

    "q105_scale_dups" -> ((s, _) => {
      // scale-resilient image dedup (Dedup.scaleDups): 300 synthetic bases,
      // each with a 2x nearest-neighbor upscale, every third also a 3x —
      // the q88 device for the rescale transform: recall is guaranteed by
      // scaleKey's exact integer arithmetic (renderBase dims are multiples
      // of 16), precision by the 64-cell + aspect key, so the EXACT planted
      // pair set (triangles where the 3x exists) is the oracle
      import s.implicits._
      val images = s.range(0L, 300L, 1L, 32).as[Long].flatMap { i =>
        val png = graft.synth.ImageCodec.encodePng(ImageGen.renderBase(991L, i))
        val fam = Seq((f"b$i%04d", png, "png"),
          (f"u$i%04d", ImageGen.upscaleOf(png, 2), "png"))
        if (i % 3 == 0)
          fam :+ ((f"v$i%04d", ImageGen.upscaleOf(png, 3), "png"))
        else fam
      }.toDF("image_id", "bytes", "fmt")
      Dedup.scaleDups(s, images, minContrast = 0.0).orderBy("a", "b")
    }),

    "q106_dup_by_stratum" -> ((s, d) => {
      // per-stratum exact-dup report (Dedup.dupRateByStratum): documents
      // plus a planted quarter-corpus 'recrawl' stratum (the q15 + 100000
      // id device); the oracle regroups on the raw text in SQL
      val docs = t(s, d, "documents").select("doc_id", "text", "source")
      val recrawl = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          lit("recrawl").as("source"))
      Dedup.dupRateByStratum(docs.unionByName(recrawl),
        "doc_id", "text", "source")
    }),

    "q107_embedding_drift" -> ((s, d) => {
      // embedding-space drift gate (Validate.embeddingDrift) between the
      // vec_id-parity slices; means rounded before the cosine so the
      // statistic is a pure function of the two rounded mean vectors
      val emb = t(s, d, "embeddings")
      Validate.embeddingDrift(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), "embedding")
    }),

    "q108_geometric_dups" -> ((s, _) => {
      // unified geometric-canonical dedup (Dedup.geometricDups): 150 bases,
      // each with a letterboxed re-post, a 2x NN upscale, and the COMPOUND
      // rescaled letterbox — the pair neither borderDups nor scaleDups can
      // catch alone; the planted 4-cliques are the oracle (the q88 device)
      import s.implicits._
      val images = s.range(0L, 150L, 1L, 32).as[Long].flatMap { i =>
        val png = graft.synth.ImageCodec.encodePng(ImageGen.renderBase(337L, i))
        val bar = ImageGen.withBorder(png, 4 + (i % 5).toInt, 0x2040FF)
        Seq((f"b$i%04d", png, "png"), (f"l$i%04d", bar, "png"),
          (f"u$i%04d", ImageGen.upscaleOf(png, 2), "png"),
          (f"c$i%04d", ImageGen.upscaleOf(bar, 2), "png"))
      }.toDF("image_id", "bytes", "fmt")
      Dedup.geometricDups(s, images, minContrast = 0.0).orderBy("a", "b")
    }),

    "q109_packing_report" -> ((s, d) =>
      // packing-efficiency summary (Curation.packingReport) over the q77
      // layout: windows filled, straddler fraction, budget fill fraction
      Curation.packingReport(
        t(s, d, "documents")
          .select(col("doc_id"), token_count(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", 512L)),

    "q110_zipf_fit" -> ((s, d) =>
      // corpus-health scalar (TextScores.zipfFit): OLS slope/intercept/r2
      // on the log-log frequency spectrum; oracle refits in SQL
      TextScores.zipfFit(t(s, d, "documents"), "text")),

    "q111_char_entropy" -> ((s, d) =>
      // per-doc code-point Shannon entropy (char_entropy — codegen'd
      // Catalyst expression, one narrow projection): the cheap junk gate
      // (spam runs ~0 bits/char, prose ~4, base64 noise >= 6). Oracle:
      // DuckDB's entropy() aggregate over the docs' unnested characters —
      // both engines round the double to 6 (NMI-entropy precedent)
      t(s, d, "documents")
        .select(col("doc_id"),
          round(char_entropy(col("text")), 6).as("char_entropy"))
        .orderBy("doc_id")),

    "q112_activity_powerlaw" -> ((s, d) =>
      // heavy-tail gate over per-user event volumes (Metrics.powerLawFit —
      // the generic spectrum+OLS behind zipfFit): slope/r2 answer "does
      // this count distribution have the hub shape the skew devices exist
      // for"; oracle re-derives spectrum + closed-form OLS in SQL
      Metrics.powerLawFit(
        t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events")),
        "n_events")),

    "q113_table_profile" -> ((s, d) =>
      // ANALYZE-style snapshot pre-flight (Validate.tableProfile): one
      // pass, exact distincts (the oracle-checkable default; approx=true
      // documented for 1e12 rows), min/max on native types cast to string
      Validate.tableProfile(t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    "q114_dedup_weights" -> ((s, d) => {
      // dedup-weighted canonical export (Curation.dedupWeights): plant an
      // exact duplicate of every 5th doc under a shifted id (the q81/q16
      // planting device — both engines see the same corpus), then keep
      // min-id canonicals with weight = occurrence count
      val docs = t(s, d, "documents")
      val planted = docs.unionByName(
        docs.where(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      Curation.dedupWeights(planted, "doc_id", "text")
        .select(col("doc_id"), col("n_chars"), col("weight"))
        .orderBy("doc_id")
    }),

    "q115_sessionize" -> ((s, d) =>
      // gap-based sessionization (EventReplay.sessionize): 30-min gap
      // splits per user, event_id tie-break for deterministic indexing
      // under equal timestamps; both windows partition by user (pinned)
      EventReplay.sessionize(t(s, d, "events"), "user_id", "ts",
          gapSeconds = 1800L, tieCol = Some("event_id"))
        .orderBy("user_id", "session_idx")),

    "q116_weighted_minhash_pairs" -> ((s, d) =>
      // ICWS weighted-MinHash near-dup pairs (Dedup.weightedMinhashPairs):
      // the q15 corpus + brute-force device, but thresholding the WEIGHTED
      // Jaccard (sum-min/sum-max of tri-shingle counts) — the oracle
      // re-derives it count-for-count in SQL. Recall argument mirrors q15:
      // planted near-dups sit at wj ~ 0.97, P[all 64 bands miss] < 1e-60
      Dedup.weightedMinhashPairs(docsWithNearDups(s, d), "doc_id", "text",
          DedupConfig.default)
        .select("a", "b").orderBy("a")),

    "q117_numeric_histogram" -> ((s, d) =>
      // dense equi-width histogram (SkewStats.numericHistogram) over doc
      // lengths: explicit [0, 600) x 12 bins, zero-filled, under/overflow
      // rows — the distribution companion to q113's scalar profile
      SkewStats.numericHistogram(t(s, d, "documents"), "n_chars",
        lo = 0.0, hi = 600.0, nBins = 12)),

    "q118_rrf_fusion" -> ((s, d) => {
      // reciprocal-rank fusion (Cormack SIGIR'09) of the two retrieval
      // indexes the engine already evaluates — q63's TF-IDF and q98's BM25,
      // same query set and determinism devices; the oracle recomputes both
      // lists and the fusion in SQL. Both scores come off ONE posting join
      // (TextScores.tfidfBm25IndexScores — the candidate sets are identical
      // by construction) and both per-list ranks plus the fused re-rank run
      // as three windows over ONE query_id exchange: each leg ranks the
      // rounded scores with an item_id tie-break, the fused score is the
      // two-term IEEE sum 1/(60+rt) + 1/(60+rb), and items outside a leg's
      // top-10 contribute nothing there.
      val docs = spread(t(s, d, "documents"))
      val queries = docs.where(col("doc_id") % 25 === 0)
      val k = 10
      val both = TextScores.tfidfBm25IndexScores(docs, queries, "doc_id", "text")
        .where(col("query_id") =!= col("item_id"))
        .withColumn("ts", round(col("tfidf_score"), 4))
        .withColumn("bs", round(col("bm25_score"), 4))
      val wq = Window.partitionBy("query_id")
      val ranked = both
        .withColumn("rt",
          row_number().over(wq.orderBy(col("ts").desc, col("item_id"))))
        .withColumn("rb",
          row_number().over(wq.orderBy(col("bs").desc, col("item_id"))))
        .where(col("rt") <= k || col("rb") <= k)
        .withColumn("score", round(
          when(col("rt") <= k, lit(1.0) / (lit(60.0) + col("rt")))
            .otherwise(lit(0.0)) +
          when(col("rb") <= k, lit(1.0) / (lit(60.0) + col("rb")))
            .otherwise(lit(0.0)), 6))
      Ranking.topKItems(ranked.select("query_id", "item_id", "score"), k)
        .select("query_id", "item_id", "rank", "score")
        .orderBy("query_id", "rank")
    }),

    "q119_percentile_ranks" -> ((s, d) =>
      // score calibration (Ranking.percentileRanks): SQL percent_rank
      // semantics via the q62 value-bucketed device — no global window;
      // oracle IS percent_rank() (the oracle may window globally, the
      // engine must not — PlanSpec pins it)
      Ranking.percentileRanks(
          spread(t(s, d, "events")).select("event_id", "value"), "value")
        .select("event_id", "value", "pct").orderBy("event_id")),

    "q120_quantiles_by_group" -> ((s, d) =>
      // per-stratum exact quantiles (SkewStats.exactQuantilesByGroup):
      // p50/p90/p99 doc length per language — PERCENTILE_DISC semantics,
      // window partitioned by group (pinned); oracle re-derives the same
      // construction in SQL
      SkewStats.exactQuantilesByGroup(t(s, d, "documents"), "lang",
        "n_chars", Seq(0.5, 0.9, 0.99))),

    "q121_weighted_sample" -> ((s, d) =>
      // deterministic weighted sampling (Curation.weightedSample, A-ES
      // exponential race): 100 docs proportional to length, selection a
      // pure function of (salt, doc_id, n_chars) — the oracle recomputes
      // the identical priorities and top-k in SQL
      Curation.weightedSample(
          t(s, d, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", k = 100)
        .orderBy("doc_id")),

    "q122_group_neardup_pairs" -> ((s, d) => {
      // cluster-merge monitor (Dedup.groupNearDupPairs): groups g and
      // g+1000 carry IDENTICAL member text (the mirrored-group planting
      // device) -> identical merged signatures, guaranteed band collision,
      // union jaccard 1; oracle recomputes group-union tri-shingle jaccard
      val docs = spread(t(s, d, "documents"))
      val corpus = docs.select((col("doc_id") % 97).as("grp"),
          col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") % 97 + 1000).as("grp"),
          (col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.groupNearDupPairs(corpus, "text", "grp",
          DedupConfig.default)
        .orderBy("ga", "gb")
    }),

    "q123_incremental_weighted" -> ((s, d) => {
      // the ICWS weighted family in the daily-ingest shape (Dedup
      // .incrementalWeightedPairs): q57's planted new batch, q116's
      // weighted threshold; oracle = bipartite brute-force weighted
      // jaccard with tri-gram COUNTS
      val corpus = spread(t(s, d, "documents")).select("doc_id", "text")
      val fresh = corpus.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      Dedup.incrementalWeightedPairs(fresh, corpus, "doc_id", "text",
          DedupConfig.default)
        .select("a", "b")
        .orderBy("a", "b")
    }),

    "q124_repeated_spans" -> ((s, d) => {
      // exact repeated-span removal (Curation.removeRepeatedSpans — the
      // Lee et al. 2022 exact-substring-dedup shape at 5-gram
      // granularity): plant an 8-token shared prefix on every 5th doc
      // (the q81 device); its interior 5-grams hit df >= 2 and the whole
      // prefix is masked in every planted doc, boundary grams stay unique
      val planted = spread(t(s, d, "documents")).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("shared span alert five tokens exactly seven words "),
            col("text")))
          .otherwise(col("text")).as("text"))
      Curation.removeRepeatedSpans(planted, "doc_id", "text",
          n = 5, minDocs = 2)
        .orderBy("id")
    }),

    "q125_filter_stack" -> ((s, d) => {
      // composite quality gate (the FineWeb-style filter stack as ONE
      // query): three incomparable signals — rule-based quality, char
      // entropy, distinct-token ratio — each calibrated to a percentile
      // (Ranking.percentileRanks, no global window), mean-composited,
      // thresholded on the ROUNDED composite on both engines
      val scored = spread(t(s, d, "documents")).select(col("doc_id"),
        quality_score(col("text")).as("q"),
        round(char_entropy(col("text")), 6).as("h"),
        distinct_token_ratio(col("text")).as("r"))
      // one mapping per signal, each derived from `scored` itself — the
      // nested percentileRanks chain re-evaluated the expensive projection
      // once per aggregation branch per nesting level (exponential in the
      // signal count; see Ranking.percentileRanksMulti)
      val ranked = Ranking.percentileRanksMulti(scored,
        Seq("q" -> "pq", "h" -> "ph", "r" -> "pr"))
      ranked
        .withColumn("composite",
          round((col("pq") + col("ph") + col("pr")) / 3.0, 6))
        .where(col("composite") >= 0.5)
        .select("doc_id", "composite").orderBy("doc_id")
    }))

  /** q82's mixing config, shared by the query and its oracle: the oracle
    * SQL interpolates the SCALA-computed per-stratum target (Double.toString
    * round-trips, DuckDB parses decimal literals to the nearest double), so
    * both engines threshold on bit-identical rates. */
  private val q82Weights: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.35, "fr" -> 0.15)
  private val q82Budget: Long = 80000L
  private def q82Target(k: String): Double =
    q82Budget * q82Weights(k) / q82Weights.values.sum

  /** One D4 grid symmetry as an explicit 64-term SQL bit permutation of
    * BIGINT column/alias `x`: destination bit d reads source bit `src(d)`;
    * bits 0..62 OR together, bit 63 lands via the two's-complement
    * `+ MinValue` device (DuckDB refuses `1 << 63`). Feeds the q73 oracle. */
  private def permSql(x: String, src: Int => Int): String = {
    val low = (0 to 62).map(d => s"((($x >> ${src(d)}) & 1) << $d)")
      .mkString("|")
    s"(($low) + ((($x >> ${src(63)}) & 1) * (-9223372036854775807 - 1)))"
  }
  // destination bit d = 8*row + col of the 8x8 grid
  private def srcTranspose(d: Int): Int = ((d & 7) << 3) | (d >> 3)
  private def srcFlipH(d: Int): Int = (d & ~7) | (7 - (d & 7))
  private def srcFlipV(d: Int): Int = ((7 - (d >> 3)) << 3) | (d & 7)
  private def srcRot180(d: Int): Int = 63 - d

  /** Brute-force trigram-Jaccard pair oracle over the docsWithNearDups
    * corpus — shared by q15 (classic MinHash) and q74 (OPH): the oracle is
    * signature-scheme-independent. */
  private val bruteJaccardPairsOracle: String =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
       toks AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
         FROM corpus),
       tris AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(l) - 2),
           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tset FROM toks),
       posting AS (SELECT doc_id, unnest(tset) AS tri FROM tris),
       inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
         FROM posting p1 JOIN posting p2
           ON p1.tri = p2.tri AND p1.doc_id < p2.doc_id
         GROUP BY 1, 2),
       sizes AS (SELECT doc_id, len(tset) AS n FROM tris)
       SELECT a, b FROM inter
       JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY a, b"""

  /** DuckDB oracles for every SQL-expressible query above. Keys absent here
    * (q23, q24 — DuckDB cannot decode images) get the driver's weaker
    * rows-only check; their strong correctness gates live in the ScalaTest
    * suites instead. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "q02_time_slice" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-15'
         ORDER BY event_id""",

    "q03_revenue_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY 1""",

    "q04_brand_volume" ->
      """SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY 1""",

    "q05_customers_with_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q06_parts_never_ordered" ->
      """SELECT p_partkey, p_brand FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         ORDER BY p_partkey""",

    "q07_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q08_last_event_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",

    "q09_event_type_stats" ->
      """SELECT event_type, count(*) AS n_events,
         count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q10_prior_events_window" ->
      """SELECT event_id, user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS prior_in_window
         FROM events ORDER BY event_id""",

    "q11_df_idf" ->
      """WITH n AS (SELECT count(*) AS total FROM documents),
         toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
         SELECT token, count(*) AS df,
           round(1.0 + ln((SELECT total FROM n) * 1.0 / (count(*) + 1)), 6) AS idf
         FROM toks WHERE length(token) > 0
         GROUP BY token ORDER BY token""",

    "q12_dedup_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents)
         SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text ORDER BY 1""",

    "q13_token_stats" ->
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS n_subwords,
         length(text) AS text_chars
         FROM documents ORDER BY doc_id""",

    "q14_lang_stopwords" ->
      """WITH s AS (
           SELECT doc_id,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' '),
               x -> length(x) > 0) AS toks
           FROM documents)
         SELECT doc_id,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to',
               'in','is','it','that','for','on','with','as','was','at','by')))
             * 1.0 / len(toks) END, 4) AS stop_ratio,
           CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to',
               'in','is','it','that','for','on','with','as','was','at','by')))
             * 1.0 / len(toks) END) >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang
         FROM s ORDER BY doc_id""",

    // exact brute-force trigram Jaccard via an inverted index — the SQL form
    // of the golden oracle (Dedup.bruteForceJaccardPairs); also asserts LSH
    // recall = 1.0 at this config/data (miss probability < 1e-8 per pair)
    "q15_minhash_dup_pairs" -> bruteJaccardPairsOracle,

    // same brute-force oracle by construction: the signature kernel (classic
    // vs OPH) changes candidate-generation cost only — verify semantics and
    // the exact pair set are identical
    "q74_oph_dup_pairs" -> bruteJaccardPairsOracle,

    "q75_bloom_known" ->
      // exact raw-text membership — the bloom is a prefilter only, so the
      // engine's is_known must equal plain EXISTS semantics
      """WITH corpus AS (SELECT doc_id, text FROM documents),
         batch AS (
           SELECT doc_id + 500000 AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 700000, 'fresh page ' || doc_id FROM documents
           WHERE doc_id % 5 = 0)
         SELECT b.doc_id,
           EXISTS(SELECT 1 FROM corpus c WHERE c.text = b.text) AS is_known
         FROM batch b ORDER BY doc_id""",

    "q76_stratified_sample" ->
      // same md5-prefix threshold compare the engine runs: fixed-width
      // lowercase hex compares as its numeric value; 0.8 -> floor(0.8*2^32)
      // = 0xcccccccc, 0.25 -> 0x40000000
      """SELECT doc_id, lang FROM documents
         WHERE lang IS NOT NULL
           AND substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) <
             CASE WHEN lang = 'en' THEN 'cccccccc' ELSE '40000000' END
         ORDER BY doc_id""",

    "q77_sequence_packing" ->
      // window cumsum re-derivation; casts pin BIGINT (DuckDB window sum
      // yields HUGEINT) and n > 0 mirrors the empty-doc convention
      """WITH t AS (SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
           FROM documents),
         c AS (SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
         SELECT doc_id, n AS n_tokens,
           CAST(cum - n AS BIGINT) AS start_offset,
           CAST((cum - n) // 512 AS BIGINT) AS bin_first,
           CAST(CASE WHEN n > 0 THEN (cum - 1) // 512
                     ELSE (cum - n) // 512 END AS BIGINT) AS bin_last
         FROM c ORDER BY doc_id""",

    "q78_per_source_cap" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents WHERE source IS NOT NULL)
         WHERE rn <= 5 ORDER BY doc_id""",

    "q79_ngram_novelty" ->
      // batch trigram sets vs the corpus's distinct-trigram posting set;
      // probe rows are exactly 3 tokens -> one (novel) whole-sequence
      // trigram in both engines
      """WITH corpus AS (SELECT doc_id, text FROM documents),
         batch AS (
           SELECT doc_id + 500000 AS doc_id, text FROM documents
           WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id + 600000, text || ' zz' FROM documents
           WHERE doc_id % 4 = 1
           UNION ALL
           SELECT doc_id + 700000,
             'qq' || doc_id || ' ww' || doc_id || ' ee' || doc_id
           FROM documents WHERE doc_id % 4 = 2),
         ctoks AS (SELECT
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         cpost AS (SELECT DISTINCT unnest(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tri FROM ctoks),
         btoks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM batch),
         btris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM btoks),
         seen AS (SELECT doc_id, count(*) AS c
           FROM (SELECT doc_id, unnest(t) AS tri FROM btris) b
           WHERE tri IN (SELECT tri FROM cpost) GROUP BY 1)
         SELECT b.doc_id AS id, len(b.t) AS n_shingles,
           round(CASE WHEN len(b.t) = 0 THEN 0.0
             ELSE 1.0 - coalesce(s.c, 0) * 1.0 / len(b.t) END, 6) AS novelty
         FROM btris b LEFT JOIN seen s ON s.doc_id = b.doc_id
         ORDER BY id""",

    "q80_quality_gate_by_lang" ->
      // per-lang tie-inclusive top-25%: kept iff rank()-1 (= strictly
      // greater count) < max(1, floor(0.25 * n_lang)); quality re-derived
      // with the q31 expression
      """WITH s AS (
           SELECT doc_id, lang,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_toks,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' '),
               x -> length(x) > 0) AS toks
           FROM documents WHERE lang IS NOT NULL),
         q AS (SELECT doc_id, lang, round(
           (CASE WHEN n_toks > 0 AND n_chars * 1.0 / n_toks BETWEEN 3.0 AND 12.0
                 THEN 0.4 ELSE 0.0 END) +
           (CASE WHEN n_chars > 0 AND n_punct * 1.0 / n_chars <= 0.1
                 THEN 0.3 ELSE 0.0 END) +
           (CASE WHEN len(toks) > 0 AND
                 len(list_filter(toks, x -> x IN ('the','a','an','and','or','of',
                   'to','in','is','it','that','for','on','with','as','was','at','by')))
                 * 1.0 / len(toks) >= 0.05 THEN 0.3 ELSE 0.0 END)::DOUBLE, 2) AS quality
           FROM s),
         r AS (SELECT doc_id, lang, quality,
             rank() OVER (PARTITION BY lang ORDER BY quality DESC) AS rk,
             count(*) OVER (PARTITION BY lang) AS n FROM q)
         SELECT doc_id, lang, quality,
           (rk - 1 < greatest(1, CAST(floor(0.25 * n) AS BIGINT))) AS kept
         FROM r ORDER BY doc_id""",

    "q81_line_dedup" ->
      // same planted corpus, line df over raw lines (the engine groups
      // 8-byte line hashes — equal modulo xxhash64 collisions); string_agg
      // skips the removed lines' NULLs and NULLs out all-removed docs ->
      // coalesce('') mirrors concat_ws over an empty array
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'SHARED HEADER LINE' || chr(10)
                  ELSE '' END
             || text ||
             CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'COOKIE BANNER ACCEPT'
                  ELSE '' END AS text
           FROM documents),
         lines AS (
           SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                  generate_subscripts(string_split(text, chr(10)), 1) AS pos
           FROM t),
         heavy AS (
           SELECT line FROM lines WHERE length(line) >= 5
           GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
         flagged AS (
           SELECT l.doc_id, l.pos, l.line, (h.line IS NOT NULL) AS rm
           FROM lines l LEFT JOIN heavy h ON l.line = h.line)
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT rm THEN line END,
             chr(10) ORDER BY pos), '') AS clean_text,
           CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",

    "q82_mixture_sample" ->
      // rates from exact BIGINT char totals + Scala-interpolated target
      // literals; membership is the md5-prefix threshold compare of q76
      s"""WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE lang IS NOT NULL),
         a AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS avail
           FROM d GROUP BY lang),
         r AS (SELECT lang, least(1.0,
             CASE lang WHEN 'en' THEN ${q82Target("en")}
                       WHEN 'de' THEN ${q82Target("de")}
                       WHEN 'fr' THEN ${q82Target("fr")} END
             / CAST(avail AS DOUBLE)) AS rate
           FROM a WHERE lang IN ('en', 'de', 'fr'))
         SELECT doc_id, lang, n_chars FROM d JOIN r USING (lang)
         WHERE rate >= 1.0
            OR substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) <
               lower(lpad(to_hex(CAST(least(floor(rate * 4294967296.0),
                 4294967295.0) AS BIGINT)), 8, '0'))
         ORDER BY doc_id""",

    "q83_pii_redaction" ->
      // same planted PII; DuckDB's RE2 evaluates the identical patterns
      // (no backrefs/lookaround by construction), counts via
      // regexp_extract_all on the same pre-redaction text states
      """WITH t AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 4 = 0 THEN ' mail user' ||
               CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
             CASE WHEN doc_id % 6 = 0 THEN ' from 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 01' ||
               CAST(doc_id % 100 AS VARCHAR) || ' ok' ELSE '' END AS text
           FROM documents),
         s1 AS (
           SELECT doc_id,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
           FROM t),
         s2 AS (
           SELECT doc_id, n_emails,
             regexp_replace(t1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2,
             len(regexp_extract_all(t1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips
           FROM s1)
         SELECT doc_id,
           regexp_replace(t2, '\+\d[\d ]{7,}\d', '<PHONE>', 'g') AS clean_text,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '\+\d[\d ]{7,}\d')) AS BIGINT)
             AS n_phones
         FROM s2 ORDER BY doc_id""",

    "q84_leakfree_split" ->
      // same planted dups; clusters group raw text (the engine groups
      // xxhash64(text) — equal modulo collisions, the q81 note); unit
      // membership is the md5-prefix threshold at floor(0.3 * 2^32)
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 4 = 0),
         a AS (
           SELECT doc_id, CAST(min(doc_id) OVER (PARTITION BY text)
             AS VARCHAR) AS split_unit
           FROM planted)
         SELECT doc_id, split_unit,
           CASE WHEN substr(md5('graft-split' || split_unit), 1, 8) <
             lower(lpad(to_hex(CAST(floor(0.3 * 4294967296.0) AS BIGINT)),
               8, '0'))
           THEN 'eval' ELSE 'train' END AS split
         FROM a ORDER BY doc_id""",

    "q85_heavy_ngrams" ->
      // same planted banner; DuckDB rebuilds word trigrams with the q15
      // oracle's list machinery and re-aggregates df / total count
      """WITH planted AS (
           SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
             THEN ' accept all cookies to continue browsing this site'
             ELSE '' END AS text
           FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM planted),
         grams AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS ngram
           FROM toks)
         SELECT ngram, count(DISTINCT doc_id) AS doc_freq,
           count(*) AS total_freq
         FROM grams GROUP BY 1
         HAVING count(DISTINCT doc_id) >= 20 ORDER BY ngram""",

    "q86_exact_quantiles" ->
      // independent implementation of the same PERCENTILE_DISC definition:
      // DuckDB's own quantile_disc (boundary semantics verified identical —
      // smallest value whose cumulative count reaches q*n, integer q*n
      // included)
      """SELECT CAST(0.0 AS DOUBLE) AS q,
           CAST(quantile_disc(n_chars, 0.0) AS DOUBLE) AS value FROM documents
         UNION ALL SELECT CAST(0.25 AS DOUBLE),
           CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) FROM documents
         UNION ALL SELECT CAST(0.5 AS DOUBLE),
           CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) FROM documents
         UNION ALL SELECT CAST(0.75 AS DOUBLE),
           CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) FROM documents
         UNION ALL SELECT CAST(0.9 AS DOUBLE),
           CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) FROM documents
         UNION ALL SELECT CAST(0.99 AS DOUBLE),
           CAST(quantile_disc(n_chars, 0.99) AS DOUBLE) FROM documents
         UNION ALL SELECT CAST(1.0 AS DOUBLE),
           CAST(quantile_disc(n_chars, 1.0) AS DOUBLE) FROM documents
         ORDER BY q""",

    "q87_dup_line_signals" ->
      // same planted looping shape; list_distinct over chr(10)-split lines
      """WITH planted AS (
           SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN text || chr(10) || text || chr(10) || 'tail '
               || CAST(doc_id AS VARCHAR)
             ELSE text END AS text
           FROM documents),
         l AS (SELECT doc_id AS id, string_split(text, chr(10)) AS ls
           FROM planted)
         SELECT id, len(ls) AS n_lines,
           len(list_distinct(ls)) AS n_distinct_lines,
           round(1.0 - len(list_distinct(ls)) * 1.0 / len(ls), 4)
             AS dup_line_frac
         FROM l ORDER BY id""",

    "q88_crop_dups" ->
      // the planted pair set IS the oracle: recall is guaranteed by the
      // regionCells arithmetic identity, precision by the raw-cell-grid
      // key, and the corpus is deterministic — so the exact (base, crop)
      // enumeration checks both directions without decoding a pixel.
      // n_regions is lattice geometry: a quadrant crop (i%3=0) shares only
      // its full frame; a half crop's own halves re-align with source
      // quadrants, so it shares 3 regions
      """SELECT 'b' || lpad(CAST(i AS VARCHAR), 4, '0') AS a,
           'c' || lpad(CAST(i AS VARCHAR), 4, '0') AS b,
           CAST(CASE WHEN i % 3 = 0 THEN 1 ELSE 3 END AS BIGINT) AS n_regions
         FROM generate_series(0, 299) t(i) ORDER BY a, b""",

    "q89_border_dups" ->
      // the q88 device for the border transform: the deterministic planted
      // pair enumeration checks recall and precision of the trim-canonical
      // keys without decoding a pixel
      """SELECT 'b' || lpad(CAST(i AS VARCHAR), 4, '0') AS a,
           'p' || lpad(CAST(i AS VARCHAR), 4, '0') AS b
         FROM generate_series(0, 299) t(i) ORDER BY a, b""",

    "q90_lm_perplexity" ->
      // independent retraining of the same bigram LM: the q85 positional
      // list machinery rebuilds (prev, cur) pairs (parallel unnests zip
      // positionally in DuckDB), the counts re-aggregate exactly, and the
      // add-alpha formula is evaluated per token — ln = natural log in both
      // engines, avg = sum/count in both, rounded to 6 like every float
      // oracle here
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l)),
               i -> CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END)) AS prev,
             unnest(list_transform(generate_series(1, len(l)),
               i -> l[i])) AS cur
           FROM toks WHERE len(l) > 0),
         c2 AS (SELECT prev, cur, count(*) AS c2 FROM grams GROUP BY 1, 2),
         c1 AS (SELECT prev, count(*) AS c1 FROM grams GROUP BY 1),
         v AS (SELECT count(DISTINCT cur) AS v FROM grams)
         SELECT g.doc_id AS id, count(*) AS n_tokens,
           round(-avg(ln((c2.c2 + 0.1) / (c1.c1 + 0.1 * (SELECT v FROM v)))),
             6) AS log_ppl
         FROM grams g
         JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
         GROUP BY g.doc_id ORDER BY id""",

    "q91_containment_pairs" ->
      // brute-force directional containment over the same corpus + planted
      // snippets: distinct trigram posting join, overlap counted per ordered
      // pair, gated in INTEGER form (ic >= ceil(t * na - eps)) exactly like
      // the Spark side so the threshold boundary cannot float-diverge
      """WITH dtoks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM documents),
         corpus AS (
           SELECT doc_id, l FROM dtoks
           UNION ALL
           SELECT doc_id + 200000, list_slice(l, 1, 25) FROM dtoks
           WHERE len(l) >= 30),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tset
           FROM corpus),
         posting AS (SELECT doc_id, unnest(tset) AS tri FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2
             ON p1.tri = p2.tri AND p1.doc_id <> p2.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tset) AS n FROM tris)
         SELECT a, b, round(ic * 1.0 / sa.n, 4) AS containment
         FROM inter JOIN sizes sa ON sa.doc_id = a
         WHERE ic >= ceil(sa.n * 0.8 - 1e-9) ORDER BY a, b""",

    "q92_overlay_dups" ->
      // the q88/q89 enumeration device for the overlay transform: recall is
      // guaranteed by the aligned-tile key arithmetic (15 untouched tiles),
      // precision by the raw-cell-grid key on distinct random bases, and
      // the corpus is deterministic — the exact planted pair set needs no
      // pixel decode on the oracle side
      """SELECT 'b' || lpad(CAST(i AS VARCHAR), 4, '0') AS a,
           'o' || lpad(CAST(i AS VARCHAR), 4, '0') AS b,
           CAST(15 AS BIGINT) AS n_tiles
         FROM generate_series(0, 299) t(i) ORDER BY a, b""",

    "q93_frequency_spectrum" ->
      """WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> length(x) > 0)) AS tok FROM documents),
         tf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1)
         SELECT f AS freq, count(*) AS n_types FROM tf
         GROUP BY 1 ORDER BY freq""",

    "q94_cluster_churn" ->
      // independent recomputation of the cluster contingency: edges =
      // (before label, after label) with shared-id counts; split = source
      // fan-out > 1, merged = target fan-in > 1, stable = 1:1 both ways
      """WITH e AS (SELECT event_id AS id, CAST(user_id AS BIGINT) AS u
             FROM events),
         b AS (SELECT id, u AS cb FROM e),
         a AS (SELECT id, CASE
             WHEN u % 7 = 0 THEN u * 10 + id % 2
             WHEN u % 7 IN (1, 2) THEN 20000000 + (u - u % 7)
             ELSE 30000000 + u END AS ca FROM e),
         edges AS (SELECT cb, ca, count(*) AS n FROM b JOIN a USING (id)
           GROUP BY 1, 2),
         bysrc AS (SELECT cb, count(DISTINCT ca) AS nt, min(ca) AS only_t
           FROM edges GROUP BY 1),
         bydst AS (SELECT ca, count(DISTINCT cb) AS ns FROM edges GROUP BY 1)
         SELECT (SELECT count(*) FROM bysrc) AS n_before,
           (SELECT count(*) FROM bydst) AS n_after,
           (SELECT count(*) FROM bysrc WHERE nt > 1) AS n_split,
           (SELECT count(*) FROM bydst WHERE ns > 1) AS n_merged,
           (SELECT count(*) FROM bysrc s JOIN bydst d ON s.only_t = d.ca
             WHERE s.nt = 1 AND d.ns = 1) AS n_stable""",

    "q95_caption_spam" ->
      // the planted corpus is deterministic: exactly the 4 promo captions
      // span >= 3 distinct payloads (15 each); galleries re-post ONE image
      // and uniques appear once, so neither flags
      """SELECT 'promo ' || i AS caption,
           CAST(15 AS BIGINT) AS n_images, CAST(15 AS BIGINT) AS n_rows
         FROM generate_series(0, 3) t(i) ORDER BY caption""",

    "q96_temperature_rates" ->
      // same derivation: share = stratum char mass / total, raw rate =
      // share^(alpha-1), normalized so the max rate is 1; both engines
      // compute the same double arithmetic, rounded to 6
      """WITH agg AS (SELECT lang AS stratum, sum(n_chars) AS n_tokens
             FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         t AS (SELECT sum(n_tokens) AS tt FROM agg),
         r AS (SELECT stratum, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS share,
             pow(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE), -0.5) AS raw
           FROM agg, t),
         m AS (SELECT max(raw) AS mr FROM r)
         SELECT stratum, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(share, 6) AS share, round(raw / mr, 6) AS rate
         FROM r, m ORDER BY stratum""",

    "q97_embedding_report" ->
      // independent recomputation of the squared-norm fold: per-element
      // double upcast, sequential list_sum, sqrt + round like the Spark
      // side; counts cast to BIGINT (DuckDB sum(int) is HUGEINT)
      """WITH v AS (SELECT
             list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ss,
             len(embedding) AS dim,
             len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0 AS bad
           FROM embeddings)
         SELECT count(*) AS n_vecs,
           CAST(sum(CASE WHEN ss = 0 AND NOT bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
           count(DISTINCT dim) AS n_dims,
           round(min(CASE WHEN bad THEN NULL ELSE sqrt(ss) END), 6) AS min_norm,
           round(max(CASE WHEN bad THEN NULL ELSE sqrt(ss) END), 6) AS max_norm,
           round(avg(CASE WHEN bad THEN NULL ELSE sqrt(ss) END), 6) AS avg_norm
         FROM v""",

    "q98_bm25_index_topk" ->
      // Okapi BM25 recomputed in SQL over the same normalized tokens:
      // exact-integer corpus stats (N, sum dl) so avgdl is bit-identical,
      // the same formula term for term (k1 = 1.2, b = 0.75, Lucene
      // non-negative idf), rank on the rounded score with item_id ties
      """WITH lt AS (SELECT doc_id, list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0) AS l
           FROM documents),
         w AS (SELECT doc_id, l, len(l) AS dl FROM lt WHERE len(l) > 0),
         stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl
           FROM w),
         tok AS (SELECT doc_id, dl, unnest(l) AS token FROM w),
         tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tok
           GROUP BY 1, 2, 3),
         idf AS (SELECT token,
             ln((n - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
           FROM tf, stats GROUP BY token, n),
         q AS (SELECT doc_id AS query_id, unnest(list_distinct(l)) AS token
           FROM w WHERE doc_id % 25 = 0),
         scored AS (SELECT q.query_id, t.doc_id AS item_id,
             round(sum(i.idf * (t.tf * 2.2) /
               (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))), 4) AS score
           FROM q JOIN tf t ON q.token = t.token AND q.query_id <> t.doc_id
           JOIN idf i ON i.token = q.token CROSS JOIN stats s
           GROUP BY 1, 2),
         ranked AS (SELECT query_id, item_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM scored)
         SELECT query_id, item_id, rank, score FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",

    "q99_transitivity_audit" ->
      // independent recomputation: canonical edge set, degree table,
      // wedges = sum C(d,2), triangles counted once per id-ordered triple
      // (e1=(x,y), e2=(x,z), closing (y,z)), transitivity = 3T/W
      """WITH ev AS (SELECT CAST(event_id AS BIGINT) AS id FROM events),
         raw AS (
           SELECT id % 61 AS a, 100 + id % 53 AS b FROM ev
           UNION ALL SELECT 100 + id % 53, 200 + id % 47 FROM ev
           UNION ALL SELECT id % 61, 200 + id % 47 FROM ev),
         edges AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
           FROM raw WHERE a <> b),
         deg AS (SELECT x, count(*) AS d FROM
           (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
           GROUP BY 1),
         tri AS (SELECT count(*) AS t FROM edges e1
           JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
           JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
         wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
         SELECT (SELECT count(*) FROM edges) AS n_edges,
           (SELECT w FROM wed) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT w FROM wed) = 0 THEN 0.0
             ELSE round(3.0 * (SELECT t FROM tri) / (SELECT w FROM wed), 6)
           END AS transitivity""",

    "q100_lsh_plan" ->
      // independent recomputation of p(s) = 1 - (1 - s^r)^b at the target,
      // the 50% threshold closed form, and the same 1000-point midpoint sums
      """WITH divs AS (
           SELECT CAST(b AS INT) AS bands, CAST(128 // b AS INT) AS rows_per_band
           FROM generate_series(1, 128) t(b) WHERE 128 % b = 0),
         grid AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 1000.0 AS s
           FROM generate_series(0, 999) g(i)),
         curve AS (
           SELECT bands, rows_per_band, s,
             1.0 - pow(1.0 - pow(s, rows_per_band), bands) AS p
           FROM divs CROSS JOIN grid),
         areas AS (
           SELECT bands, rows_per_band,
             sum(CASE WHEN s < 0.8 THEN p ELSE 0.0 END) / 1000.0 AS fp,
             sum(CASE WHEN s >= 0.8 THEN 1.0 - p ELSE 0.0 END) / 1000.0 AS fn
           FROM curve GROUP BY 1, 2)
         SELECT d.bands, d.rows_per_band,
           round(pow(1.0 - pow(0.5, 1.0 / d.bands), 1.0 / d.rows_per_band), 6)
             AS s50,
           round(1.0 - pow(1.0 - pow(0.8, d.rows_per_band), d.bands), 6)
             AS p_at_target,
           round(a.fp, 6) AS fp_area,
           round(a.fn, 6) AS fn_area
         FROM divs d JOIN areas a USING (bands, rows_per_band)
         ORDER BY d.bands""",

    "q101_distribution_drift" ->
      // independent recomputation: per-side token counts, full-outer union
      // vocab, Jeffreys-smoothed p/q, then KL both ways + JS + TV in SQL
      """WITH toka AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> length(x) > 0)) AS tok FROM documents WHERE doc_id % 2 = 0),
         tokb AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> length(x) > 0)) AS tok FROM documents WHERE doc_id % 2 = 1),
         ca AS (SELECT tok, count(*) AS na FROM toka GROUP BY 1),
         cb AS (SELECT tok, count(*) AS nb FROM tokb GROUP BY 1),
         j AS (SELECT coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
           FROM ca FULL OUTER JOIN cb USING (tok)),
         tot AS (SELECT sum(na) AS ta, sum(nb) AS tb, count(*) AS v FROM j),
         sm AS (SELECT na, nb,
             (na + 0.5) / (t.ta + 0.5 * t.v) AS p,
             (nb + 0.5) / (t.tb + 0.5 * t.v) AS q
           FROM j CROSS JOIN tot t)
         SELECT
           count(*) FILTER (WHERE na > 0) AS n_types_a,
           count(*) FILTER (WHERE nb > 0) AS n_types_b,
           count(*) AS n_types_union,
           round(sum(p * ln(p / q)), 6) AS kl_ab,
           round(sum(q * ln(q / p)), 6) AS kl_ba,
           round(sum(p * ln(p / ((p + q) / 2))) / 2 +
             sum(q * ln(q / ((p + q) / 2))) / 2, 6) AS js_divergence,
           round(sum(abs(p - q)) / 2, 6) AS total_variation
         FROM sm""",

    "q102_cap_loss_report" ->
      // independent recomputation: bucket sizes, exact C(n,2), degraded
      // n*w - w(w+1)/2 at w=4 (10), status split at cap 16
      """WITH keyed AS (SELECT doc_id AS id,
           CASE WHEN doc_id < 50 THEN doc_id % 25
                ELSE 25 + doc_id % 3 END AS key
           FROM documents),
         c AS (SELECT key, count(*) AS n FROM keyed
           GROUP BY 1 HAVING count(*) > 1),
         lab AS (SELECT n,
             CASE WHEN n <= 16 THEN 'exact' ELSE 'degraded' END AS status,
             n * (n - 1) // 2 AS ex,
             CASE WHEN n <= 16 THEN n * (n - 1) // 2
                  WHEN n > 4 THEN n * 4 - 10
                  ELSE n * (n - 1) // 2 END AS em
           FROM c)
         SELECT status,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(ex) AS BIGINT) AS exact_pairs,
           CAST(sum(em) AS BIGINT) AS emitted_pairs,
           CAST(sum(ex - em) AS BIGINT) AS dropped_pairs
         FROM lab GROUP BY 1 ORDER BY status""",

    "q103_bipartite_cap_loss" ->
      // independent recomputation: per-side key counts, volume n_a*n_b,
      // ceiling C(40,2) = 780, degraded emits n_a*min(n_b, 4)
      """WITH l AS (SELECT doc_id AS a,
           CASE WHEN doc_id < 6 THEN 0 WHEN doc_id < 12 THEN 1
                ELSE doc_id % 3 + 2 END AS key FROM documents),
         r AS (SELECT doc_id AS b, doc_id % 5 AS key FROM documents),
         ka AS (SELECT key, count(*) AS n_a FROM l GROUP BY 1),
         kb AS (SELECT key, count(*) AS n_b FROM r GROUP BY 1),
         kc AS (SELECT ka.key, n_a, n_b FROM ka JOIN kb USING (key)),
         lab AS (SELECT n_a, n_b,
             CASE WHEN n_a * n_b <= 780 THEN 'exact'
                  ELSE 'degraded' END AS status,
             n_a * n_b AS ex,
             CASE WHEN n_a * n_b <= 780 THEN n_a * n_b
                  ELSE n_a * least(n_b, 4) END AS em
           FROM kc)
         SELECT status,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n_a) AS BIGINT) AS rows_a,
           CAST(sum(n_b) AS BIGINT) AS rows_b,
           CAST(sum(ex) AS BIGINT) AS exact_pairs,
           CAST(sum(em) AS BIGINT) AS emitted_pairs,
           CAST(sum(ex - em) AS BIGINT) AS dropped_pairs
         FROM lab GROUP BY 1 ORDER BY status""",

    "q104_data_card" ->
      // independent recomputation: q14's normalize+stopword fragment for
      // language ID, count DISTINCT raw text for dups, quantile_disc for
      // the exact median (the q86 parity precedent)
      """WITH s AS (
           SELECT doc_id, text,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0) AS toks
           FROM documents),
         d AS (SELECT doc_id, text, len(toks) AS tc,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               len(list_filter(toks, x -> x IN ('the','a','an','and','or',
                 'of','to','in','is','it','that','for','on','with','as',
                 'was','at','by'))) * 1.0 / len(toks) END AS sr
           FROM s),
         types AS (SELECT CAST(count(DISTINCT tok) AS BIGINT)
             AS n_token_types
           FROM (SELECT unnest(toks) AS tok FROM s)),
         base AS (SELECT
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) FILTER (WHERE tc = 0) AS BIGINT) AS n_empty_docs,
             CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_docs,
             CAST(sum(tc) AS BIGINT) AS n_tokens,
             round(avg(tc), 6) AS mean_tokens,
             CAST(quantile_disc(tc, 0.5) AS BIGINT) AS p50_tokens,
             round(avg(CASE WHEN sr >= 0.08 THEN 1.0 ELSE 0.0 END), 6)
               AS pct_en
           FROM d)
         SELECT n_docs, n_empty_docs, n_dup_docs, n_tokens, n_token_types,
           mean_tokens, p50_tokens, pct_en
         FROM base CROSS JOIN types""",

    "q105_scale_dups" ->
      // the planted pair set IS the oracle (the q88 device): every base
      // pairs with its 2x upscale; where the 3x exists the family keys
      // identically, so the full id-ordered triangle emits
      """WITH base AS (SELECT i FROM generate_series(0, 299) t(i)),
         p AS (
           SELECT 'b' || lpad(CAST(i AS VARCHAR), 4, '0') AS a,
                  'u' || lpad(CAST(i AS VARCHAR), 4, '0') AS b FROM base
           UNION ALL
           SELECT 'b' || lpad(CAST(i AS VARCHAR), 4, '0'),
                  'v' || lpad(CAST(i AS VARCHAR), 4, '0')
           FROM base WHERE i % 3 = 0
           UNION ALL
           SELECT 'u' || lpad(CAST(i AS VARCHAR), 4, '0'),
                  'v' || lpad(CAST(i AS VARCHAR), 4, '0')
           FROM base WHERE i % 3 = 0)
         SELECT a, b FROM p ORDER BY a, b""",

    "q106_dup_by_stratum" ->
      // independent recomputation: group on the RAW text (the Spark side
      // groups on xxhash64(text) — same groups absent a 64-bit collision),
      // per-group size + distinct strata, then the stratum rollup
      """WITH all_docs AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 100000, text, 'recrawl' FROM documents
           WHERE doc_id % 4 = 0),
         g AS (SELECT text, count(*) AS n_in_group,
             count(DISTINCT source) AS n_strata
           FROM all_docs GROUP BY 1)
         SELECT source AS stratum,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_in_group > 1) AS BIGINT)
             AS n_dup_docs,
           CAST(count(*) FILTER (WHERE n_strata > 1) AS BIGINT)
             AS n_cross_dup_docs,
           round(avg(CASE WHEN n_in_group > 1 THEN 1.0 ELSE 0.0 END), 6)
             AS dup_rate
         FROM all_docs JOIN g USING (text)
         GROUP BY 1 ORDER BY 1""",

    "q107_embedding_drift" ->
      // independent recomputation: zipped unnest for (pos, value), per-pos
      // means rounded to 6 BEFORE the cosine (the Spark side's determinism
      // device), q97's norm-fold idiom for the per-side norm averages
      """WITH a AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0
             AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
         b AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1
             AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
         ma AS (SELECT pos, round(avg(CAST(x AS DOUBLE)), 6) AS m
           FROM (SELECT unnest(embedding) AS x,
                   unnest(range(len(embedding))) AS pos FROM a)
           GROUP BY 1),
         mb AS (SELECT pos, round(avg(CAST(x AS DOUBLE)), 6) AS m
           FROM (SELECT unnest(embedding) AS x,
                   unnest(range(len(embedding))) AS pos FROM b)
           GROUP BY 1),
         cosp AS (SELECT
             sum(coalesce(ma.m, 0) * coalesce(mb.m, 0)) AS dot,
             sum(coalesce(ma.m, 0) * coalesce(ma.m, 0)) AS na2,
             sum(coalesce(mb.m, 0) * coalesce(mb.m, 0)) AS nb2
           FROM ma FULL OUTER JOIN mb USING (pos)),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
             round(avg(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS mean_norm_a,
             max(len(embedding)) AS da FROM a),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
             round(avg(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS mean_norm_b,
             max(len(embedding)) AS db FROM b)
         SELECT CAST(greatest(da, db) AS BIGINT) AS dim, n_a, n_b,
           mean_norm_a, mean_norm_b,
           CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0
             ELSE round(dot / (sqrt(na2) * sqrt(nb2)), 6) END AS mean_cosine
         FROM na CROSS JOIN nb CROSS JOIN cosp""",

    "q108_geometric_dups" ->
      // the planted pair set IS the oracle: all four family members share
      // one canonical key, so each base emits its full id-ordered 4-clique
      // (b < c < l < u lexicographically)
      """WITH base AS (SELECT i FROM generate_series(0, 149) t(i)),
         m AS (SELECT i, 'b' || lpad(CAST(i AS VARCHAR), 4, '0') AS id
             FROM base
           UNION ALL SELECT i, 'c' || lpad(CAST(i AS VARCHAR), 4, '0')
             FROM base
           UNION ALL SELECT i, 'l' || lpad(CAST(i AS VARCHAR), 4, '0')
             FROM base
           UNION ALL SELECT i, 'u' || lpad(CAST(i AS VARCHAR), 4, '0')
             FROM base)
         SELECT x.id AS a, y.id AS b
         FROM m x JOIN m y ON x.i = y.i AND x.id < y.id
         ORDER BY a, b""",

    "q109_packing_report" ->
      // q77's window-cumsum re-derivation rolled up to the one-row report
      """WITH t AS (SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
           FROM documents),
         c AS (SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t),
         p AS (SELECT n, (cum - n) // 512 AS bin_first,
             CASE WHEN n > 0 THEN (cum - 1) // 512
                  ELSE (cum - n) // 512 END AS bin_last
           FROM c),
         agg AS (SELECT
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(CASE WHEN sum(n) > 0 THEN max(bin_last) + 1 ELSE 0 END
               AS BIGINT) AS n_windows,
             CAST(count(*) FILTER (WHERE bin_first < bin_last) AS BIGINT)
               AS n_straddlers
           FROM p)
         SELECT n_docs, n_tokens, n_windows, n_straddlers,
           CASE WHEN n_docs = 0 THEN 0.0
             ELSE round(n_straddlers * 1.0 / n_docs, 6) END AS straddle_frac,
           CASE WHEN n_windows = 0 THEN 0.0
             ELSE round(n_tokens * 1.0 / (n_windows * 512), 6) END
             AS fill_frac
         FROM agg""",

    "q110_zipf_fit" ->
      // q93's spectrum re-derivation, then the same closed-form OLS in SQL
      """WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
             x -> length(x) > 0)) AS tok FROM documents),
         tf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         spec AS (SELECT f AS freq, count(*) AS n_types FROM tf GROUP BY 1),
         pts AS (SELECT ln(CAST(freq AS DOUBLE)) AS x,
             ln(CAST(n_types AS DOUBLE)) AS y FROM spec),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(x * y) AS sxy, sum(y * y) AS syy FROM pts)
         SELECT CAST(n AS BIGINT) AS n_points,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
             ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
             ELSE round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
               / n, 6) END AS intercept,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
             THEN 0.0
             ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
               ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
         FROM s""",

    "q111_char_entropy" ->
      // DuckDB's entropy() is already log2-based Shannon entropy. Edge
      // semantics pinned to the Spark expression: NULL text stays NULL
      // (char_entropy is nullIntolerant; string_split(NULL) unnests to no
      // rows, so the CASE guards the LEFT-JOIN miss from coercing to 0.0);
      // empty text is 0.0 on both (string_split('','') yields [''] — ONE
      // single-symbol row, entropy 0 — not zero rows, so the coalesce arm
      // is only for future-proofing). FP note: both engines sum p*log2 p
      // in double and round to 6 — iteration order differs by ~1 ulp,
      // absorbed by the rounding (the q53 NMI-entropy device)
      """SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
             ELSE round(coalesce(e.ent, 0.0), 6) END AS char_entropy
         FROM documents d LEFT JOIN (
           SELECT doc_id, entropy(c) AS ent FROM (
             SELECT doc_id, unnest(string_split(text, '')) AS c
             FROM documents) GROUP BY 1) e USING (doc_id)
         ORDER BY d.doc_id""",

    "q112_activity_powerlaw" ->
      // the q110 closed-form OLS over the per-user activity spectrum
      """WITH a AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
         spec AS (SELECT c AS value, count(*) AS n_entities FROM a
           WHERE c > 0 GROUP BY 1),
         pts AS (SELECT ln(CAST(value AS DOUBLE)) AS x,
             ln(CAST(n_entities AS DOUBLE)) AS y FROM spec),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(x * y) AS sxy, sum(y * y) AS syy FROM pts)
         SELECT CAST(n AS BIGINT) AS n_points,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
             ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0.0
             ELSE round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
               / n, 6) END AS intercept,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
             THEN 0.0
             ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
               ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
         FROM s""",

    "q113_table_profile" ->
      // per-column UNION ALL re-derivation; sums cast to BIGINT (DuckDB
      // sums integers to HUGEINT), min/max cast to VARCHAR like the engine
      """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_val,
           CAST(max(doc_id) AS VARCHAR) AS max_val FROM documents
         UNION ALL
         SELECT 'text', count(*),
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT text) AS BIGINT),
           CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
         FROM documents
         UNION ALL
         SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
         FROM documents
         UNION ALL
         SELECT 'source', count(*),
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
         FROM documents
         UNION ALL
         SELECT 'n_chars', count(*),
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
         FROM documents""",

    "q114_dedup_weights" ->
      // same planted corpus; canonical = min id per exact text group,
      // weight = group size
      """WITH t AS (
           SELECT doc_id, text, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 100000, text, n_chars FROM documents
           WHERE doc_id % 5 = 0),
         g AS (SELECT text, min(doc_id) AS id, count(*) AS c
           FROM t GROUP BY 1)
         SELECT t.doc_id, t.n_chars, CAST(g.c AS BIGINT) AS weight
         FROM t JOIN g ON t.text = g.text AND t.doc_id = g.id
         ORDER BY t.doc_id""",

    "q115_sessionize" ->
      // same lag/gap/cumsum construction; epoch floored to match Spark's
      // truncating timestamp->long cast, event_id tie-break in both windows
      """WITH e AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
         f AS (SELECT user_id, t, event_id,
             CASE WHEN lag(t) OVER w IS NULL
                    OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         s AS (SELECT user_id, t,
             sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS session_idx
           FROM f)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           min(t) AS start_ts, max(t) AS end_ts,
           max(t) - min(t) AS duration_s
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    "q116_weighted_minhash_pairs" ->
      // the q15 brute-force oracle with COUNTS: tri-shingles keep repeats,
      // intersection mass = sum of per-tri minima, weighted jaccard =
      // sum-min / (|A| + |B| - sum-min)
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS tl FROM toks),
         posting AS (SELECT doc_id, tri, count(*) AS c FROM
           (SELECT doc_id, unnest(tl) AS tri FROM tris) GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tl) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b,
             sum(least(p1.c, p2.c)) AS ic
           FROM posting p1 JOIN posting p2
             ON p1.tri = p2.tri AND p1.doc_id < p2.doc_id
           GROUP BY 1, 2)
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY a, b""",

    "q117_numeric_histogram" ->
      // identical bin formula (same IEEE double ops -> same bin), dense
      // join against range(-1, nBins+1), NULL open edges, edges rounded 6
      """WITH b AS (SELECT range AS bin FROM range(-1, 13)),
         c AS (SELECT CASE WHEN v < 0.0 THEN -1
                 WHEN v >= 600.0 THEN 12
                 ELSE least(CAST(floor((v - 0.0) / 50.0) AS BIGINT), 11)
                 END AS bin,
               count(*) AS n
           FROM (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
                 WHERE n_chars IS NOT NULL)
           GROUP BY 1)
         SELECT b.bin,
           CASE WHEN b.bin = -1 THEN NULL
             ELSE round(b.bin * CAST(50.0 AS DOUBLE), 6) END AS lo_edge,
           CASE WHEN b.bin = 12 THEN NULL
             ELSE round((b.bin + 1) * CAST(50.0 AS DOUBLE), 6) END AS hi_edge,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
         FROM b LEFT JOIN c USING (bin) ORDER BY b.bin""",

    "q118_rrf_fusion" ->
      // q63's TF-IDF CTEs + q98's BM25 CTEs verbatim, each ranked top-10
      // on the rounded score, fused by sum 1/(60 + rank) rounded to 6,
      // re-ranked with the same item_id tie-break
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0))) AS token
           FROM documents),
         idf AS (
           SELECT token,
             1.0 + ln((SELECT count(*) FROM documents) * 1.0 / (count(*) + 1))
               AS idf
           FROM toks GROUP BY token),
         tf_scored AS (
           SELECT q.doc_id AS query_id, p.doc_id AS item_id,
             round(sum(i.idf * i.idf), 4) AS score
           FROM toks q
           JOIN toks p ON q.token = p.token AND q.doc_id <> p.doc_id
           JOIN idf i ON i.token = q.token
           WHERE q.doc_id % 25 = 0
           GROUP BY 1, 2),
         tf_ranked AS (
           SELECT query_id, item_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM tf_scored),
         lt AS (SELECT doc_id, list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0) AS l
           FROM documents),
         w AS (SELECT doc_id, l, len(l) AS dl FROM lt WHERE len(l) > 0),
         stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl
           FROM w),
         tok AS (SELECT doc_id, dl, unnest(l) AS token FROM w),
         btf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tok
           GROUP BY 1, 2, 3),
         bidf AS (SELECT token,
             ln((n - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
           FROM btf, stats GROUP BY token, n),
         bq AS (SELECT doc_id AS query_id, unnest(list_distinct(l)) AS token
           FROM w WHERE doc_id % 25 = 0),
         bm_scored AS (SELECT bq.query_id, t.doc_id AS item_id,
             round(sum(i.idf * (t.tf * 2.2) /
               (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))), 4) AS score
           FROM bq JOIN btf t ON bq.token = t.token AND bq.query_id <> t.doc_id
           JOIN bidf i ON i.token = bq.token CROSS JOIN stats s
           GROUP BY 1, 2),
         bm_ranked AS (
           SELECT query_id, item_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM bm_scored),
         contrib AS (
           SELECT query_id, item_id, 1.0 / (60 + rank) AS c
           FROM tf_ranked WHERE rank <= 10
           UNION ALL
           SELECT query_id, item_id, 1.0 / (60 + rank) AS c
           FROM bm_ranked WHERE rank <= 10),
         fused AS (
           SELECT query_id, item_id, round(sum(c), 6) AS score
           FROM contrib GROUP BY 1, 2),
         out AS (
           SELECT query_id, item_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM fused)
         SELECT query_id, item_id, rank, score FROM out
         WHERE rank <= 10 ORDER BY query_id, rank""",

    "q119_percentile_ranks" ->
      // the oracle uses the global window the engine is forbidden: DuckDB
      // percent_rank() = strictly-below / (n-1), ties share a value. NULL
      // scores are excluded from the partition and re-attached with NULL
      // pct (the engine's documented semantics — a windowed-over-everything
      // percent_rank would give NULL rows numeric pcts AND inflate n-1)
      """SELECT e.event_id, e.value, p.pct FROM events e LEFT JOIN (
           SELECT event_id, round(percent_rank() OVER (ORDER BY value), 6)
             AS pct
           FROM events WHERE value IS NOT NULL) p USING (event_id)
         ORDER BY e.event_id""",

    "q120_quantiles_by_group" ->
      // same construction: per-(lang, distinct value) counts, partitioned
      // cumulative sums, smallest value with cum >= q * n; probes cast to
      // DOUBLE (DuckDB list literals are DECIMAL)
      """WITH c AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL),
         g AS (SELECT lang, v, count(*) AS cnt FROM c GROUP BY 1, 2),
         cum AS (SELECT lang, v, sum(cnt) OVER (PARTITION BY lang
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum FROM g),
         tot AS (SELECT lang, count(*) AS n FROM c GROUP BY 1),
         qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
         SELECT cum.lang, q, min(v) AS value
         FROM cum JOIN tot USING (lang) CROSS JOIN qs
         WHERE cum >= q * n GROUP BY 1, 2 ORDER BY 1, 2""",

    "q121_weighted_sample" ->
      // identical exponential-race priorities: u from the md5-prefix hex
      // parsed as an integer (the q76 device + '0x' cast), pri =
      // -ln((v + 0.5)/2^32)/weight, k smallest with doc_id tie-break
      """WITH w AS (SELECT doc_id, n_chars FROM documents WHERE n_chars > 0),
         pri AS (SELECT doc_id, n_chars,
             -ln((CAST(concat('0x', substr(md5('graft' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0) / CAST(n_chars AS DOUBLE) AS p
           FROM w)
         SELECT doc_id, n_chars FROM
           (SELECT doc_id, n_chars FROM pri ORDER BY p, doc_id LIMIT 100)
         ORDER BY doc_id""",

    "q122_group_neardup_pairs" ->
      // group-union distinct tri-shingle jaccard over the same mirrored
      // corpus; the engine hashes tri-grams (equal modulo 64-bit
      // collisions, the q15 convention)
      """WITH corpus AS (
           SELECT doc_id % 97 AS g, text FROM documents
           UNION ALL SELECT doc_id % 97 + 1000, text FROM documents),
         toks AS (SELECT g, list_filter(string_split(text, ' '),
             x -> length(x) > 0) AS l FROM corpus),
         tris AS (SELECT g, unnest(list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS tri
           FROM toks),
         gset AS (SELECT DISTINCT g, tri FROM tris),
         sizes AS (SELECT g, count(*) AS n FROM gset GROUP BY 1),
         inter AS (SELECT a.g AS ga, b.g AS gb, count(*) AS ic
           FROM gset a JOIN gset b ON a.tri = b.tri AND a.g < b.g
           GROUP BY 1, 2)
         SELECT ga, gb, round(ic * 1.0 / (sa.n + sb.n - ic), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.g = ga JOIN sizes sb ON sb.g = gb
         WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY ga, gb""",

    "q123_incremental_weighted" ->
      // q57's bipartite device with COUNTS (the q116 weighted formula):
      // intersection mass = per-tri minima, wj = min-sum/(|A|+|B|-min-sum)
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS tl FROM toks),
         posting AS (SELECT doc_id, tri, count(*) AS c FROM
           (SELECT doc_id, unnest(tl) AS tri FROM tris) GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tl) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b,
             sum(least(p1.c, p2.c)) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id >= 100000 AND p2.doc_id < 100000
           GROUP BY 1, 2)
         SELECT a, b
         FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY a, b""",

    "q124_repeated_spans" ->
      // same construction on RAW 5-grams (engine hashes them — q15
      // convention), 1-based list positions throughout: heavy grams by
      // distinct-doc df, coverage = union of [i, i+4], anti-join rebuild
      // with position-ordered string_agg, every doc present
      """WITH t AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               'shared span alert five tokens exactly seven words ' || text
             ELSE text END AS text
           FROM documents),
         tk AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM t),
         gpos AS (SELECT doc_id, l,
             unnest(generate_series(1, greatest(len(l) - 4, 0))) AS i
           FROM tk),
         grams AS (SELECT doc_id, i, l[i] || ' ' || l[i+1] || ' ' ||
             l[i+2] || ' ' || l[i+3] || ' ' || l[i+4] AS gram FROM gpos),
         heavy AS (SELECT gram FROM grams GROUP BY 1
           HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT DISTINCT g.doc_id, g.i + o.off AS p
           FROM grams g JOIN heavy h ON g.gram = h.gram
           CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS off) o),
         tokpos AS (SELECT doc_id, unnest(l) AS tok,
             generate_subscripts(l, 1) AS p FROM tk),
         kept AS (SELECT tp.doc_id, tp.tok, tp.p FROM tokpos tp
           LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
           WHERE cov.p IS NULL),
         rebuilt AS (SELECT doc_id,
             string_agg(tok, ' ' ORDER BY p) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY 1)
         SELECT tk.doc_id AS id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(tk.l) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
         FROM tk LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY tk.doc_id""",

    "q125_filter_stack" ->
      // the three signal oracles (q31 quality, q111 entropy, the q60
      // distinct-token-ratio form) + three percent_rank windows + the
      // same left-associated mean, thresholded on the ROUNDED composite
      """WITH s AS (
           SELECT doc_id,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0))
               AS n_toks,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                 ' +', ' ', 'g'), ' '), x -> length(x) > 0) AS toks,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           -- engine parity: NULL-text rows get NULL signals -> NULL
           -- composite -> filtered; excluding them up front keeps every
           -- window's n-1 denominator identical (the q111 edge, pinned)
           FROM documents WHERE text IS NOT NULL),
         sig AS (
           SELECT doc_id,
             round(
               (CASE WHEN n_toks > 0 AND n_chars * 1.0 / n_toks
                     BETWEEN 3.0 AND 12.0 THEN 0.4 ELSE 0.0 END) +
               (CASE WHEN n_chars > 0 AND n_punct * 1.0 / n_chars <= 0.1
                     THEN 0.3 ELSE 0.0 END) +
               (CASE WHEN len(toks) > 0 AND
                     len(list_filter(toks, x -> x IN ('the','a','an','and',
                       'or','of','to','in','is','it','that','for','on',
                       'with','as','was','at','by')))
                     * 1.0 / len(toks) >= 0.05 THEN 0.3 ELSE 0.0 END)
               ::DOUBLE, 2) AS q,
             round(CASE WHEN len(l) = 0 THEN 1.0
               ELSE len(list_distinct(l)) * 1.0 / len(l) END, 4) AS r
           FROM s),
         ent AS (
           SELECT d.doc_id, round(coalesce(e.ent, 0.0), 6) AS h
           FROM documents d LEFT JOIN (
             SELECT doc_id, entropy(c) AS ent FROM (
               SELECT doc_id, unnest(string_split(text, '')) AS c
               FROM documents) GROUP BY 1) e USING (doc_id)
           WHERE d.text IS NOT NULL),
         p AS (
           SELECT sig.doc_id,
             round(percent_rank() OVER (ORDER BY q), 6) AS pq,
             round(percent_rank() OVER (ORDER BY h), 6) AS ph,
             round(percent_rank() OVER (ORDER BY r), 6) AS pr
           FROM sig JOIN ent USING (doc_id))
         SELECT doc_id, round((pq + ph + pr) / 3.0, 6) AS composite
         FROM p WHERE round((pq + ph + pr) / 3.0, 6) >= 0.5
         ORDER BY doc_id""",

    "q16_simhash_dup_pairs" ->
      """SELECT doc_id AS a, doc_id + 100000 AS b FROM documents ORDER BY a""",

    "q17_ann_topk" ->
      """SELECT query_id, item_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS item_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                        c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q18_embedding_neardup" ->
      """SELECT vec_id AS a, vec_id + 100000 AS b FROM embeddings ORDER BY a""",

    "q19_cc_exact_groups" ->
      """WITH corpus AS (
           SELECT doc_id FROM documents
           UNION ALL SELECT doc_id + 100000 FROM documents
           UNION ALL SELECT doc_id + 200000 FROM documents)
         SELECT doc_id AS id, doc_id % 100000 AS component
         FROM corpus ORDER BY id""",

    "q20_rank_clusters" ->
      """SELECT query_id, cluster_id, cluster_score, rank FROM (
           SELECT user_id AS query_id, event_type AS cluster_id,
             round(max(value), 2) AS cluster_score,
             row_number() OVER (PARTITION BY user_id
               ORDER BY max(value) DESC, event_type) AS rank
           FROM events GROUP BY user_id, event_type)
         WHERE rank <= 3 ORDER BY query_id, rank""",

    "q21_eval_metrics" ->
      """WITH ranked AS (
           SELECT query_id, cluster_id, rank FROM (
             SELECT user_id AS query_id, event_type AS cluster_id,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY max(value) DESC, event_type) AS rank
             FROM events GROUP BY user_id, event_type)
           WHERE rank <= 3),
         truth AS (
           SELECT user_id AS query_id, event_type AS true_cluster_id FROM (
             SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY count(*) DESC, event_type) AS rn
             FROM events GROUP BY user_id, event_type) WHERE rn = 1),
         per AS (
           SELECT t.query_id, min(r.rank) AS true_rank
           FROM truth t LEFT JOIN ranked r
             ON r.query_id = t.query_id AND r.cluster_id = t.true_cluster_id
           GROUP BY t.query_id)
         SELECT
           round(avg(CASE WHEN true_rank <= 1 THEN 1.0 ELSE 0.0 END), 6) AS acc_at_1,
           round(avg(CASE WHEN true_rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS acc_at_3,
           round(avg(CASE WHEN true_rank IS NOT NULL
             THEN 1.0 / true_rank ELSE 0.0 END), 6) AS mrr
         FROM per""",

    "q26_lerch_pair_score" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM corpus),
         n AS (SELECT count(*) AS total FROM corpus),
         idf AS (SELECT token,
             1.0 + ln((SELECT total FROM n) * 1.0 / (count(*) + 1)) AS idf
           FROM toks GROUP BY token),
         pairs AS (SELECT doc_id AS a, doc_id + 100000 AS b FROM documents)
         SELECT p.a, p.b, round(sum(i.idf * i.idf), 4) AS lerch_score
         FROM pairs p
         JOIN toks ta ON ta.doc_id = p.a
         JOIN toks tb ON tb.doc_id = p.b AND tb.token = ta.token
         JOIN idf i ON i.token = ta.token
         GROUP BY p.a, p.b ORDER BY p.a""",

    "q27_set_ops" ->
      """WITH s AS (SELECT doc_id AS a,
             list_distinct(string_split(text, ' ')) AS ta,
             list_distinct(string_split(text || ' zz', ' ')) AS tb
           FROM documents)
         SELECT a, len(list_intersect(ta, tb)) AS n_common,
           len(list_distinct(list_concat(ta, tb))) AS n_union,
           len(list_filter(tb, x -> NOT list_contains(ta, x))) AS n_only_b
         FROM s ORDER BY a""",

    "q28_tail_truncate" ->
      """SELECT doc_id, concat_ws(' ', '<s>',
           array_to_string(l[greatest(len(l) - 4, 1):len(l)], ' '), '</s>') AS tail_seq
         FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
         ORDER BY doc_id""",

    "q29_bootstrap_ci" ->
      // structural oracle (the q25/q30 pattern): input stats recomputed from
      // the table + the CI's invariants. `resamples` on the Spark side is
      // COUNTED from the bootstrap's own resample-means frame, so this row
      // checks the configured draw actually happened; ci_ordered /
      // ci_within_data_range hold for any correct bootstrap,
      // ci_brackets_mean is a deterministic (seeded) bit on this table
      """SELECT count(*) AS n_rows, round(avg(value), 4) AS data_mean,
         100 AS resamples, TRUE AS ci_ordered, TRUE AS ci_brackets_mean,
         TRUE AS ci_within_data_range
         FROM events""",

    "q35_fbeta_sweep" ->
      """WITH g AS (
           SELECT value AS threshold,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS tpg,
             sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS fpg
           FROM events GROUP BY value),
         c AS (
           SELECT threshold,
             sum(tpg) OVER (ORDER BY threshold
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(fpg) OVER (ORDER BY threshold
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
           FROM g),
         t AS (SELECT count(*) AS pos FROM events WHERE event_type = 'click')
         SELECT round(threshold, 2) AS threshold,
           round(tp * 1.0 / (tp + fp), 6) AS precision,
           round(tp * 1.0 / (SELECT pos FROM t), 6) AS recall,
           round(CASE WHEN tp = 0 THEN 0.0 ELSE
             (2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (SELECT pos FROM t))) /
             ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (SELECT pos FROM t))) END, 6) AS fbeta
         FROM c ORDER BY threshold""",

    "q49_fbeta_sweep_v2" ->
      """WITH g AS (
           SELECT value AS threshold, count(*) AS cntg,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS tpg,
             sum(CASE WHEN event_type <> 'click' AND event_id % 3 = 0
                 THEN 1 ELSE 0 END) AS tng
           FROM events GROUP BY value),
         c AS (
           SELECT threshold,
             sum(cntg) OVER (ORDER BY threshold
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccnt,
             sum(tpg) OVER (ORDER BY threshold
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(tng) OVER (ORDER BY threshold
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctn
           FROM g),
         t AS (SELECT count(*) AS n,
             sum(CASE WHEN event_type <> 'click' AND event_id % 3 = 0
                 THEN 1 ELSE 0 END) AS tn_tot
           FROM events),
         m AS (
           SELECT threshold, tp, ccnt - tp AS fp,
             (SELECT n FROM t) - ccnt - ((SELECT tn_tot FROM t) - ctn) AS fn
           FROM c)
         SELECT round(threshold, 2) AS threshold,
           round(tp * 1.0 / (tp + fp), 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN 0.0
             ELSE tp * 1.0 / (tp + fn) END, 6) AS recall,
           round(CASE WHEN tp = 0 THEN 0.0 ELSE
             (2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))) /
             ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn))) END, 6) AS fbeta
         FROM m ORDER BY threshold""",

    "q36_roc_auc" ->
      """WITH g AS (
           SELECT value AS s, count(*) AS cnt,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS pos
           FROM events GROUP BY value),
         c AS (SELECT s, cnt, pos,
             sum(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM g),
         a AS (SELECT sum(pos * (cum - cnt + (cnt + 1) / 2.0)) AS sumpos,
             sum(pos) AS p, sum(cnt - pos) AS n FROM c)
         SELECT round((sumpos - p * (p + 1) / 2.0) / (p * n), 6) AS auc FROM a""",

    "q34_regex_filter" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(text, '\bspark\b.*\bjoin\b') ORDER BY doc_id""",

    // structural oracle (q39 pattern): a separately-computed copy
    // fingerprint matches, a one-token append differs
    "q25_fingerprint" ->
      """SELECT doc_id, true AS copy_match, true AS append_differs
         FROM documents ORDER BY doc_id""",

    // closed form with alpha=0 over all-distinct tokens: self = 1,
    // one appended unmatched token = 2n/(2n+1), n = 3 + doc_id % 7
    "q30_fast_align" ->
      """SELECT doc_id, CAST(1.0 AS DOUBLE) AS score_self,
           round(CAST(2 * n AS DOUBLE) / (2 * n + 1), 4) AS score_pad
         FROM (SELECT doc_id, 3 + doc_id % 7 AS n FROM documents)
         ORDER BY doc_id""",

    "q32_training_pairs" ->
      """SELECT cluster_id, a, b FROM (
           SELECT e1.user_id AS cluster_id, e1.event_id AS a, e2.event_id AS b,
             row_number() OVER (PARTITION BY e1.user_id
               ORDER BY (e1.event_id * 1000003 + e2.event_id) % 999983,
                        e1.event_id, e2.event_id) AS rn
           FROM events e1 JOIN events e2
             ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id)
         WHERE rn <= 3 ORDER BY cluster_id, a, b""",

    "q33_training_triplets" ->
      """WITH reps AS (
           SELECT user_id AS c, min(event_id) AS rep FROM events GROUP BY 1),
         nxt AS (
           SELECT c, coalesce(lead(rep) OVER (ORDER BY rep),
             first_value(rep) OVER (ORDER BY rep
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS neg
           FROM reps),
         pairs AS (
           SELECT cluster_id, a, b FROM (
             SELECT e1.user_id AS cluster_id, e1.event_id AS a, e2.event_id AS b,
               row_number() OVER (PARTITION BY e1.user_id
                 ORDER BY (e1.event_id * 1000003 + e2.event_id) % 999983,
                          e1.event_id, e2.event_id) AS rn
             FROM events e1 JOIN events e2
               ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id)
           WHERE rn <= 2)
         SELECT cluster_id, a, b, neg FROM pairs JOIN nxt ON cluster_id = nxt.c
         ORDER BY cluster_id, a, b""",

    "q31_quality_score" ->
      """WITH s AS (
           SELECT doc_id,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_toks,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' '),
               x -> length(x) > 0) AS toks
           FROM documents)
         SELECT doc_id, round(
           (CASE WHEN n_toks > 0 AND n_chars * 1.0 / n_toks BETWEEN 3.0 AND 12.0
                 THEN 0.4 ELSE 0.0 END) +
           (CASE WHEN n_chars > 0 AND n_punct * 1.0 / n_chars <= 0.1
                 THEN 0.3 ELSE 0.0 END) +
           (CASE WHEN len(toks) > 0 AND
                 len(list_filter(toks, x -> x IN ('the','a','an','and','or','of',
                   'to','in','is','it','that','for','on','with','as','was','at','by')))
                 * 1.0 / len(toks) >= 0.05 THEN 0.3 ELSE 0.0 END)::DOUBLE, 2) AS quality
         FROM s ORDER BY doc_id""",

    "q22_event_admission" ->
      """SELECT event_id, user_id AS image_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS cluster_id
         FROM events
         WHERE event_type IN ('click', 'purchase')
           AND CAST(json_extract_string(props, '$.k') AS BIGINT) <> -1
         ORDER BY event_id""",

    "q37_event_ranking" ->
      """WITH q AS (SELECT event_id AS query_id, ts AS q_ts, value AS q_val
             FROM events WHERE event_type = 'error' AND event_id % 10 = 0),
         c AS (SELECT event_id AS item_id, ts AS c_ts, value AS c_val,
             user_id AS cluster FROM events),
         pairs AS (
           SELECT q.query_id, c.item_id, c.cluster,
             -abs(q.q_val - c.c_val) AS score
           FROM q JOIN c ON c.c_ts < q.q_ts
             AND CAST(floor(epoch(q.q_ts)) AS BIGINT)
               - CAST(floor(epoch(c.c_ts)) AS BIGINT) <= 86400),
         retrieved AS (
           SELECT query_id, cluster, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rn
           FROM pairs),
         scored AS (
           SELECT query_id, cluster AS cluster_id, max(score) AS s
           FROM retrieved WHERE rn <= 20 GROUP BY 1, 2),
         universe AS (SELECT DISTINCT query_id, cluster AS cluster_id FROM pairs),
         ranked AS (
           SELECT u.query_id, u.cluster_id,
             coalesce(s.s, -1000.0) AS cluster_score,
             row_number() OVER (PARTITION BY u.query_id
               ORDER BY coalesce(s.s, -1000.0) DESC, u.cluster_id) AS rank
           FROM universe u LEFT JOIN scored s
             ON s.query_id = u.query_id AND s.cluster_id = u.cluster_id)
         SELECT query_id, cluster_id,
           round(cluster_score, 2) + 0.0 AS cluster_score,
           rank
         FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""",

    "q38_retrieval_topk" ->
      """SELECT query_id, item_id, rank FROM (
           SELECT user_id AS query_id, event_id AS item_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id) AS rank
           FROM events) WHERE rank <= 5 ORDER BY query_id, rank""",

    "q39_lsh_ann_rank1" ->
      """SELECT vec_id + 100000 AS query_id, vec_id AS item_id, 1 AS rank
         FROM embeddings ORDER BY query_id""",

    "q50_pq_adc_guarantee" ->
      """SELECT vec_id + 100000 AS query_id, CAST(1 AS BOOLEAN) AS hit
         FROM embeddings WHERE vec_id < 500 ORDER BY query_id""",

    "q52_ivfpq_residual_guarantee" ->
      """SELECT vec_id + 100000 AS query_id, CAST(1 AS BOOLEAN) AS hit
         FROM embeddings WHERE vec_id < 500 ORDER BY query_id""",

    "q53_cluster_agreement" ->
      // ARI from first principles (pair counting over the contingency table;
      // all counts are integers in doubles, so the statistic is exact in both
      // engines); NMI's entropy sums are floats — rounded to 6 on both sides
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100000),
         corpus AS (
           SELECT doc_id, text FROM d
           UNION ALL SELECT doc_id + 100000, text FROM d),
         asg AS (SELECT doc_id AS id, text AS ca,
             substr(text, 1, 12) AS cb FROM corpus),
         cont AS (SELECT ca, cb, CAST(count(*) AS DOUBLE) AS nij
           FROM asg GROUP BY 1, 2),
         am AS (SELECT ca, sum(nij) AS ai FROM cont GROUP BY 1),
         bm AS (SELECT cb, sum(nij) AS bj FROM cont GROUP BY 1),
         nrow AS (SELECT sum(nij) AS n, sum(nij*(nij-1)/2) AS sumij FROM cont),
         arow AS (SELECT sum(ai*(ai-1)/2) AS suma, count(*) AS clusters_a FROM am),
         brow AS (SELECT sum(bj*(bj-1)/2) AS sumb, count(*) AS clusters_b FROM bm),
         mirow AS (SELECT sum(nij / n * ln(n * nij / (ai * bj))) AS mi
           FROM cont JOIN am USING (ca) JOIN bm USING (cb), nrow),
         harow AS (SELECT -sum(ai / n * ln(ai / n)) AS ha FROM am, nrow),
         hbrow AS (SELECT -sum(bj / n * ln(bj / n)) AS hb FROM bm, nrow),
         x AS (SELECT *,
             suma * sumb / (n * (n - 1) / 2) AS expected,
             (suma + sumb) / 2 AS maxi
           FROM nrow, arow, brow, mirow, harow, hbrow)
         SELECT CAST(n AS BIGINT) AS n, clusters_a, clusters_b,
           round((sumij - expected) / (maxi - expected), 6) AS ari,
           round(mi / sqrt(ha * hb), 6) AS nmi
         FROM x""",

    "q54_salted_band_pairs" ->
      // same-lang OR same-source pairs; the engine's salting must not add,
      // drop, or duplicate a single pair vs this enumeration
      """WITH d AS (SELECT doc_id, lang, source FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL)
         SELECT DISTINCT d1.doc_id AS a, d2.doc_id AS b
         FROM d d1 JOIN d d2
           ON (d1.lang = d2.lang OR d1.source = d2.source)
          AND d1.doc_id < d2.doc_id
         ORDER BY a, b""",

    "q55_skew_stats" ->
      // bucket sizes are key-derived (lang groups + source groups), so the
      // histogram is enumerable without reproducing the engine's hash keys
      """WITH d AS (SELECT lang, source FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL),
         buckets AS (
           SELECT count(*) AS bucket_n FROM d GROUP BY lang
           UNION ALL
           SELECT count(*) AS bucket_n FROM d GROUP BY source)
         SELECT length(bin(bucket_n)) AS size_class,
                count(*) AS n_buckets,
                CAST(sum(bucket_n) AS BIGINT) AS n_rows,
                max(bucket_n) AS max_bucket,
                CAST(sum(bucket_n * (bucket_n - 1) // 2) AS BIGINT) AS n_pairs
         FROM buckets GROUP BY 1 ORDER BY 1""",

    "q56_heavy_keys" ->
      """WITH d AS (SELECT lang, source FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL),
         buckets AS (
           SELECT count(*) AS bucket_n FROM d GROUP BY lang
           UNION ALL
           SELECT count(*) AS bucket_n FROM d GROUP BY source)
         SELECT bucket_n,
                (bucket_n - 1) // 32 + 1 AS groups,
                ((bucket_n - 1) // 32 + 1) * ((bucket_n - 1) // 32 + 2) // 2
                  AS cells
         FROM buckets WHERE bucket_n > 32
         ORDER BY bucket_n DESC""",

    "q51_long_match_pairs" ->
      // every planted (orig, junk+orig+junk) pair must fire, with the
      // closed-form LCS = len(orig): orig is contiguous in its variant and
      // no common substring can exceed the shorter side (n_chars ==
      // length(text) in this corpus — all-ASCII)
      """SELECT doc_id AS a, doc_id + 100000 AS b, n_chars AS lcs
         FROM documents WHERE doc_id < 40 AND n_chars BETWEEN 120 AND 1000
         ORDER BY a""",

    "q40_lcs_verify" ->
      """SELECT doc_id AS a, doc_id + 100000 AS b FROM documents
         WHERE doc_id < 60 AND n_chars >= 80 ORDER BY a""",

    "q43_prefix_unique_members" ->
      """SELECT user_id, event_type, event_id FROM (
           SELECT user_id, event_type, event_id,
             min(event_id) OVER (PARTITION BY user_id, event_type) AS mn
           FROM events) WHERE event_id = mn
         ORDER BY user_id, event_type""",

    "q44_normalize_seq" ->
      """SELECT doc_id,
         array_to_string(list_reverse(list_sort(list_distinct(
           string_split(text, ' ')))), ' ') AS norm_errors,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
           AS rev_frames
         FROM documents ORDER BY doc_id""",

    "q45_csv_state_scan" ->
      """SELECT CAST(floor(epoch(ts)) AS BIGINT) AS timestamp,
         event_id AS rid, user_id AS iid,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
         FROM events ORDER BY timestamp, rid""",

    "q42_dataset_converter" ->
      """SELECT doc_id AS rid,
         coalesce(CASE WHEN doc_id % 3 <> 0 THEN doc_id % 100 END, doc_id) AS iid
         FROM documents ORDER BY rid""",

    "q41_pair_metrics" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         corpus AS (
           SELECT doc_id, text FROM d
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM d
           UNION ALL SELECT doc_id + 200000,
             text || ' ' || array_to_string(list_transform(
               generate_series(1, CAST(ceil(len(string_split(text, ' ')) * 1.5) AS INT)),
               i -> 'k' || doc_id || 'x' || i), ' ')
           FROM d),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tset FROM toks),
         posting AS (SELECT doc_id, unnest(tset) AS tri FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2
             ON p1.tri = p2.tri AND p1.doc_id < p2.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tset) AS n FROM tris),
         jac AS (SELECT a, b, ic * 1.0 / (sa.n + sb.n - ic) AS j FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b),
         o AS (SELECT a, b FROM jac WHERE j >= 0.3),
         p AS (SELECT a, b FROM jac WHERE j >= 0.5),
         counts AS (SELECT
             (SELECT count(*) FROM o) AS oc,
             (SELECT count(*) FROM p) AS pc,
             (SELECT count(*) FROM o JOIN p USING (a, b)) AS hit)
         SELECT round(hit * 1.0 / oc, 6) AS recall,
           round(hit * 1.0 / pc, 6) AS precision,
           oc AS oracle_pairs, pc AS predicted_pairs, hit AS matched_pairs
         FROM counts""",

    "q46_ngram_jaccard_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tset FROM toks),
         posting AS (SELECT doc_id, unnest(tset) AS tri FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2
             ON p1.tri = p2.tri AND p1.doc_id < p2.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tset) AS n FROM tris)
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY a, b""",

    "q47_ivf_ann_rank1" ->
      """SELECT vec_id + 100000 AS query_id, vec_id AS item_id, 1 AS rank
         FROM embeddings ORDER BY query_id""",

    "q48_last_update_window" ->
      """WITH q AS (SELECT event_id AS query_id, ts AS q_ts FROM events
             WHERE event_type = 'error' AND event_id % 20 = 0),
         c AS (SELECT event_id AS item_id, ts AS c_ts, user_id AS cluster_id
             FROM events),
         active AS (SELECT DISTINCT q.query_id, q.q_ts, c.cluster_id
           FROM q JOIN c ON c.c_ts < q.q_ts
             AND CAST(floor(epoch(q.q_ts)) AS BIGINT)
               - CAST(floor(epoch(c.c_ts)) AS BIGINT) <= 86400),
         members AS (SELECT a.query_id, c.item_id, c.cluster_id
           FROM active a JOIN c ON c.cluster_id = a.cluster_id
           WHERE c.c_ts < a.q_ts)
         SELECT query_id, count(DISTINCT cluster_id) AS n_clusters,
           count(*) AS n_candidates, min(item_id) AS min_item
         FROM members GROUP BY 1 ORDER BY query_id""",

    "q57_incremental_neardup" ->
      // bipartite brute-force trigram Jaccard: NEW side (doc_id + 100000,
      // one appended token) vs corpus side only — no corpus-corpus or
      // new-new rows may appear
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS tset FROM toks),
         posting AS (SELECT doc_id, unnest(tset) AS tri FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id >= 100000 AND p2.doc_id < 100000
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(tset) AS n FROM tris)
         SELECT a, b
         FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5 ORDER BY a, b""",

    "q58_tfidf_cosine" ->
      // the q26 idf machinery + per-doc norms: cosine = IP / (norm_a norm_b)
      // over presence-idf vectors (reference TfIdfEncoder semantics)
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM corpus),
         n AS (SELECT count(*) AS total FROM corpus),
         idf AS (SELECT token,
             1.0 + ln((SELECT total FROM n) * 1.0 / (count(*) + 1)) AS idf
           FROM toks GROUP BY token),
         nrm AS (SELECT t.doc_id, sqrt(sum(i.idf * i.idf)) AS nrm
           FROM toks t JOIN idf i ON i.token = t.token GROUP BY t.doc_id),
         pairs AS (SELECT doc_id AS a, doc_id + 100000 AS b FROM documents),
         ip AS (SELECT p.a, p.b, sum(i.idf * i.idf) AS ip
           FROM pairs p
           JOIN toks ta ON ta.doc_id = p.a
           JOIN toks tb ON tb.doc_id = p.b AND tb.token = ta.token
           JOIN idf i ON i.token = ta.token
           GROUP BY p.a, p.b)
         SELECT ip.a, ip.b,
           round(ip.ip / (na.nrm * nb.nrm), 4) AS tfidf_cosine
         FROM ip JOIN nrm na ON na.doc_id = ip.a
                 JOIN nrm nb ON nb.doc_id = ip.b
         ORDER BY ip.a""",

    "q59_group_signatures" ->
      // structural oracle: counts/length recomputed by SQL; merged_eq_union
      // is the min-merge property of MinHash — definitionally TRUE for any
      // correct implementation (every doc here has >= 3 tokens, so no
      // empty-shingle exclusions apply)
      """SELECT lang AS "group", count(*) AS n_members,
         128 AS sig_len, TRUE AS merged_eq_union
         FROM documents WHERE lang IS NOT NULL
         GROUP BY 1 ORDER BY 1""",

    "q60_repetition_quality" ->
      """WITH toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM documents),
         b AS (SELECT doc_id, l, len(l) AS n,
             CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(l) - 1),
                 i -> l[i] || ' ' || l[i+1]) END AS bg
           FROM toks)
         SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
           round(CASE WHEN n = 0 THEN 1.0
             ELSE len(list_distinct(l)) * 1.0 / n END, 4) AS distinct_token_ratio,
           round(CASE WHEN len(bg) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END, 4)
             AS dup_bigram_frac
         FROM b ORDER BY doc_id""",

    "q62_quality_top_fraction" ->
      // the q31 quality expression + the tie-inclusive top-k rule:
      // kept iff #{strictly greater} < k, k = max(1, floor(0.25 n))
      """WITH s0 AS (
           SELECT doc_id,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n_toks,
             list_filter(string_split(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' '),
               x -> length(x) > 0) AS toks
           FROM documents),
         s AS (
           SELECT doc_id, round(
             (CASE WHEN n_toks > 0 AND n_chars * 1.0 / n_toks BETWEEN 3.0 AND 12.0
                   THEN 0.4 ELSE 0.0 END) +
             (CASE WHEN n_chars > 0 AND n_punct * 1.0 / n_chars <= 0.1
                   THEN 0.3 ELSE 0.0 END) +
             (CASE WHEN len(toks) > 0 AND
                   len(list_filter(toks, x -> x IN ('the','a','an','and','or','of',
                     'to','in','is','it','that','for','on','with','as','was','at','by')))
                   * 1.0 / len(toks) >= 0.05 THEN 0.3 ELSE 0.0 END)::DOUBLE, 2)
             AS quality
           FROM s0),
         k AS (SELECT greatest(1, CAST(floor(0.25 * count(*)) AS BIGINT)) AS k
               FROM s)
         SELECT s1.doc_id, s1.quality,
           (SELECT count(*) FROM s s2 WHERE s2.quality > s1.quality)
             < (SELECT k FROM k) AS kept
         FROM s s1 ORDER BY s1.doc_id""",

    "q61_semantic_dedup" ->
      // planted groups are exactly enumerable: each (v, v+100000) identical
      // pair groups under min id v; keep marks the representative
      """SELECT vec_id AS id, vec_id AS sem_group_id, TRUE AS keep
         FROM embeddings
         UNION ALL
         SELECT vec_id + 100000, vec_id, FALSE FROM embeddings
         ORDER BY id""",

    "q63_tfidf_index_topk" ->
      // posting-list retrieval recomputed in SQL: per-doc distinct tokens
      // (the normalize_text pipeline), idf = 1 + ln(N/(df+1)) from corpus
      // stats, score = sum(idf^2) over shared tokens, rank on the ROUNDED
      // score with item_id tie-break (matching the Spark side exactly)
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0))) AS token
           FROM documents),
         idf AS (
           SELECT token,
             1.0 + ln((SELECT count(*) FROM documents) * 1.0 / (count(*) + 1))
               AS idf
           FROM toks GROUP BY token),
         scored AS (
           SELECT q.doc_id AS query_id, p.doc_id AS item_id,
             round(sum(i.idf * i.idf), 4) AS score
           FROM toks q
           JOIN toks p ON q.token = p.token AND q.doc_id <> p.doc_id
           JOIN idf i ON i.token = q.token
           WHERE q.doc_id % 25 = 0
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, item_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM scored)
         SELECT query_id, item_id, rank, score FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank""",

    "q64_bipartite_hotkey" ->
      // both oversized-key paths recomputed in SQL: `salted` is the exact
      // cross-pair set per shared key (grid salting never changes the SET);
      // `degrade` replaces each over-ceiling key's pairs by left x the 8
      // smallest-id right rows (the bounded sample). Volume ceiling =
      // 64 * 63 / 2 pairs per key, the batch path's unsalted-bucket max.
      """WITH l AS (
           SELECT doc_id AS a,
             CASE WHEN doc_id % 10 < 4 THEN 0 ELSE doc_id % 97 END AS key
           FROM documents WHERE doc_id % 2 = 0),
         r AS (
           SELECT doc_id AS b,
             CASE WHEN doc_id % 10 < 4 THEN 0 ELSE doc_id % 97 END AS key
           FROM documents WHERE doc_id % 2 = 1),
         kc AS (
           SELECT la.key, la.n AS na, rb.n AS nb
           FROM (SELECT key, count(*) AS n FROM l GROUP BY key) la
           JOIN (SELECT key, count(*) AS n FROM r GROUP BY key) rb
             USING (key)),
         small AS (SELECT key FROM kc WHERE na * nb <= 64 * 63 / 2),
         big AS (SELECT key FROM kc WHERE na * nb > 64 * 63 / 2),
         topr AS (
           SELECT key, b FROM (
             SELECT key, b, row_number() OVER (PARTITION BY key ORDER BY b)
               AS rn
             FROM r WHERE key IN (SELECT key FROM big))
           WHERE rn <= 8),
         degrade AS (
           SELECT DISTINCT a, b FROM (
             SELECT l.a, r.b FROM l JOIN r USING (key)
             WHERE key IN (SELECT key FROM small)
             UNION ALL
             SELECT l.a, topr.b FROM l JOIN topr USING (key))),
         salted AS (
           SELECT DISTINCT l.a, r.b FROM l JOIN r USING (key)
           WHERE key IN (SELECT key FROM kc))
         SELECT 'degrade' AS mode, a, b FROM degrade
         UNION ALL
         SELECT 'salted' AS mode, a, b FROM salted
         ORDER BY mode, a, b""",

    "q65_incremental_assign" ->
      // the from-scratch labeling the delta fold must reproduce: every
      // (d, d+100000, d+200000) exact-copy triple is one component labeled
      // by its base doc_id (texts are unique across docs — the same
      // generator invariant q19's oracle already pins)
      """WITH all_ids AS (
           SELECT doc_id FROM documents
           UNION ALL SELECT doc_id + 100000 FROM documents
           UNION ALL SELECT doc_id + 200000 FROM documents)
         SELECT doc_id AS id, doc_id % 100000 AS component
         FROM all_ids ORDER BY id""",

    "q66_dedup_cascade" ->
      // all three tiers recomputed in SQL. Near-tier groups need genuine
      // transitive closure (the documents table's natural near-dup chains
      // merge with their +200000 variants), done by recursive min-label
      // propagation: `prop` seeds every survivor with its own id and
      // propagates any smaller label across an edge; UNION dedup bounds the
      // rows, labels are bounded below, so the fixpoint is the component
      // minimum — exactly the cascade's near-tier group id. Canonicals then
      // resolve through later tiers the way Dedup.cascade documents.
      """WITH RECURSIVE
         base AS (SELECT doc_id, text FROM documents),
         rows_all AS (
           SELECT doc_id AS id, text FROM base
           UNION ALL SELECT doc_id + 100000, text FROM base
           UNION ALL SELECT doc_id + 200000, text || ' zz' FROM base
           UNION ALL SELECT doc_id + 300000, 'sem ' || doc_id FROM base),
         exact_grp AS (
           SELECT id, min(id) OVER (PARTITION BY text) AS canon FROM rows_all),
         exact_rm AS (SELECT id, canon FROM exact_grp WHERE id <> canon),
         surv1 AS (SELECT id, text FROM rows_all
           WHERE id NOT IN (SELECT id FROM exact_rm)),
         toks AS (SELECT id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM surv1),
         tris AS (SELECT id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM toks),
         posting AS (SELECT id, unnest(t) AS tri FROM tris),
         sizes AS (SELECT id, len(t) AS n FROM tris),
         inter AS (SELECT p1.id AS a, p2.id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.id < p2.id GROUP BY 1, 2),
         edges AS (SELECT a, b FROM inter
           JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
           WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
         bi AS (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b AS u, a AS v FROM edges),
         prop(id, label) AS (
           SELECT id, id FROM surv1
           UNION
           SELECT bi.u, prop.label FROM prop JOIN bi ON bi.v = prop.id
           WHERE prop.label < bi.u),
         lab AS (SELECT id, min(label) AS canon FROM prop GROUP BY id),
         near_rm AS (SELECT id, canon FROM lab WHERE canon <> id),
         surv2 AS (SELECT id FROM lab WHERE canon = id),
         sem_rm AS (
           SELECT s3.id, s3.id - 300000 AS canon FROM surv2 s3
           JOIN surv2 s0 ON s0.id = s3.id - 300000
           WHERE s3.id >= 300000),
         kept AS (SELECT id FROM surv2
           WHERE id NOT IN (SELECT id FROM sem_rm)),
         res_exact AS (
           SELECT e.id, 'exact' AS tier,
             coalesce(s.canon, coalesce(n.canon, e.canon)) AS canonical
           FROM exact_rm e
           LEFT JOIN near_rm n ON n.id = e.canon
           LEFT JOIN sem_rm s ON s.id = coalesce(n.canon, e.canon)),
         res_near AS (
           SELECT n.id, 'near' AS tier, coalesce(s.canon, n.canon) AS canonical
           FROM near_rm n LEFT JOIN sem_rm s ON s.id = n.canon)
         SELECT id, tier, canonical FROM res_exact
         UNION ALL SELECT id, tier, canonical FROM res_near
         UNION ALL SELECT id, 'semantic' AS tier, canon AS canonical FROM sem_rm
         UNION ALL SELECT id, 'kept' AS tier, id AS canonical FROM kept
         ORDER BY id""",

    "q67_incremental_semantic" ->
      // full brute-force bipartite cosine join — proves both no false
      // positives AND nothing above threshold escaped the cell restriction
      """WITH fresh AS (
           SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings)
         SELECT f.vec_id AS a, c.vec_id AS b
         FROM fresh f, embeddings c
         WHERE list_cosine_similarity(f.embedding, c.embedding) >= 0.999
         ORDER BY a, b""",

    "q68_canonical_by_quality" ->
      // brute-force trigram-Jaccard edges (the q15 oracle) + recursive
      // min-label CC (the q66 device) + argmax-quality canonical per
      // component with min-id tie-break
      """WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM toks),
         posting AS (SELECT doc_id, unnest(t) AS tri FROM tris),
         sizes AS (SELECT doc_id, len(t) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id < p2.doc_id GROUP BY 1, 2),
         edges AS (SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
           WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
         bi AS (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b AS u, a AS v FROM edges),
         prop(id, label) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT bi.u, prop.label FROM prop JOIN bi ON bi.v = prop.id
           WHERE prop.label < bi.u),
         lab AS (SELECT id, min(label) AS comp FROM prop GROUP BY id),
         qual AS (SELECT doc_id AS id, length(text) AS quality FROM corpus)
         SELECT id AS doc_id, canonical, id = canonical AS keep
         FROM (SELECT l.id, first_value(l.id) OVER (
               PARTITION BY l.comp ORDER BY q.quality DESC, l.id ASC)
             AS canonical
           FROM lab l JOIN qual q ON q.id = l.id)
         ORDER BY doc_id""",

    "q69_dedup_audit" ->
      // same recursive-CC group reconstruction as q68, aggregated to the
      // cluster-size histogram auditHistogram emits
      """WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM corpus),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM toks),
         posting AS (SELECT doc_id, unnest(t) AS tri FROM tris),
         sizes AS (SELECT doc_id, len(t) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id < p2.doc_id GROUP BY 1, 2),
         edges AS (SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
           WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
         bi AS (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b AS u, a AS v FROM edges),
         prop(id, label) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT bi.u, prop.label FROM prop JOIN bi ON bi.v = prop.id
           WHERE prop.label < bi.u),
         lab AS (SELECT id, min(label) AS comp FROM prop GROUP BY id),
         csize AS (SELECT comp, count(*) AS cluster_size FROM lab GROUP BY 1),
         hist AS (SELECT cluster_size, count(*) AS n_clusters,
             cluster_size * count(*) AS n_rows
           FROM csize GROUP BY 1)
         SELECT cluster_size, n_clusters, n_rows,
           round(n_rows * 1.0 / (SELECT sum(n_rows) FROM hist), 6)
             AS row_fraction
         FROM hist ORDER BY cluster_size""",

    "q70_tfidf_index_eval" ->
      // the q63 posting-list retrieval, evaluated: queries are the unseen
      // ' zz' variants, idf comes from the CORPUS only, truth = the
      // original doc; Acc@1/Acc@5 + rank-truncated MRR@5 over ALL queries
      """WITH corpus AS (SELECT doc_id, text FROM documents),
         queries AS (
           SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
           FROM documents WHERE doc_id % 20 = 0),
         toks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0))) AS token
           FROM corpus),
         qtoks AS (
           SELECT doc_id, unnest(list_distinct(list_filter(string_split(
             regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'), ' '), x -> length(x) > 0))) AS token
           FROM queries),
         idf AS (
           SELECT token,
             1.0 + ln((SELECT count(*) FROM corpus) * 1.0 / (count(*) + 1))
               AS idf
           FROM toks GROUP BY token),
         scored AS (
           SELECT q.doc_id AS query_id, p.doc_id AS item_id,
             round(sum(i.idf * i.idf), 4) AS score
           FROM qtoks q
           JOIN toks p ON q.token = p.token
           JOIN idf i ON i.token = q.token
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, item_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, item_id) AS rank
           FROM scored),
         hits AS (
           SELECT q.doc_id AS query_id, r.rank
           FROM queries q LEFT JOIN ranked r
             ON r.query_id = q.doc_id AND r.item_id = q.doc_id - 100000
               AND r.rank <= 5)
         SELECT
           round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6)
             AS acc_at_1,
           round(avg(CASE WHEN rank <= 5 THEN 1.0 ELSE 0.0 END), 6)
             AS acc_at_5,
           round(avg(CASE WHEN rank IS NOT NULL THEN 1.0 / rank
             ELSE 0.0 END), 6) AS mrr
         FROM hits""",

    "q71_assignment_churn" ->
      // before = exact groups over corpus-minus-late-tranche; after =
      // near-dup groups (recursive min-label CC, q68 device) over the
      // corpus minus the deletion sweep — the CC runs on the FILTERED
      // corpus so deleted chain members genuinely split components
      """WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents),
         bef AS (
           SELECT doc_id AS id,
             min(doc_id) OVER (PARTITION BY text) AS gb
           FROM corpus WHERE doc_id % 89 <> 7),
         aftc AS (SELECT doc_id, text FROM corpus WHERE doc_id % 97 <> 3),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM aftc),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM toks),
         posting AS (SELECT doc_id, unnest(t) AS tri FROM tris),
         sizes AS (SELECT doc_id, len(t) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id < p2.doc_id GROUP BY 1, 2),
         edges AS (SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
           WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
         bi AS (SELECT a AS u, b AS v FROM edges
           UNION ALL SELECT b AS u, a AS v FROM edges),
         prop(id, label) AS (
           SELECT doc_id, doc_id FROM aftc
           UNION
           SELECT bi.u, prop.label FROM prop JOIN bi ON bi.v = prop.id
           WHERE prop.label < bi.u),
         lab AS (SELECT id, min(label) AS ga FROM prop GROUP BY id),
         j AS (
           SELECT b.gb, a.ga FROM bef b FULL OUTER JOIN lab a ON a.id = b.id)
         SELECT
           CASE WHEN gb IS NULL THEN 'added'
                WHEN ga IS NULL THEN 'removed'
                WHEN ga = gb THEN 'stable'
                ELSE 'relabeled' END AS status,
           count(*) AS n_images
         FROM j GROUP BY 1 ORDER BY status""",

    "q72_contamination" ->
      // bipartite brute-force jaccard evidence (the q57 device) over
      // corpus + benchmark, aggregated to the three report columns. Clean
      // probes have two tokens -> zero trigrams in DuckDB and one
      // unmatched whole-sequence shingle in Spark: zero evidence either way
      """WITH corpus AS (SELECT doc_id, text FROM documents),
         bench AS (
           SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
           FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 300000, 'probe ' || doc_id
           FROM documents WHERE doc_id % 20 = 0),
         allr AS (SELECT doc_id, text FROM corpus
           UNION ALL SELECT doc_id, text FROM bench),
         toks AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
           FROM allr),
         tris AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(l) - 2),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS t FROM toks),
         posting AS (SELECT doc_id, unnest(t) AS tri FROM tris),
         sizes AS (SELECT doc_id, len(t) AS n FROM tris),
         inter AS (SELECT p1.doc_id AS a, p2.doc_id AS b, count(*) AS ic
           FROM posting p1 JOIN posting p2 ON p1.tri = p2.tri
           WHERE p1.doc_id >= 100000 AND p2.doc_id < 100000
           GROUP BY 1, 2),
         hits AS (SELECT DISTINCT a FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
           WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5)
         SELECT
           (SELECT count(*) FROM bench) AS n_bench,
           (SELECT count(*) FROM hits) AS n_contaminated,
           round((SELECT count(*) FROM hits) * 1.0 /
             (SELECT count(*) FROM bench), 6) AS contamination_rate""",

    "q73_phash_orbit" ->
      // independent re-derivation of the D4 orbit: the same overflow-safe
      // mixed value p, then transpose / flipH / flipV / rot180 of p and of
      // transpose(p) as generated 64-term bit permutations (D4 = the Klein
      // four-group union its transpose coset), LEAST of the eight = the
      // full-dihedral canonical; rot90cw = flipH(transpose(p))
      s"""WITH m0 AS (SELECT doc_id,
           (doc_id * 2654435761 + n_chars * 40503) AS p0 FROM documents),
         m1 AS (SELECT doc_id, xor(p0, ((p0 & 4294967295) << 31)) AS p1 FROM m0),
         m2 AS (SELECT doc_id, xor(p1, (p1 >> 17)) AS p2 FROM m1),
         m3 AS (SELECT doc_id, xor(p2, ((p2 & 65535) << 47)) AS p3 FROM m2),
         m AS (SELECT doc_id,
           (p3 + ((p3 >> 5) & 1) * (-9223372036854775807 - 1)) AS p FROM m3),
         t1 AS (SELECT doc_id, p, ${permSql("p", srcTranspose)} AS p_t FROM m),
         t2 AS (SELECT doc_id, p, p_t,
           ${permSql("p", srcFlipH)} AS fh_p,
           ${permSql("p", srcFlipV)} AS fv_p,
           ${permSql("p", srcRot180)} AS r_p,
           ${permSql("p_t", srcFlipH)} AS fh_t,
           ${permSql("p_t", srcFlipV)} AS fv_t,
           ${permSql("p_t", srcRot180)} AS r_t FROM t1)
         SELECT doc_id, p, p_t, fh_t AS p_r90,
           LEAST(p, fh_p, fv_p, r_p, p_t, fh_t, fv_t, r_t) AS p_canon
         FROM t2 ORDER BY doc_id""")
}
