package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/**
 * Physical-plan assertions: the queries must not only be correct, they must
 * produce the plan you'd want at 100x the data — broadcasts for small dims,
 * filter pushdown into the parquet scan, equi-joins (never nested-loop) for
 * the as-of harness, and no single-partition global windows anywhere.
 */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q04: small dimension tables broadcast") {
    val p = planOf(SparkEntry.queries("q04_brand_volume")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q02: time-slice predicate pushed into the parquet scan") {
    val p = SparkEntry.queries("q02_time_slice")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(ts)"), p.take(2000))
  }

  test("q34: regex prefilter still prunes columns at the scan") {
    val df = SparkEntry.queries("q34_regex_filter")(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    // only doc_id + text must be read, not the full documents schema
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      scan.take(2000))
  }

  test("q54: salted oversized buckets join on the grid key, never a nested loop") {
    val p = planOf(SparkEntry.queries("q54_salted_band_pairs")(spark, dir))
    assert(!p.contains("CartesianProduct"), "cartesian product in salted-band plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in salted-band plan")
  }

  test("q57: incremental near-dup plans equi-joins, never a nested loop") {
    val p = planOf(SparkEntry.queries("q57_incremental_neardup")(spark, dir))
    assert(!p.contains("CartesianProduct"), "cartesian product in incremental plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in incremental plan")
  }

  test("q61: semantic dedup plans equi-joins, never a nested loop") {
    val p = planOf(SparkEntry.queries("q61_semantic_dedup")(spark, dir))
    assert(!p.contains("CartesianProduct"), "cartesian product in semantic-dedup plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in semantic-dedup plan")
  }

  test("q65: the corpus-side relabel is a broadcast hash join") {
    // applyRelabels must never shuffle the corpus: the relabel map is the
    // broadcast build side, the assignment table streams through
    import spark.implicits._
    val assignments = spark.range(0, 100000)
      .select(col("id"), (col("id") % 1000).as("component"))
    val relabels = Seq((5L, 1L), (7L, 2L)).toDF("old_component", "component")
    val p = planOf(graft.operators.ConnectedComponents
      .applyRelabels(assignments, relabels))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for the relabel map")
  }

  test("q63/q64/q67/q68: round-5 joins are equi-joins, windows partitioned") {
    Seq("q63_tfidf_index_topk", "q64_bipartite_hotkey",
        "q67_incremental_semantic", "q68_canonical_by_quality").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in $q")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"unpartitioned WindowExec in $q: ${bad.headOption}")
    }
  }

  test("q74: OPH dedup keeps the q15 plan shape — equi-joins, no global window") {
    val df = SparkEntry.queries("q74_oph_dup_pairs")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in q74")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in q74")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec in q74: ${bad.headOption}")
  }

  test("q75: bloom probe is narrow; verify joins are equi-joins") {
    val df = SparkEntry.queries("q75_bloom_known")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in q75")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in q75")
    // the probe stage alone must stay a zero-shuffle projection
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val sketch = graft.operators.Dedup.bloomSketch(docs, "text")
    val probe = graft.operators.Dedup.bloomProbe(docs, "doc_id", "text", sketch)
    assert(!planOf(probe).contains("Exchange"),
      "bloom probe must be a narrow projection")
  }

  test("q76/q77/q78: curation plans — narrow sample, bucketed cumsum, keyed window") {
    // q76: the stratified sample is a pure filter — no join, no shuffle
    // beyond the final orderBy
    val q76 = SparkEntry.queries("q76_stratified_sample")(spark, dir)
    val p76 = planOf(q76)
    assert(!p76.contains("Join"), "join in a pure-filter sample plan")
    val ex76 = p76.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex76.forall(_.contains("rangepartitioning")),
      s"non-orderBy exchange in q76: $ex76")
    // q77/q78/q80: windows stay partitioned (cumSums buckets / per-key cap /
    // distinct-score per-group gate)
    Seq("q77_sequence_packing", "q78_per_source_cap",
        "q80_quality_gate_by_lang").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      assert(!planOf(df).contains("CartesianProduct"), s"cartesian in $q")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"unpartitioned WindowExec in $q: ${bad.headOption}")
    }
    // q79: novelty is a posting equi-join — no cartesian, no nested loop
    val q79 = planOf(SparkEntry.queries("q79_ngram_novelty")(spark, dir))
    assert(!q79.contains("CartesianProduct"), "cartesian in q79")
    assert(!q79.contains("BroadcastNestedLoopJoin"), "nested-loop join in q79")
  }

  test("q81-q84: line-dedup/mixture/pii/split plans — equi-joins, " +
      "broadcast mixing table, narrow redaction, partitioned windows") {
    // q81: the heavy-line flag join is an equi-join on the 8-byte line hash
    val q81 = planOf(SparkEntry.queries("q81_line_dedup")(spark, dir))
    assert(!q81.contains("CartesianProduct"), "cartesian in q81")
    assert(!q81.contains("BroadcastNestedLoopJoin"), "nested loop in q81")
    // q82: the one-row-per-stratum mixing table is the broadcast build side
    val q82 = planOf(SparkEntry.queries("q82_mixture_sample")(spark, dir))
    assert(q82.contains("BroadcastHashJoin"), q82.take(2000))
    // q83: redaction is a pure narrow projection — the only exchange is the
    // display orderBy
    val q83 = planOf(SparkEntry.queries("q83_pii_redaction")(spark, dir))
    assert(!q83.contains("Join"), "join in the redaction plan")
    val ex83 = q83.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex83.forall(_.contains("rangepartitioning")),
      s"non-orderBy exchange in q83: $ex83")
    // q84: split-unit join is an equi-join; the exact-group window stays
    // partitioned by the content hash
    val q84df = SparkEntry.queries("q84_leakfree_split")(spark, dir)
    val q84 = planOf(q84df)
    assert(!q84.contains("CartesianProduct"), "cartesian in q84")
    assert(!q84.contains("BroadcastNestedLoopJoin"), "nested loop in q84")
    val bad84 = q84df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad84.isEmpty, s"unpartitioned WindowExec in q84: ${bad84.headOption}")
  }

  test("q69/q70: no cartesian on data-sized frames, no global window") {
    // q69's single BroadcastNestedLoopJoin is the INTENDED plan: the 1-row
    // grand-total aggregate broadcast onto the (tiny) histogram — same
    // device as topFractionGlobal/ARI. The pin here is no CartesianProduct
    // (unbroadcast product) and no unpartitioned window anywhere.
    Seq("q69_dedup_audit", "q70_tfidf_index_eval").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"unpartitioned WindowExec in $q: ${bad.headOption}")
    }
  }

  test("q85-q88: heavy-ngram agg, exact quantiles, dup-line projection, " +
      "crop-dup joins") {
    // q85: one explode + one aggregation — no join anywhere
    val q85 = planOf(SparkEntry.queries("q85_heavy_ngrams")(spark, dir))
    assert(!q85.contains("Join"), "join in the heavy-ngram aggregation plan")
    assert(q85.contains("HashAggregate"), q85.take(2000))
    // q86: the 1-row total broadcast is the intended BNLJ (the q69 device);
    // the pin is no CartesianProduct and every window bucket-partitioned
    val q86df = SparkEntry.queries("q86_exact_quantiles")(spark, dir)
    val q86 = planOf(q86df)
    assert(!q86.contains("CartesianProduct"), "cartesian in q86")
    val bad86 = q86df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad86.isEmpty, s"unpartitioned WindowExec in q86: ${bad86.headOption}")
    // q87: pure narrow projection — no join; the only exchange is the
    // display orderBy
    val q87 = planOf(SparkEntry.queries("q87_dup_line_signals")(spark, dir))
    assert(!q87.contains("Join"), "join in the dup-line projection plan")
    val ex87 = q87.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex87.forall(_.contains("rangepartitioning")),
      s"non-orderBy exchange in q87: $ex87")
    // q88/q89: crop-dup and border-dup candidate + evidence joins are all
    // equi-joins
    Seq("q88_crop_dups", "q89_border_dups").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }
  }

  test("q73: the orbit projection is narrow — no exchange, join, or window") {
    // one parquet scan + whole-stage-codegen'd expressions; any shuffle here
    // would mean the permutation kernels stopped being pure projections
    val df = SparkEntry.queries("q73_phash_orbit")(spark, dir)
    val p = planOf(df)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-orderBy exchange in q73: $exchanges")
    assert(!p.contains("Join"), "join in a pure-projection plan")
    // the kernels are codegen'd expressions feeding one FileScan projection
    assert(p.contains("FileScan parquet [doc_id"), p.take(1500))
  }

  test("q66: the dedup cascade plans equi-joins and partitioned windows only") {
    val df = SparkEntry.queries("q66_dedup_cascade")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in cascade plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in cascade plan")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("q37: the as-of harness plans equi-joins, never a nested loop") {
    val p = planOf(SparkEntry.queries("q37_event_ranking")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in as-of plan")
    assert(!p.contains("CartesianProduct"), "cartesian product in as-of plan")
  }

  test("metrics sweeps contain no unpartitioned window") {
    import spark.implicits._
    val scored = (1 to 200).map(i => (i * 0.37 % 11, i % 3 == 0))
      .toDF("score", "is_new")
    val df = graft.eval.Metrics.fBetaSweep(scored, "score", "is_new", 1.0)
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("fBetaSweepV2 contains no unpartitioned window") {
    import spark.implicits._
    val scored = (1 to 200).map(i => (i * 0.37 % 11, i % 3 == 0, i % 5 == 0))
      .toDF("score", "is_new", "is_hit")
    val df = graft.eval.Metrics.fBetaSweepV2(scored, "score", "is_new", "is_hit", 1.0)
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("q46: exact jaccard join plans no cartesian and no unpartitioned window") {
    val df = SparkEntry.queries("q46_ngram_jaccard_exact")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in exact-jaccard plan")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("q91/q94: containment join and cluster churn plan equi-joins, " +
    "never a nested loop, no unpartitioned window") {
    Seq("q91_containment_pairs", "q94_cluster_churn").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q plan")
      // the prefix-vs-posting join condition mixes an equi-key (the gram)
      // with inequality filters; Catalyst must extract the equi-key, not
      // fall back to a nested loop over data-sized frames. q94's final
      // crossJoin of three ONE-ROW aggregate summaries legitimately plans
      // as a broadcast nested loop (the clusterAgreement shape), so the
      // nested-loop ban applies to the data-sized q91 only.
      if (q == "q91_containment_pairs")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in $q plan")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"unpartitioned WindowExec in $q: ${bad.headOption}")
    }
  }

  test("q93/q95: spectrum and caption-spam are pure aggregations — " +
    "no join, no window, no exchange beyond the two agg shuffles") {
    Seq("q93_frequency_spectrum" -> 2, "q95_caption_spam" -> 2).foreach {
      case (q, maxExchanges) =>
        val df = SparkEntry.queries(q)(spark, dir)
        val p = planOf(df)
        assert(!p.contains("Join"), s"unexpected join in $q plan")
        val exchanges = "Exchange".r.findAllIn(p).size
        // + the final orderBy range partitioning
        assert(exchanges <= maxExchanges + 1,
          s"$q plans $exchanges exchanges (expected <= ${maxExchanges + 1})")
    }
  }

  test("q51: long-match anchor join plans equi-joins, never a nested loop") {
    val p = planOf(SparkEntry.queries("q51_long_match_pairs")(spark, dir))
    assert(!p.contains("CartesianProduct"), "cartesian product in long-match plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in long-match plan")
  }

  test("q52: residual ivfadc plans equi-joins, never a nested loop") {
    val p = planOf(SparkEntry.queries("q52_ivfpq_residual_guarantee")(spark, dir))
    assert(!p.contains("CartesianProduct"), "cartesian product in residual-ivfadc plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in residual-ivfadc plan")
  }

  test("q47: ivf assignment and probe selection are narrow (no cross join)") {
    // centroids ride into the plan as one driver-held book: cell assignment
    // and probe selection must be per-row kernels — no cartesian/nested-loop
    // join, and the only window is the final per-query rank (partitioned)
    val df = SparkEntry.queries("q47_ivf_ann_rank1")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in ivf plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in ivf plan")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("q48: last-update window plans equi-joins only") {
    val p = planOf(SparkEntry.queries("q48_last_update_window")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in last-update plan")
    assert(!p.contains("CartesianProduct"), "cartesian product in last-update plan")
  }

  test("training triplets contain no unpartitioned window") {
    import spark.implicits._
    val asg = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "c")
    val df = graft.operators.TrainingData.triplets(asg, "id", "c", 2)
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned WindowExec present: ${bad.headOption}")
  }

  test("q99/q101/q104: data-sized joins are equi; only bounded 1-row " +
    "combines may nest-loop; no unpartitioned window") {
    // q104's budget: dataCard's two card combines + exactQuantiles'
    // internal 1-row total broadcast + the cumSums boundary stitch
    Seq("q99_transitivity_audit" -> 2, "q101_distribution_drift" -> 1,
      "q104_data_card" -> 4).foreach { case (q, maxOneRowCombines) =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      // crossJoins of 1-row aggregates plan as BNLJ with a 1-row build
      // side — bounded at any scale; anything beyond that budget would be
      // a data-sized nested loop
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= maxOneRowCombines,
        s"$q plans $bnlj nested-loop joins (allowed $maxOneRowCombines " +
          "1-row combines)")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q has an unpartitioned WindowExec")
    }
  }

  test("q100/q102: planner table and cap-loss report are join-free " +
    "aggregation shapes") {
    val p100 = planOf(SparkEntry.queries("q100_lsh_plan")(spark, dir))
    assert(!p100.contains("Join"), "unexpected join in lshPlan")
    // divisor frame -> HOF aggregate projection -> sort: nothing else
    assert("Exchange".r.findAllIn(p100).size <= 1, p100.take(1500))
    val p102 = planOf(SparkEntry.queries("q102_cap_loss_report")(spark, dir))
    assert(!p102.contains("Join"), "unexpected join in capLossReport")
    // key-count shuffle + status agg + final orderBy
    assert("Exchange".r.findAllIn(p102).size <= 3, p102.take(1500))
  }

  test("q103/q105: bipartite cap-loss and scale dedup plan equi-joins, " +
    "never a nested loop") {
    Seq("q103_bipartite_cap_loss", "q105_scale_dups").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }
  }

  test("q106/q108: stratum-dup and geometric dedup plan equi-joins, " +
    "never a nested loop") {
    Seq("q106_dup_by_stratum", "q108_geometric_dups").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }
  }

  test("q107/q109: drift and packing report keep data-sized joins equi; " +
    "only bounded 1-row combines nest-loop; no unpartitioned window") {
    // q107: two 1-row card combines; q109: the cumSums boundary stitch
    Seq("q107_embedding_drift" -> 2, "q109_packing_report" -> 2).foreach {
      case (q, maxOneRowCombines) =>
        val df = SparkEntry.queries(q)(spark, dir)
        val p = planOf(df)
        assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
        assert(bnlj <= maxOneRowCombines, s"$q plans $bnlj nested loops")
        val bad = df.queryExecution.executedPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(bad.isEmpty, s"$q has an unpartitioned WindowExec")
    }
  }

  test("q110: zipf fit is a join-free aggregation chain") {
    val p = planOf(SparkEntry.queries("q110_zipf_fit")(spark, dir))
    assert(!p.contains("Join"), "unexpected join in zipfFit")
    // token-count shuffle + spectrum shuffle + the 1-row final agg
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(1500))
  }

  test("q111: char entropy is a narrow join-free projection in codegen") {
    val p = planOf(SparkEntry.queries("q111_char_entropy")(spark, dir))
    assert(!p.contains("Join"), "unexpected join in char entropy")
    // codegen fusion is pinned in ExpressionsSpec (the AQE plan string
    // carries no codegen stars pre-execution); here: only the orderBy's
    // range exchange
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("q112: activity power-law fit is a join-free aggregation chain") {
    val p = planOf(SparkEntry.queries("q112_activity_powerlaw")(spark, dir))
    assert(!p.contains("Join"), "unexpected join in powerLawFit")
    // per-user agg shuffle + spectrum shuffle + the 1-row final agg
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(1500))
  }

  test("q113: table profile is one join-free multi-distinct aggregation") {
    val p = planOf(SparkEntry.queries("q113_table_profile")(spark, dir))
    assert(!p.contains("Join"), "unexpected join in tableProfile")
    // the multi-distinct Expand plan's own exchanges only (partial/final)
    assert(p.contains("Expand"), "expected Spark's multi-distinct Expand")
  }

  test("q117/q118: histogram and RRF fusion plan equi-joins, " +
    "never a data-sized nested loop") {
    // round 6: q118's corpus stats went back to eager driver scalars (the
    // in-plan cross-join combine inflated size estimates and flipped join
    // sides — the idfTable lesson), so its budget is 0 nested loops again
    Seq("q117_numeric_histogram" -> 0, "q118_rrf_fusion" -> 0).foreach {
      case (q, maxOneRowCombines) =>
        val p = planOf(SparkEntry.queries(q)(spark, dir))
        assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
        assert(bnlj <= maxOneRowCombines,
          s"$q plans $bnlj nested-loop joins (allowed $maxOneRowCombines " +
            "1-row combines)")
    }
  }

  test("q119/q120: rank calibration and grouped quantiles use no " +
    "unpartitioned window, no cartesian") {
    Seq("q119_percentile_ranks", "q120_quantiles_by_group",
        "q125_filter_stack").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      val bad = df.queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q has an unpartitioned WindowExec")
    }
  }

  test("q121: weighted sample is a narrow top-k, never a full global sort") {
    val df = SparkEntry.queries("q121_weighted_sample")(spark, dir)
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"expected the per-partition-heap top-k operator:\n${p.take(1500)}")
    assert(!p.contains("Join"), "unexpected join in q121")
  }

  test("q116/q122: weighted and group-level minhash keep the q15 plan " +
    "shape — equi-joins only") {
    Seq("q116_weighted_minhash_pairs", "q122_group_neardup_pairs",
        "q123_incremental_weighted").foreach { q =>
      val p = planOf(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }
  }

  test("q124: repeated-span removal plans equi-joins only, no window") {
    val df = SparkEntry.queries("q124_repeated_spans")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in q124")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested loop in q124")
    // typed collect, not a string match: the plan string renders the node
    // as "Window" so contains("WindowExec") could never fail
    val wins = df.queryExecution.executedPlan.collect { case w: WindowExec => w }
    assert(wins.isEmpty, "unexpected window in q124")
  }

  test("q115: sessionize windows all partition by user, no joins") {
    val df = SparkEntry.queries("q115_sessionize")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("Join"), "unexpected join in sessionize")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "q115 has an unpartitioned WindowExec")
  }

  test("q114: dedup weights plan equi-joins only, no unpartitioned window") {
    val df = SparkEntry.queries("q114_dedup_weights")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), "cartesian product in q114")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested loop in q114")
    val bad = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "q114 has an unpartitioned WindowExec")
  }
}
