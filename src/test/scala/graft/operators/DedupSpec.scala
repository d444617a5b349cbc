package graft.operators

import graft.SparkSpec
import graft.config.DedupConfig
import graft.functions.HashKernels
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic near-dup corpus: 60 base docs, each with 0-3 perturbed
    * variants (token swaps), plus unrelated docs. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rng = new scala.util.Random(31)
    val vocab = (0 until 150).map(i => s"w$i")
    var id = 0L
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (_ <- 0 until 60) {
      val base = Array.fill(20 + rng.nextInt(10))(vocab(rng.nextInt(vocab.length)))
      out += ((id, base.mkString(" "))); id += 1
      for (_ <- 0 until rng.nextInt(4)) {
        val v = base.clone()
        v(rng.nextInt(v.length)) = vocab(rng.nextInt(vocab.length))
        out += ((id, v.mkString(" "))); id += 1
      }
    }
    out.toSeq
  }

  private val cfg = DedupConfig.default

  test("golden gate: MinHash-LSH pair recall >= 0.99 vs brute-force oracle") {
    val docs = corpus.toDF("doc_id", "text")
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val oracle = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(oracle.nonEmpty, "oracle produced no dup pairs — corpus broken")
    val recall = (oracle intersect lsh).size.toDouble / oracle.size
    assert(recall >= 0.99, s"recall=$recall oracle=${oracle.size} lsh=${lsh.size}")
    // LSH output is verified by exact Jaccard, so precision is exactly 1.0
    assert((lsh diff oracle).isEmpty,
      s"verified LSH pairs not in oracle: ${(lsh diff oracle).take(5)}")
  }

  test("golden gate holds under the OPH kernel (cfg.oph = true)") {
    // same corpus, same thresholds — only the signature kernel changes;
    // verify keeps precision exact and band recall must stay >= 0.99
    val docs = corpus.toDF("doc_id", "text")
    val ophCfg = cfg.copy(oph = true)
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", ophCfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val oracle = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(oracle.nonEmpty, "oracle produced no dup pairs — corpus broken")
    val recall = (oracle intersect lsh).size.toDouble / oracle.size
    assert(recall >= 0.99, s"recall=$recall oracle=${oracle.size} lsh=${lsh.size}")
    assert((lsh diff oracle).isEmpty,
      s"verified LSH pairs not in oracle: ${(lsh diff oracle).take(5)}")
  }

  test("groupSignatures rejects the OPH kernel (densified bins are not min-mergeable)") {
    val docs = corpus.toDF("doc_id", "text").withColumn("g", col("doc_id") % 5)
    val e = intercept[IllegalArgumentException] {
      Dedup.groupSignatures(docs, "doc_id", "text", "g", cfg.copy(oph = true))
    }
    assert(e.getMessage.contains("classic MinHash"))
  }

  test("bloom membership: exact vs brute force, no false negatives, probe prunes") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val texts = corpus.map(_._2).toSet
    // batch: half re-crawls (known), half fresh rows (unknown)
    val batch = corpus.filter(_._1 % 2 == 0).map { case (id, t) => (id + 10000L, t) } ++
      (0 until 80).map(i => (20000L + i, s"fresh page $i about nothing"))
    val got = Dedup.bloomKnownExact(batch.toDF("doc_id", "text"), corpusDf,
        "doc_id", "text")
      .as[(Long, Boolean)].collect().toMap
    batch.foreach { case (id, t) =>
      assert(got(id) == texts.contains(t), s"is_known wrong for $id")
    }
    // probe stage: no false negatives (every true member flagged), and the
    // prefilter prunes — fresh rows passing it are fpp-rare (deterministic
    // for this fixed corpus/sketch; bound is loose on purpose)
    val sketch = Dedup.bloomSketch(corpusDf, "text")
    val probed = Dedup.bloomProbe(batch.toDF("doc_id", "text"), "doc_id", "text", sketch)
      .select("doc_id", "might_known").as[(Long, Boolean)].collect().toMap
    batch.foreach { case (id, t) =>
      if (texts.contains(t)) assert(probed(id), s"false negative at $id")
    }
    val freshFlagged = batch.count { case (id, t) => !texts.contains(t) && probed(id) }
    assert(freshFlagged <= 8, s"bloom prefilter not pruning: $freshFlagged/80 fresh rows flagged")
  }

  test("simhash pairs match driver-side brute force at same config") {
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // brute force with the same kernels
    val sims = corpus.map { case (id, text) =>
      val toks = text.split(" ").map(t => graft.functions.Oracles.hashString(t, cfg.seed))
      val sh = HashKernels.shingleHashesFromTokenHashes(toks, cfg.shingleK, cfg.seed)
      id -> HashKernels.simhash64Array(sh, cfg.seed)
    }
    val expect = (for {
      (ia, ha) <- sims; (ib, hb) <- sims if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= cfg.hammingMax
    } yield (ia, ib)).toSet
    // chunk-bucket candidate generation is exhaustive for hamming <= chunks-1
    assert(got == expect, s"missing=${(expect diff got).take(5)} extra=${(got diff expect).take(5)}")
  }

  test("prefix-filtered exact n-gram Jaccard equals brute force pair-for-pair") {
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", cfg)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val expect = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", cfg)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(expect.nonEmpty, "oracle produced no dup pairs — corpus broken")
    assert(got.keySet == expect.keySet,
      s"missing=${(expect.keySet diff got.keySet).take(5)} " +
      s"extra=${(got.keySet diff expect.keySet).take(5)}")
    got.foreach { case (k, j) => assert(j == expect(k), s"jaccard differs at $k") }
  }

  test("prefix-filtered exact join is exact at a lower threshold too") {
    // threshold change moves both the prefix length and the verify gate;
    // result must stay identical to brute force
    val low = cfg.copy(jaccardMin = 0.3)
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", low)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expect = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", low)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == expect,
      s"missing=${(expect diff got).take(5)} extra=${(got diff expect).take(5)}")
  }

  test("prefix-filtered exact join equals brute force across a threshold sweep") {
    val docs = corpus.toDF("doc_id", "text")
    Seq(0.15, 0.33, 0.61, 0.8).foreach { t =>
      val c = cfg.copy(jaccardMin = t)
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", c)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val want = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", c)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == want,
        s"t=$t missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
    }
  }

  test("prefix-filtered exact join survives double-rounding threshold boundaries") {
    // 102 unique tokens -> 100 distinct trigram shingles; the 9-token prefix
    // doc has 7, all shared -> Jaccard exactly 7/100 = 0.07. At t = 0.07 the
    // un-guarded ceil(100 * 0.07) = ceil(7.000000000000001) = 8 would drop
    // the pair via the length filter (and shorten the prefix); the EPS guard
    // must keep this pair exact.
    val toksA = (0 until 102).map(i => s"u$i")
    val docs = Seq((1L, toksA.mkString(" ")), (2L, toksA.take(9).mkString(" ")))
      .toDF("doc_id", "text")
    val edge = cfg.copy(jaccardMin = 0.07)
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", edge)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expect = Dedup.bruteForceJaccardPairs(docs, "doc_id", "text", edge)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(expect == Set((1L, 2L)), s"oracle setup broken: $expect")
    assert(got == expect, s"boundary pair dropped: got=$got")
  }

  test("containment join equals brute force pair-for-pair, directionally") {
    // corpus + planted snippets: first 8 tokens of every 4th doc — contained
    // in the source at 1.0, the source NOT contained back
    val rows = corpus ++ corpus.collect { case (id, text) if id % 4 == 0 =>
      (id + 10000L, text.split(" ").take(8).mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    Seq(0.5, 0.8, 1.0).foreach { t =>
      val got = Dedup.containmentPairs(docs, "doc_id", "text", cfg, t)
        .select("a", "b", "containment").as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
      val want = Oracles.bruteForceContainmentPairs(docs, "doc_id", "text", cfg, t)
        .select("a", "b", "containment").as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
      assert(want.nonEmpty, s"t=$t oracle empty — corpus broken")
      assert(got.keySet == want.keySet,
        s"t=$t missing=${(want.keySet diff got.keySet).take(5)} " +
        s"extra=${(got.keySet diff want.keySet).take(5)}")
      got.foreach { case (k, c) => assert(c == want(k), s"containment at $k") }
      // directionality: every planted snippet is contained in its source at
      // exactly 1.0; at t = 1.0 the big side is never contained in the small
      corpus.collect { case (id, text) if id % 4 == 0 && text.split(" ").length >= 10 =>
        assert(got.get((id + 10000L, id)).contains(1.0),
          s"t=$t snippet ${id + 10000} not contained in $id")
      }
      if (t == 1.0)
        assert(!got.keySet.exists { case (a, b) => b == a + 10000L },
          "a full doc cannot be contained in its own snippet at t = 1.0")
    }
  }

  test("containment join survives double-rounding threshold boundaries") {
    // 102 unique tokens -> 100 distinct trigrams; the 9-token prefix doc has
    // 7, all shared -> containment of the snippet exactly 7/7 = 1.0, of the
    // big doc 7/100 = 0.07. At t = 0.07 the un-guarded ceil(100 * 0.07) = 8
    // would drop the big->small direction; the EPS guard must keep it.
    val toksA = (0 until 102).map(i => s"u$i")
    val docs = Seq((1L, toksA.mkString(" ")), (2L, toksA.take(9).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", cfg, 0.07)
      .select("a", "b", "containment").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.07), (2L, 1L, 1.0)),
      s"boundary directions wrong: $got")
  }

  test("minhashLshGroups: exact copies group under min id, singletons keep their own") {
    val docs = corpus.toDF("doc_id", "text")
    val withCopies = docs.unionByName(
      docs.limit(20).select(($"doc_id" + 50000).as("doc_id"), $"text"))
    val groups = Dedup.minhashLshGroups(withCopies, "doc_id", "text", cfg)
      .as[(Long, Long)].collect().toMap
    assert(groups.size == withCopies.count())
    // every copied doc must share its original's group
    (0L until 20L).flatMap(i => corpus.lift(i.toInt)).foreach { case (id, _) =>
      assert(groups(id + 50000) == groups(id), s"copy of $id not grouped")
    }
    // group label is the minimum member id
    groups.groupBy(_._2).foreach { case (g, members) =>
      assert(g == members.keys.min, s"group $g not labeled by min member")
    }
  }

  test("minhashLshGroups handles string ids (CC rides on hashed nids)") {
    val txt = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val docs = Seq(("doc-b", txt), ("doc-a", txt),
      ("doc-c", "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"))
      .toDF("doc_id", "text")
    val groups = Dedup.minhashLshGroups(docs, "doc_id", "text", cfg)
      .as[(String, String)].collect().toMap
    assert(groups("doc-a") == "doc-a" && groups("doc-b") == "doc-a",
      s"identical docs must group under the min string id: $groups")
    assert(groups("doc-c") == "doc-c")
  }

  test("exact dedup keeps min id per identical text") {
    val docs = Seq((5L, "x y z"), (2L, "x y z"), (9L, "a b c"), (1L, "q"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L, 1L))
  }

  test("embedding near-dup finds identical vectors") {
    val rng = new scala.util.Random(3)
    val vecs = (0L until 50L).map(i => (i, Array.fill(32)(rng.nextFloat() - 0.5f)))
    val withDups = vecs ++ vecs.take(10).map { case (i, v) => (i + 1000, v) }
    val df = withDups.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", cosineMin = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert((0L until 10L).forall(i => got.contains((i, i + 1000))), s"got=$got")
  }

  test("pair operators cache one frame per input side; clearCache releases all") {
    val docs = corpus.take(40).toDF("doc_id", "text")
    val rng = new scala.util.Random(7)
    val embs = (0L until 20L)
      .map(i => (i, Array.fill(16)(rng.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    // earlier tests leave operator caches behind: start from an empty
    // catalog cache so the final state is comparable
    spark.catalog.clearCache()
    val start = spark.sparkContext.getPersistentRDDs.keySet
    // (operator, input sides, run)
    val ops = Seq[(String, Int, () => Long)](
      ("minhashLshPairs", 1,
        () => Dedup.minhashLshPairs(docs, "doc_id", "text", cfg).count()),
      ("simhashPairs", 1,
        () => Dedup.simhashPairs(docs, "doc_id", "text", cfg).count()),
      ("ngramJaccardPairs", 1,
        () => Dedup.ngramJaccardPairs(docs, "doc_id", "text", cfg).count()),
      ("embeddingNearDupPairs", 1,
        () => Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding",
          cosineMin = 0.99).count()),
      ("longMatchPairs", 1,
        () => Dedup.longMatchPairs(docs, "doc_id", "text", minLen = 24, k = 8)
          .count()),
      ("incrementalNearDupPairs", 2,
        () => Dedup.incrementalNearDupPairs(docs,
          docs.select(col("doc_id") + 500 as "doc_id", $"text"),
          "doc_id", "text", cfg).count()),
      ("groupSignatures", 1,
        () => Dedup.groupSignatures(docs, "doc_id", "text", "doc_id", cfg)
          .count()))
    for ((name, sides, run) <- ops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.size <= sides, s"$name cached ${added.size} RDDs for $sides side(s)")
    }
    // the MinHash operators cache only the feature columns they read
    for (out <- Seq(Dedup.minhashLshPairs(docs, "doc_id", "text", cfg),
        Dedup.incrementalNearDupPairs(docs,
          docs.select(col("doc_id") + 500 as "doc_id", $"text"), "doc_id", "text", cfg))) {
      val cachedCols = out.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.output.map(_.name)
      }
      assert(cachedCols.nonEmpty &&
        cachedCols.forall(_ == Seq("id", "shingles", "band_keys")), cachedCols)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet != start,
      "the operators cached nothing, so the release check below proves nothing")
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.keySet == start,
      "clearCache must release every entry the operators cached")
  }

  test("incremental near-dup: bipartite only, matches brute force new-vs-corpus") {
    // the corpus itself contains near-dup pairs (base + variants) — NONE of
    // them may appear; only new-vs-corpus pairs do
    val docs = corpus.toDF("doc_id", "text")
    val fresh = corpus.take(40)
      .map { case (id, t) => (id + 10000, t + " yy") }
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(fresh, docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.forall { case (a, b) => a >= 10000 && b < 10000 },
      s"non-bipartite pair leaked: ${got.filterNot { case (a, b) => a >= 10000 && b < 10000 }.take(5)}")
    // brute-force bipartite oracle with the same kernels/config
    val union = corpus ++ fresh.as[(Long, String)].collect()
    val all = Dedup.bruteForceJaccardPairs(union.toDF("doc_id", "text"),
        "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val oracle = all.collect {
      case (a, b) if a < 10000 && b >= 10000 => (b, a)
      case (a, b) if a >= 10000 && b < 10000 => (a, b)
    }
    assert(oracle.nonEmpty)
    val recall = (oracle intersect got).size.toDouble / oracle.size
    assert(recall >= 0.99, s"recall=$recall oracle=${oracle.size} got=${got.size}")
    assert((got diff oracle).isEmpty, "verified pairs not in oracle")
  }

  test("incremental hot band key: degrade bounds volume, salting stays exact") {
    // the round-4 scale gap: a degenerate boilerplate caption shared by the
    // whole corpus AND the whole new batch puts every band key over the
    // ceiling (raw bipartite frames get no exact-group collapse) — without
    // per-key bounding this emits the full n_new * n_corpus cross product
    val boiler = "identical boilerplate caption text repeated across the web"
    val corpus = (0L until 60L).map(i => (i, boiler)).toDF("doc_id", "text")
    val fresh = (1000L until 1030L).map(i => (i, boiler)).toDF("doc_id", "text")
    val capped = cfg.copy(maxBucketSize = 8)
    val degraded = Dedup.incrementalNearDupPairs(fresh, corpus,
        "doc_id", "text", capped)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every band key holds the same populations, so the degrade is exactly
    // each new row x the 8 smallest-id corpus rows — 240 pairs, not 1800
    assert(degraded == (for {
      a <- 1000L until 1030L; b <- 0L until 8L
    } yield (a, b)).toSet)
    val salted = Dedup.incrementalNearDupPairs(fresh, corpus, "doc_id", "text",
      capped.copy(saltOversized = true)).count()
    assert(salted == 30L * 60L, "salting must keep the exact cross-pair set")
  }

  test("group signatures: min-merge equals union signature on random groups") {
    val docs = corpus.toDF("doc_id", "text")
      .withColumn("grp", col("doc_id") % 7)
    val got = Dedup.groupSignatures(docs, "doc_id", "text", "grp", cfg,
        verifyUnion = true)
      .select("group", "n_members", "sig_len", "merged_eq_union")
      .as[(Long, Long, Int, Boolean)].collect()
    assert(got.length == 7)
    assert(got.forall(_._4), s"merge property violated: ${got.filterNot(_._4).toSeq}")
    assert(got.forall(_._3 == cfg.numHashes))
    assert(got.map(_._2).sum == corpus.size)
  }

  test("semantic dedup groups planted duplicate vectors, keep marks the min id") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rng.nextFloat() - 0.5f)))
    val withDups = vecs ++ vecs.take(15).map { case (i, v) => (i + 1000, v) }
    val df = withDups.toDF("vec_id", "embedding")
    val got = Dedup.semanticDedupGroups(df, "vec_id", "embedding",
        cosineMin = 0.999, nlist = 8)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length == withDups.size)
    val groups = got.map(r => r._1 -> r._2).toMap
    (0L until 15L).foreach { i =>
      assert(groups(i + 1000) == i, s"copy ${i + 1000} not grouped with $i")
      assert(groups(i) == i)
    }
    (15L until 60L).foreach(i => assert(groups(i) == i, s"singleton $i moved"))
    got.foreach { case (id, g, keep) => assert(keep == (id == g)) }
    // exactly one representative per group
    got.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.count(_._3) == 1, s"group $g has ${rows.count(_._3)} reps")
    }
  }

  test("semantic dedup with a precomputed quantizer matches in-call training") {
    // the 10^12-row shape: the coarse quantizer is a persisted artifact
    // trained once per snapshot, not re-fit per dedup pass
    val rng = new scala.util.Random(23)
    val vecs = (0L until 50L).map(i => (i, Array.fill(16)(rng.nextFloat() - 0.5f)))
    val withDups = vecs ++ vecs.take(10).map { case (i, v) => (i + 1000, v) }
    val df = withDups.toDF("vec_id", "embedding")
    val cents = Ann.kmeansCentroids(
      df.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec", nlist = 8, iters = 2)
    val trained = Dedup.semanticDedupGroups(df, "vec_id", "embedding",
        cosineMin = 0.999, nlist = 8)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val supplied = Dedup.semanticDedupGroupsWith(df, "vec_id", "embedding",
        cosineMin = 0.999, centroids = cents)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(trained.toSeq == supplied.toSeq)
    intercept[IllegalArgumentException] {
      Dedup.semanticDedupGroupsWith(df, "vec_id", "embedding",
        cosineMin = 0.999, centroids = null)
    }
  }

  test("cascade: tiers fire in order and canonicals resolve to the kept set") {
    // hand-built corpus exercising every tier AND the chained-resolution
    // rule (a near-tier representative that the semantic tier removes must
    // pass its members to ITS canonical):
    //   base text A: docs 10, 11 exact copies; 12 near variant of A
    //   base text B: doc 20; 21 near variant
    //   doc 30: unique text, embedding IDENTICAL to doc 20's -> semantic dup
    //   doc 40: unique text, unique embedding -> kept singleton
    //   chained case: doc 5 unique short text with doc 10's embedding; after
    //   10 wins the near tier it is removed at the SEMANTIC tier (5 < 10),
    //   so 11's and 12's canonical must resolve through 10 to 5.
    val rng = new scala.util.Random(7)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(HashKernels.mix64(seed.toLong))
      Array.fill(8)(r.nextFloat() - 0.5f)
    }
    val a = Array.fill(30)(s"t${rng.nextInt(40)}").mkString(" ")
    val b = Array.fill(30)(s"u${rng.nextInt(40)}").mkString(" ")
    val rows = Seq(
      (5L, "chain anchor", vec(10)),
      (10L, a, vec(10)),
      (11L, a, vec(99)),
      (12L, a + " extra", vec(98)),
      (20L, b, vec(20)),
      (21L, b + " extra", vec(97)),
      (30L, "semantic twin", vec(20)),
      (40L, "lone unique document", vec(40)))
    val got = Dedup.cascade(rows.toDF("doc_id", "text", "embedding"),
        "doc_id", "text", "embedding", cfg, cosineMin = 0.999, nlist = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == rows.size)
    assert(got(11L) == ("exact", 5L))     // exact loser, resolved 10 -> 5
    assert(got(12L) == ("near", 5L))      // near loser, resolved 10 -> 5
    assert(got(10L) == ("semantic", 5L))  // near winner, then semantic loser
    assert(got(21L) == ("near", 20L))
    assert(got(30L) == ("semantic", 20L))
    assert(got(5L) == ("kept", 5L) && got(20L) == ("kept", 20L)
      && got(40L) == ("kept", 40L))
    val kept = got.filter(_._2._1 == "kept").keySet
    got.values.foreach { case (_, canon) => assert(kept.contains(canon)) }
  }

  test("incremental semantic pairs: bipartite only, id overlap safe, quantizer parity") {
    val rng = new scala.util.Random(41)
    val corpus = (0L until 60L).map(i => (i, Array.fill(12)(rng.nextFloat() - 0.5f)))
    // batch: 15 re-ingested corpus vectors under new ids, 5 under their
    // ORIGINAL ids (the re-crawl id-overlap case), 5 fresh unmatched vectors
    val reing = corpus.take(15).map { case (i, v) => (i + 1000, v) }
    val sameId = corpus.slice(20, 25)
    val fresh = (100L until 105L).map(i =>
      (i + 2000, Array.fill(12)(rng.nextFloat() - 0.5f)))
    val cdf = corpus.toDF("vec_id", "embedding")
    val ndf = (reing ++ sameId ++ fresh).toDF("vec_id", "embedding")

    val got = Dedup.incrementalSemanticPairs(ndf, cdf, "vec_id", "embedding",
        cosineMin = 0.999, nlist = 4)
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    // every planted copy surfaces its original (identical vectors share a
    // cell by construction); nothing else reaches 0.999
    val expected = (corpus.take(15).map(c => (c._1 + 1000, c._1)) ++
      sameId.map(c => (c._1, c._1))).toSet
    assert(pairs == expected, s"got ${pairs.size}, expected ${expected.size}")
    got.foreach(r => assert(r._3 >= 0.999))

    // corpus-trained in-call quantizer == the same quantizer supplied
    val cents = Ann.kmeansCentroids(
      cdf.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec", nlist = 4, iters = 3)
    val supplied = Dedup.incrementalSemanticPairs(ndf, cdf, "vec_id",
        "embedding", cosineMin = 0.999, centroids = cents)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(supplied == pairs)
    intercept[IllegalArgumentException] {
      Dedup.incrementalSemanticPairs(ndf, cdf, "vec_id", "embedding",
        cosineMin = 0.999)
    }
  }

  test("canonical-by-quality groups keep the best member, ties go to min id") {
    val docs = Seq(
      // near-dup pair (trigram jaccard 0.8): 2 has the higher quality
      (1L, "a b c d e f", 10.0),
      (2L, "a b c d e f g", 99.0),
      // singleton: shares no trigram with anything
      (3L, "zz yy xx ww vv uu", 5.0),
      // exact-copy pair with EQUAL quality: tie-break keeps min id 4
      (4L, "p q r s t u", 7.0),
      (5L, "p q r s t u", 7.0)
    ).toDF("doc_id", "text", "q")
    val got = Dedup.minhashLshGroupsBy(docs, "doc_id", "text", "q",
        DedupConfig.default)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (2L, false), 2L -> (2L, true),
      3L -> (3L, true),
      4L -> (4L, true), 5L -> (4L, false)))
    // contrast: the min-id convention would have kept 1, not 2
    val minId = Dedup.minhashLshGroups(docs, "doc_id", "text",
        DedupConfig.default)
      .as[(Long, Long)].collect().toMap
    assert(minId(2L) == 1L)
  }

  test("assignment diff: all four churn statuses") {
    val before = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("id", "g") // 4 removed later
    val after = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 5L))
      .toDF("id", "g") // 2 relabeled into 1's cluster, 5 added
    val got = Dedup.assignmentDiff(before, after, "id", "g")
      .as[(String, Long)].collect().toMap
    assert(got == Map("stable" -> 2L, "relabeled" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("contamination report: counts leaked benchmark rows, ignores clean ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "zz yy xx ww vv uu tt ss")
    ).toDF("id", "text")
    val bench = Seq(
      (10L, "the quick brown fox jumps over the lazy dog zz"), // leaks vs 1
      (11L, "completely different words nothing shared here at all")
    ).toDF("id", "text")
    val got = Dedup.contaminationReport(bench, corpus, "id", "text",
        DedupConfig.default)
      .as[(Long, Long, Double)].head()
    assert(got == ((2L, 1L, 0.5)))
  }

  test("lshPlan: factorizations, closed forms, and midpoint areas check out") {
    val rows = Dedup.lshPlan(spark, 4, 0.8)
      .as[(Int, Int, Double, Double, Double, Double)].collect()
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq((1, 4), (2, 2), (4, 1)))
    val byBands = rows.map(r => r._1 -> r).toMap
    // b=1, r=4: p(s) = s^4 -> s50 = 0.5^(1/4), p(0.8) = 0.8^4
    assert(math.abs(byBands(1)._3 - math.pow(0.5, 0.25)) < 1e-6)
    assert(math.abs(byBands(1)._4 - math.pow(0.8, 4)) < 1e-6)
    // analytic areas for b=1: fp = t^(r+1)/(r+1), fn = (1-t) - (1-t^(r+1))/(r+1)
    val fp1 = math.pow(0.8, 5) / 5
    val fn1 = 0.2 - (1 - math.pow(0.8, 5)) / 5
    assert(math.abs(byBands(1)._5 - fp1) < 1e-4, s"fp ${byBands(1)._5} vs $fp1")
    assert(math.abs(byBands(1)._6 - fn1) < 1e-4, s"fn ${byBands(1)._6} vs $fn1")
    // more bands -> S-curve shifts left: s50 strictly falls, p_at_target rises
    assert(rows.map(_._3).toSeq.sliding(2).forall(w => w(1) < w(0)))
    assert(rows.map(_._4).toSeq.sliding(2).forall(w => w(1) > w(0)))
    rows.foreach { r =>
      assert(r._4 >= 0.0 && r._4 <= 1.0 && r._5 >= 0.0 && r._6 >= 0.0)
    }
  }

  test("dupRateByStratum: within- and cross-stratum duplication by hand") {
    val docs = Seq(
      (1L, "x", "s1"), (2L, "x", "s2"), // cross-stratum dup pair
      (3L, "y", "s1"), (4L, "y", "s1"), // within-s1 dup pair
      (5L, "z", "s2")                   // unique
    ).toDF("doc_id", "text", "source")
    val got = Dedup.dupRateByStratum(docs, "doc_id", "text", "source")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("s1", 3L, 3L, 1L, 1.0),   // 1, 3, 4 all dup somewhere; only 1 crosses
      ("s2", 2L, 1L, 1L, 0.5)))  // 2 dups (and crosses), 5 unique
  }

  test("audit histogram: sizes, counts, row fractions") {
    // groups: {1,2,3} size 3, {4} singleton, {5,6} size 2
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L),
      (6L, 5L)).toDF("id", "g")
    val got = Dedup.auditHistogram(assign, "g")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, 1L, 0.166667),
      (2L, 1L, 2L, 0.333333),
      (3L, 1L, 3L, 0.5)))
  }

  test("groupNearDupPairs: identical-content groups pair at jaccard 1, " +
    "unrelated groups stay apart, order is least/greatest") {
    val docs = Seq(
      (1L, 10L, "alpha bravo charlie delta echo foxtrot"),
      (2L, 10L, "golf hotel india juliet kilo lima"),
      // group 20: same content as 10, different doc ids / order
      (3L, 20L, "golf hotel india juliet kilo lima"),
      (4L, 20L, "alpha bravo charlie delta echo foxtrot"),
      (5L, 30L, "mike november oscar papa quebec romeo sierra"))
      .toDF("doc_id", "grp", "text")
    val got = Dedup.groupNearDupPairs(docs, "text", "grp",
        DedupConfig.default)
      .select("ga", "gb", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((10L, 20L, 1.0)), s"got $got")
  }

  test("incrementalWeightedPairs: bipartite only, exact copies pair, " +
    "doubled spam does not") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val corpus = Seq((1L, base), (2L, "unrelated words entirely here now " +
      "with more filler tokens to shingle")).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, base),               // exact copy of corpus doc 1: wj = 1
      (102L, base + " " + base))  // doubled spam: wj ~ 0.46 < 0.6
      .toDF("doc_id", "text")
    val cfg = DedupConfig.default.copy(jaccardMin = 0.6)
    val got = Dedup.incrementalWeightedPairs(fresh, corpus, "doc_id",
        "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((101L, 1L)), s"got $got")
    // bipartite contract: 'a' is always a new id, 'b' always corpus
    assert(got.forall { case (a, b) => a >= 100L && b < 100L })
  }

  test("weightedMinhashPairs: copy-paste inflation no longer dedups against " +
    "its seed; exact copies still do") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docs = Seq(
      (1L, base),
      (2L, base),               // exact copy: wj = 1, must pair with 1
      (3L, base + " " + base))  // doubled spam: shingle SET ~ same, wj ~ 1/2
      .toDF("doc_id", "text")
    val cfg = DedupConfig.default.copy(jaccardMin = 0.6)
    val wRows = Dedup.weightedMinhashPairs(docs, "doc_id", "text", cfg)
      .select("a", "b", "wjaccard").as[(Long, Long, Double)].collect()
    assert(wRows.map(r => (r._1, r._2)).toSet == Set((1L, 2L)),
      s"weighted must keep only the exact pair, got ${wRows.toSeq}")
    assert(wRows.head._3 == 1.0) // exact verify value rides along
    // the UNWEIGHTED family pairs the doubled doc with its seed (set
    // jaccard near 1) — the distinction this operator exists for
    val unweighted = Dedup.minhashLshPairs(docs, "doc_id", "text", cfg)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(unweighted.contains((1L, 3L)) && unweighted.contains((1L, 2L)),
      s"set-jaccard family should pair the doubled doc too, got $unweighted")
  }
}
