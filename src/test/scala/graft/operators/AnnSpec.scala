package graft.operators

import graft.SparkSpec
import graft.functions.HashKernels
import org.apache.spark.sql.DataFrame

class AnnSpec extends SparkSpec {
  import spark.implicits._

  /** Clustered vectors (20 centers + small noise): the realistic ANN regime —
    * true neighbors are materially closer than the bulk. Uniform-random
    * vectors have no neighborhood structure for any LSH to exploit. */
  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(5)
    val centers = Array.fill(20)(Array.fill(32)(rng.nextFloat() - 0.5f))
    (0L until 200L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(_ + (rng.nextFloat() - 0.5f) * 0.1f))
    }
  }

  test("brute-force top-k matches driver-side oracle") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Ann.bruteForceTopK(df, df.where($"vec_id" < 5), "vec_id", "embedding", 10)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val byId = vecs.toMap
    (0L until 5L).foreach { q =>
      val expect = vecs.filter(_._1 != q)
        .map { case (i, v) => (i, HashKernels.cosine(byId(q), v)) }
        .sortBy { case (i, c) => (-c, i) }.take(10).map(_._1)
      assert(got(q) == expect, s"query $q")
    }
  }

  test("ivf top-k with full probe equals exact brute force") {
    // probing every cell removes the approximation: result must match the
    // exact baseline row-for-row (same tie-break)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 10)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Ann.ivfTopK(df, queries, "vec_id", "embedding", 10,
      nlist = 8, nProbe = 8)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == exact,
      s"missing=${(exact diff ivf).take(5)} extra=${(ivf diff exact).take(5)}")
  }

  test("ivf top-k achieves decent recall@10 at partial probe") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(df, queries, "vec_id", "embedding", 10,
      nlist = 16, nProbe = 6)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("ivf: sim-tied assignment and probe agree (zero vector reachable at nProbe=1)") {
    // a zero vector ties at cosine 0 with every centroid; assignment and
    // probe selection must break the tie the same way or the copy's cell is
    // unreachable at partial probe
    val data = vecs ++ Seq((900L, Array.fill(32)(0f)), (901L, Array.fill(32)(0f)))
    val df = data.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" === 901L)
    val candidates = Ann.ivfTopK(df, queries, "vec_id", "embedding", k = 300,
        nlist = 8, nProbe = 1)
      .select("item_id").as[Long].collect().toSet
    assert(candidates.contains(900L),
      s"tied-sim item not reachable through its assigned cell: $candidates")
  }

  test("ivf assignment is deterministic across reruns") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 10)
    def run() = Ann.ivfTopK(df, queries, "vec_id", "embedding", 5,
        nlist = 16, nProbe = 3)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(run() == run())
  }

  test("kmeans-refined centroids: deterministic, full probe stays exact") {
    val df = vecs.toDF("vec_id", "embedding")
    def train() = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 8, iters = 2)
    val cents = train()
    assert(cents.collect().map(_.toString).sorted.toSeq ==
      train().collect().map(_.toString).sorted.toSeq, "kmeans not deterministic")
    val queries = df.where($"vec_id" < 10)
    val books = Ann.pqResidualCodebooks(df, cents, "vec_id", "embedding",
      m = 4, k = 16, iters = 1)
    // probing every cell removes the coarse restriction: the top-10 is the
    // residual ADC top-10 over every (query, item) pair
    val allPairs = queries.select($"vec_id".as("query_id"))
      .crossJoin(df.select($"vec_id".as("item_id")))
      .where($"query_id" =!= $"item_id")
    val exact = Ranking.topKItems(Ann.pqResidualScorePairs(allPairs, df, queries,
        cents, books, "vec_id", "embedding"), 10, "adc")
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = Ann.ivfPqResidualTopK(df, queries, cents, books, "vec_id", "embedding",
        k = 10, nProbe = 8)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exact,
      s"missing=${(exact diff got).take(5)} extra=${(got diff exact).take(5)}")
  }

  test("kmeans-refined partial probe matches sampled-centroid recall or better") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    // recall of the probed cells: with k above the corpus size the search
    // returns every candidate its nProbe cells hold
    def recallOf(iters: Int): Double = {
      val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 16, iters = iters)
      val books = Ann.pqResidualCodebooks(df, cents, "vec_id", "embedding",
        m = 4, k = 16, iters = 1)
      val s = Ann.ivfPqResidualTopK(df, queries, cents, books, "vec_id", "embedding",
          k = vecs.size, nProbe = 4)
        .select("query_id", "item_id").as[(Long, Long)].collect().toSet
      (exact intersect s).size.toDouble / exact.size
    }
    val sampled = recallOf(iters = 0) // the hash-order sample, unrefined
    val trained = recallOf(iters = 3)
    assert(trained >= sampled - 0.05, s"trained=$trained sampled=$sampled")
    assert(trained >= 0.7, s"trained recall too low: $trained")
  }

  test("nlist 1024: no nested-loop join, no floats in the plan, full probe exact") {
    // at any nlist, cell assignment and probing are per-row kernels over one
    // driver-held CentroidBook: no centroid cross join, and the plan names
    // the book's shape instead of printing its floats
    val rng = new scala.util.Random(11)
    val big = (0L until 1200L).map(i => (i, Array.fill(16)(rng.nextFloat() - 0.5f)))
    val df = big.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 5)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Ann.ivfTopK(df, queries, "vec_id", "embedding", 10,
      nlist = 1024, nProbe = 1024)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "centroid cross join in the nlist=1024 plan")
    assert(plan.contains("CentroidBook(nlist=1024, dim=16"), "book shape not in the plan")
    assert(big.forall { case (_, v) => !plan.contains(v.head.toString) },
      "centroid floats printed in the plan")
    val got = ivf.select("query_id", "item_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exact,
      s"missing=${(exact diff got).take(5)} extra=${(got diff exact).take(5)}")
  }

  test("pq: ADC scores are exact when items sit on orthogonal unit centroids") {
    // items reconstruct exactly from these unit codebooks, so ADC equals the
    // exact per-slice score q.c - ||c||^2/2 (= exact dot minus 1/2 per slice)
    val books = Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("sub", "code", "centv")
    val corpus = Seq(
      (1L, Array(1f, 0f, 1f, 0f)), // codes (0, 0)
      (2L, Array(0f, 1f, 0f, 1f))) // codes (1, 1)
      .toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val got = Ann.pqTopK(corpus, queries, books, "vec_id", "embedding", k = 2)
      .select("item_id", "adc", "rank").as[(Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(got(1L)._1 - 3.0) < 1e-9) // (1 - .5) + (3 - .5)
    assert(math.abs(got(2L)._1 - 5.0) < 1e-9) // (2 - .5) + (4 - .5)
    assert(got(2L)._2 == 1 && got(1L)._2 == 2)
  }

  test("pq: dim-mismatched inputs and non-dense codebooks are rejected") {
    val books = Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("sub", "code", "centv")
    val short = Seq((1L, Array(1f, 0f, 1f))).toDF("vec_id", "embedding")
    val query = Seq((2L, Array(1f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    assert(dimRejection(Ann.pqTopK(short, query, books, "vec_id", "embedding", 1)
        .collect()) == "corpus vector dim 3 != codebook dim 4")
    val sparse = Seq((0, 0, Seq(1f, 0f)), (0, 2, Seq(0f, 1f)))
      .toDF("sub", "code", "centv")
    val ok = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ann.pqTopK(ok, ok, sparse, "vec_id", "embedding", 1).collect()
    }
  }

  /** The message of the dim guard's error in the cause chain of what `run`
    * throws. */
  private def dimRejection(run: => Any): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" =>
        t.getMessageParameters.get("errorMessage")
    }.getOrElse(fail("no dim guard error in the cause chain", e))
  }

  test("pq: a wrong-dim row at any position is rejected by every PQ entry point") {
    // the codebook dim is 4; the second row of one side is one float short
    // or one float long. Every wrong-dim row must be rejected, not only a
    // first row (a short row would be scored on its prefix, a long one on
    // its first 4 floats)
    val books = Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("sub", "code", "centv")
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 0f, 1f, 0f)))
      .toDF("cent_id", "centv")
    val good = (1L to 6L).map(i => (i, Array(i.toFloat, 1f, 0f, -i.toFloat)))
    def frame(badDim: Int) = (good.head +: (2L, Array.tabulate(badDim)(_.toFloat)) +:
      good.drop(2)).toDF("vec_id", "embedding")
    val ok = good.toDF("vec_id", "embedding")
    val pairs = ok.select($"vec_id".as("query_id")).crossJoin(ok.select($"vec_id".as("item_id")))
      .where($"query_id" =!= $"item_id")
    val entries: Seq[(String, Boolean, (DataFrame, DataFrame) => Any)] = Seq(
      ("pqCodebooks", false,
        (c, _) => Ann.pqCodebooks(c, "vec_id", "embedding", m = 2, k = 2, iters = 1)),
      ("pqScorePairs", true,
        (c, q) => Ann.pqScorePairs(pairs, c, q, books, "vec_id", "embedding").collect()),
      ("pqTopK", true, (c, q) => Ann.pqTopK(c, q, books, "vec_id", "embedding", 2).collect()),
      ("pqResidualScorePairs", true, (c, q) =>
        Ann.pqResidualScorePairs(pairs, c, q, cents, books, "vec_id", "embedding").collect()),
      ("ivfPqResidualTopK", true, (c, q) =>
        Ann.ivfPqResidualTopK(c, q, cents, books, "vec_id", "embedding", 2, 2).collect()))
    for ((name, hasQueries, run) <- entries; badDim <- Seq(3, 5);
         side <- if (hasQueries) Seq("corpus", "query") else Seq("corpus")) {
      val bad = frame(badDim)
      val msg = dimRejection(if (side == "corpus") run(bad, ok) else run(ok, bad))
      assert(msg == s"$side vector dim $badDim != codebook dim 4", s"$name, $side: $msg")
    }
  }

  test("pq: a null first vector passes the dim check and gets the last codes") {
    // size(NULL) is NULL under ANSI: a dim probe that read the first row
    // would fail on it. The null row encodes like a vector whose every
    // centroid ties: the last code of each subspace
    val books = Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("sub", "code", "centv")
    val df = Seq((1L, null: Array[Float]), (2L, Array(1f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    // against the probe (1, 0, 1, 0) each code pair scores differently:
    // (1, 1) -> -1.0, (0, 1) -> 0.0, (1, 0) -> 0.0, (0, 0) -> 1.0
    val probe = Seq((9L, Array(1f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val pairs = Seq((9L, 1L), (9L, 2L)).toDF("query_id", "item_id")
    val adc = Ann.pqScorePairs(pairs, df, probe, books, "vec_id", "embedding")
      .select("item_id", "adc").as[(Long, Double)].collect().toMap
    assert(adc == Map(1L -> -1.0, 2L -> 0.0))
    val top = Ann.pqTopK(df, df, books, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    assert(top == Set((1L, 2L), (2L, 1L)))
  }

  test("pq: artifacts collect and a pqScorePairs plan builds without a job") {
    import graft.obs.StageMetrics
    val df = vecs.toDF("vec_id", "embedding")
    val books = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 8, iters = 1)
    assert(StageMetrics.measure(spark)(books.collect())._2.jobs.isEmpty)
    assert(StageMetrics.measure(spark)(cents.collect())._2.jobs.isEmpty)
    // an RDD-backed input spread by a round-robin repartition, as
    // SparkEntry's inputs are: the dims are checked per row inside the plan
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(vecs, 2))
      .toDF("vec_id", "embedding")
    val corpus = rdd.repartition(4).select("vec_id", "embedding")
    val queries = rdd.repartition(3).where($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val pairs = queries.select($"vec_id".as("query_id"),
      ($"vec_id" - 1000L).as("item_id"))
    val (scored, setup) = StageMetrics.measure(spark)(
      Ann.pqScorePairs(pairs, corpus, queries, books, "vec_id", "embedding"))
    assert(setup.jobs.isEmpty, setup.jobs.mkString("; "))
    val want = Ann.pqScorePairs(pairs, df, queries, books, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().toSet
    assert(want.size == 10 && scored.as[(Long, Long, Double)].collect().toSet == want)
  }

  test("pq: identical vectors encode identically, codes dense and bounded") {
    val df = vecs.toDF("vec_id", "embedding")
    val books = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val perSub = books.groupBy("sub").count().as[(Int, Long)].collect().toMap
    assert(perSub.keySet == Set(0, 1, 2, 3))
    assert(perSub.values.forall(c => c >= 2 && c <= 16))
    val copies = df.unionByName(
      df.select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
    // a copy scores exactly like its original against every query, so both
    // carry the same codes
    val queries = df.where($"vec_id" < 5)
    val pairs = queries.select($"vec_id".as("query_id"))
      .crossJoin(copies.select($"vec_id".as("item_id")))
    val adc = Ann.pqScorePairs(pairs, copies, queries, books, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(adc.size == 5 * 400)
    for (q <- 0L until 5L; i <- 0L until 200L)
      assert(adc((q, i)) == adc((q, i + 1000L)), s"copy of $i encoded differently")
  }

  test("pq: no item ADC-outscores the query's own original (q50 invariant)") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val books = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val top1 = Ann.pqTopK(df, queries, books, "vec_id", "embedding", k = 1)
    val own = Ann.pqScorePairs(
      queries.select($"vec_id".as("query_id"), ($"vec_id" - 1000L).as("item_id")),
      df, queries, books, "vec_id", "embedding")
      .select($"query_id", $"adc".as("own_adc"))
    val joined = top1.join(own, "query_id")
    assert(joined.count() == 200L)
    assert(joined.where($"own_adc" < $"adc").count() == 0L,
      "an item out-scored the query's own vector under ADC")
  }

  test("pq: decent recall@10 vs exact on clustered vectors") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val books = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val pq = Ann.pqTopK(df, queries, books, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // compressed-domain scoring is lossy by design (32-dim floats -> 4
    // codes); the cluster structure must still dominate the ranking
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("residual ivfpq: exact L2 ranking when item residuals reconstruct exactly") {
    // Two well-separated cells; every ITEM is centroid + an exactly
    // representable residual codeword pair, so x_res-hat == x_res and the
    // score -(d-hat^2)/2 equals the true -||q - x||^2/2 for ARBITRARY
    // queries (only the item side is quantized; the shift identity
    // ||q - x|| = ||(q-c) - (x-c)|| is exact). Queries are placed so true
    // neighbors straddle both cells: a missing per-(query, cell)
    // ||q - centroid||^2/2 adjustment would mis-rank across cells.
    val cents = Seq((0L, Seq(10f, 0f, 0f, 0f)), (1L, Seq(0f, 10f, 0f, 0f)))
      .toDF("cent_id", "centv")
    val books = Seq(
      (0, 0, Seq(0f, 0f)), (0, 1, Seq(1f, 0f)), (0, 2, Seq(0f, 2f)),
      (1, 0, Seq(0f, 0f)), (1, 1, Seq(0f, 1f)), (1, 2, Seq(3f, 0f)))
      .toDF("sub", "code", "centv")
    val r0s = Seq(Array(0f, 0f), Array(1f, 0f), Array(0f, 2f))
    val r1s = Seq(Array(0f, 0f), Array(0f, 1f), Array(3f, 0f))
    val cvecs = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f))
    val items = (for {
      (c, ci) <- cvecs.zipWithIndex; (r0, i) <- r0s.zipWithIndex
      (r1, j) <- r1s.zipWithIndex
    } yield ((ci * 9 + i * 3 + j).toLong,
      Array(c(0) + r0(0), c(1) + r0(1), c(2) + r1(0), c(3) + r1(1))))
    val corpus = items.toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Array(9f, 1f, 1f, 0f)), (101L, Array(1f, 9f, 0f, 1f)),
      (102L, Array(5f, 5f, 2f, 1f))).toDF("vec_id", "embedding")
    val got = Ann.ivfPqResidualTopK(corpus, queries, cents, books,
        "vec_id", "embedding", k = items.size, nProbe = 2)
      .select("query_id", "item_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect()
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val qs = Map(100L -> Array(9f, 1f, 1f, 0f), 101L -> Array(1f, 9f, 0f, 1f),
      102L -> Array(5f, 5f, 2f, 1f))
    qs.foreach { case (qid, qv) =>
      val expect = items.map { case (id, v) => (id, d2(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.map(_._1)
      val mine = got.filter(_._1 == qid).sortBy(_._4)
      assert(mine.map(_._2).toSeq == expect, s"query $qid ranking")
      // integer coordinates: the score must be EXACTLY -d^2/2
      mine.foreach { case (_, id, adc, _) =>
        val d = d2(qv, items.find(_._1 == id).get._2)
        assert(adc == -d / 2, s"query $qid item $id: adc=$adc d2=$d")
      }
    }
  }

  test("residual ivfpq: no item outscores the query's own original at nProbe=1") {
    // the q52 driver invariant: a query that copies a corpus vector lands in
    // the same cell (deterministic tie-break), probes exactly that cell at
    // nProbe=1, and within one cell every candidate shares the lookup table
    // — the copy's codes are the per-subspace argmax of it, so no candidate
    // scores strictly higher
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 8, iters = 1)
    val books = Ann.pqResidualCodebooks(df, cents, "vec_id", "embedding",
      m = 4, k = 16, iters = 1)
    val top1 = Ann.ivfPqResidualTopK(df, queries, cents, books,
      "vec_id", "embedding", k = 1, nProbe = 1)
    val own = Ann.pqResidualScorePairs(
      queries.select($"vec_id".as("query_id"), ($"vec_id" - 1000L).as("item_id")),
      df, queries, cents, books, "vec_id", "embedding")
      .select($"query_id", $"adc".as("own_adc"))
    val joined = top1.join(own, "query_id")
    assert(joined.count() == 200L)
    assert(joined.where($"own_adc" < $"adc").count() == 0L,
      "an item out-scored the query's own vector under residual ADC")
  }

  test("residual codebooks beat flat codebooks at equal (m, k) on clustered data") {
    // the reason IndexIVFPQ encodes residuals: displacement-local codewords.
    // Same (m, k) budget — full-probe recall@10 must not be worse than the
    // flat-vector codes (a full probe restricts nothing, so that is pqTopK)
    // on clustered vectors.
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 8, iters = 1)
    val flatBooks = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val resBooks = Ann.pqResidualCodebooks(df, cents, "vec_id", "embedding",
      m = 4, k = 16, iters = 2)
    def recallOf(top: org.apache.spark.sql.DataFrame): Double = {
      val s = top.select("query_id", "item_id").as[(Long, Long)].collect().toSet
      (exact intersect s).size.toDouble / exact.size
    }
    val flat = recallOf(Ann.pqTopK(df, queries, flatBooks, "vec_id", "embedding", k = 10))
    val res = recallOf(Ann.ivfPqResidualTopK(df, queries, cents, resBooks,
      "vec_id", "embedding", k = 10, nProbe = 8))
    assert(res >= flat, s"residual recall $res < flat recall $flat")
    assert(res >= 0.6, s"residual recall too low: $res")
  }

  test("lsh top-k achieves decent recall@10 vs exact") {
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(df, queries, "vec_id", "embedding", 10,
      srpBits = 8, tables = 16)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("cellAssignments matches driver-side nearest centroid at nlist 8 and 300") {
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // a small and a large book must both produce the SAME (max sim, then
    // max cent_id) assignment the search uses
    for (n <- Seq(8, 300)) {
      val rng = new scala.util.Random(n)
      val data = (0L until 400L).map(i => (i, Array.fill(8)(rng.nextFloat() - 0.5f)))
      val df = data.toDF("vec_id", "embedding")
      val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = n, iters = 1)
      val centArr = cents.as[(Long, Array[Float])].collect()
      val got = Ann.cellAssignments(df, cents, "vec_id", "embedding")
        .as[(Long, Long)].collect().toMap
      assert(got.size == data.size)
      data.foreach { case (id, v) =>
        val best = centArr.map { case (cid, cv) => (cosine(v, cv), cid) }.max
        assert(got(id) == best._2, s"nlist=$n id=$id got=${got(id)} want=${best._2}")
      }
    }
  }

  test("cellAssignments keeps every row of a repeated id at nlist 300") {
    // two corpus rows share id 7 on different vectors: each keeps its own
    // nearest centroid, none is merged into the other
    val rng = new scala.util.Random(17)
    val cents = (0L until 300L).map(i => (i, Array.fill(8)(rng.nextFloat() - 0.5f)))
    val data = (0L until 40L).map(i => (i, Array.fill(8)(rng.nextFloat() - 0.5f))) :+
      ((7L, Array.fill(8)(rng.nextFloat() - 0.5f)))
    val got = Ann.cellAssignments(data.toDF("vec_id", "embedding"),
        cents.toDF("cent_id", "centv"), "vec_id", "embedding")
      .as[(Long, Long)].collect().sorted.toSeq
    val want = data.map { case (id, v) =>
      (id, cents.map { case (cid, c) => (HashKernels.cosine(v, c), cid) }.max._2)
    }.sorted
    assert(got == want)
  }

  test("ivf: nProbe < 1 and an empty centroid table are rejected at plan time") {
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Ann.kmeansCentroids(df, "vec_id", "embedding", nlist = 8, iters = 1)
    val books = Ann.pqCodebooks(df, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    def rejects(arg: String)(plan: => Any): Unit = {
      val e = intercept[IllegalArgumentException](plan)
      assert(e.getMessage.contains(arg), e.getMessage)
    }
    for (np <- Seq(0, -1)) {
      rejects("nProbe")(Ann.ivfTopK(df, df, "vec_id", "embedding", 5, nlist = 8, nProbe = np))
      rejects("nProbe")(Ann.ivfPqResidualTopK(df, df, cents, books,
        "vec_id", "embedding", 5, np))
    }
    val empty = Seq.empty[(Long, Array[Float])].toDF("cent_id", "centv")
    rejects("centroids")(Ann.ivfPqResidualTopK(df, df, empty, books,
      "vec_id", "embedding", 5, 1))
    rejects("centroids")(Ann.cellAssignments(df, empty, "vec_id", "embedding"))
  }
}
