package graft.operators

import graft.SparkSpec

class CandidateGenSpec extends SparkSpec {
  import spark.implicits._

  test("small buckets emit all intra-bucket pairs, across-bucket none") {
    val keyed = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 200L), (5L, 200L),
      (6L, 300L)).toDF("id", "key")
    val pairs = CandidateGen.pairsFromBuckets(keyed)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("pairs are distinct even when a pair shares several buckets") {
    val keyed = Seq((1L, 100L), (2L, 100L), (1L, 200L), (2L, 200L)).toDF("id", "key")
    val pairs = CandidateGen.pairsFromBuckets(keyed).as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("oversized buckets fall back to sorted-neighborhood but stay connected") {
    val big = (0L until 100L).map(i => (i, 7L)).toDF("id", "key")
    val pairs = CandidateGen.pairsFromBuckets(big, maxBucketSize = 10,
      neighborhood = 4).as[(Long, Long)].collect().toSet
    // bounded: at most n * w pairs, far below n^2/2
    assert(pairs.size <= 100 * 4)
    assert(pairs.size >= 99) // connectivity: consecutive ids always paired
    assert((0L until 99L).forall(i => pairs.contains((i, i + 1))))
    // a single connected component results
    val cc = ConnectedComponents.run(
      pairs.toSeq.toDF("src", "dst")).select("component").distinct().count()
    assert(cc == 1L)
  }

  test("salted oversized buckets produce EXACTLY the brute-force pair set") {
    // mixed sizes: one bucket far over the cap, one at the boundary, one
    // under, plus ids shared across buckets (the final distinct must dedup)
    val rng = new scala.util.Random(7)
    val keyed = ((0L until 97L).map(i => (i, 11L)) ++        // 97 > cap
      (0L until 10L).map(i => (i, 22L)) ++                   // 10 = cap
      (200L until 203L).map(i => (i, 33L)) ++                // under cap
      (0L until 50L).map(_ => (rng.nextInt(97).toLong, 11L)) // dup bucket rows
      ).toDF("id", "key")
    val got = CandidateGen.pairsFromBuckets(keyed, maxBucketSize = 10,
      saltOversized = true).as[(Long, Long)].collect().toSet
    val rows = keyed.as[(Long, Long)].collect().toSet
    val brute = (for {
      (a, k1) <- rows; (b, k2) <- rows if k1 == k2 && a < b
    } yield (a, b)).toSet
    assert(got == brute)
  }

  test("salted exact pairs match brute force on a randomized skewed keyspace") {
    // zipf-ish key mass (floor(sqrt(uniform)) puts ~10% of all rows on the
    // heaviest key) — every bucket size regime from singleton to ~12x cap
    val rng = new scala.util.Random(99)
    val rows = (0 until 3000).map { i =>
      (i.toLong, math.floor(math.sqrt(rng.nextInt(400).toDouble)).toLong)
    }
    val got = CandidateGen.pairsFromBuckets(rows.toDF("id", "key"),
      maxBucketSize = 25, saltOversized = true)
      .as[(Long, Long)].collect().toSet
    val brute = rows.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(got == brute)
  }

  test("salted pairs survive string ids and a group size of 1") {
    val keyed = Seq("d", "a", "c", "b", "e").map((_, 5L)).toDF("id", "key")
    val got = CandidateGen.pairsFromBuckets(keyed, maxBucketSize = 1,
      saltOversized = true).as[(String, String)].collect().toSet
    val ids = Seq("a", "b", "c", "d", "e")
    val brute = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    assert(got == brute)
  }

  test("bipartite: small keys exact, one-sided keys nothing, cross-key dedup") {
    val left = Seq((1L, 100L), (2L, 100L), (3L, 200L), (4L, 999L),
      (1L, 300L)).toDF("a", "key")
    val right = Seq((10L, 100L), (11L, 100L), (12L, 200L), (13L, 888L),
      (10L, 300L), (1L, 300L)).toDF("b", "key")
    val got = CandidateGen.bipartitePairsFromBuckets(left, right)
      .as[(Long, Long)].collect().toSet
    // key 100: {1,2} x {10,11}; key 200: {3} x {12}; keys 999/888 one-sided;
    // key 300 re-emits (1,10) — deduped — and allows the a == b pair (1,1)
    // (re-crawl of the same id: sides are distinct populations by contract)
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 12L), (1L, 1L)))
  }

  test("bipartite salted: planted hot key keeps EXACT cross-pair semantics") {
    // hot key 7: 40 x 25 = 1000 pairs >> cap 6*5/2 = 15; cold keys mixed;
    // plus a pair reachable through both a cold and the hot key (dedup)
    val left = ((0L until 40L).map(i => (i, 7L)) ++
      Seq((0L, 50L), (1L, 60L), (2L, 60L))).toDF("a", "key")
    val right = ((100L until 125L).map(i => (i, 7L)) ++
      Seq((100L, 50L), (101L, 60L))).toDF("b", "key")
    val got = CandidateGen.bipartitePairsFromBuckets(left, right,
      maxBucketSize = 6, saltOversized = true).as[(Long, Long)].collect()
    val lrows = left.as[(Long, Long)].collect()
    val rrows = right.as[(Long, Long)].collect()
    val brute = (for {
      (a, k1) <- lrows; (b, k2) <- rrows if k1 == k2
    } yield (a, b)).toSet
    assert(got.toSet == brute)
    assert(got.length == brute.size, "salted output must already be distinct")
  }

  test("bipartite salted matches brute force on a randomized skewed keyspace") {
    val rng = new scala.util.Random(42)
    def side(n: Int, off: Long) = (0 until n).map { i =>
      (off + i, math.floor(math.sqrt(rng.nextInt(150).toDouble)).toLong)
    }
    val l = side(800, 0L); val r = side(600, 10000L)
    val got = CandidateGen.bipartitePairsFromBuckets(
      l.toDF("a", "key"), r.toDF("b", "key"),
      maxBucketSize = 9, saltOversized = true).as[(Long, Long)].collect().toSet
    val rByKey = r.groupBy(_._2)
    val brute = l.flatMap { case (a, k) =>
      rByKey.getOrElse(k, Nil).map { case (b, _) => (a, b) }
    }.toSet
    assert(got == brute)
  }

  test("bipartite degrade BOUNDS hot-key candidate volume") {
    // the round-4 scale gap: one degenerate key shared by n_a new and n_b
    // corpus rows must NOT emit n_a * n_b pairs when unsalted
    val nA = 200L; val nB = 300L
    val left = ((0L until nA).map(i => (i, 7L)) ++
      Seq((0L, 50L), (1L, 50L))).toDF("a", "key")
    val right = ((1000L until (1000L + nB)).map(i => (i, 7L)) ++
      Seq((500L, 50L))).toDF("b", "key")
    val got = CandidateGen.bipartitePairsFromBuckets(left, right,
      maxBucketSize = 10, neighborhood = 4, saltOversized = false)
      .as[(Long, Long)].collect().toSet
    // hot key: each left row meets exactly the 4 smallest-id right rows
    val hotExpected = (for {
      a <- 0L until nA; b <- 1000L until 1004L
    } yield (a, b)).toSet
    val coldExpected = Set((0L, 500L), (1L, 500L))
    assert(got == hotExpected ++ coldExpected)
    assert(got.size.toLong < nA * nB / 10,
      "degrade must stay far below the cross product")
  }

  test("oversized degrade joins on (key, rank), not on key alone") {
    // a key of m rows joined on `key` alone and filtered on rank costs m^2
    // comparisons; the (key, rank) equi-join costs m * neighborhood
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val big = (0L until 100L).map(i => (i, 7L)).toDF("id", "key")
    val pairs = CandidateGen.pairsFromBuckets(big, maxBucketSize = 10,
      neighborhood = 4)
    val joinKeys = pairs.queryExecution.sparkPlan.collect {
      case j: BaseJoinExec => j.leftKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(joinKeys.exists(k => k("key") && k("rn")),
      s"no join keys on the rank: $joinKeys")
    assert(pairs.count() == 100L * 4 - 4 * 5 / 2)
  }

  test("a row listed twice in an oversized bucket yields no self-pair") {
    val keyed = ((1L to 6L) :+ 3L).map(i => (i, 7L)).toDF("id", "key")
    val got = CandidateGen.pairsFromBuckets(keyed, maxBucketSize = 4,
      neighborhood = 2).as[(Long, Long)].collect()
    assert(got.forall { case (a, b) => a < b }, got.toSeq)
    // ranks 1..7 over ids 1,2,3,3,4,5,6: each row's two successors, minus (3, 3)
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("both generators reject a non-positive neighborhood") {
    // neighborhood <= 0 would silently emit nothing for oversized keys
    val keyed = Seq((1L, 7L), (2L, 7L)).toDF("id", "key")
    for (w <- Seq(0, -1)) {
      intercept[IllegalArgumentException](
        CandidateGen.pairsFromBuckets(keyed, neighborhood = w))
      intercept[IllegalArgumentException](
        CandidateGen.bipartitePairsFromBuckets(keyed.toDF("a", "key"),
          keyed.toDF("b", "key"), neighborhood = w))
    }
  }

  test("unsalted generators match the documented rule on a skewed keyspace") {
    // half the rows on 8 zipf-ish hot keys (~12 to ~180 rows), half on 400
    // cold keys; duplicate (id, key) rows; an a = b re-crawl row. The rule:
    // all pairs under the cap, each row's rank-neighborhood over it
    val rng = new scala.util.Random(2024)
    def key(): Long =
      if (rng.nextBoolean()) math.floor(math.sqrt(rng.nextInt(64).toDouble)).toLong
      else 100L + rng.nextInt(400)
    def rows(n: Int, off: Long) = {
      val r = (0 until n).map(i => (off + i, key()))
      r ++ r.take(30)
    }
    val (cap, w) = (12, 3)

    val keyed = rows(1500, 0L)
    val got = CandidateGen.pairsFromBuckets(keyed.toDF("id", "key"), cap, w)
      .as[(Long, Long)].collect()
    val want = keyed.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      if (ids.size <= cap) for (a <- ids; b <- ids if a < b) yield (a, b)
      else ids.indices.flatMap(i => ids.slice(i + 1, i + 1 + w).map((ids(i), _)))
        .filter { case (a, b) => a < b }
    }.toSet
    assert(got.toSet == want)
    assert(got.length == want.size, "output must be distinct")

    val l = rows(400, 0L) :+ ((5L, 999L))
    val r = rows(600, 10000L) :+ ((5L, 999L))
    val gotB = CandidateGen.bipartitePairsFromBuckets(l.toDF("a", "key"),
      r.toDF("b", "key"), cap, w).as[(Long, Long)].collect()
    val rByKey = r.groupBy(_._2)
    val wantB = l.groupBy(_._2).toSeq.flatMap { case (k, la) =>
      val bs = rByKey.getOrElse(k, Nil).map(_._1).sorted
      val kept =
        if (la.size.toLong * bs.size <= cap.toLong * (cap - 1) / 2) bs
        else bs.take(w)
      for ((a, _) <- la; b <- kept) yield (a, b)
    }.toSet
    assert(wantB((5L, 5L)))
    assert(gotB.toSet == wantB)
    assert(gotB.length == wantB.size, "output must be distinct")
  }

  test("simhash subset buckets guarantee a candidate at hamming <= hammingMax") {
    val df = Seq((1L, 0x0123456789ABCDEFL),
      (2L, 0x0123456789ABCDEFL ^ (1L << 3) ^ (1L << 20) ^ (1L << 63)))
      .toDF("id", "simhash")
    val buckets = CandidateGen.simhashChunkBuckets(df, "id", "simhash", 3)
    val pairs = CandidateGen.pairsFromBuckets(buckets).as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("subset-key recall property: every planted pair within hammingMax collides") {
    // 100 random bases per d; partner flips EXACTLY d random bit positions
    // (worst case: <= d corrupts fewer chunks). Guarantee: >= 1 shared key —
    // under BOTH the scale-safe scheme (no hint) and the corpus-sized one.
    val rng = new scala.util.Random(1234)
    for (d <- Seq(0, 1, 2, 3, 4, 6); nRows <- Seq(0L, 200L)) {
      val rows = (0 until 100).flatMap { i =>
        val base = rng.nextLong()
        val positions = rng.shuffle((0 until 64).toList).take(d)
        val flipped = positions.foldLeft(base)((h, p) => h ^ (1L << p))
        Seq((i.toLong * 2, base), (i.toLong * 2 + 1, flipped))
      }
      val buckets = CandidateGen.simhashChunkBuckets(
        rows.toDF("id", "simhash"), "id", "simhash", d, nRows)
      // direct key-collision check (not pairsFromBuckets: its skew fallback
      // is a separate concern) — partner pairs differ by exactly 1 in id
      val collided = buckets.as("x").join(buckets.as("y"),
          $"x.key" === $"y.key" && $"x.id" + 1 === $"y.id" && $"x.id" % 2 === 0)
        .select($"x.id").distinct().count()
      assert(collided == 100L,
        s"d=$d nRows=$nRows: only $collided/100 planted pairs collided")
    }
  }

  test("subset scheme sizes to the corpus when a row-count hint is given") {
    // guarantee is scheme-independent; the hint only tunes occupancy/cost —
    // small corpora keep the classic cheap layout
    assert(CandidateGen.subsetScheme(3, 1000L) == (4, 1))
    assert(CandidateGen.subsetScheme(3, 4L << 20) == (4, 1)) // 64 * 2^16 boundary
    // past the occupancy budget (expected rows/bucket > 64) the wide
    // key-space scheme takes over; no hint -> conservative scale-safe
    assert(CandidateGen.subsetScheme(3, 100L * 1000 * 1000) == (8, 5))
    assert(CandidateGen.subsetScheme(3, 0L) == (8, 5))
    // d=1's classic scheme already has 32 content bits — fine at 10^9 rows
    assert(CandidateGen.subsetScheme(1, 1000L * 1000 * 1000) == (2, 1))
  }

  test("subset scheme picks >= 32 content bits per key where affordable") {
    assert(CandidateGen.subsetScheme(0) == (2, 2))  // 1 key, full 64 bits
    assert(CandidateGen.subsetScheme(1) == (2, 1))  // 2 keys, 32 bits
    assert(CandidateGen.subsetScheme(2) == (4, 2))  // 6 keys, 32 bits
    assert(CandidateGen.subsetScheme(3) == (8, 5))  // 56 keys, 40 bits
    assert(CandidateGen.subsetScheme(4) == (8, 4))  // 70 keys, 32 bits
    // d >= 5: no affordable >= 32-bit scheme; degrade to widest keys
    assert(CandidateGen.subsetScheme(5) == (8, 3))
    // keys-per-row stays bounded and the pigeonhole precondition (s <= c - d)
    // holds for every supported d
    for (d <- 0 to 15) {
      val (c, s) = CandidateGen.subsetScheme(d)
      assert(c > d && s >= 1 && s <= c - d, s"d=$d -> ($c, $s)")
      assert((0 until c).combinations(s).size <= 256)
    }
  }

  test("capLossReport matches pairsFromBuckets' actual emitted volume") {
    // disjoint id ranges per bucket -> no cross-bucket duplicate pairs, so
    // the distinct() in pairsFromBuckets removes nothing and counts tie out
    val keyed = ((0L until 3L).map((_, 1L)) ++ // small: C(3,2) = 3
      (100L until 120L).map((_, 2L)) ++ // oversized: n = 20
      (200L until 202L).map((_, 3L)) ++ // small: 1 pair
      Seq((300L, 4L))) // singleton: generates nothing, absent from report
      .toDF("id", "key")
    val (cap, w) = (8, 4)
    val rep = CandidateGen.capLossReport(keyed, cap, w)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rep.keySet == Set("exact", "degraded"))
    assert(rep("exact") == (("exact", 2L, 5L, 4L, 4L, 0L)))
    // degraded bucket: exact C(20,2) = 190, emitted 20*4 - 10 = 70
    assert(rep("degraded") == (("degraded", 1L, 20L, 190L, 70L, 120L)))
    assert(CandidateGen.pairsFromBuckets(keyed, cap, w).count() ==
      rep.values.map(_._5).sum)
    // salted mode: oversized keeps exact semantics, nothing dropped
    val repS = CandidateGen.capLossReport(keyed, cap, w, saltOversized = true)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(repS("salted") == (("salted", 1L, 20L, 190L, 190L, 0L)))
    assert(CandidateGen.pairsFromBuckets(keyed, cap, w,
      saltOversized = true).count() == repS.values.map(_._5).sum)
  }

  test("bipartiteCapLossReport matches the bipartite generator's volume") {
    // disjoint id spaces per key -> distinct() removes nothing
    val left = ((Seq(1L, 2L).map((_, 1L))) ++ // key 1: n_a = 2
      (100L until 120L).map((_, 2L)) ++ // key 2: n_a = 20
      Seq((300L, 9L))) // key 9: right side empty -> absent from report
      .toDF("a", "key")
    val right = (Seq(10L, 11L, 12L).map((_, 1L)) ++ // key 1: n_b = 3
      (200L until 230L).map((_, 2L))) // key 2: n_b = 30
      .toDF("b", "key")
    val (cap, w) = (8, 4) // ceiling = C(8,2) = 28: key 1 exact, key 2 over
    val rep = CandidateGen.bipartiteCapLossReport(left, right, cap, w)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rep.keySet == Set("exact", "degraded"))
    assert(rep("exact") == (("exact", 1L, 2L, 3L, 6L, 6L, 0L)))
    // key 2: exact 600, emitted 20 * min(30, 4) = 80, dropped 520
    assert(rep("degraded") == (("degraded", 1L, 20L, 30L, 600L, 80L, 520L)))
    assert(CandidateGen.bipartitePairsFromBuckets(left, right, cap, w)
      .count() == rep.values.map(_._6).sum)
    val repS = CandidateGen.bipartiteCapLossReport(left, right, cap, w,
        saltOversized = true)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(repS("salted") == (("salted", 1L, 20L, 30L, 600L, 600L, 0L)))
    assert(CandidateGen.bipartitePairsFromBuckets(left, right, cap, w,
      saltOversized = true).count() == repS.values.map(_._6).sum)
  }
}
