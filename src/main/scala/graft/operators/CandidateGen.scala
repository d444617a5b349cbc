package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * LSH candidate-pair generation: band-key explode + self-equi-join — the
 * set-based Spark replacement for the reference's per-anchor retrieval
 * (FAISS top-k, reference: ea/sim/main/methods/index/faiss.py:63-77, and the
 * marker-set duplicate join, helpers/so/steps/merge_issues_duplicates.py:28-50).
 *
 * Skew handling (SURVEY.md section 4): one window sizes each bucket and
 * ranks its members by id; buckets up to `maxBucketSize` produce all
 * intra-bucket pairs (exact LSH semantics); oversized buckets (degenerate
 * band keys — boilerplate/empty content) fall back to sorted-neighborhood
 * pairing (each member pairs with its `neighborhood` successors in id
 * order), which bounds work at O(m*neighborhood) per bucket while
 * preserving connectivity of true duplicate groups for the downstream
 * connected-components stage. AQE skew-join splitting handles the residual
 * imbalance at runtime.
 */
object CandidateGen {

  /**
   * @param keyed         DataFrame with columns (`id`: any orderable type,
   *                      `key`: Long) — one row per (row, bucket-key); callers
   *                      produce it by exploding band keys or simhash chunks.
   * @param saltOversized if true, oversized buckets keep EXACT all-pairs
   *                      semantics via triangular band-key salting
   *                      ([[saltedAllPairs]]) instead of the bounded-work
   *                      sorted-neighborhood fallback. Use when pair-level
   *                      recall must survive legitimate giant duplicate
   *                      clusters; leave off when oversized buckets mean
   *                      degenerate keys (boilerplate) whose exact pair set
   *                      is O(m^2) garbage.
   * @return distinct candidate pairs (`a`, `b`) with a < b.
   *
   * Scale: one shuffle of `keyed` on `key`; one window over it gives each
   * row its `bucket_n` and id rank, and every branch reads that ranked
   * frame. Small buckets self-join on `key`; an oversized bucket of m rows
   * joins on (`key`, rank) against each row's `neighborhood` successors, so
   * it costs O(m * neighborhood), never O(m^2). The checkpoint-only
   * [[capLossReport]] still scans `keyed` on its own.
   */
  def pairsFromBuckets(keyed: DataFrame, maxBucketSize: Int = 4096,
      neighborhood: Int = 8, saltOversized: Boolean = false): DataFrame = {
    require(neighborhood > 0, s"neighborhood($neighborhood) must be positive")
    val byKey = Window.partitionBy("key").orderBy("id")
    val ranked = keyed.select(col("key"), col("id"))
      .withColumn("bucket_n", count(lit(1)).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(byKey))
      .where(col("bucket_n") > 1) // singleton buckets generate nothing

    val small = ranked.where(col("bucket_n") <= maxBucketSize)
      .select(col("key"), col("id"))
    val allPairs = small.as("x").join(small.as("y"),
        col("x.key") === col("y.key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))

    val big = ranked.where(col("bucket_n") > maxBucketSize)
    val bigPairs =
      if (saltOversized) saltedAllPairs(big, maxBucketSize)
      else
        // each row meets the rows ranked 1..neighborhood after it; a row
        // listed twice in one bucket meets its own copy, which a < b drops
        big.select(col("key"), col("id").as("a"),
            explode(sequence(col("rn") + 1, col("rn") + neighborhood)).as("rn"))
          .join(big.select(col("key"), col("rn"), col("id").as("b")),
            Seq("key", "rn"))
          .where(col("a") < col("b"))
          .select("a", "b")

    allPairs.union(bigPairs).distinct()
  }

  /**
   * Cap-loss accounting for [[pairsFromBuckets]] — the "no silent caps"
   * report: when oversized buckets degrade to sorted-neighborhood pairing,
   * candidate pairs are DROPPED by design; this publishes exactly how many,
   * so a run's recall posture is a number in its metrics table instead of a
   * doc-comment caveat. Per bucket of size n the exact join emits C(n, 2)
   * pairs; the neighborhood-w degrade emits n·w − w(w+1)/2 (each row pairs
   * with its w id-successors); salting emits everything. Statuses:
   *
   *  - `exact`    — n ≤ maxBucketSize: full intra-bucket pairs, dropped = 0;
   *  - `salted`   — n > maxBucketSize with `saltOversized = true`: exact
   *                 semantics through the grid, dropped = 0;
   *  - `degraded` — n > maxBucketSize without salting: dropped =
   *                 C(n, 2) − (n·w − w(w+1)/2) per bucket.
   *
   * Counts are per-bucket candidate VOLUME (the verify-join input cost); a
   * pair living in several buckets is counted in each — [[pairsFromBuckets]]
   * dedups on output, so its row count is ≤ the emitted total here.
   *
   * Scale: one count shuffle on `key`, then an aggregation to ≤ 3 rows.
   * Pair arithmetic is integer-exact via shiftright (n(n−1) stays in a long
   * up to n ≈ 3·10⁹ — beyond any single band key worth enumerating).
   *
   * @param keyed same (`id`, `key`) contract as [[pairsFromBuckets]]
   * @return one row per status present:
   *         (status, n_buckets, n_rows, exact_pairs, emitted_pairs,
   *         dropped_pairs), ordered by status
   */
  def capLossReport(keyed: DataFrame, maxBucketSize: Int = 4096,
      neighborhood: Int = 8, saltOversized: Boolean = false): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize($maxBucketSize) must exceed 1")
    require(neighborhood > 0, s"neighborhood($neighborhood) must be positive")
    val counts = keyed.groupBy("key").agg(count(lit(1)).as("n"))
      .where(col("n") > 1) // singleton buckets generate nothing
    val w = lit(neighborhood.toLong)
    val exact = shiftright(col("n") * (col("n") - 1), 1)
    val degraded = when(col("n") > w,
      col("n") * w - shiftright(w * (w + 1), 1)).otherwise(exact)
    counts
      .withColumn("status",
        when(col("n") <= maxBucketSize, lit("exact"))
          .otherwise(lit(if (saltOversized) "salted" else "degraded")))
      .withColumn("__exact", exact)
      .withColumn("__emitted",
        when(col("status") === "degraded", degraded).otherwise(exact))
      .groupBy("status")
      .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
        sum(col("__exact")).as("exact_pairs"),
        sum(col("__emitted")).as("emitted_pairs"),
        sum(col("__exact") - col("__emitted")).as("dropped_pairs"))
      .orderBy("status")
  }

  /**
   * BIPARTITE candidate-pair generation — the incremental-dedup shape: LEFT
   * bucket rows (`a`, `key`) of a new batch against RIGHT bucket rows (`b`,
   * `key`) of an existing corpus, cross-side pairs only. A bare equi-join on
   * `key` bounds nothing here: AQE skew-splitting fixes TASK balance, not
   * candidate VOLUME — one degenerate band key (near-identical boilerplate,
   * which the batch DAG's exact-group collapse folds but raw bipartite
   * frames do not) shared by 1e5 corpus rows and 1e4 new rows emits 1e9
   * verify pairs from that single key. So keys are volume-profiled first,
   * mirroring [[pairsFromBuckets]]: a key is oversized when its cross
   * product n_a * n_b exceeds maxBucketSize * (maxBucketSize - 1) / 2 — the
   * exact max pair count an unsalted batch bucket can emit, so the two
   * paths share one volume ceiling per key.
   *
   *  - Small keys join directly (exact LSH semantics).
   *  - Oversized keys with `saltOversized = true` keep EXACT semantics via
   *    bipartite grid salting: each side is hash-salted into ceil(n /
   *    maxBucketSize) sub-groups and replicated across the OTHER side's
   *    sub-group indices, so pair (u, v) meets exactly once — in cell
   *    (s_u, s_v), whose sides are ~maxBucketSize rows each — and no task
   *    ever holds a whole key. The O(n_a * n_b) output is inherent to exact
   *    semantics; the salting only spreads it.
   *  - Oversized keys with `saltOversized = false` degrade to bounded work:
   *    each left row meets only the key's `neighborhood` smallest-id right
   *    rows (volume O(n_a * neighborhood)). The sampled-evidence trade is
   *    the same as the batch sorted-neighborhood fallback: right for
   *    degenerate boilerplate keys whose exact pair set is quadratic
   *    garbage, wrong for legitimate giant duplicate groups — opt into
   *    salting when pair-level recall must survive those.
   *
   * Scale: the unsalted path reads `right` once. The left side is counted
   * per key (`n_a`) and `right` is joined to those counts; one window on
   * `key` (ordered by `b`) gives `n_b` and the rank, and the kept right
   * rows join the left rows. A `right` that is already partitioned by
   * `key` (the bucketed corpus state) is neither shuffled nor re-read;
   * only the left side moves. Salted mode reads the ranked frame three
   * times (small keys, the grid's right leg, its per-key sizes). The
   * checkpoint-only [[bipartiteCapLossReport]] still scans both sides on
   * its own.
   *
   * @param left  (`a`, `key`: Long) bucket rows
   * @param right (`b`, `key`: Long) bucket rows
   * @return distinct cross-side pairs (`a`, `b`); `a` = `b` is possible when
   *         the same id legitimately appears on both sides (re-crawl) and is
   *         NOT filtered here — sides are distinct populations by contract.
   */
  def bipartitePairsFromBuckets(left: DataFrame, right: DataFrame,
      maxBucketSize: Int = 4096, neighborhood: Int = 8,
      saltOversized: Boolean = false): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize($maxBucketSize) must exceed 1")
    require(neighborhood > 0, s"neighborhood($neighborhood) must be positive")
    val capPairs = maxBucketSize.toLong * (maxBucketSize - 1) / 2
    val l = left.select("a", "key")
    // keys absent from either side generate nothing: the inner join drops
    // them; the window then sizes and ranks each shared key's right rows
    val byKey = Window.partitionBy("key").orderBy("b")
    val ranked = right.select("b", "key")
      .join(l.groupBy("key").agg(count(lit(1)).as("n_a")), "key")
      .withColumn("n_b", count(lit(1)).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(byKey))
    val exact = col("n_a") * col("n_b") <= capPairs
    def meet(r: DataFrame) = l.join(r.select("key", "b"), "key").select("a", "b")

    val pairs =
      if (!saltOversized)
        // bounded degrade: an oversized key keeps only its `neighborhood`
        // smallest-id right rows, so its output is n_a * neighborhood
        meet(ranked.where(exact || col("rn") <= neighborhood))
      else {
        // grid cell (i, j): left row u lands in column s_u and replicates
        // across all gB rows, right row v lands in row s_v and replicates
        // across all gA columns; (u, v) meet exactly once, at (s_u, s_v)
        def g(n: Column) = (floor((n - 1) / lit(maxBucketSize)) + 1).cast("int")
        val bigR = ranked.where(!exact)
        val bigL = l.join(bigR.select("key", "n_a", "n_b").distinct(), "key")
        val ls = bigL
          .withColumn("sa", pmod(xxhash64(col("a")), g(col("n_a"))).cast("int"))
          .select(col("key"), col("a"), col("sa"),
            explode(sequence(lit(0), g(col("n_b")) - 1)).as("jb"))
        val rs = bigR
          .withColumn("sb", pmod(xxhash64(col("b")), g(col("n_b"))).cast("int"))
          .select(col("key").as("rkey"), col("b"), col("sb"),
            explode(sequence(lit(0), g(col("n_a")) - 1)).as("ia"))
        meet(ranked.where(exact)).union(ls.join(rs, col("key") === col("rkey") &&
            col("sa") === col("ia") && col("jb") === col("sb"))
          .select("a", "b"))
      }

    pairs.distinct()
  }

  /**
   * Cap-loss accounting for [[bipartitePairsFromBuckets]] — the incremental
   * path's "no silent caps" report, mirroring [[capLossReport]]: per shared
   * key the exact bipartite join emits n_a·n_b pairs; the bounded degrade
   * emits n_a·min(n_b, w) (every left row against the key's w smallest-id
   * right rows); salting emits everything. A key is oversized when
   * n_a·n_b > maxBucketSize·(maxBucketSize−1)/2 — the same volume ceiling
   * the pair generator applies, so report and join classify identically.
   *
   * Statuses: `exact` (under the ceiling), `salted` (over, exact via grid),
   * `degraded` (over, bounded; dropped = n_a·(n_b − w) when n_b > w, else 0).
   * Keys absent from either side generate nothing and are absent here too.
   *
   * Scale: one count shuffle per side, an equi-join on key over the
   * key-cardinality-sized count frames, then an aggregation to ≤ 3 rows.
   *
   * @param left  (`a`, `key`) bucket rows — same contract as the generator
   * @param right (`b`, `key`) bucket rows
   * @return one row per status present: (status, n_keys, rows_a, rows_b,
   *         exact_pairs, emitted_pairs, dropped_pairs), ordered by status
   */
  def bipartiteCapLossReport(left: DataFrame, right: DataFrame,
      maxBucketSize: Int = 4096, neighborhood: Int = 8,
      saltOversized: Boolean = false): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize($maxBucketSize) must exceed 1")
    require(neighborhood > 0, s"neighborhood($neighborhood) must be positive")
    val capPairs = maxBucketSize.toLong * (maxBucketSize - 1) / 2
    val kc = left.groupBy("key").agg(count(lit(1)).as("n_a"))
      .join(right.groupBy("key").agg(count(lit(1)).as("n_b")), "key")
    val vol = col("n_a") * col("n_b")
    val w = lit(neighborhood.toLong)
    kc.withColumn("status",
        when(vol <= capPairs, lit("exact"))
          .otherwise(lit(if (saltOversized) "salted" else "degraded")))
      .withColumn("__exact", vol)
      .withColumn("__emitted",
        when(col("status") === "degraded", col("n_a") * least(col("n_b"), w))
          .otherwise(vol))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_a")).as("rows_a"), sum(col("n_b")).as("rows_b"),
        sum(col("__exact")).as("exact_pairs"),
        sum(col("__emitted")).as("emitted_pairs"),
        sum(col("__exact") - col("__emitted")).as("dropped_pairs"))
      .orderBy("status")
  }

  /**
   * EXACT all intra-bucket pairs for oversized buckets via triangular
   * band-key salting — the north-rule skew device: no single task ever holds
   * a whole bucket, yet no pair is lost.
   *
   * Each member of a bucket of size m gets a hash-derived salt
   * `s = xxhash64(id) mod g` with `g = ceil(m / groupSize)` sub-groups. An
   * unordered pair {u, v} lives in exactly one grid cell (i, j) = (min(s_u,
   * s_v), max(s_u, s_v)); the left side replicates each member to cells
   * (s, j >= s) and the right side to cells (i <= s, s), so the equi-join on
   * the hashed cell key meets every pair exactly once, in a task whose build
   * side is one sub-group (~groupSize rows expected) rather than the whole
   * bucket. Cross-group cells take every (x, y); the diagonal keeps x.id <
   * y.id; ids are canonicalized to a < b on output.
   *
   * Cost (inherent to EXACT semantics, not to the salting): replicated input
   * O(m * g) = O(m^2 / groupSize) rows per bucket and the full O(m^2 / 2)
   * output pairs, now spread over g(g+1)/2 independent cells instead of one
   * straggler task. Residual imbalance (hash unluck) is AQE-split like any
   * equi-join skew.
   *
   * @param sized DataFrame with (`key`: Long, `id`, `bucket_n`: Long) rows —
   *              [[pairsFromBuckets]] passes its oversized slice.
   */
  def saltedAllPairs(sized: DataFrame, groupSize: Int): DataFrame = {
    require(groupSize > 0, s"groupSize($groupSize) must be positive")
    val salted = sized
      .withColumn("g", (floor((col("bucket_n") - 1) / lit(groupSize)) + 1).cast("int"))
      .withColumn("s", pmod(xxhash64(col("id")), col("g")).cast("int"))
    // cell (i, j): the left leg carries (s, j >= s), the right (i <= s, s);
    // the composite equi-join key (key, i, j) is exact — no hashed-cell
    // collisions can smuggle members of unrelated buckets into a cell
    val xs = salted
      .select(col("key"), col("id").as("xid"), col("s").as("xs"),
        explode(sequence(col("s"), col("g") - 1)).as("xj"))
    val ys = salted
      .select(col("key").as("ykey"), col("id").as("yid"),
        explode(sequence(lit(0), col("s"))).as("yi"), col("s").as("ys"))
    xs.join(ys,
        col("key") === col("ykey") && col("xs") === col("yi") &&
        col("xj") === col("ys") &&
        (col("xs") < col("ys") ||
          (col("xs") === col("ys") && col("xid") < col("yid"))))
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"))
  }

  /**
   * Explode an array-of-band-keys column into (`id`, `key`) bucket rows.
   * Rows with an empty feature set (signature of all-EMPTY_MIN sentinels hash
   * to a shared key) still collide only with other empties — callers that
   * must exclude them filter on `n_shingles > 0` upstream.
   */
  def explodeBands(df: DataFrame, idCol: String, bandKeysCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(col(bandKeysCol)).as("key"))

  /**
   * Multi-table sign-random-projection bucket rows for an embedding column:
   * one row per (id, table-key), one generator pass over the vectors. Shared
   * by the embedding near-dup and LSH top-k paths so the key scheme (table
   * index mixed into the hash) cannot silently diverge between them.
   */
  def srpBuckets(df: DataFrame, idCol: String, vecCol: String,
      srpBits: Int, tables: Int, seed: Long): DataFrame =
    df.select(col(idCol).as("id"), explode(array((0 until tables).map(t =>
      xxhash64(lit(t), graft.functions.srp_bucket(col(vecCol), srpBits, seed + t))): _*))
      .as("key"))

  /**
   * Hamming-LSH bucket rows for a 64-bit simhash, CHUNK-SUBSET keys: split
   * the hash into `c` equal bit-ranges and emit one key per `s`-element
   * subset of chunk positions (s = c - hammingMax), each key hashing the
   * subset index plus the exact chunk values. Two hashes within Hamming
   * distance `hammingMax` differ in at most `hammingMax` chunks, so at least
   * `s` chunks are intact — and every s-subset of intact chunks is a shared
   * key, giving GUARANTEED candidate recall (pigeonhole), like the classic
   * one-chunk scheme (c = hammingMax + 1, s = 1) but with a key space of
   * C(c,s) * 2^(s*64/c) instead of c * 2^(64/c).
   *
   * Why that matters at scale: the one-chunk scheme at hammingMax = 3 has at
   * most 4 * 2^16 ~ 262k distinct keys — at 10^9+ rows EVERY bucket blows
   * past `maxBucketSize` and [[pairsFromBuckets]] degrades wholesale to the
   * sorted-neighborhood fallback, silently voiding the recall guarantee.
   * EVERY (c, s) with s <= c - hammingMax carries the pigeonhole guarantee;
   * the schemes differ only in key-space size vs keys-per-row cost, so the
   * choice is an occupancy question, not a correctness one. With `nRows > 0`
   * (a corpus-size hint — an upper bound is fine) the cheapest scheme whose
   * EXPECTED occupancy nRows * C(c,s) / keyspace stays <= 64 (64x headroom
   * under the default 4096 skew cap, absorbing simhash non-uniformity) is
   * picked — e.g. d=3 stays on the classic 4-keys/row (4,1) up to ~4M rows
   * and switches to (8,5) (56 keys, 40 content bits, occupancy ~0.001 at
   * 10^9 rows) beyond. With `nRows = 0` (unknown scale) the selection is the
   * conservative scale-safe one: >= 32 content bits per key (>= 4 * 10^9
   * buckets) when achievable with <= 256 keys/row — d=1 -> (2,1); d=2 ->
   * (4,2); d=3 -> (8,5); d=4 -> (8,4); d>=5 degrades gracefully to the
   * widest affordable scheme.
   *
   * Replaces the reference's per-anchor FAISS retrieval at a scale it never
   * faces (reference: ea/sim/main/methods/index/faiss.py:63-77).
   *
   * @param hammingMax the Hamming verify threshold the downstream filter
   *                   applies (NOT a chunk count); must be in [0, 15].
   * @param nRows      corpus-size hint (upper bound ok); 0 = unknown ->
   *                   scale-safe selection.
   */
  def simhashChunkBuckets(df: DataFrame, idCol: String, simhashCol: String,
      hammingMax: Int, nRows: Long = 0L): DataFrame = {
    val (chunks, subset) = subsetScheme(hammingMax, nRows)
    val width = 64 / chunks
    def chunkVal(c: Int) =
      shiftrightunsigned(col(simhashCol), c * width)
        .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1))
    // subset index mixed into the key so distinct position-sets never collide
    val keys = (0 until chunks).combinations(subset).zipWithIndex.map {
      case (cs, t) => xxhash64((lit(t) +: cs.map(chunkVal)): _*)
    }.toSeq
    // one generator pass over the source instead of a per-key union
    // (a union is shuffle-free but re-reads/recomputes the child per leg)
    df.select(col(idCol).as("id"), explode(array(keys: _*)).as("key"))
  }

  /** (chunks, subsetSize) for [[simhashChunkBuckets]]. The guarantee holds
    * for ANY s <= c - d (at least c - d chunks are intact, so every s-subset
    * of them is shared), so selection is pure cost tuning. Candidates: all
    * (c, s) with c | 64, c > d, s <= c - d and C(c, s) <= 256 keys/row.
    * With a corpus-size hint, pick the fewest-keys scheme whose expected
    * occupancy nRows * C(c,s) / (C(c,s) * 2^(s*64/c)) = nRows / 2^(s*64/c)
    * stays <= 64 (ties -> more content bits); without one (nRows <= 0), the
    * cheapest scheme with >= 32 content bits per key, else the widest-key
    * one (large d inherently trades key width for key count — document
    * occupancy before using d >= 5 at 10^9+ rows). */
  private[operators] def subsetScheme(hammingMax: Int, nRows: Long = 0L): (Int, Int) = {
    require(hammingMax >= 0 && hammingMax <= 15,
      s"hammingMax($hammingMax) must be in [0, 15]")
    def binom(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
    val opts = for {
      c <- Seq(2, 4, 8, 16, 32) if c > hammingMax
      s <- 1 to (c - hammingMax) if binom(c, s) <= 256
    } yield (c, s, s * (64 / c), binom(c, s))
    val fitted =
      if (nRows > 0)
        // expected occupancy: keys cancel — nRows / 2^(contentBits) <= 64,
        // i.e. contentBits >= log2(nRows) - 6 (saturating at 62 bits)
        opts.filter(o => o._3 >= 62 || (1L << math.min(o._3, 62)) >= nRows / 64L)
      else Seq.empty
    val wide = opts.filter(_._3 >= 32)
    val pick =
      if (fitted.nonEmpty) fitted.minBy(o => (o._4, -o._3))
      else if (wide.nonEmpty) wide.minBy(_._4)
      else opts.maxBy(o => (o._3, -o._4))
    (pick._1, pick._2)
  }
}
