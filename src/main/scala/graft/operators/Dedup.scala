package graft.operators

import graft.config.DedupConfig
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operator family over a text corpus (`documents`-shaped input:
 * an id column + a text column) — the training-data-pipeline ops the engine
 * provides beyond the reference's own surface, each reusing the same signature
 * kernels as the image pipeline.
 *
 * Every pair operator has one shape: bucket rows, a pair generator
 * ([[CandidateGen.pairsFromBuckets]], or [[CandidateGen
 * .bipartitePairsFromBuckets]] for the new-vs-corpus siblings), then one
 * verify join back to the features. Each operator caches (MEMORY_AND_DISK)
 * the per-row frame its branches re-read — the feature frame of each input
 * side, the (id, text) or (id, vec) projection for the long-match and
 * embedding families, and the tier inputs of [[cascade]] — and the entry
 * outlives the returned plan, so a long-lived session releases it with
 * `spark.catalog.clearCache()`.
 */
object Dedup {

  private def cached(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The family's verify join: `left`'s `value` column attaches to each
    * pair's `a` as `va`, `right`'s to its `b` as `vb` — each side read once,
    * the [[VerifyStage.verify]] shape. A self-join passes one frame twice. */
  private def verifyJoin(pairs: DataFrame, left: DataFrame, right: DataFrame,
      value: String): DataFrame =
    pairs.join(left.select(col("id").as("a"), col(value).as("va")), "a")
      .join(right.select(col("id").as("b"), col(value).as("vb")), "b")

  /** Connected components over (a, b) pairs, attached to `ids` as `__comp`.
    * CC runs on long labels: ids of any type ride as xxhash64 nids (the
    * DedupPipeline identity scheme — content-derived, deterministic), and a
    * row no pair touches is its own component. */
  private def componentOf(ids: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val base = ids.withColumn("__nid", xxhash64(col(idCol).cast("string")))
    val edges = pairs.select(xxhash64(col("a").cast("string")).as("src"),
      xxhash64(col("b").cast("string")).as("dst"))
    val cc = ConnectedComponents.run(edges)
      .select(col("id").as("__nid"), col("component"))
    base.join(cc, Seq("__nid"), "left")
      .withColumn("__comp", coalesce(col("component"), col("__nid")))
  }

  /**
   * Exact dedup by full-text hash: one shuffle (hash groupBy via window min),
   * keeps the smallest id per identical text.
   * Reference analogue: hash-unique member listing
   * (reference: ea/sim/main/data/objects/issue.py:13-22).
   */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = xxhash64(col(textCol))
    docs.withColumn("__h", h)
      .withColumn("__keep",
        row_number().over(Window.partitionBy("__h").orderBy(col(idCol))) === 1)
      .where(col("__keep"))
      .drop("__h", "__keep")
  }

  /** Exact-dup groups: (id, dup_group_id = min id sharing identical text). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .withColumn("dup_group_id",
        min(col(idCol)).over(Window.partitionBy("__h")))
      .drop("__h")

  /** Per-row MinHash/LSH feature projection for text: (id, norm_text,
    * shingles, band_keys, simhash). `cfg.oph` swaps the signature kernel for
    * one-permutation hashing inside the fused banding kernel. */
  def textFeatures(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame =
    docs.select(
      col(idCol).as("id"),
      normalize_text(col(textCol)).as("norm_text"),
      text_shingles(col(textCol), cfg).as("shingles"))
      .withColumn("band_keys", text_band_keys(col("shingles"), cfg))
      .withColumn("simhash",
        simhash64(col("shingles"), cfg.seed))

  /** The cached [[textFeatures]] columns the MinHash pair operators read:
    * (id, shingles, band_keys). */
  private def cachedSignatures(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame =
    cached(textFeatures(docs, idCol, textCol, cfg).select("id", "shingles", "band_keys"))

  /** (id, key) band rows of a [[textFeatures]] frame; shingle-less rows
    * carry no usable band and are left out. */
  private def textBands(feat: DataFrame): DataFrame =
    CandidateGen.explodeBands(
      feat.where(size(col("shingles")) > 0), "id", "band_keys")

  /** MinHash+LSH near-dup pairs verified by exact shingle Jaccard. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame = {
    val feat = cachedSignatures(docs, idCol, textCol, cfg)
    val pairs = CandidateGen.pairsFromBuckets(textBands(feat),
      cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    verifyJoin(pairs, feat, feat, "shingles")
      .withColumn("jaccard", jaccard_sim(col("va"), col("vb")))
      .where(col("jaccard") >= cfg.jaccardMin)
      .select("a", "b", "jaccard")
  }

  /** The ICWS family's per-doc features — ONE builder for the batch and
    * incremental paths so weighted featurization cannot drift between them
    * (the same no-divergence rationale as `text_band_keys` for the
    * classic kernels). Empty-shingle rows are dropped: they can never be
    * candidates. */
  private def weightedFeatures(docs: DataFrame, idCol: String,
      textCol: String, cfg: DedupConfig): DataFrame =
    docs.select(
        col(idCol).as("id"),
        text_shingles(col(textCol), cfg).as("shingles"))
      .where(size(col("shingles")) > 0)
      .withColumn("band_keys",
        lsh_band_keys(
          icws_signature(col("shingles"), cfg.numHashes, cfg.seed),
          cfg.bands, cfg.rowsPerBand, cfg.seed))

  /**
   * WEIGHTED MinHash near-dup pairs — token multiplicity matters: candidate
   * generation through an ICWS signature (per-band collision law over the
   * weighted Jaccard, Ioffe ICDM 2010) and exact sum-min/sum-max verify.
   * The bridge between [[minhashLshPairs]]' set semantics (a document that
   * repeats one slogan 100× looks identical to one mentioning it once) and
   * TF-IDF cosine: repeated-mass differences now lower the similarity, so
   * copy-paste-inflated spam no longer dedups against its seed.
   *
   * Same plan shape and scale posture as [[minhashLshPairs]]: fused
   * signature+banding projection, the shared capped/salted bucket device,
   * two equi-joins back for verify. `cfg.jaccardMin` thresholds the
   * WEIGHTED score here.
   */
  def weightedMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame = {
    val feat = cached(weightedFeatures(docs, idCol, textCol, cfg))
    val buckets = CandidateGen.explodeBands(feat, "id", "band_keys")
    val pairs = CandidateGen.pairsFromBuckets(buckets, cfg.maxBucketSize,
      saltOversized = cfg.saltOversized)
    verifyJoin(pairs, feat, feat, "shingles")
      .withColumn("wjaccard", weighted_jaccard(col("va"), col("vb")))
      .where(col("wjaccard") >= cfg.jaccardMin)
      .select("a", "b", "wjaccard")
  }

  /** SimHash near-dup pairs: Hamming-subset buckets + bit_count verify. The
    * cached corpus is counted — one cheap pass — and the count sizes the
    * bucket-key scheme, keeping small corpora on the classic
    * few-keys-per-row layout. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame = {
    val feat = cached(
      textFeatures(docs, idCol, textCol, cfg).select("id", "simhash"))
    val buckets = CandidateGen.simhashChunkBuckets(
      feat, "id", "simhash", cfg.hammingMax, feat.count())
    val pairs = CandidateGen.pairsFromBuckets(buckets, cfg.maxBucketSize,
      saltOversized = cfg.saltOversized)
    verifyJoin(pairs, feat, feat, "simhash")
      .withColumn("hamming", hamming64(col("va"), col("vb")).cast("int"))
      .where(col("hamming") <= cfg.hammingMax)
      .select("a", "b", "hamming")
  }

  /**
   * EXACT n-gram Jaccard similarity self-join at scale — prefix filtering
   * (the AllPairs/PPJoin family, Bayardo/Ma/Srikant WWW'07): with each doc's
   * distinct shingles ordered by a global total order, any pair with
   * Jaccard >= t must share at least one shingle inside each side's first
   * `n - ceil(t*n) + 1` elements. Exploding only that prefix bounds candidate
   * generation far below a full posting-list join while keeping the result
   * exact — unlike [[minhashLshPairs]] there is no probabilistic recall loss.
   *
   * The global order is ascending hash VALUE: shingle hashes are uniform
   * 64-bit values, so value order is a (fixed) random order and the prefix is
   * a narrow `slice(array_sort(sh))` expression — no document-frequency
   * pre-pass, no per-doc window, no extra joins. (Classic AllPairs orders by
   * ascending df to put the rarest tokens in prefixes; that matters for
   * natural-token postings with Zipfian df, not for uniform hashes — and it
   * costs a df aggregation + join + window that tripled this plan's depth.)
   * The PPJoin positional filter prunes candidates whose match position
   * leaves too few remaining elements to reach the required overlap
   * ceil(t/(1+t)*(na+nb)).
   *
   * Reference analogue: same verify semantics as the hash-unique + n-gram
   * similarity listing (ea/sim/main/data/duplicates.py:21-41) but as one
   * declarative plan.
   */
  /** EPS guards the prefix joins' exact-in-real-arithmetic thresholds
    * against double rounding: e.g. 100 * 0.07 = 7.000000000000001, whose
    * un-guarded ceil (8, not 7) would shorten the prefix / tighten the
    * filters and drop a genuinely qualifying pair. Erring low only loosens
    * the filters — exactness is preserved by the verify stage. */
  private val EPS = 1e-9

  /** (id, sh): each doc's DISTINCT shingles in ascending hash-value order
    * (the global total order of the prefix joins), shingle-less docs
    * dropped. The frame feeds the prefix explode and both verify sides, so
    * it is cached. */
  private def sortedShingles(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame =
    cached(docs.select(col(idCol).as("id"),
        array_sort(array_distinct(text_shingles(col(textCol), cfg))).as("sh"))
      .where(size(col("sh")) > 0))

  /** (id, n, pos, g): the first `n - ceil(t*n) + 1` shingles of each
    * [[sortedShingles]] row — any pair at overlap fraction >= t on that
    * row's side must collide on one of them. */
  private def shinglePrefix(feat: DataFrame, t: Double): DataFrame = {
    val n = size(col("sh"))
    val plen = (n - ceil(n * t - EPS) + 1).cast("int")
    feat.select(col("id"), n.as("n"),
        posexplode(slice(col("sh"), lit(1), plen)))
      .select(col("id"), col("n"), col("pos"), col("col").as("g"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame = {
    val t = cfg.jaccardMin
    val feat = sortedShingles(docs, idCol, textCol, cfg)
    // any pair with Jaccard >= t collides on a prefix element of both sides
    val prefix = shinglePrefix(feat, t)
    val minOverlap = ceil((col("pa.n") + col("pb.n")) * lit(t / (1.0 + t)) - EPS)
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.g") === col("pb.g") && col("pa.id") < col("pb.id") &&
        // length filter: size ratio alone must not cap Jaccard below t
        col("pb.n") >= ceil(col("pa.n") * t - EPS) &&
        col("pa.n") >= ceil(col("pb.n") * t - EPS) &&
        // positional filter (PPJoin): elements at/after the matching position
        // bound the achievable overlap
        lit(1) + least(col("pa.n") - col("pa.pos") - 1,
          col("pb.n") - col("pb.pos") - 1) >= minOverlap)
      .select(col("pa.id").as("a"), col("pb.id").as("b"))
      .distinct()
    verifyJoin(cand, feat, feat, "sh")
      .withColumn("jaccard", jaccard_sim(col("va"), col("vb")))
      .where(col("jaccard") >= t)
      .select("a", "b", "jaccard")
  }

  /**
   * EXACT n-gram containment self-join — the ASYMMETRIC sibling of
   * [[ngramJaccardPairs]]: emits (contained, container) pairs where
   * |sh(a) INTERSECT sh(b)| / |sh(a)| >= containMin. Jaccard misses the
   * small-inside-big copy shape entirely (a 30-token quote pasted into a
   * 3000-token page has Jaccard ~ 0.01 but containment 1.0); containment is
   * the gate decontamination, quote/snippet detection, and subsumption
   * dedup actually need (and what n-gram-overlap eval-leak checks compute,
   * e.g. the GPT-3 appendix-C style 'dirty if a large fraction of the doc's
   * n-grams appear in the other side').
   *
   * Candidate generation prefix-filters the CONTAINED side only: with each
   * doc's distinct shingles in ascending hash order (the [[ngramJaccardPairs]]
   * value-order rationale), a pair at containment >= t must collide between
   * a's first `na - ceil(t*na) + 1` shingles and SOME shingle of b — the
   * container side admits no prefix (t bounds only a's overlap fraction, the
   * known lower bound of the containment/overlap-join literature), so b
   * explodes its full distinct-shingle posting list. The positional filter
   * still prunes: at match positions (pa, pb) the achievable overlap is
   * 1 + min(na-pa-1, nb-pb-1), which must reach ceil(t*na); the length
   * filter nb >= ceil(t*na) drops containers too small to hold the overlap.
   * Verification is an exact array_intersect count, so the prefix math only
   * affects volume, never the result. Directional by design: a near-equal
   * pair emits BOTH (a,b) and (b,a); mutual containment at t=1 is exact
   * duplication ([[exact]] is the cheaper gate for that).
   *
   * Scale shape: the posting side is the corpus's distinct-shingle table —
   * one explode, one equi-join shuffle on the 8-byte gram, the same shape
   * as [[graft.operators.TextScores.tfidfIndexScores]]' posting join; the
   * prefix side is (1-t)-fraction of it. Degenerate grams (boilerplate
   * shared by everything) inflate candidates exactly like every bucket
   * family — at web scale cut them with a df cap before the join (the
   * [[graft.operators.TextScores.heavyNgrams]] report is the measuring
   * device), the [[CandidateGen]] playbook.
   *
   * @param containMin threshold in (0, 1]
   * @return (a = contained id, b = container id, containment) with
   *         containment >= containMin, rounded to 4 places
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig, containMin: Double): DataFrame = {
    require(containMin > 0 && containMin <= 1,
      s"containMin($containMin) outside (0, 1]")
    val feat = sortedShingles(docs, idCol, textCol, cfg)
    val prefix = shinglePrefix(feat, containMin)
    val posting = feat.select(col("id"), size(col("sh")).as("n"),
        posexplode(col("sh")))
      .select(col("id"), col("n"), col("pos"), col("col").as("g"))
    // required overlap is a function of the CONTAINED side's size only
    val needed = ceil(col("pa.n") * containMin - EPS)
    val cand = prefix.as("pa").join(posting.as("pb"),
        col("pa.g") === col("pb.g") && col("pa.id") =!= col("pb.id") &&
        col("pb.n") >= needed &&
        lit(1) + least(col("pa.n") - col("pa.pos") - 1,
          col("pb.n") - col("pb.pos") - 1) >= needed)
      .select(col("pa.id").as("a"), col("pb.id").as("b"))
      .distinct()
    verifyJoin(cand, feat, feat, "sh")
      .withColumn("overlap", size(array_intersect(col("va"), col("vb"))))
      // integer-form gate: overlap >= ceil(t * na) — no float compare at
      // the boundary (7/10 >= 0.7 is safe in doubles, 0.7*na is not)
      .where(col("overlap") >= ceil(size(col("va")) * containMin - EPS))
      .withColumn("containment",
        round(col("overlap").cast("double") / size(col("va")), 4))
      .select("a", "b", "containment")
  }

  /**
   * One-call near-dup grouping: MinHash-LSH pairs -> connected components ->
   * (id, dup_group_id = min id of the connected group). The document-corpus
   * counterpart of the image pipeline's cluster assignment
   * ([[graft.pipeline.DedupPipeline]]); singleton docs keep their own id.
   */
  def minhashLshGroups(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame =
    // the group label is re-derived as min ORIGINAL id per component
    componentOf(docs.select(col(idCol)), idCol,
        minhashLshPairs(docs, idCol, textCol, cfg))
      .withColumn("dup_group_id",
        min(col(idCol)).over(Window.partitionBy("__comp")))
      .select(col(idCol), col("dup_group_id"))

  /**
   * [[minhashLshGroups]] with canonical selection by QUALITY instead of min
   * id. Production training-data pipelines keep the BEST member of each
   * near-dup cluster — the longest or highest-quality-scored document (the
   * FineWeb/CCNet convention) — where the min-id convention keeps an
   * arbitrary one; the reference's analogue is promoting the top-scored
   * candidate of a duplicate group rather than the first seen
   * (ea/sim/main/methods/retrieval.py top-1 promotion shape).
   *
   * Same bounded machinery as [[minhashLshGroups]] (LSH pairs -> CC on
   * hashed nids); the only addition is a component-keyed window picking
   * argmax(quality) with min-id tie-break. Components are near-dup clusters
   * — bounded by construction (bucket caps upstream), so the window
   * partition never degenerates.
   *
   * @param qualityCol numeric column in `docs`; higher = better
   * @return (idCol, canonical, keep): `canonical` is the component's
   *         max-quality member (ties: min id); singletons keep themselves
   */
  def minhashLshGroupsBy(docs: DataFrame, idCol: String, textCol: String,
      qualityCol: String, cfg: DedupConfig): DataFrame =
    componentOf(docs.select(col(idCol), col(qualityCol)), idCol,
        minhashLshPairs(docs, idCol, textCol, cfg))
      .withColumn("canonical", first(col(idCol)).over(
        Window.partitionBy("__comp")
          .orderBy(col(qualityCol).desc, col(idCol).asc)))
      .select(col(idCol), col("canonical"),
        (col(idCol) === col("canonical")).as("keep"))

  /**
   * LSH banding planner — the analytic table an operator reads BEFORE
   * committing a (bands, rows) split of the MinHash signature: for every
   * factorization b·r = numHashes, the collision S-curve
   * p(s) = 1 − (1 − s^r)^b (Leskovec–Rajaraman–Ullman, MMDS ch. 3) is
   * summarized as
   *
   *  - `s50`         — the curve's 50% threshold (1 − 2^(−1/b))^(1/r), where
   *                    a pair is as likely bucketed as not;
   *  - `p_at_target` — collision probability at the config's Jaccard
   *                    threshold (candidate recall at the decision boundary);
   *  - `fp_area`     — ∫₀^t p(s) ds, the expected candidate mass wasted on
   *                    below-threshold pairs under a uniform similarity
   *                    prior (verify-stage cost proxy);
   *  - `fn_area`     — ∫ₜ¹ (1 − p(s)) ds, the expected above-threshold mass
   *                    LSH never buckets (recall-loss proxy).
   *
   * Integrals are midpoint sums on a `grid`-point lattice (error O(grid⁻²)),
   * evaluated per row by a codegen'd `aggregate` over `sequence(...)` — no
   * UDF, no driver loop; the frame is divisor-count-sized (broadcast-class).
   * Choosing the row minimizing fp_area subject to p_at_target ≥ recall goal
   * reproduces the standard banding trade-off; `DedupConfig`'s defaults can
   * be sanity-checked against this table in one glance.
   *
   * @param numHashes       signature length whose factorizations to tabulate
   * @param targetThreshold the Jaccard decision boundary t ∈ (0, 1)
   * @return one row per divisor b of numHashes:
   *         (bands, rows_per_band, s50, p_at_target, fp_area, fn_area),
   *         doubles rounded to 6
   */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      targetThreshold: Double, grid: Int = 1000): DataFrame = {
    require(numHashes > 0, s"numHashes($numHashes) must be positive")
    require(targetThreshold > 0.0 && targetThreshold < 1.0,
      s"targetThreshold($targetThreshold) must lie in (0, 1)")
    require(grid > 0, s"grid($grid) must be positive")
    import spark.implicits._
    val base = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)).toDF("bands", "rows_per_band")
    val b = col("bands").cast("double")
    val r = col("rows_per_band").cast("double")
    def pOf(s: Column): Column = lit(1.0) - pow(lit(1.0) - pow(s, r), b)
    val t = lit(targetThreshold)
    val areas = aggregate(
      sequence(lit(0), lit(grid - 1)),
      struct(lit(0.0).as("fp"), lit(0.0).as("fn")),
      (acc, i) => {
        val s = (i.cast("double") + lit(0.5)) / lit(grid.toDouble)
        val p = pOf(s)
        struct(
          (acc("fp") + when(s < t, p).otherwise(lit(0.0))).as("fp"),
          (acc("fn") + when(s >= t, lit(1.0) - p).otherwise(lit(0.0)))
            .as("fn"))
      })
    base.withColumn("__areas", areas)
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) - pow(lit(0.5), lit(1.0) / b), lit(1.0) / r), 6)
          .as("s50"),
        round(pOf(t), 6).as("p_at_target"),
        round(col("__areas")("fp") / grid, 6).as("fp_area"),
        round(col("__areas")("fn") / grid, 6).as("fn_area"))
      .orderBy("bands")
  }

  /**
   * Per-stratum exact-duplicate report — the "which sources duplicate each
   * other" table a multi-source corpus publishes (Common Crawl snapshots vs
   * a curated set, yesterday's crawl vs today's): for every stratum, how
   * many of its documents have an exact-text duplicate ANYWHERE in the
   * corpus, and how many duplicate across stratum lines specifically —
   * cross-stratum mass is the overlap dedup must reconcile BEFORE mixture
   * weights ([[graft.operators.Curation.mixtureRates]]) mean anything.
   *
   * Scale shape: texts group by 64-bit content hash (an 8-byte shuffle key,
   * never the full text; collisions ~n²/2⁶⁵ can only merge two text groups
   * and move a count by one), one group aggregation, one hash equi-join
   * back, one stratum aggregation.
   *
   * @return one row per stratum: (stratum, n_docs, n_dup_docs,
   *         n_cross_dup_docs, dup_rate), ordered by stratum
   */
  def dupRateByStratum(docs: DataFrame, idCol: String, textCol: String,
      strataCol: String): DataFrame = {
    val g = docs.select(col(idCol),
      xxhash64(col(textCol)).as("__k"), col(strataCol).as("stratum"))
    val stats = g.groupBy("__k").agg(
      count(lit(1)).as("__n"),
      countDistinct(col("stratum")).as("__s"))
    g.join(stats, "__k")
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("__n") > 1, lit(1))).as("n_dup_docs"),
        count(when(col("__s") > 1, lit(1))).as("n_cross_dup_docs"),
        round(avg(when(col("__n") > 1, 1.0).otherwise(0.0)), 6)
          .as("dup_rate"))
      .orderBy("stratum")
  }

  /**
   * Dedup audit histogram over a cluster-assignment table — the per-run
   * monitoring surface a production dedup pipeline publishes next to its
   * output (dup rate, cluster-size distribution; the numbers a FineWeb-style
   * run reports per snapshot). One row per distinct cluster size:
   * (cluster_size, n_clusters, n_rows = size * clusters, row_fraction).
   *
   * Scale: two shuffles (assignment-keyed count, then size-keyed count) over
   * strictly shrinking frames; the grand total attaches by broadcasting a
   * 1-row aggregate — no single-partition window, no driver collect.
   */
  def auditHistogram(assign: DataFrame, groupCol: String): DataFrame = {
    val sizes = assign.groupBy(col(groupCol))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_rows", col("cluster_size") * col("n_clusters"))
    val tot = hist.agg(sum("n_rows").as("__t"))
    hist.crossJoin(broadcast(tot))
      .withColumn("row_fraction", round(col("n_rows") / col("__t"), 6))
      .drop("__t")
  }

  /**
   * Assignment churn between two cluster-assignment snapshots — the other
   * half of the dedup monitoring surface ([[auditHistogram]] describes one
   * snapshot; this one describes what a re-run, fold, or deletion sweep
   * CHANGED). One row per status:
   *
   *  - `added`     — id present only in `after`
   *  - `removed`   — id present only in `before`
   *  - `stable`    — same cluster label in both
   *  - `relabeled` — present in both, label moved
   *
   * Scale: a single full-outer equi-join on id + one tiny aggregation.
   */
  def assignmentDiff(before: DataFrame, after: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val b = before.select(col(idCol).as("id"), col(groupCol).as("__gb"))
    val a = after.select(col(idCol).as("id"), col(groupCol).as("__ga"))
    b.join(a, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__gb").isNull, lit("added"))
          .when(col("__ga").isNull, lit("removed"))
          .when(col("__ga") === col("__gb"), lit("stable"))
          .otherwise(lit("relabeled")))
      .groupBy("status").agg(count(lit(1)).as("n_images"))
  }

  /**
   * Brute-force n-gram Jaccard pairs — the exact oracle for the LSH variants
   * (small inputs only: O(n^2) via self-join; the golden recall gate compares
   * [[minhashLshPairs]] against this at identical config,
   * mirroring the reference eval harness shape,
   * reference: ea/sim/dev/evaluation/evaluator.py:12-18).
   */
  def bruteForceJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig): DataFrame = {
    val feat = textFeatures(docs, idCol, textCol, cfg)
      .select("id", "shingles")
    val fa = feat.select(col("id").as("a"), col("shingles").as("sh_a"))
    val fb = feat.select(col("id").as("b"), col("shingles").as("sh_b"))
    fa.crossJoin(fb).where(col("a") < col("b"))
      .withColumn("jaccard", jaccard_sim(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.jaccardMin)
      .select("a", "b", "jaccard")
  }

  /**
   * Exact long-match (shared-substring) pair detection at corpus scale —
   * the distributed replacement for the north rule's suffix-array substring
   * pass. Winnowed k-gram anchors ([[graft.functions.HashKernels
   * .winnowAnchorsFromChars]], Schleimer et al. SIGMOD'03) bucket-join
   * candidate pairs with GUARANTEED recall for any pair sharing an exact
   * character run of length >= minLen (the window is sized w = minLen - k + 1
   * so the winnowing guarantee kicks in exactly at minLen); an LCS verify
   * then keeps precisely the pairs whose true longest common substring
   * reaches minLen. Net effect: equal to the brute-force all-pairs LCS
   * filter (property-spec'd) without the O(n^2) pair scan.
   *
   * Unlike the LSH-gated LCS detector (`hammingMax = -1, lcsMin > 0` through
   * [[VerifyStage]]), recall here does not depend on a MinHash band
   * collision — a pair sharing one long run inside otherwise-disjoint text
   * is still found.
   *
   * Scale shape: anchors are ~2/(w+1) per char, the candidate join shuffles
   * (id, anchor) rows only, and text attaches exactly once per distinct
   * candidate pair. Two caps trade exactness for worst-case bounds, both
   * off by default semantics-wise: `maxBucketSize` degrades an anchor shared
   * by more than that many docs (web boilerplate) to sorted-neighborhood
   * pairing, and `lcsCap` clamps the verify DP to the first lcsCap chars of
   * each side (runs that only occur past the clamp are not matched; raise it
   * for long-document corpora — cost is O(lcsCap^2) per candidate).
   */
  def longMatchPairs(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, k: Int = 16, seed: Long = 42L,
      maxBucketSize: Int = 4096, lcsCap: Int = 2000,
      saltOversized: Boolean = false): DataFrame = {
    require(k >= 2 && minLen >= k + 1,
      s"minLen($minLen) must exceed k($k): the winnowing window w = minLen - k + 1 needs w >= 2")
    require(lcsCap >= minLen, s"lcsCap($lcsCap) below minLen($minLen) can never verify a pair")
    val w = minLen - k + 1
    val base = cached(docs.select(col(idCol).as("id"), col(textCol).as("text")))
    val buckets = base.select(col("id"),
      explode(winnow_anchors(col("text"), k, w, seed)).as("key"))
    val pairs = CandidateGen.pairsFromBuckets(buckets, maxBucketSize,
      saltOversized = saltOversized)
    verifyJoin(pairs, base, base, "text")
      .withColumn("lcs", lcs_length(col("va"), col("vb"), lcsCap))
      .where(col("lcs") >= minLen)
      .select("a", "b", "lcs")
  }

  /** Embedding-cosine near-dup pairs via sign-random-projection buckets. */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      cosineMin: Double, srpBits: Int = 12, tables: Int = 4,
      seed: Long = 42L, maxBucketSize: Int = 4096,
      saltOversized: Boolean = false): DataFrame = {
    val base = cached(
      embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val buckets = CandidateGen.srpBuckets(base, "id", "vec", srpBits, tables, seed)
    val pairs = CandidateGen.pairsFromBuckets(buckets, maxBucketSize,
      saltOversized = saltOversized)
    verifyJoin(pairs, base, base, "vec")
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .where(col("cosine") >= cosineMin)
      .select("a", "b", "cosine")
  }

  /**
   * Crop-resilient image dedup: pairs of images where one contains a
   * LATTICE-ALIGNED crop of the other (thumbnails, center/half crops at
   * standard ratios — the web-scale re-post shape the whole-frame phash
   * orbit cannot catch, since cropping destroys the global hash). Candidate
   * keys are [[Multimodal.cropRegionKeys]]: every lattice-aligned region's
   * raw-cell-grid content key, so a crop and its source collide on the
   * crop's full-frame key by the [[graft.synth.ImageCodec.regionCells]]
   * integer-arithmetic identity — recall for lossless lattice-aligned crops
   * is GUARANTEED by construction, not probabilistic (spec-pinned). Crops at
   * arbitrary offsets or lossy re-encodes are out of contract (the
   * [[graft.synth.ImageCodec.regionKey]] exactness trade; raise `lattice`
   * for finer alignment at linearly more keys, and route lossy whole-frame
   * dups through the phash families).
   *
   * Pair generation runs through [[CandidateGen.pairsFromBuckets]] — the
   * same bucket-volume cap / salting device as every other dedup family, so
   * a degenerate region key (near-flat texture passing the contrast gate on
   * millions of images) cannot emit quadratic candidates. `n_regions`
   * (shared-key count per pair, an equi-join over <= C(lattice+1,2)^2 keys
   * per side) grades evidence: 1 = a single region match (a true crop),
   * C(lattice+1,2)^2 = every region matches (a pixel-identical re-encode).
   *
   * @return (a, b, n_regions) with a < b
   */
  def cropDups(spark: org.apache.spark.sql.SparkSession, images: DataFrame,
      lattice: Int = 3, minContrast: Double = 8.0, maxBucketSize: Int = 4096,
      saltOversized: Boolean = false): DataFrame = {
    val keys = Multimodal.cropRegionKeys(spark, images, lattice, minContrast)
    val pairs = CandidateGen.pairsFromBuckets(keys, maxBucketSize,
      saltOversized = saltOversized)
    val ka = keys.select(col("id").as("a"), col("key"))
    val kb = keys.select(col("id").as("b"), col("key"))
    pairs.join(ka, "a").join(kb, Seq("b", "key"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_regions"))
  }

  /**
   * Border-resilient image dedup: pairs where one image is a lossless
   * re-post of the other inside added uniform bars (letterbox, pillarbox,
   * solid frames — the OTHER common web re-post transform, complementary to
   * [[cropDups]]: bars sit at arbitrary pixel offsets no lattice covers).
   * Both sides canonicalize by trimming uniform borders ([[graft.synth
   * .ImageCodec.contentBounds]]) and key on the content region's raw cell
   * grid; the trim invariant makes the keys equal for any bar width and
   * color, including images whose own edges are uniform. Pairs flow through
   * the shared [[CandidateGen.pairsFromBuckets]] cap/salt device. Same
   * exactness contract as [[cropDups]]: lossless re-encodes only — lossy
   * bars perturb the content cells and belong to the phash families.
   *
   * @return (a, b) with a < b
   */
  def borderDups(spark: org.apache.spark.sql.SparkSession, images: DataFrame,
      minContrast: Double = 8.0, maxBucketSize: Int = 4096,
      saltOversized: Boolean = false): DataFrame = {
    val keys = Multimodal.borderTrimKeys(spark, images, minContrast)
      .select("id", "key")
    CandidateGen.pairsFromBuckets(keys, maxBucketSize,
      saltOversized = saltOversized)
  }

  /**
   * Scale-resilient image dedup: pairs where one image is an
   * integer-factor nearest-neighbor rescale of the other — thumbnails and
   * resolution re-uploads, the FOURTH common web re-post transform, closing
   * the geometric family next to [[cropDups]] (re-framed sub-region),
   * [[borderDups]] (added bars), [[overlayDups]] (stamped region), and the
   * mirror/rotation orbit in the phash pipeline. Keys are
   * [[Multimodal.scaleKeys]]: integer-luma 8x8 cell means + reduced aspect
   * ratio, BIT-IDENTICAL across such rescales of multiple-of-8-dimension
   * frames ([[graft.synth.ImageCodec.scaleKey]]'s exact-arithmetic
   * invariant), so recall is guaranteed by construction — and two different
   * rescales of one base pair with each other too (they share the base's
   * key). Interpolated / fractional rescales belong to the phash families.
   * Pairs flow through the shared [[CandidateGen.pairsFromBuckets]]
   * cap/salt device.
   *
   * @return (a, b) with a < b
   */
  def scaleDups(spark: org.apache.spark.sql.SparkSession, images: DataFrame,
      minContrast: Double = 8.0, maxBucketSize: Int = 4096,
      saltOversized: Boolean = false): DataFrame = {
    val keys = Multimodal.scaleKeys(spark, images, minContrast)
      .select("id", "key")
    CandidateGen.pairsFromBuckets(keys, maxBucketSize,
      saltOversized = saltOversized)
  }

  /**
   * Geometric-canonical image dedup — [[borderDups]] and [[scaleDups]]
   * UNIFIED, plus their composition: pairs where one image is the other
   * with added uniform bars, an integer-factor NN rescale, or a rescale OF
   * a barred re-post (the letterboxed thumbnail — a pair NEITHER
   * single-transform family can catch: the bars defeat the scale key, the
   * rescale defeats the raw border key). One canonical key per image
   * ([[Multimodal.canonicalKeys]]: trim, then scale-canonical content key),
   * exactness per its commuting-trim argument; the whole transform family
   * and its compositions collapse to key equality, so recall is guaranteed
   * by construction for multiple-of-8 content dims and precision rides the
   * 64-cell + aspect key as in the component families.
   *
   * @return (a, b) with a < b
   */
  def geometricDups(spark: org.apache.spark.sql.SparkSession,
      images: DataFrame, minContrast: Double = 8.0, maxBucketSize: Int = 4096,
      saltOversized: Boolean = false): DataFrame = {
    val keys = Multimodal.canonicalKeys(spark, images, minContrast)
      .select("id", "key")
    CandidateGen.pairsFromBuckets(keys, maxBucketSize,
      saltOversized = saltOversized)
  }

  /**
   * Overlay-resilient image dedup: pairs of same-dimension images that are
   * pixel-identical outside a stamped region — watermarks, logos, channel
   * bugs, timestamps: the THIRD common web re-post transform, closing the
   * family next to [[cropDups]] (re-framed sub-region) and [[borderDups]]
   * (added bars). Candidate keys are [[Multimodal.tileKeys]]: each image's
   * `grid` x `grid` aligned tiles keyed by raw-cell-grid content, so an
   * overlay touching `r` tiles leaves the pair colliding on the other
   * `grid^2 - r` — recall is GUARANTEED by construction for any lossless
   * overlay confined to fewer than `grid^2 - minTiles + 1` tiles
   * (spec-pinned), not probabilistic. Lossy re-encodes perturb every tile
   * and belong to the phash families, same contract as the siblings.
   *
   * Pair generation runs through [[CandidateGen.pairsFromBuckets]] on the
   * composite (tile_idx, key, w, h) bucket key — the shared volume-cap /
   * salting device, so a degenerate tile (a flat sky passing the contrast
   * gate on millions of images) cannot emit quadratic candidates. `n_tiles`
   * (shared-tile count per pair, an equi-join over grid^2 keys per side)
   * grades evidence: grid^2 = pixel-identical re-encode, minTiles = the
   * largest tolerated overlay.
   *
   * @param minTiles minimum shared aligned tiles to emit the pair; the
   *                 precision/recall knob (default 3/4 of a 4x4 grid:
   *                 tolerates overlays spanning up to 4 tiles)
   * @return (a, b, n_tiles) with a < b, n_tiles >= minTiles
   */
  def overlayDups(spark: org.apache.spark.sql.SparkSession, images: DataFrame,
      grid: Int = 4, minTiles: Int = 12, minContrast: Double = 8.0,
      maxBucketSize: Int = 4096, saltOversized: Boolean = false): DataFrame = {
    require(minTiles >= 1 && minTiles <= grid * grid,
      s"minTiles($minTiles) outside [1, ${grid * grid}]")
    val keys = Multimodal.tileKeys(spark, images, grid, minContrast)
      .select(col("id"),
        struct(col("tile_idx"), col("key"), col("w"), col("h")).as("key"))
    val pairs = CandidateGen.pairsFromBuckets(keys, maxBucketSize,
      saltOversized = saltOversized)
    val ka = keys.select(col("id").as("a"), col("key"))
    val kb = keys.select(col("id").as("b"), col("key"))
    pairs.join(ka, "a").join(kb, Seq("b", "key"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_tiles"))
      .where(col("n_tiles") >= minTiles)
  }

  /**
   * Near-dups of a NEW batch against an EXISTING corpus only — the
   * daily-ingest shape at 100 TB. The corpus side's band rows are the big,
   * precomputable dimension (in production, persist `textFeatures` + band
   * explode across runs and only the new batch is featurized per run — the
   * batch analogue of the reference's incremental index insert,
   * ea/sim/main/methods/index/faiss.py:40-51). The band equi-join generates
   * only new-vs-corpus candidates: never corpus-corpus (the corpus is already
   * deduped by contract) and never new-new (self-dedup the batch with
   * [[minhashLshPairs]] separately when wanted). Hot band keys are bounded by
   * [[CandidateGen.bipartitePairsFromBuckets]]: AQE skew-splitting alone
   * would fix task balance but not candidate VOLUME — a degenerate band key
   * shared by 1e5 corpus and 1e4 new rows would emit 1e9 verify pairs, the
   * first thing a daily ingest hits at a 100 TB corpus. Keys over the
   * cfg.maxBucketSize volume ceiling are salted (exact, spread) or degraded
   * (bounded sample) per cfg.saltOversized, matching the batch path.
   *
   * @return (a = new id, b = corpus id, jaccard) with jaccard >= cfg.jaccardMin
   */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, cfg: DedupConfig): DataFrame = {
    val nf = cachedSignatures(newDocs, idCol, textCol, cfg)
    val cf = cachedSignatures(corpus, idCol, textCol, cfg)
    val pairs = CandidateGen.bipartitePairsFromBuckets(
      textBands(nf).select(col("id").as("a"), col("key")),
      textBands(cf).select(col("id").as("b"), col("key")),
      cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    verifyJoin(pairs, nf, cf, "shingles")
      .withColumn("jaccard", jaccard_sim(col("va"), col("vb")))
      .where(col("jaccard") >= cfg.jaccardMin)
      .select("a", "b", "jaccard")
  }

  /**
   * Incremental WEIGHTED near-dup: the ICWS family
   * ([[weightedMinhashPairs]]) in the new-batch-vs-corpus shape — same
   * bipartite candidate device as [[incrementalNearDupPairs]] (per-side
   * band frames through `bipartitePairsFromBuckets`' hot-key
   * cap/salt/degrade), verified by the exact weighted Jaccard. Completes
   * the batch/incremental symmetry for the multiplicity-aware family: a
   * daily ingest can hold spam-inflation to the same standard as the
   * batch pass.
   *
   * @return (a = new id, b = corpus id, wjaccard) at `cfg.jaccardMin`+
   */
  def incrementalWeightedPairs(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, cfg: DedupConfig): DataFrame = {
    val nf = cached(weightedFeatures(newDocs, idCol, textCol, cfg))
    val cf = cached(weightedFeatures(corpus, idCol, textCol, cfg))
    val pairs = CandidateGen.bipartitePairsFromBuckets(
      CandidateGen.explodeBands(nf, "id", "band_keys")
        .select(col("id").as("a"), col("key")),
      CandidateGen.explodeBands(cf, "id", "band_keys")
        .select(col("id").as("b"), col("key")),
      cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    verifyJoin(pairs, nf, cf, "shingles")
      .withColumn("wjaccard", weighted_jaccard(col("va"), col("vb")))
      .where(col("wjaccard") >= cfg.jaccardMin)
      .select("a", "b", "wjaccard")
  }

  /**
   * Serialized Bloom sketch over a corpus's exact content hashes — the O(1)
   * membership artifact a daily ingest probes INSTEAD of touching the corpus:
   * built once per corpus snapshot by one distributed
   * aggregation pass (`DataFrameStatFunctions.bloomFilter` — mergeable
   * per-partition sketches, bit-OR combine), persisted next to the snapshot,
   * reused across every batch until the corpus changes.
   *
   * Size is set by (expectedItems, fpp), NOT by corpus rows — ~1.2 GB at
   * 10^9 items / 1% fpp is the practical broadcast ceiling; past that,
   * partition the corpus and sketch per partition, or fall back to the
   * hash-join path. Hash contract: `xxhash64(textCol)` raw-text identity,
   * the same as [[exact]] (equal-hash => treated equal; 64-bit collision
   * odds as documented there).
   */
  def bloomSketch(corpus: DataFrame, textCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Array[Byte] = {
    val bf = corpus.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /**
   * Bloom-prefiltered exact membership of a NEW batch against an EXISTING
   * corpus: (id, is_known) for every new row, where `is_known` is EXACT
   * (bloom false positives are re-checked; `might_contain = false` rows are
   * definitely new — Bloom filters have no false negatives — and SKIP the
   * verify join entirely). The daily-ingest economics: the probe is a
   * narrow zero-shuffle projection at wire speed, so only the known-dup
   * fraction plus fpp of the batch ever shuffles, and corpus contact is one
   * column-pruned 8-byte-hash scan on just that slice's verify join —
   * nothing corpus-sized moves for the clean bulk of the batch. With a
   * persisted [[bloomSketch]], use [[bloomProbe]] + your own verify join
   * and the common path touches the corpus not at all.
   */
  def bloomKnownExact(newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val sketch = bloomSketch(corpus, textCol, expectedItems, fpp)
    val probed = bloomProbe(newDocs, idCol, textCol, sketch)
    val corpusH = corpus.select(xxhash64(col(textCol)).as("__h")).distinct()
    val known = probed.where(col("might_known"))
      .join(corpusH, Seq("__h"), "left_semi")
      .select(col(idCol)).withColumn("__known", lit(true))
    probed.join(known, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__known"), lit(false)).as("is_known"))
  }

  /** Narrow probe stage of [[bloomKnownExact]]: (id, __h, might_known) —
    * zero shuffle, sketch deserialized once per task. No false negatives:
    * `might_known = false` is a definite non-member. */
  def bloomProbe(newDocs: DataFrame, idCol: String, textCol: String,
      sketch: Array[Byte]): DataFrame =
    newDocs.select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .withColumn("might_known", bloom_might_contain(sketch, col("__h")))

  /**
   * Decontamination report: what fraction of a BENCHMARK set near-duplicates
   * the training corpus — the eval-leakage check a production training run
   * publishes before shipping a corpus (benchmark contamination; the
   * GPT-3-appendix/FineWeb decontamination step, run here in the detection
   * direction: which eval rows leak). Evidence is
   * [[incrementalNearDupPairs]] — bipartite only, hot keys bounded — with
   * the benchmark as the (small) new side, so the cost is one daily-ingest
   * evidence join regardless of corpus size.
   *
   * @return one row: (n_bench, n_contaminated, contamination_rate)
   */
  def contaminationReport(bench: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, cfg: DedupConfig): DataFrame = {
    val hits = incrementalNearDupPairs(bench, corpus, idCol, textCol, cfg)
      .select("a").distinct()
    val tot = bench.agg(countDistinct(col(idCol)).as("n_bench"))
    val hit = hits.agg(count(lit(1)).as("n_contaminated"))
    tot.crossJoin(hit)
      .withColumn("contamination_rate",
        round(col("n_contaminated") / col("n_bench"), 6))
  }

  /** (group, shingles) of every doc with a non-empty shingle set. */
  private def groupShingles(docs: DataFrame, textCol: String, groupCol: String,
      cfg: DedupConfig): DataFrame =
    docs.select(col(groupCol).as("group"),
        text_shingles(col(textCol), cfg).as("shingles"))
      .where(size(col("shingles")) > 0)

  /** (group, merged_sig): the elementwise min of a (group, sig) frame's
    * member signatures, via posexplode + a (group, pos) aggregate — one
    * shuffle whose width is numHashes rows per group, never the member
    * shingles. */
  private def minMerged(sigs: DataFrame): DataFrame =
    sigs.select(col("group"), posexplode(col("sig")))
      .groupBy("group", "pos").agg(min("col").as("mh"))
      .groupBy("group")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mh")))),
        s => s("mh")).as("merged_sig"))

  /**
   * Mergeable per-group MinHash signatures: the group signature is the
   * ELEMENTWISE MIN of member signatures, which by the min-merge property of
   * MinHash equals the signature of the UNION of the members' shingle sets.
   * That makes group-level signatures buildable by pure aggregation — no
   * second pass over the texts — which is what cluster-vs-cluster dedup
   * (compare a new corpus's clusters against 10^12 rows' existing clusters
   * by signature instead of by membership) and hierarchical dedup need at
   * scale.
   *
   * Docs with an empty shingle set contribute nothing to either side
   * (matching [[minhashLshPairs]]'s empty-feature exclusion); groups whose
   * members are ALL empty are dropped.
   *
   * `verifyUnion = true` (small corpora / the q59 gate only) additionally
   * recomputes each group's signature from the UNION of member shingle sets
   * and emits the equality bit. That verification path aggregates every
   * distinct shingle of a group onto one row — exactly the full-width
   * aggregation the min-merge design exists to avoid — so it must stay OFF
   * in production: the default output derives from member signatures alone,
   * and its widest shuffle row is numHashes values per group.
   *
   * @return (group, n_members, sig_len, merged_sig); with `verifyUnion`,
   *         plus merged_eq_union
   */
  def groupSignatures(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, cfg: DedupConfig,
      verifyUnion: Boolean = false): DataFrame = {
    require(!cfg.oph, "groupSignatures requires the classic MinHash kernel:" +
      " densified OPH bins copy values across bins, so the elementwise min of" +
      " member signatures is NOT the signature of the union (HashKernels.ophArray)")
    val feat = cached(groupShingles(docs, textCol, groupCol, cfg)
      .withColumn("sig", minhash_signature(col("shingles"), cfg.numHashes, cfg.seed)))
    val merged = minMerged(feat)
    val counts = feat.groupBy("group").agg(count(lit(1)).as("n_members"))
    val out = merged.join(counts, "group")
      .select(col("group"), col("n_members"),
        size(col("merged_sig")).as("sig_len"), col("merged_sig"))
    if (!verifyUnion) out
    else {
      val unions = feat
        .select(col("group"), explode(col("shingles")).as("sh"))
        .groupBy("group").agg(collect_set("sh").as("ush"))
        .select(col("group"),
          minhash_signature(col("ush"), cfg.numHashes, cfg.seed).as("union_sig"))
      out.join(unions, "group")
        .select(col("group"), col("n_members"), col("sig_len"), col("merged_sig"),
          (col("merged_sig") === col("union_sig")).as("merged_eq_union"))
    }
  }

  /**
   * GROUP-level near-dup pairs — "should these clusters merge": candidate
   * generation over the MERGEABLE group signatures ([[groupSignatures]]'
   * elementwise-min MinHash, whose per-slot collision law is the Jaccard
   * of the groups' UNION shingle sets), verified by the exact union-set
   * Jaccard. The monitor a pipeline runs over last run's cluster
   * assignments: two clusters whose content converged (re-crawls, merged
   * sources) surface as a pair before the next full dedup would find them.
   *
   * Scale: the signature path never materializes union sets (numHashes
   * rows/group is its widest shuffle); the exact VERIFY does aggregate
   * each candidate group's distinct shingles — bounded by group content,
   * fine for cluster-sized groups; for pathological mega-groups verify on
   * [[graft.functions.jaccard_sim]] of the merged signatures instead
   * (estimate, no aggregation) before this exact pass.
   *
   * @return (ga, gb, jaccard) — group pair ordered least/greatest, exact
   *         union Jaccard rounded to 6, thresholded at `cfg.jaccardMin`
   */
  def groupNearDupPairs(docs: DataFrame, textCol: String,
      groupCol: String, cfg: DedupConfig): DataFrame = {
    require(!cfg.oph, "groupNearDupPairs merges member signatures " +
      "elementwise — the classic MinHash kernel only (see groupSignatures)")
    // featurize ONCE: both the signature path and the exact-union verify
    // read this frame (tokenize+hash is the dominant per-row cost)
    val feat = cached(groupShingles(docs, textCol, groupCol, cfg))
    val merged = minMerged(feat.withColumn("sig",
      minhash_signature(col("shingles"), cfg.numHashes, cfg.seed)))
    val withNid = merged.select(
      xxhash64(col("group").cast("string")).as("id"),
      lsh_band_keys(col("merged_sig"), cfg.bands, cfg.rowsPerBand, cfg.seed)
        .as("band_keys"))
    val buckets = CandidateGen.explodeBands(withNid, "id", "band_keys")
    val pairs = CandidateGen.pairsFromBuckets(buckets, cfg.maxBucketSize,
      saltOversized = cfg.saltOversized)
    val unions = feat.select(col("group"), explode(col("shingles")).as("sh"))
      .groupBy("group").agg(collect_set(col("sh")).as("ush"))
      .select(xxhash64(col("group").cast("string")).as("gid"),
        col("group"), col("ush"))
    pairs
      .join(unions.select(col("gid").as("a"), col("group").as("group_a"),
        col("ush").as("ua")), "a")
      .join(unions.select(col("gid").as("b"), col("group").as("group_b"),
        col("ush").as("ub")), "b")
      // threshold the UNROUNDED value (sibling-operator and oracle parity);
      // round only the reported score
      .withColumn("__j", jaccard_sim(col("ua"), col("ub")))
      .where(col("__j") >= cfg.jaccardMin)
      .select(least(col("group_a"), col("group_b")).as("ga"),
        greatest(col("group_a"), col("group_b")).as("gb"),
        round(col("__j"), 6).as("jaccard"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): coarse-cluster the embedding space (the IVF
   * quantizer, [[Ann.kmeansCentroids]] + [[Ann.cellAssignments]] — one
   * corpus pass), generate only WITHIN-CELL candidate pairs, keep pairs with
   * cosine >= cosineMin, and collapse them to groups via connected
   * components; `keep` marks each group's min-id representative — the row a
   * semantic-dedup pass retains.
   *
   * Scale shape: candidate volume is sum of cell sizes squared instead of
   * corpus squared (the SemDeDup trade — cross-cell semantic dups are out of
   * scope by design); cell buckets reuse [[CandidateGen.pairsFromBuckets]].
   * Cells over `maxBucketSize` members are SALTED by default
   * (`saltOversized = true`) — exact within-cell pair semantics at O(m^2)
   * output, spread so no task holds a whole cell. Unlike LSH band buckets,
   * an oversized cell is never "degenerate boilerplate": id order is
   * semantically meaningless for embeddings, so the sorted-neighborhood
   * degrade (`saltOversized = false`) would silently drop within-cell
   * semantic dups whose ids happen to sit > neighborhood apart — opt into
   * it only when bounding worst-case work matters more than recall, or
   * size nlist so cells stay under the cap (the real control at scale).
   *
   * @return (id, sem_group_id = min id of the semantic group, keep)
   */
  def semanticDedupGroups(embeddings: DataFrame, idCol: String, vecCol: String,
      cosineMin: Double, nlist: Int, iters: Int = 2,
      maxBucketSize: Int = 4096, saltOversized: Boolean = true): DataFrame =
    semanticDedupGroupsWith(embeddings, idCol, vecCol, cosineMin,
      centroids = null, nlist = nlist, iters = iters,
      maxBucketSize = maxBucketSize, saltOversized = saltOversized)

  /**
   * [[semanticDedupGroups]] against CALLER-SUPPLIED centroids — the
   * [[Ann.ivfPqResidualTopK]] pattern: at 10^12 rows the coarse quantizer is a
   * persisted artifact trained once per corpus snapshot (reference FAISS
   * index store, ea/sim/main/methods/index/faiss.py:40-51), not something
   * every dedup pass re-runs Lloyd iterations for. Pass the
   * [[Ann.kmeansCentroids]] output (or the persisted (cent_id, centv)
   * table); `nlist`/`iters` only apply when `centroids` is null.
   */
  def semanticDedupGroupsWith(embeddings: DataFrame, idCol: String,
      vecCol: String, cosineMin: Double, centroids: DataFrame,
      nlist: Int = 0, iters: Int = 2,
      maxBucketSize: Int = 4096, saltOversized: Boolean = true): DataFrame = {
    require(centroids != null || nlist > 0,
      "pass centroids, or nlist > 0 to train the quantizer in-call")
    val base = cached(
      embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val cents = Option(centroids)
      .getOrElse(Ann.kmeansCentroids(base, "id", "vec", nlist, iters))
    val buckets = Ann.cellAssignments(base, cents, "id", "vec")
      .select(col("id"), col("cell").as("key"))
    val pairs = CandidateGen.pairsFromBuckets(buckets, maxBucketSize,
      saltOversized = saltOversized)
    val dup = verifyJoin(pairs, base, base, "vec")
      .where(cosine_sim(col("va"), col("vb")) >= cosineMin)
      .select("a", "b")
    componentOf(base.select(col("id")), "id", dup)
      .withColumn("sem_group_id", min(col("id")).over(Window.partitionBy("__comp")))
      .select(col("id"), col("sem_group_id"),
        (col("id") === col("sem_group_id")).as("keep"))
  }

  /**
   * Tiered dedup cascade — exact identity, then MinHash-LSH near-dup, then
   * SemDeDup semantic — each tier running ONLY on the previous tier's
   * survivors, the way production training-data pipelines stack their dedup
   * passes (FineWeb/CCNet-style: the cheap high-precision pass first shrinks
   * the input the expensive passes see). Reference analogue: the staged
   * hash-unique -> retrieval -> pairwise-scorer funnel
   * (ea/sim/main/data/objects/issue.py:56-73 feeding
   * ea/sim/main/methods/retrieval.py), with the neural scorer replaced per
   * the north rule.
   *
   * Output: every input row exactly once as (id, tier, canonical), where
   * `tier` is the tier that REMOVED the row (`exact` | `near` | `semantic`)
   * or `kept`, and `canonical` is the row's ultimate surviving
   * representative — tier-local group minima are resolved through the later
   * tiers (a near-tier representative that the semantic tier then removes
   * passes its members along to ITS canonical), so `canonical` always lands
   * in the kept set; kept rows point at themselves.
   *
   * Scale: tier 1 is one shuffle on the text hash; tiers 2 and 3 reuse the
   * bounded candidate machinery ([[minhashLshGroups]] /
   * [[semanticDedupGroups]]: bucket caps, salting, CC on long nids) over
   * strictly shrinking inputs; the inter-tier plumbing is survivor
   * semi-joins on id plus two removed-rows-sized resolution joins — nothing
   * here holds a corpus-sized structure on the driver.
   *
   * @param cosineMin semantic-tier cosine threshold (the SemDeDup epsilon)
   * @param nlist     IVF cell count for the semantic tier's coarse quantizer
   */
  def cascade(docs: DataFrame, idCol: String, textCol: String, embCol: String,
      cfg: DedupConfig, cosineMin: Double, nlist: Int): DataFrame = {
    val base = cached(docs.select(col(idCol).as("id"),
      col(textCol).as("text"), col(embCol).as("emb")))

    val g1 = exactGroups(base, "id", "text")
    val removedExact = g1.where(col("id") =!= col("dup_group_id"))
      .select(col("id"), col("dup_group_id").as("c1"))
    val surv1 = cached(
      base.join(g1.where(col("id") === col("dup_group_id")).select("id"),
        Seq("id")))

    val g2 = minhashLshGroups(surv1, "id", "text", cfg)
    val removedNear = g2.where(col("id") =!= col("dup_group_id"))
      .select(col("id"), col("dup_group_id").as("c2"))
    val surv2 = cached(
      surv1.join(g2.where(col("id") === col("dup_group_id")).select("id"),
        Seq("id")))

    val g3 = semanticDedupGroups(surv2, "id", "emb", cosineMin, nlist)
    val removedSem = g3.where(!col("keep"))
      .select(col("id"), col("sem_group_id").as("c3"))
    val kept = g3.where(col("keep"))
      .select(col("id"), lit("kept").as("tier"), col("id").as("canonical"))

    // resolve tier-local representatives through the LATER tiers: a tier-k
    // group minimum survives tier k by construction, so each hop needs the
    // next tier's removal map exactly once. Both maps are removed-rows-sized.
    val map2 = removedNear.select(col("id").as("__k2"), col("c2").as("__v2"))
    val map3 = removedSem.select(col("id").as("__k3"), col("c3").as("__v3"))
    val exactResolved = removedExact
      .join(map2, col("c1") === col("__k2"), "left")
      .withColumn("__c", coalesce(col("__v2"), col("c1")))
      .join(map3, col("__c") === col("__k3"), "left")
      .select(col("id"), lit("exact").as("tier"),
        coalesce(col("__v3"), col("__c")).as("canonical"))
    val nearResolved = removedNear
      .join(map3, col("c2") === col("__k3"), "left")
      .select(col("id"), lit("near").as("tier"),
        coalesce(col("__v3"), col("c2")).as("canonical"))
    val semResolved = removedSem
      .select(col("id"), lit("semantic").as("tier"), col("c3").as("canonical"))

    exactResolved.unionByName(nearResolved).unionByName(semResolved)
      .unionByName(kept)
  }

  /**
   * Bipartite SemDeDup evidence: a NEW batch's embeddings against an
   * EXISTING corpus — the semantic member of the incremental evidence
   * family ([[incrementalNearDupPairs]] covers the text signatures). Never
   * corpus-corpus or new-new pairs.
   *
   * Both sides are assigned to the corpus's coarse-quantizer cells
   * ([[Ann.cellAssignments]], a narrow zero-shuffle expression) and only
   * same-cell cross pairs are verified — the SemDeDup restriction (Abbas et
   * al. 2023), with the same recall caveat: a pair straddling a cell
   * boundary is not seen. At the daily-ingest shape the quantizer is the
   * corpus snapshot's persisted artifact — pass `centroids` and no k-means
   * runs in-call; `nlist > 0` trains on the CORPUS side (never the batch:
   * the batch distribution must not move the cells its own evidence is
   * judged in).
   *
   * Hot cells are bounded by [[CandidateGen.bipartitePairsFromBuckets]]
   * (same ceiling + salt/degrade contract as q64); `saltOversized`
   * defaults TRUE like [[semanticDedupGroups]] — id-order degrade would
   * silently drop real embedding pairs.
   *
   * Vectors attach per SIDE (the a-join reads only the new frame, the
   * b-join only the corpus), so an id appearing in both frames cannot
   * alias — no side salting needed here, unlike the text path's unioned
   * feature table.
   *
   * @return (a = new id, b = corpus id, cosine) at cosine >= cosineMin
   */
  def incrementalSemanticPairs(newEmb: DataFrame, corpusEmb: DataFrame,
      idCol: String, vecCol: String, cosineMin: Double,
      centroids: DataFrame = null, nlist: Int = 0,
      maxBucketSize: Int = 4096, saltOversized: Boolean = true): DataFrame = {
    require(centroids != null || nlist > 0,
      "pass centroids, or nlist > 0 to train the quantizer on the corpus")
    val nf = cached(newEmb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val cf = cached(corpusEmb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val cents = Option(centroids)
      .getOrElse(Ann.kmeansCentroids(cf, "id", "vec", nlist))
    val nb = Ann.cellAssignments(nf, cents, "id", "vec")
      .select(col("id").as("a"), col("cell").as("key"))
    val cb = Ann.cellAssignments(cf, cents, "id", "vec")
      .select(col("id").as("b"), col("cell").as("key"))
    val pairs = CandidateGen.bipartitePairsFromBuckets(nb, cb, maxBucketSize,
      saltOversized = saltOversized)
    verifyJoin(pairs, nf, cf, "vec")
      .withColumn("cosine", cosine_sim(col("va"), col("vb")))
      .where(col("cosine") >= cosineMin)
      .select("a", "b", "cosine")
  }
}
