package graft.pipeline

import graft.config.DedupConfig
import graft.functions._
import graft.io.CheckpointStore
import graft.operators.{CandidateGen, ConnectedComponents, SkewStats, VerifyStage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * End-to-end near-duplicate pipeline (north rule): signatures -> exact-group
 * collapse -> LSH candidate generation on group representatives -> exact
 * verify -> connected components -> cluster assignments.
 *
 * Reference semantics preserved (SURVEY.md section 7): content-hash identity ->
 * candidate generation -> pairwise similarity -> per-cluster aggregation,
 * with every neural scorer replaced by the classical signature trio
 * (MinHash/Jaccard over caption shingles, SimHash/Hamming over phash-derived
 * image tokens, optional LCS for exact long matches — fed by its own
 * winnowed-anchor candidate family when enabled, so long-match recall does
 * not depend on a band collision).
 *
 * Scale design:
 *  - "Dedup before compute" (the reference's unique=True hash dedup,
 *    ea/sim/main/data/objects/issue.py:56-73): rows with an identical
 *    non-empty normalized caption collapse to one representative for the
 *    MinHash-LSH family, rows with an identical phash for the SimHash
 *    family. Exact groups contribute O(m) star edges instead of m^2/2 pairs
 *    repeated across all 64 bands — this is what keeps hot boilerplate
 *    content from exploding the band self-join.
 *  - Everything after feature extraction runs on dense LONG node ids
 *    (primitive UnsafeRows through every shuffle — string ids would be
 *    GC-heavy at 10^12 rows and collide as 64-bit hashes).
 *  - Soundness of the collapse: members share their representative's exact
 *    shingle set (caption family) / exact simhash (image family), so a
 *    member-level dup pair exists iff the corresponding representative pair
 *    does; star edges then merge the groups in connected components.
 */
object DedupPipeline {

  /** Per-row signature computation — narrow, whole-stage-codegen friendly.
    * Input requires columns (image_id, caption, phash); `carry` columns are
    * passed through untouched (e.g. the Ingest validation flags). */
  def features(images: DataFrame, cfg: DedupConfig,
      carry: Seq[String] = Nil): DataFrame = {
    images.select(
      Seq(col("image_id").as("id"),
        normalize_text(col("caption")).as("norm_text"),
        text_shingles(col("caption"), cfg).as("shingles"),
        col("phash")) ++ carry.map(col): _*)
      .withColumn("band_keys", text_band_keys(col("shingles"), cfg))
      .withColumn("simhash", simhash64(phash_tokens(col("phash")), cfg.seed))
      .withColumn("content_hash", xxhash64(col("norm_text")))
      // dense join identity: CONTENT-derived (image_id is unique by input
      // contract), so a recomputed partition — executor loss, cache eviction,
      // resumed run — always regenerates the same nid. A generator like
      // monotonically_increasing_id is nondeterministic under recomputation
      // and would silently mis-associate the downstream joins at cluster
      // scale. Collision odds over 64 bits are ~n^2/2^65 (~3% at 10^12 rows,
      // negligible below); a collision can only merge two rows' signatures,
      // never corrupt unrelated joins.
      .withColumn("nid", xxhash64(col("id")))
      // mirrorDups adds the mirror-space signature NEXT TO the raw one (the
      // flag-off schema and plan stay byte-identical): `phash_key` collapses
      // bit-exact mirrors with the exact-identity family, `simhash_m` rides
      // the orbit-canonical phash for bucketing + verification. The raw
      // simhash stays primary so ordinary near-dups never regress — the
      // canonical argmin can flip under small phash noise, so the canonical
      // distance alone is NOT a mirror-invariant metric; verify takes the
      // MIN of the raw and canonical Hamming instead (lossy mirrored
      // re-encodes whose argmin lands misaligned remain best-effort, and
      // bit-exact mirrors are caught structurally).
      .transform { base =>
        if (!cfg.mirrorDups) base
        else {
          // rotationDups widens the orbit to the full dihedral group: the
          // canonical also collapses 90/270-degree rotated re-uploads
          val canon: Column => Column =
            if (cfg.rotationDups) phash_canonical_d4 else phash_canonical
          base
            .withColumn("phash_key", canon(col("phash")))
            .withColumn("simhash_m",
              simhash64(phash_tokens(canon(col("phash"))), cfg.seed))
        }
      }
  }

  /** (rep star edges, representative bucket rows) for one exact-identity
    * family. Star edges (`src`, `dst`, `src_id`, `dst_id`) connect every
    * non-representative member to the group's min-nid representative; the
    * `min` over (nid, id) keeps the representative's image id with its nid. */
  private def collapse(feat: DataFrame, identityCol: String): (DataFrame, DataFrame) = {
    val reps = feat.groupBy(identityCol)
      .agg(min(struct(col("nid"), col("id"))).as("rep"))
    val withRep = feat.join(reps, identityCol)
    val stars = withRep.where(col("nid") =!= col("rep.nid"))
      .select(col("rep.nid").as("src"), col("nid").as("dst"),
        col("rep.id").as("src_id"), col("id").as("dst_id"))
    val repRows = withRep.where(col("nid") === col("rep.nid"))
    (stars, repRows)
  }

  /** Full run. When `checkpoint` is given, the verified-pairs stage is
    * persisted and resumable (reference snapshot/tail-replay semantics). */
  def run(spark: SparkSession, images: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DedupResult =
    runFromFeatures(spark, features(images, cfg), cfg, checkpoint)

  /** Run from a pre-computed [[features]] frame (e.g. the fused
    * [[graft.operators.Ingest]] pass that validates payloads and extracts
    * features in one scan). Persists the frame if the caller has not.
    *
    * Two halves: the lazy [[evidence]] (eager only in one count over the
    * cached features and, with `checkpoint`, its staged stages), then the
    * clustering, which runs connected components eagerly and labels them. */
  def runFromFeatures(spark: SparkSession, featuresDf: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DedupResult = {
    val ev = evidence(featuresDf, cfg, checkpoint)
    val feat = featuresDf // persisted in place by evidence()

    // --- clustering ----------------------------------------------------------
    val cc = ConnectedComponents.run(ev.edges)

    val assigned = feat.select(col("id").as("image_id"), col("nid"))
      .join(cc, feat("nid") === cc("id"), "left")
      .select(col("image_id"), coalesce(col("component"), col("nid")).as("comp"))

    // Deterministic cluster label: hash of the lexicographically smallest
    // member id (content-derived, independent of nid assignment order).
    val labels = assigned.groupBy("comp")
      .agg(min("image_id").as("root_image"))
      .select(col("comp"), xxhash64(col("root_image")).as("cluster_id"))
    val assignments = assigned.join(labels, "comp")
      .select("image_id", "cluster_id")

    DedupResult(feat, ev.dupPairs, assignments)
  }

  /** The evidence half of the batch DAG, without clustering: what
    * [[CorpusState.fold]] reads for a batch's within-batch pairs. */
  private[pipeline] def evidence(feat: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): Evidence = {
    if (feat.storageLevel == StorageLevel.NONE)
      feat.persist(StorageLevel.MEMORY_AND_DISK)

    def staged(name: String)(df: => DataFrame): DataFrame =
      checkpoint.map(_.stage(name)(df)).getOrElse(df)

    // --- exact-identity collapse per family --------------------------------
    // mirrorDups: the image-identity family collapses on the orbit-canonical
    // phash, so a bit-exact mirrored re-upload is an exact-identity member
    // (star edge + hamming-0 evidence), not even a candidate to verify.
    // Caption-less rows (null, or "" once normalized) share no text: skipped
    val (capStars, capReps) =
      collapse(feat.where(length(col("norm_text")) > 0), "content_hash")
    val (phStars, phReps) =
      collapse(feat, if (cfg.mirrorDups) "phash_key" else "phash")

    // --- candidate generation on representatives ----------------------------
    // feat is persisted above, so this count is one cheap pass over the
    // cache (and fills it); it upper-bounds the representative count and
    // sizes the simhash bucket-key scheme — small corpora keep the classic
    // few-keys-per-row layout, large ones get the wide-key-space subsets.
    // Caption reps carry the band and anchor families: members of a
    // collapsed group share the exact norm_text, so rep-level recall implies
    // member-level recall through the star edges.
    val nFeat = feat.count()
    val buckets = candidateBuckets(capReps, phReps, nFeat, cfg)
    // checkpointed runs persist the bucket-occupancy profile (resumable like
    // any stage): the artifact an operator reads to re-judge maxBucketSize /
    // saltOversized for the NEXT run of a corpus whose skew just surprised
    // this one. The bucket rows get cached across the histogram and the
    // candidate join (both aggregate them by key), so the profile costs one
    // aggregation over the cache, not a recompute of the collapse + explode
    // derivation; unpersisted below once the verify stage has materialized.
    val bucketRows =
      if (checkpoint.isDefined) buckets.persist(StorageLevel.MEMORY_AND_DISK)
      else buckets
    checkpoint.foreach(_.stage("bucket_histogram") {
      SkewStats.bucketHistogram(bucketRows)
    })
    // ... and the run's recall posture: how much candidate volume the cap
    // dropped (degrade mode) or spread (salted) — the "no silent caps"
    // metric, one more aggregation over the same cache
    checkpoint.foreach(_.stage("cap_loss") {
      CandidateGen.capLossReport(bucketRows, cfg.maxBucketSize,
        saltOversized = cfg.saltOversized)
    })
    val candidates = CandidateGen.pairsFromBuckets(bucketRows, cfg.maxBucketSize,
      saltOversized = cfg.saltOversized)

    // --- verify (full OR rule on every candidate) ---------------------------
    // not persisted: the CC loop localCheckpoints its canonical edge set
    // immediately, so the assignment path reads this exactly once; dupPairs
    // consumers that need it materialized pass a CheckpointStore (staged)
    val vin = verifyInput(feat, cfg)
    val verified = staged("verified_pairs") {
      VerifyStage.verify(candidates, vin, vin, cfg).where(col("is_dup"))
    }
    require(verified.columns.contains("image_a"),
      "a verified_pairs stage written by an older build lacks image_a/" +
        "image_b: delete <checkpoint>/<run-id>/verified_pairs to recompute it")
    // with a checkpoint, staged() has materialized verified_pairs to
    // storage, so nothing downstream can re-demand the bucket rows
    checkpoint.foreach(_ => bucketRows.unpersist())

    // --- duplicate-pair evidence (representative level + exact stars) -------
    // every frame carries its image ids: no join back from nid to id
    def byId(df: DataFrame, l: String, r: String, jaccard: Column,
        hamming: Column): DataFrame =
      df.select(least(col(l), col(r)).as("a"), greatest(col(l), col(r)).as("b"),
        jaccard.as("jaccard"), hamming.as("hamming"))
    val dupPairs =
      byId(verified, "image_a", "image_b", col("jaccard"), col("hamming"))
        .union(byId(capStars, "src_id", "dst_id", lit(1.0),
          lit(null).cast("int")))
        .union(byId(phStars, "src_id", "dst_id", lit(null).cast("double"),
          lit(0)))

    Evidence(verified.select(col("a").as("src"), col("b").as("dst"))
      .union(capStars.select("src", "dst")).union(phStars.select("src", "dst")),
      dupPairs)
  }

  /** Candidate bucket rows `(id, key)` — the one list of candidate
    * families, for the batch and the bipartite DAG alike: caption band keys
    * of `bandSide`; SimHash chunk keys of `chunkSide` in the scheme sized by
    * `n` (plus mirror-space keys under mirrorDups: a mirrored near-copy
    * collides in the canonical space, an ordinary near-dup in the raw one);
    * and, with the LCS detector (cfg.lcsMin > cfg.anchorK), winnowed anchors
    * of `bandSide`'s norm_text (the north-rule suffix-array substring pass),
    * so any pair sharing an exact run of >= lcsMin chars reaches verify, not
    * only pairs that collide in a band or chunk. Verify reads at most
    * cfg.lcsCap chars per text, so runs past the cap still drop there.
    * Cross-family key collisions only add candidates verify re-checks. */
  private def candidateBuckets(bandSide: DataFrame, chunkSide: DataFrame,
      n: Long, cfg: DedupConfig): DataFrame = {
    val bands = CandidateGen.explodeBands(
      bandSide.where(size(col("shingles")) > 0), "nid", "band_keys")
    val chunks = {
      val raw = CandidateGen.simhashChunkBuckets(
        chunkSide, "nid", "simhash", cfg.hammingMax, n)
      if (cfg.mirrorDups)
        raw.union(CandidateGen.simhashChunkBuckets(
          chunkSide, "nid", "simhash_m", cfg.hammingMax, n))
      else raw
    }
    if (cfg.lcsMin > cfg.anchorK)
      bands.union(chunks).union(bandSide.select(col("nid").as("id"),
        explode(winnow_anchors(col("norm_text"), cfg.anchorK,
          cfg.lcsMin - cfg.anchorK + 1, cfg.seed)).as("key")))
    else bands.union(chunks)
  }

  /** The columns [[VerifyStage.verify]] reads, keyed by `nid` as `id`, with
    * the image id carried as `image_id`. */
  private def verifyInput(f: DataFrame, cfg: DedupConfig): DataFrame =
    f.select((Seq(col("nid").as("id"), col("id").as("image_id"),
      col("shingles"), col("simhash"), col("norm_text")) ++
      (if (cfg.mirrorDups) Seq(col("simhash_m")) else Nil)): _*)

  /**
   * Incremental mode: near-dup evidence of a NEW batch against an EXISTING
   * corpus — bipartite only (never corpus-corpus: the corpus is already
   * deduped; never new-new: run the batch DAG on the batch for that). Both
   * sides emit the batch DAG's candidate families ([[candidateBuckets]]),
   * with the chunk scheme sized by the CORPUS count so their key layouts
   * match, and the shared [[graft.operators.VerifyStage]] OR-rule verifies:
   * the same evidence semantics as the batch DAG, restricted to cross-batch
   * pairs.
   *
   * Hot keys are bounded by [[CandidateGen.bipartitePairsFromBuckets]]
   * (cfg.maxBucketSize volume ceiling, cfg.saltOversized exact-vs-degrade):
   * raw bipartite frames get no exact-group collapse, so a degenerate
   * near-identical-boilerplate key is otherwise an unbounded candidate
   * volume — the first thing a daily ingest hits at a 100 TB corpus.
   *
   * Join identity is salted PER SIDE (xxhash64(side-tag, id)): the same
   * image_id may legitimately appear in both frames (a daily re-crawl,
   * possibly with changed content), and un-salted content-free nids would
   * alias the two rows — the verify joins would fan out and attribute one
   * side's features to the other. With side salting an id overlap is just
   * two distinct nodes; a (x, x) output pair means "the new crawl of x
   * still near-matches the corpus's x".
   *
   * The daily-ingest shape at 100 TB persists the corpus side across runs
   * ([[CorpusState]]); only the new batch is featurized per run.
   *
   * @param newFeat    [[features]]/[[graft.operators.Ingest.run]] frame of
   *                   the new batch
   * @param corpusFeat same for the existing corpus
   * @return (a = new image_id, b = corpus image_id, jaccard, hamming)
   */
  def incrementalPairs(spark: SparkSession, newFeat: DataFrame,
      corpusFeat: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DataFrame = {
    val nCorpus = corpusFeat.count()
    incrementalPairsFromState(spark, newFeat, corpusFeat,
      corpusStateRows(corpusFeat, nCorpus, cfg), nCorpus, cfg, checkpoint)
  }

  /** Side-salted join identity of the bipartite DAG: see
    * [[incrementalPairs]]'s doc comment — never the frames' own content-free
    * nid, which collides when an id appears on both sides. Tag 0 = new
    * batch, tag 1 = corpus. */
  private def saltedSide(f: DataFrame, tag: Int): DataFrame =
    f.withColumn("nid", xxhash64(lit(tag), col("id")))

  /**
   * The PERSISTABLE corpus half of the incremental DAG: the corpus-side
   * candidate bucket rows `(b = side-salted corpus nid, key)` that
   * [[incrementalPairsFromState]] joins the new batch against. Every term is
   * deterministic in (id, content, config, frozenCorpusCount), so the frame
   * can be written once — bucketed by `key`
   * ([[graft.io.TableIO.writeBucketed]]) — and re-joined every daily run
   * without the corpus-side shuffle: at 10^12 rows the exploded bucket frame
   * is ~25 keys/row of (long, long) pairs, hundreds of TB of shuffle per run
   * under the in-memory path, zero once bucketed on disk.
   *
   * `frozenCorpusCount` sizes the SimHash chunk scheme and MUST be the value
   * the state was first built with, even after `--merge-new` grows the
   * corpus ([[CorpusState]] freezes it in its meta as `n_corpus`):
   * the scheme only tunes key-space occupancy — the subset-key recall
   * guarantee holds for any consistent scheme — but BOTH sides must use the
   * same one, and the persisted corpus rows were keyed under it. Rebuild the
   * state when the corpus has grown far past its build size to re-tune
   * occupancy.
   */
  def corpusStateRows(corpusFeat: DataFrame, frozenCorpusCount: Long,
      cfg: DedupConfig): DataFrame = {
    val f = saltedSide(corpusFeat, 1)
    candidateBuckets(f, f, frozenCorpusCount, cfg)
      .select(col("id").as("b"), col("key"))
  }

  /**
   * [[incrementalPairs]] with the corpus half supplied as pre-computed state:
   * `corpusBuckets` from [[corpusStateRows]] (ideally a
   * [[graft.io.TableIO.readBucketed]] scan — then the candidate join and its
   * per-key profile shuffle ONLY the new batch) and `corpusCount` the frozen
   * scheme size from the state meta. Output contract identical to
   * [[incrementalPairs]]; [[graft.pipeline]]'s spec proves pair-for-pair
   * equality and the plan shape.
   */
  def incrementalPairsFromState(spark: SparkSession, newFeat: DataFrame,
      corpusFeat: DataFrame, corpusBuckets: DataFrame, corpusCount: Long,
      cfg: DedupConfig, checkpoint: Option[CheckpointStore] = None)
      : DataFrame = {
    val nf = saltedSide(newFeat, 0)
    val cf = saltedSide(corpusFeat, 1)
    val newBuckets = candidateBuckets(nf, nf, corpusCount, cfg)
      .select(col("id").as("a"), col("key"))
    val cb = corpusBuckets.select(col("b"), col("key"))
    // checkpointed runs publish the bipartite recall posture next to the
    // pairs — dropped candidate volume per status, the incremental "no
    // silent caps" metric. The report re-derives the (narrow) new-batch
    // bucket rows and scans `corpusBuckets` on its own; it materializes
    // eagerly inside stage(), so no persistence hand-off with the
    // lazily-consumed candidate join below.
    checkpoint.foreach(_.stage("incremental_cap_loss") {
      CandidateGen.bipartiteCapLossReport(newBuckets, cb,
        cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    })
    val cand = CandidateGen.bipartitePairsFromBuckets(newBuckets, cb,
      cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    // the new batch verifies the `a` side, the corpus the `b` side, and both
    // carry their image ids through: each features frame is read once
    VerifyStage.verify(cand, verifyInput(nf, cfg), verifyInput(cf, cfg), cfg)
      .where(col("is_dup"))
      .select(col("image_a").as("a"), col("image_b").as("b"),
        col("jaccard"), col("hamming"))
  }

  /**
   * Fold a day's evidence into the EXISTING cluster assignment table without
   * re-clustering the corpus — the pipeline-level companion of
   * [[graft.operators.ConnectedComponents.incrementalRun]], speaking the
   * batch DAG's display-label convention (`cluster_id = xxhash64(lexico-min
   * member image_id)`, [[runFromFeatures]]). The combined view
   * `applyClusterRelabels(assignments, relabels) UNION newAssignments UNION
   * untouched-new-singletons` equals what [[runFromFeatures]] over
   * corpus-plus-batch produces from the same evidence.
   *
   * Corpus contact is TWO broadcast-semi scans (never a corpus shuffle):
   * one to resolve the evidence's corpus ids to their clusters, one to pull
   * the touched clusters' member rows (their lexico-min member is what the
   * merged display label needs — the label hash cannot be inverted). The
   * delta graph then contracts each touched cluster to one node
   * (its cluster_id) and runs CC over O(batch) nodes only.
   *
   * Batch image ids MUST be disjoint from corpus ids. This is the label
   * convention's own requirement, not an implementation limit: with a
   * duplicated id, even a from-scratch re-run over corpus-plus-batch is
   * ill-defined (two distinct clusters can both claim the duplicated string
   * as lexico-min root and alias to one cluster_id). A re-crawl pipeline
   * ingests under fresh ids — or upsert-replaces the old row first, which
   * is a corpus mutation, not a batch fold. The pair-evidence layer
   * ([[incrementalPairs]]) deliberately TOLERATES id overlap (side-salted
   * nids) because evidence rows are id-pair-valued, not label-valued.
   *
   * @param corpusAssign existing (image_id, cluster_id) — must cover every
   *                     corpus id the evidence references
   * @param crossPairs   [[incrementalPairs]] output: (a = new image_id,
   *                     b = corpus image_id)
   * @param newPairs     within-batch evidence (a, b) — e.g. the batch DAG's
   *                     `dupPairs` over the batch alone; pass an empty frame
   *                     if the batch is internally deduped
   * @param newIds       every new-batch image_id (isolated rows become
   *                     singleton clusters labeled xxhash64(own id), the
   *                     batch DAG's convention)
   */
  def incrementalAssignments(spark: SparkSession, corpusAssign: DataFrame,
      crossPairs: DataFrame, newPairs: DataFrame,
      newIds: DataFrame): IncrementalAssignments = {
    // corpus scan 1: evidence ids -> their clusters
    val bIds = crossPairs.select(col("b").as("image_id")).distinct()
    val touchedB = corpusAssign.join(broadcast(bIds), Seq("image_id"))
      .select(col("image_id").as("b"), col("cluster_id"))
      .localCheckpoint(false)
    // corpus scan 2: touched clusters' member rows -> lexico-min member
    val touchedClusters = touchedB.select("cluster_id").distinct()
    val roots = corpusAssign.join(broadcast(touchedClusters), Seq("cluster_id"))
      .groupBy("cluster_id").agg(min("image_id").as("root_image"))

    // delta graph: new nodes ride as SIDE-SALTED hashes, touched clusters as
    // their cluster_id. Without the salt a batch id equal to some cluster's
    // lexico-min root would make the new node EQUAL the cluster node by
    // construction (cluster_id = xxhash64(root)) and silently conflate them;
    // the documented disjoint-ids contract rules that input out, the salt
    // keeps the failure structural-impossible rather than contract-enforced.
    // Node ids are internal to the delta CC — display labels only ever
    // derive from the `cand` image-id strings — so salting costs nothing.
    val newNode = (c: org.apache.spark.sql.Column) => xxhash64(lit("new:"), c)
    val crossEdges = crossPairs.join(touchedB, Seq("b"))
      .select(newNode(col("a")).as("src"), col("cluster_id").as("dst"))
    val newEdges = newPairs
      .select(newNode(col("a")).as("src"), newNode(col("b")).as("dst"))
    val cc = ConnectedComponents.run(crossEdges.union(newEdges))

    // per-component display root = lexico-min over member image ids and
    // merged clusters' roots
    val newMap = newIds.select(newNode(col("image_id")).as("id"),
      col("image_id").as("cand"))
    val cluMap = roots.select(col("cluster_id").as("id"),
      col("root_image").as("cand"))
    val cands = cc.join(newMap.unionByName(cluMap), Seq("id"))
      .localCheckpoint(false)
    val labels = cands.groupBy("component")
      .agg(xxhash64(min(col("cand"))).as("new_cluster_id"))

    val inEvidence = cands.join(newMap.select("id"), Seq("id"))
      .join(labels, Seq("component"))
      .select(col("cand").as("image_id"), col("new_cluster_id").as("cluster_id"))
    val singletons = newIds
      .join(inEvidence.select(col("image_id")), Seq("image_id"), "left_anti")
      .select(col("image_id"), xxhash64(col("image_id")).as("cluster_id"))
    val newAssignments = inEvidence.unionByName(singletons)

    val relabels = cands.join(cluMap.select("id"), Seq("id"))
      .join(labels, Seq("component"))
      .where(col("id") =!= col("new_cluster_id"))
      .select(col("id").as("cluster_id"), col("new_cluster_id"))
    IncrementalAssignments(newAssignments, relabels)
  }

  /** Corpus-wide assignment view after [[incrementalAssignments]]: one
    * broadcast hash join against the batch-sized relabel map. */
  def applyClusterRelabels(corpusAssign: DataFrame, relabels: DataFrame): DataFrame =
    corpusAssign
      .join(broadcast(relabels), Seq("cluster_id"), "left")
      .select(col("image_id"),
        coalesce(col("new_cluster_id"), col("cluster_id")).as("cluster_id"))
}

/** Result of [[DedupPipeline.incrementalAssignments]].
  *
  * @param newAssignments (image_id, cluster_id) for every new-batch row
  * @param relabels       (cluster_id, new_cluster_id) for touched corpus
  *                       clusters whose display label moved — batch-sized,
  *                       meant for [[DedupPipeline.applyClusterRelabels]] or
  *                       a catalog MERGE INTO
  */
final case class IncrementalAssignments(
    newAssignments: DataFrame,
    relabels: DataFrame)

/** [[DedupPipeline.runFromFeatures]]'s two halves in one result: evidence
  * (`features`, `dupPairs`) and the clustering over it (`assignments`).
  *
  * @param features    per-row signatures (persisted)
  * @param dupPairs    verified duplicate pairs with evidence (rep pairs +
  *                    exact-identity star edges; cluster co-membership is the
  *                    full transitive pair set). NOT persisted: a caller that
  *                    materializes both `assignments` and `dupPairs` without a
  *                    CheckpointStore recomputes the candidate+verify join for
  *                    the second action (deterministic — features are cached —
  *                    so this costs time, not correctness); pass a
  *                    CheckpointStore to stage `verified_pairs` once.
  *                    [[CorpusState.fold]] builds it without `assignments`
  * @param assignments final (image_id, cluster_id) */
final case class DedupResult(
    features: DataFrame,
    dupPairs: DataFrame,
    assignments: DataFrame)

/** The lazy evidence half of the batch DAG ([[DedupPipeline.evidence]]).
  *
  * @param edges    (src, dst) nid edges: verified rep pairs, then the
  *                 caption- and image-identity star edges
  * @param dupPairs [[DedupResult.dupPairs]] */
private[pipeline] final case class Evidence(edges: DataFrame, dupPairs: DataFrame)
