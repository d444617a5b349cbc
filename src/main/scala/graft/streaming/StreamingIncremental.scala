package graft.streaming

import graft.config.DedupConfig
import graft.io.TableIO
import graft.operators.{Ingest, Spread}
import graft.pipeline.{CorpusState, DedupPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Continuous incremental dedup: a live image feed where every micro-batch
 * runs the SAME path as a `graft.Main --incremental --assignments
 * --corpus-features --merge-new` daily run — evidence pairs + delta-CC
 * assignment fold against the persisted corpus state, then the batch merges
 * into the state so the next micro-batch sees it. This is the `foreachBatch`
 * shape Structured Streaming documents for stream-to-batch-sink work: the
 * per-batch body is deterministic batch code ([[DedupPipeline]]), the
 * streaming engine only owns offsets/triggers.
 *
 * State tables under `stateRoot` ([[TableIO]]): the [[CorpusState]]
 * tables `Main --corpus-features` uses (batch 0 bootstraps them, freezing
 * the bucket config and corpus count exactly as Main's first run does),
 * `assignments`, and a `batch_<id>_done` marker per completed batch.
 * Evidence lands under `outRoot` as one overwrite-idempotent table per
 * micro-batch (`incremental_pairs_<id>`), so a replayed batch (streaming
 * retry semantics) rewrites rather than duplicates.
 *
 * Exactly-once: a batch whose marker exists is skipped entirely, so a retry
 * after full completion is a no-op. The parquet backend has no multi-table
 * transaction, so a crash strictly between the state upserts and the marker
 * write replays against half-merged state — the Iceberg backend's atomic
 * snapshot commits are the production answer (TableIO picks it up when the
 * catalog is present); the marker bounds the damage to one batch either way.
 *
 * Scale: the corpus side of each micro-batch is a bucketed scan — the new
 * batch is exploded and shuffled onto the persisted `corpus_buckets`
 * layout, never the corpus ([[CorpusState.pairs]]) — plus the two
 * broadcast-semi scans of the assignment fold; per-batch COMPUTE is
 * O(batch). One caveat on state WRITES: the parquet [[TableIO]] backend
 * implements upsert as anti-join + full rewrite-and-swap, so each
 * micro-batch rewrites the state tables — O(corpus) I/O per batch, fine
 * for daily cadence, not for minutes-level triggers on a 100 TB corpus.
 * The Iceberg backend's `MERGE INTO` rewrites only the touched data files,
 * which is the production path; the code is backend-agnostic through
 * [[TableIO.resolve]].
 */
object StreamingIncremental {

  /** Start the stream. `stream` must carry the images schema ([[Ingest]]):
    * payload bytes + declared phash/dims + caption. `trigger` defaults to
    * continuous micro-batches; pass `Trigger.AvailableNow()` for the
    * drain-everything-then-exit shape (`Main --stream`, cron-driven runs). */
  def start(stream: DataFrame, stateRoot: String, outRoot: String,
      cfg: DedupConfig, checkpointLocation: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateRoot, outRoot, cfg, batchId)
      }
    trigger.fold(w)(w.trigger).start()
  }

  /**
   * One micro-batch — public so tests (and backfills: the function neither
   * knows nor cares whether the frame came from a stream) can drive it
   * directly. Batch 0 against empty state BOOTSTRAPS the corpus: the batch
   * DAG runs alone and its features/assignments become the initial state.
   *
   * Image ids must be NEW per batch — the assignment fold inherits
   * [[DedupPipeline.incrementalAssignments]]'s disjoint-ids contract (a
   * re-ingested id is a corpus mutation: upsert-replace the state row
   * first, which is outside this fold's semantics).
   */
  def processBatch(spark: SparkSession, batch: DataFrame, stateRoot: String,
      outRoot: String, cfg: DedupConfig, batchId: Long): Unit = {
    val state = TableIO.resolve(spark, stateRoot)
    val out = TableIO.resolve(spark, outRoot)
    val marker = s"batch_${batchId}_done"
    if (state.exists(marker)) {
      // a GENUINE replay's rows were all merged into the state before the
      // marker was written, so every id must already be assigned. Unknown
      // ids mean the streaming checkpoint was reset/repointed against this
      // state root and the source renumbered FRESH files into an old batch
      // id — skipping would drop them forever (the new checkpoint commits
      // the files as consumed), so fail fast instead.
      val unknown = batch.select(col("image_id"))
        .join(state.read("assignments").select("image_id"),
          Seq("image_id"), "left_anti")
        .limit(1).count()
      require(unknown == 0,
        s"batch $batchId is marked done but carries rows absent from the " +
          "state — the stream checkpoint was reset against an existing " +
          "state root; use a fresh --state or restore the checkpoint")
      return
    }

    val parts = Spread.shufflePartitions(spark)
    val newFeat = Ingest.run(spark, batch, cfg, partitions = parts)
    try {
      // per-batch validation report — the same per-row invariant surface
      // the batch and incremental Main modes publish (decode + phash +
      // dims), one overwrite-idempotent table per micro-batch
      out.write(graft.operators.Validate.report(newFeat),
        s"validation_$batchId")
      if (!CorpusState.exists(state)) {
        val result = DedupPipeline.runFromFeatures(spark, newFeat, cfg)
        out.write(result.dupPairs
          .select(col("a"), col("b"), col("jaccard"), col("hamming")),
          s"incremental_pairs_$batchId")
        state.write(result.assignments, "assignments")
        CorpusState.bootstrap(spark, state, newFeat, cfg, parts)
      } else {
        val corpus = CorpusState.open(spark, state, cfg, parts)
        out.write(corpus.pairs(spark, newFeat, cfg),
          s"incremental_pairs_$batchId")
        // the fold consumes the WRITTEN table — the evidence join runs once
        val res = CorpusState.fold(spark, state.read("assignments"),
          out.read(s"incremental_pairs_$batchId"), newFeat, cfg)
        // only the touched corpus rows rewrite: semi-filter by the relabel
        // map, apply, and upsert together with the batch's new rows
        val touched = DedupPipeline.applyClusterRelabels(
          state.read("assignments").join(
            broadcast(res.relabels.select("cluster_id")),
            Seq("cluster_id"), "left_semi"),
          res.relabels)
        state.upsert(touched.unionByName(res.newAssignments),
          "assignments", Seq("image_id"))
        corpus.merge(newFeat, cfg)
      }
      state.write(spark.range(1).select(lit(batchId).as("batch_id")), marker)
    } finally newFeat.unpersist()
  }
}
