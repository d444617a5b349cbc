package graft.pipeline

import graft.config.DedupConfig
import graft.io.{CheckpointStore, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/**
 * The persisted corpus state `graft.Main --incremental --corpus-features`
 * and every [[graft.streaming.StreamingIncremental]] micro-batch after
 * batch 0 read and upsert — the reference's incremental index insert
 * (ea/sim/main/methods/index/faiss.py:40-51). Three [[TableIO]] tables:
 *  - `corpus_features`: [[graft.operators.Ingest.run]] rows, keyed by id;
 *  - `corpus_buckets`: [[DedupPipeline.corpusStateRows]] `(b, key)`
 *    CLUSTERED BY `key` ([[TableIO.writeBucketed]]), so a run joins the new
 *    batch against a co-located scan with ZERO corpus-side shuffle;
 *  - `corpus_features_meta`: one row of `feature_config`, `bucket_config`
 *    ([[DedupConfig]] ids), `n_corpus` and `bucket_count`.
 * The bucket config and `n_corpus` freeze at bootstrap and a drifted config
 * fails fast (rebuild the state to re-tune occupancy). A root whose meta
 * lacks the bucket columns is upgraded in place when opened.
 */
final class CorpusState private (io: TableIO, features: DataFrame,
    corpusCount: Long, bucketCount: Int) {
  import CorpusState._

  /** Bipartite (new, corpus) evidence of `newFeat` against this state —
    * [[DedupPipeline.incrementalPairsFromState]] over the bucketed scan. */
  def pairs(spark: SparkSession, newFeat: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DataFrame =
    DedupPipeline.incrementalPairsFromState(spark, newFeat, features,
      io.readBucketed(Buckets, "key", bucketCount), corpusCount, cfg,
      checkpoint)

  /** Upsert the batch's feature and bucket rows under the FROZEN scheme —
    * after the evidence is written, so a failed run never half-merges. */
  def merge(newFeat: DataFrame, cfg: DedupConfig): Unit = {
    io.upsert(newFeat, Features, Seq("id"))
    io.upsertBucketed(DedupPipeline.corpusStateRows(newFeat, corpusCount, cfg),
      Buckets, "key", bucketCount, Seq("b"))
  }
}

object CorpusState {
  private val Features = "corpus_features"
  private val Buckets = "corpus_buckets"
  private val Meta = "corpus_features_meta"

  /** Whether `io` already holds a corpus (open it) or not (bootstrap it). */
  def exists(io: TableIO): Boolean = io.exists(Features)

  /** First run: persist `feat` as the corpus and index it into
    * `bucketCount` buckets. The returned state scans the written table, so
    * the caller may release `feat`'s cache once this returns. */
  def bootstrap(spark: SparkSession, io: TableIO, feat: DataFrame,
      cfg: DedupConfig, bucketCount: Int): CorpusState = {
    io.write(feat, Features)
    index(spark, io, cfg, bucketCount)
  }

  /** Buckets + meta from the written `corpus_features`; `n_corpus` freezes
    * at the count indexed here. */
  private def index(spark: SparkSession, io: TableIO, cfg: DedupConfig,
      bucketCount: Int): CorpusState = {
    val feats = io.read(Features)
    val n = feats.count()
    io.writeBucketed(DedupPipeline.corpusStateRows(feats, n, cfg), Buckets,
      "key", bucketCount)
    io.write(spark.range(1).select(
      lit(cfg.featureConfigId).as("feature_config"),
      lit(cfg.bucketConfigId).as("bucket_config"), lit(n).as("n_corpus"),
      lit(bucketCount).as("bucket_count")), Meta)
    new CorpusState(io, feats, n, bucketCount)
  }

  /** Later runs: one meta read validates both config ids. `bucketCount`
    * applies only when a root without bucket columns is upgraded. */
  def open(spark: SparkSession, io: TableIO, cfg: DedupConfig,
      bucketCount: Int): CorpusState = {
    val meta = if (io.exists(Meta)) Some(io.read(Meta).head()) else None
    meta.foreach(r => drift(r.getAs[String]("feature_config"),
      cfg.featureConfigId, "re-featurize the corpus"))
    meta.filter(_.schema.fieldNames.contains("bucket_config")) match {
      case Some(r) =>
        drift(r.getAs[String]("bucket_config"), cfg.bucketConfigId,
          "rebuild the corpus state")
        new CorpusState(io, io.read(Features), r.getAs[Long]("n_corpus"),
          r.getAs[Int]("bucket_count"))
      case None => index(spark, io, cfg, bucketCount)
    }
  }

  private def drift(stored: String, current: String, fix: String): Unit =
    require(stored == current,
      s"persisted corpus state was built with [$stored] but this run uses " +
        s"[$current] — $fix or restore the original --set values")

  /** The assignment fold Main and the stream share: cross evidence plus the
    * batch DAG's evidence half over `newFeat` alone (new near-dups merge even
    * when neither matches the corpus; it reads evidence, not clusters, so no
    * batch CC runs) into [[DedupPipeline.incrementalAssignments]]. */
  def fold(spark: SparkSession, corpusAssign: DataFrame, crossPairs: DataFrame,
      newFeat: DataFrame, cfg: DedupConfig): IncrementalAssignments =
    DedupPipeline.incrementalAssignments(spark, corpusAssign,
      crossPairs.select("a", "b"),
      DedupPipeline.evidence(newFeat, cfg).dupPairs.select("a", "b"),
      newFeat.select(col("id").as("image_id")))
}
