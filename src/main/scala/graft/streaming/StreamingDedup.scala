package graft.streaming

import graft.config.DedupConfig
import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming ingest deduplication — the incremental mode of the batch dedup
 * family ([[graft.operators.Dedup]]): a live document/caption feed is
 * de-duplicated exactly within a watermark horizon, and near-dup candidates
 * against the existing corpus are flagged by a stream-static LSH band join.
 *
 * Reference analogue: the admission predicate over already-seen content
 * hashes (ea/sim/main/data/buckets/event_state_model.py:94-101) lifted to
 * Structured Streaming; state eviction is Spark's watermark mechanics, so
 * driver state stays bounded no matter how long the stream runs.
 */
object StreamingDedup {

  /**
   * Exact streaming dedup: the first occurrence of each content hash inside
   * the watermark horizon passes; later copies drop. State is keyed by the
   * 8-byte hash (not the text), so the state store carries O(distinct-hash)
   * longs per horizon — the same bounded-state shape the batch path gets from
   * hash-groupBy.
   */
  def exactWithinWatermark(docs: DataFrame, textCol: String, tsCol: String,
      horizon: String): DataFrame =
    docs.withColumn("content_h", content_hash(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_h")

  /** Static-side projection for [[flagKnownNearDups]]: one row per LSH band
    * key of the existing corpus (build once per corpus snapshot; at scale
    * this is the signatures table [[graft.io.TableIO.upsert]] maintains). */
  def corpusBands(corpus: DataFrame, textCol: String, cfg: DedupConfig): DataFrame =
    corpus.select(explode(
        text_band_keys(text_shingles(col(textCol), cfg), cfg)).as("band_key"))
      .distinct()

  /**
   * Stream-static near-dup flagging: an arriving doc colliding in >= 1
   * MinHash band with the static corpus is a verify candidate (exact-Jaccard
   * verification of the flagged slice is the batch
   * [[graft.operators.VerifyStage]] — same two-phase shape as the batch
   * pipeline). Emits each flagged doc once per horizon; the band explode is
   * collapsed back by a watermarked dropDuplicates on the doc id.
   */
  def flagKnownNearDups(stream: DataFrame, staticBands: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      cfg: DedupConfig, horizon: String): DataFrame =
    stream.withColumn("band_key", explode(
        text_band_keys(text_shingles(col(textCol), cfg), cfg)))
      .join(staticBands, Seq("band_key"), "left_semi")
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(idCol)
      .drop("band_key")
}
