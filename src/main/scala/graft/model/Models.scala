package graft.model

/**
 * Core row types of the engine (typed `Dataset[T]` encoders derive from these).
 *
 * The schemas graft the reference's data model (SURVEY.md section 1) onto the
 * image+caption shape mandated by BASELINE.json `input_hint`.
 */

/**
 * One image+caption record — the unit of dedup.
 * Reference analogue: `Stack` (reference: ea/sim/main/data/objects/stack.py:24-32);
 * `caption` plays the role of the frames-as-token-sequence, `phash` plays the
 * role of the frame-name content hash (stack.py:54-57).
 */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,       // "png" | "jpg"
    caption: String,
    phash: Long)

/** Ground truth emitted by the synthetic generator (FIXTURES.md section 3). */
final case class ExpectedCluster(image_id: String, cluster_id: Long)

/** Per-stage timing/lineage record (reference time_info.json,
  * ea/sim/dev/scripts/training/evaluating/eval_fast.py:112-120). */
final case class StageMetric(
    run_id: String,
    stage: String,
    rows: Long,
    wall_ms: Long)

/** Per-output-file (= per write partition) lineage of a checkpointed stage:
  * which file holds how many rows and bytes — read from parquet footers, not
  * a data scan. */
final case class FileLineage(
    run_id: String,
    stage: String,
    file: String,
    bytes: Long,
    rows: Long)
