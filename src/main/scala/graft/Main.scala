package graft

import graft.config.DedupConfig
import graft.io.{CheckpointStore, TableIO}
import graft.operators.{Ingest, Spread, Validate}
import graft.pipeline.{CorpusState, DedupPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Production entrypoint — the `spark-submit` surface of the north rule
 * ("runs via spark-submit on multi-executor clusters at N and 4N
 * executors"):
 *
 * {{{
 * spark-submit --class graft.Main stacktracededuplicationspark.jar \
 *   --input <table-or-dir> --output <dir> \
 *   [--checkpoint <dir>] [--run-id <id>] [--partitions <n>] \
 *   [--incremental <new-batch-table-or-dir>] \
 *   [--corpus-features <table-root>] [--merge-new] \
 *   [--assignments <existing-assignment-table>] \
 *   [--stream <watched-parquet-dir> --state <state-table-root>] \
 *   [--set shingleK=3] [--set hammingMax=3] [--set jaccardMin=0.5] ...
 * }}}
 *
 * Uses the ambient session spark-submit provides (no master/memory settings
 * hardcoded here — the cluster config owns those); reads the input through
 * [[TableIO.readLocation]] (Iceberg when `--input` names a catalog table,
 * a parquet directory otherwise), then runs the flagship DAG: ONE fused pass
 * over the payload bytes (decode + phash/dims validation per BASELINE.json
 * input_hint, plus signature feature extraction — [[Ingest]]), then the
 * full dedup pipeline (LSH candidates -> exact verify -> connected
 * components -> cluster labels). `--output` is a [[TableIO]] ROOT (an
 * Iceberg namespace or a parquet directory) holding four named tables —
 * `<output>/<name>.parquet` on the parquet backend, `<output>.<name>` as an
 * Iceberg identifier:
 *
 *  - `assignments` — (image_id, cluster_id)
 *  - `dup_pairs`   — (a, b, jaccard, hamming) evidence pairs
 *  - `validation`  — one-row per-payload validation report
 *  - `metrics`     — per-stage rows/wall-time rows (with `--checkpoint`)
 *  - `lineage`     — per-output-file (partition) rows/bytes of each
 *                    checkpointed stage (with `--checkpoint`)
 *
 * With `--checkpoint <dir>`, the verified-pairs stage is staged through
 * [[CheckpointStore]] under `--run-id` (default "run"): re-submitting the
 * same run id resumes from the persisted stage instead of recomputing —
 * the reference's snapshot/tail-replay semantics at job granularity.
 */
object Main {

  private[graft] case class Args(
      input: String = null,
      output: String = null,
      checkpoint: Option[String] = None,
      runId: String = "run",
      partitions: Int = 0,
      incremental: Option[String] = None,
      corpusFeatures: Option[String] = None,
      mergeNew: Boolean = false,
      assignments: Option[String] = None,
      stream: Option[String] = None,
      state: Option[String] = None,
      sets: Map[String, String] = Map.empty)

  /** A value flag's argument must not itself look like a flag — otherwise
    * `--checkpoint --run-id x` silently binds "--run-id" as the checkpoint
    * path instead of erroring on the missing value. */
  private def value(v: String): Boolean = !v.startsWith("--")

  private[graft] def parse(argv: List[String], acc: Args): Args = argv match {
    case Nil => acc
    case "--input" :: v :: rest if value(v) => parse(rest, acc.copy(input = v))
    case "--output" :: v :: rest if value(v) => parse(rest, acc.copy(output = v))
    case "--checkpoint" :: v :: rest if value(v) =>
      parse(rest, acc.copy(checkpoint = Some(v)))
    case "--run-id" :: v :: rest if value(v) => parse(rest, acc.copy(runId = v))
    case "--partitions" :: v :: rest if value(v) =>
      parse(rest, acc.copy(partitions = v.toInt))
    case "--incremental" :: v :: rest if value(v) =>
      parse(rest, acc.copy(incremental = Some(v)))
    case "--corpus-features" :: v :: rest if value(v) =>
      parse(rest, acc.copy(corpusFeatures = Some(v)))
    case "--merge-new" :: rest => parse(rest, acc.copy(mergeNew = true))
    case "--assignments" :: v :: rest if value(v) =>
      parse(rest, acc.copy(assignments = Some(v)))
    case "--stream" :: v :: rest if value(v) =>
      parse(rest, acc.copy(stream = Some(v)))
    case "--state" :: v :: rest if value(v) =>
      parse(rest, acc.copy(state = Some(v)))
    case "--set" :: kv :: rest if value(kv) =>
      kv.split("=", 2) match {
        case Array(k, v) => parse(rest, acc.copy(sets = acc.sets + (k -> v)))
        case _ => throw new IllegalArgumentException(
          s"--set expects key=value, got: $kv")
      }
    case flag :: _ if valueFlags(flag) =>
      throw new IllegalArgumentException(s"missing value for $flag")
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown argument: $other")
  }

  private val valueFlags = Set(
    "--input", "--output", "--checkpoint", "--run-id", "--partitions",
    "--incremental", "--corpus-features", "--assignments", "--stream",
    "--state", "--set")

  /** DedupConfig with `--set key=value` overrides applied. */
  private[graft] def configOf(sets: Map[String, String]): DedupConfig = {
    val base = DedupConfig.default
    val known = Set("shingleK", "numHashes", "bands", "rowsPerBand",
      "hammingMax", "jaccardMin", "lcsMin", "anchorK", "lcsCap", "maxBucketSize", "seed",
      "forgetDays", "dupAttach", "saltOversized", "mirrorDups", "rotationDups")
    sets.keys.find(!known(_)).foreach(k =>
      throw new IllegalArgumentException(s"unknown --set key: $k (known: ${known.mkString(", ")})"))
    def i(k: String, d: Int) = sets.get(k).map(_.toInt).getOrElse(d)
    base.copy(
      shingleK = i("shingleK", base.shingleK),
      numHashes = i("numHashes", base.numHashes),
      bands = i("bands", base.bands),
      rowsPerBand = i("rowsPerBand", base.rowsPerBand),
      hammingMax = i("hammingMax", base.hammingMax),
      jaccardMin = sets.get("jaccardMin").map(_.toDouble).getOrElse(base.jaccardMin),
      lcsMin = i("lcsMin", base.lcsMin),
      anchorK = i("anchorK", base.anchorK),
      lcsCap = i("lcsCap", base.lcsCap),
      maxBucketSize = i("maxBucketSize", base.maxBucketSize),
      seed = sets.get("seed").map(_.toLong).getOrElse(base.seed),
      forgetDays = sets.get("forgetDays").map(_.toInt).orElse(base.forgetDays),
      dupAttach = sets.get("dupAttach").map(_.toBoolean).getOrElse(base.dupAttach),
      saltOversized = sets.get("saltOversized").map(_.toBoolean)
        .getOrElse(base.saltOversized),
      mirrorDups = sets.get("mirrorDups").map(_.toBoolean)
        .getOrElse(base.mirrorDups),
      rotationDups = sets.get("rotationDups").map(_.toBoolean)
        .getOrElse(base.rotationDups))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList, Args())
    require(args.output != null, "--output is required")

    // the ambient spark-submit session; sane shuffle sizing only if the
    // submitter didn't set one (cluster config wins)
    val spark = SparkSession.builder().getOrCreate()
    val cfg = configOf(args.sets)
    args.stream match {
      case Some(dir) =>
        require(args.input == null,
          "--stream replaces --input (the watched directory is the source)")
        require(args.state.nonEmpty, "--stream requires --state")
        require(args.incremental.isEmpty && args.assignments.isEmpty &&
          args.corpusFeatures.isEmpty && args.checkpoint.isEmpty &&
          !args.mergeNew && args.runId == "run" && args.partitions == 0,
          "--stream mode manages its own state/checkpoints/merging; " +
            "batch-mode flags do not apply")
        runStream(spark, dir, args.output, args.state.get, cfg)
      case None =>
        require(args.input != null, "--input is required")
        run(spark, args.input, args.output, cfg, args.checkpoint, args.runId,
          args.partitions, args.incremental, args.corpusFeatures,
          args.mergeNew, args.assignments)
    }
  }

  /**
   * STREAM mode: watch `streamDir` for new parquet files carrying the images
   * schema and fold each micro-batch into the persisted corpus state via
   * [[graft.streaming.StreamingIncremental]] (batch 0 bootstraps). Runs with
   * `Trigger.AvailableNow` — drain everything new, then exit — so the same
   * command is a cron-able periodic ingest AND a resumable backfill: the
   * streaming checkpoint (under `<state>/_stream_checkpoint`) remembers
   * which files each batch consumed, and completed batches are marker-gated
   * in the state root, so re-submitting after a crash or on the next cron
   * tick processes exactly the files that arrived since.
   */
  def runStream(spark: SparkSession, streamDir: String, output: String,
      stateRoot: String, cfg: DedupConfig): Unit = {
    val schema = org.apache.spark.sql.Encoders.product[graft.model.ImageRow].schema
    val src = spark.readStream.schema(schema).parquet(streamDir)
    val q = graft.streaming.StreamingIncremental.start(src, stateRoot, output,
      cfg, s"$stateRoot/_stream_checkpoint",
      Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q.awaitTermination()
  }

  /** The full job, callable from tests with an existing session.
    *
    * With `incremental = Some(newBatchDir)`, the job runs INCREMENTAL mode
    * instead of the batch DAG: `--input` is the existing (already deduped)
    * corpus, the new batch is validated + featurized the same fused way,
    * and the output tables are the new batch's `validation` report plus
    * `incremental_pairs` — (new image_id, corpus image_id, jaccard,
    * hamming) near-dup evidence from [[DedupPipeline.incrementalPairs]].
    * `--checkpoint` stages `incremental_pairs` through [[CheckpointStore]]
    * (resumable, metrics/lineage tables written) the same way the batch DAG
    * stages `verified_pairs`.
    *
    * `assignments = Some(table)` additionally folds the evidence into that
    * existing (image_id, cluster_id) table via
    * [[DedupPipeline.incrementalAssignments]] — delta CC over the contracted
    * batch-sized graph, the corpus never re-clustered — writing two more
    * output tables: `new_assignments` (one row per batch image) and
    * `relabels` (the touched clusters whose display label moved; apply with
    * [[DedupPipeline.applyClusterRelabels]] or a catalog MERGE INTO).
    *
    * `corpusFeatures = Some(root)` persists the corpus across incremental
    * runs as a [[CorpusState]] — the 100 TB daily-ingest shape (the
    * reference's incremental index insert, faiss.py:40-51): the first run
    * featurizes `--input` once and writes the feature and bucketed
    * candidate tables; every later run reads them and NEVER touches
    * `--input`, joining the new batch against a bucketed scan with ZERO
    * corpus-side shuffle, and fails fast on a config drift. With
    * `mergeNew = true` the new batch's feature AND bucket rows are upserted
    * after the evidence is written, so tomorrow's corpus includes today's
    * accepted batch. */
  def run(spark: SparkSession, input: String, output: String,
      cfg: DedupConfig, checkpoint: Option[String] = None,
      runId: String = "run", partitions: Int = 0,
      incremental: Option[String] = None,
      corpusFeatures: Option[String] = None,
      mergeNew: Boolean = false,
      assignments: Option[String] = None): Unit = {
    require(!mergeNew || (incremental.nonEmpty && corpusFeatures.nonEmpty),
      "--merge-new requires --incremental and --corpus-features")
    require(corpusFeatures.isEmpty || incremental.nonEmpty,
      "--corpus-features only applies to --incremental mode")
    require(assignments.isEmpty || incremental.nonEmpty,
      "--assignments only applies to --incremental mode")
    // input is a LOCATION (the table itself); output is a TableIO ROOT the
    // result tables are written under by bare name
    val outIo = TableIO.resolve(spark, output)
    val parts =
      if (partitions > 0) partitions
      else Spread.shufflePartitions(spark)
    val store = checkpoint.map(new CheckpointStore(spark, _, runId))

    incremental match {
      case Some(newDir) =>
        val newFeat = Ingest.run(spark,
          TableIO.readLocation(spark, newDir), cfg, partitions = parts)
        // the corpus featurized from --input: runs without a persisted state,
        // and the first run of one
        lazy val ingested = Ingest.run(spark,
          TableIO.readLocation(spark, input), cfg, partitions = parts)
        val state = corpusFeatures.map(TableIO.resolve(spark, _)).map { io =>
          // later runs: the persisted state IS the corpus — `input` is not
          // read at all (MainSpec proves it with a bogus input path)
          if (CorpusState.exists(io)) CorpusState.open(spark, io, cfg, parts)
          else try CorpusState.bootstrap(spark, io, ingested, cfg, parts)
          finally ingested.unpersist()
        }
        outIo.write(Validate.report(newFeat), "validation")
        def pairsDag(): DataFrame = state match {
          case Some(s) => s.pairs(spark, newFeat, cfg, store)
          case None =>
            DedupPipeline.incrementalPairs(spark, newFeat, ingested, cfg, store)
        }
        outIo.write(store.fold(pairsDag())(_.stage("incremental_pairs")(
          pairsDag())), "incremental_pairs")
        // clustering leg: the fold consumes the WRITTEN evidence table — the
        // candidate-join + verify DAG (the expensive half of the run)
        // executes exactly once
        assignments.foreach { loc =>
          val res = CorpusState.fold(spark, TableIO.readLocation(spark, loc),
            outIo.read("incremental_pairs"), newFeat, cfg)
          outIo.write(res.newAssignments, "new_assignments")
          outIo.write(res.relabels, "relabels")
        }
        // merge-back AFTER the evidence is on disk
        if (mergeNew) state.foreach(_.merge(newFeat, cfg))
        newFeat.unpersist()
        if (state.isEmpty) ingested.unpersist()
      case None =>
        val feat = Ingest.run(spark, TableIO.readLocation(spark, input), cfg,
          partitions = parts)
        val result = DedupPipeline.runFromFeatures(spark, feat, cfg, store)
        outIo.write(Validate.report(feat), "validation")
        outIo.write(result.assignments, "assignments")
        outIo.write(result.dupPairs, "dup_pairs")
        feat.unpersist()
    }
    store.foreach { s =>
      outIo.write(s.metrics(), "metrics")
      outIo.write(s.lineage(), "lineage")
    }
  }
}
