package perfbench

import java.nio.file.{Files, Paths}

import graft.{Main, SparkEntry}
import graft.config.DedupConfig
import graft.io.{CheckpointStore, TableIO}
import graft.operators.{Ingest, Validate}
import graft.pipeline.DedupPipeline
import graft.synth.ImageGen
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Layer calls of the traced incremental op. Each call is one the engine's
  * own `Main.run` makes, in the same order, from the same public functions;
  * the benchmark only adds spans, a [[CheckpointStore]] whose staged
  * `incremental_cap_loss` write profiles the bipartite candidates, and a
  * materialization after ingest and after features so those two layers can
  * be told apart (`Ingest.run` fuses them into one pass). */
object Pipelines {
  val cfg: DedupConfig = DedupConfig.default

  /** Tables whose write runs a whole layer's DAG: the cap-loss profile
    * builds and counts the candidate buckets, and the pair table's write
    * runs the bipartite candidate join together with verification. */
  def stageLayer(table: String): String = table match {
    case "incremental_cap_loss" => "candidates"
    case "incremental_pairs" => "verify"
    case _ => "tableio"
  }

  /** Ingest and features of one input table, materialized one after the
    * other; returns the persisted features frame. */
  def featurize(spark: SparkSession, input: String, t: Tracer,
      parts: Int): DataFrame = {
    val carried = t.span("ingest", "ingest") {
      val c = Ingest.validatedCarry(spark, TableIO.readLocation(spark, input))
        .repartition(parts).persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    val feat = t.span("features", "features") {
      val f = DedupPipeline.features(carried, cfg,
        carry = Seq("decode_ok", "phash_match", "dims_match", "valid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      f.count()
      f
    }
    carried.unpersist()
    feat
  }

  /** Counts charged to ingest and features (run outside the timed spans). */
  def featureCounts(feat: DataFrame, validation: DataFrame, payloadBytes: Long,
      c: Counters): Unit = {
    val v = validation.select("rows", "decoded").head()
    c.set("ingest.rows", v.getLong(0).toDouble)
    c.set("ingest.decoded_rows", v.getLong(1).toDouble)
    c.set("ingest.payload_mb", payloadBytes / 1e6)
    val f = feat.agg(avg(size(col("shingles"))), avg(size(col("band_keys"))))
      .head()
    c.set("features.shingles_per_row", f.getDouble(0))
    c.set("features.band_keys_per_row", f.getDouble(1))
  }

  /** Candidate and verify counts from a cap-loss table and the written pair
    * table: emitted pairs before de-duplication, distinct pairs after. */
  def pairCounts(capLoss: DataFrame, keysCol: String,
      pairsWritten: Option[DataFrame], pairsOut: DataFrame,
      c: Counters): Unit = {
    val r = capLoss.agg(
      coalesce(sum("emitted_pairs"), lit(0L)),
      coalesce(sum("dropped_pairs"), lit(0L)),
      coalesce(sum(when(col("status") =!= "exact", col(keysCol))), lit(0L)))
      .head()
    val emitted = r.getLong(0).toDouble
    c.set("candidates.emitted_pairs", emitted)
    c.set("candidates.dropped_pairs", r.getLong(1).toDouble)
    c.set("candidates.oversized_buckets", r.getLong(2).toDouble)
    val distinct = pairsWritten.flatMap(PerfbenchBridge.distinctRows)
      .getOrElse(0L).toDouble
    val dup = pairsOut.count().toDouble
    c.set("candidates.distinct_pairs", distinct)
    c.set("candidates.distinct_per_emitted",
      if (emitted > 0) distinct / emitted else 0.0)
    c.set("verify.pairs_in", distinct)
    c.set("verify.pairs_dup", dup)
    c.set("verify.dup_per_candidate", if (distinct > 0) dup / distinct else 0.0)
  }

  /** `Main.run`'s incremental branch against an existing corpus state, with
    * `--assignments` and `--merge-new`, layer by layer. */
  def incremental(spark: SparkSession, batchDir: String, inputBytes: Long,
      payloadBytes: Long, out: String, state: String, assignments: String,
      t: Tracer, c: Counters, parts: Int): Unit = {
    val outIo = new TracedIO(spark, out, t, c, stageLayer)
    val featIo = new TracedIO(spark, state, t, c, stageLayer)
    val newFeat = featurize(spark, batchDir, t, parts)
    val meta = featIo.read("corpus_features_meta")
    val corpusFeat = featIo.read("corpus_features")
    outIo.write(Validate.report(newFeat), "validation")
    val store = new CheckpointStore(spark, s"$out/_stages", "run", outIo)
    val (n, nb) = t.span("incremental.pairs", "incremental") {
      val r = meta.select("n_corpus", "bucket_count").head()
      val (n, nb) = (r.getLong(0), r.getInt(1))
      val pairs = DedupPipeline.incrementalPairsFromState(spark, newFeat,
        corpusFeat, featIo.readBucketed("corpus_buckets", "key", nb), n, cfg,
        Some(store))
      outIo.write(pairs, "incremental_pairs")
      (n, nb)
    }
    // counted before the merge below rewrites the state files the pair
    // plan reads
    t.span("counters", "bench") {
      val capLoss = spark.read.parquet(s"$out/_stages/run/incremental_cap_loss")
      c.set("candidates.bucket_rows", capLoss.agg(
        coalesce(sum(col("rows_a") + col("rows_b")), lit(0L))).head().getLong(0)
        .toDouble)
      pairCounts(capLoss, "n_keys", outIo.written.get("incremental_pairs"),
        outIo.read("incremental_pairs"), c)
    }
    t.span("incremental.fold", "incremental") {
      val corpusAssign = TableIO.readLocation(spark, assignments)
      // within-batch evidence: the batch DAG over the new batch alone
      val newPairs = t.span("batch_dag", "cluster") {
        DedupPipeline.runFromFeatures(spark, newFeat, cfg)
      }.dupPairs.select("a", "b")
      val res = DedupPipeline.incrementalAssignments(spark, corpusAssign,
        outIo.read("incremental_pairs").select("a", "b"), newPairs,
        newFeat.select(col("id").as("image_id")))
      outIo.write(res.newAssignments, "new_assignments")
      outIo.write(res.relabels, "relabels")
    }
    t.span("incremental.merge", "incremental") {
      featIo.upsert(newFeat, "corpus_features", Seq("id"))
      featIo.upsertBucketed(DedupPipeline.corpusStateRows(newFeat, n, cfg),
        "corpus_buckets", "key", nb, Seq("b"))
    }
    t.span("counters", "bench") {
      featureCounts(newFeat, outIo.read("validation"), payloadBytes, c)
      c.set("tableio.bytes_written_per_input_byte",
        c.values.getOrElse("tableio.bytes_written", 0.0) / inputBytes)
    }
    newFeat.unpersist()
  }

  /** Replaces every cluster id of an assignment table with the row's own
    * singleton id: a wrong output the recall check must catch. */
  def corruptAssignments(spark: SparkSession, table: String): Unit = {
    val tmp = table + ".corrupt"
    spark.read.parquet(table)
      .withColumn("cluster_id", xxhash64(col("image_id"), lit("corrupt")))
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    replace(spark, tmp, table)
  }

  def replace(spark: SparkSession, from: String, to: String): Unit = {
    val dst = new Path(to)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dst, true)
    require(fs.rename(new Path(from), dst), s"cannot move $from to $to")
  }

  def bytesOf(spark: SparkSession, dir: String): Long = TracedIO.du(spark, dir)._1
}

/** The daily-ingest shape: `graft.Main --incremental --corpus-features
  * --assignments --merge-new` against a corpus state that the warm-up op
  * builds. Each op folds one new full-payload batch that mixes re-uploads of
  * corpus originals (fresh ids) with new content. */
final class IncrementalMerge(ctx: Ctx) extends Workload {
  import ctx._
  private val corpusBases = if (smoke) 200L else 300L
  private val freshImages = if (smoke) 30 else 100
  private val reuploads = if (smoke) 10 else 15
  private val corpus = dir("corpus")
  private val state = dir("state")
  private val assignments = dir("corpus_assignments")
  private def batch(op: Int) = dir(s"batch$op")
  private def out(op: Int) = dir(s"out$op")

  /** One day's batch: ground-truth base per image id, the corpus original
    * of each re-upload, and (table bytes, payload bytes). */
  private final case class Day(truth: Map[String, Long],
      originals: Map[String, String], bytes: Long, payload: Long)
  private val days = scala.collection.mutable.Map[Int, Day]()
  // corpus bases re-uploaded on each day: disjoint slices of one permutation
  private lazy val order =
    new scala.util.Random(seed).shuffle((0L until corpusBases).toVector)

  def setup(): Unit = {
    ImageGen.generate(spark, corpusBases, seed, light = true).coalesce(threads)
      .write.parquet(corpus)
    // the existing assignment table: ground-truth clusters under the
    // engine's label convention (xxhash64 of the lexico-min member id)
    ImageGen.expectedClusters(spark, corpusBases, seed)
      .select(col("image_id"), xxhash64(min("image_id").over(
        Window.partitionBy("cluster_id"))).as("cluster_id"))
      .coalesce(threads).write.parquet(assignments)
    // the corpus state itself is built by the warm-up op (the first
    // --corpus-features run featurizes the corpus and writes the state)
  }

  /** Day `op`'s batch, generated on the driver: a fixed count of new
    * full-payload images (day-disjoint bases past the corpus; the last
    * cluster may be cut short) and the pristine original of a fixed count
    * of corpus bases, re-uploaded under fresh ids. */
  override def prepare(op: Int): Unit = {
    import spark.implicits._
    val fresh = Iterator.from(0).map(i => corpusBases + op * 1000L + i)
      .flatMap(b => ImageGen.cluster(seed, b, 64).map(r => (r, b)))
      .take(freshImages).toVector
    val re = order.slice(op * reuploads, (op + 1) * reuploads).map { b =>
      val r = ImageGen.cluster(seed, b, 64).head
      (r.copy(image_id = s"re${op}_${r.image_id}"), b, r.image_id)
    }
    val rows = fresh.map(_._1) ++ re.map(_._1)
    spark.createDataset(spark.sparkContext.parallelize(rows, threads))
      .write.parquet(batch(op))
    days(op) = Day(
      (fresh.map { case (r, b) => r.image_id -> b } ++
        re.map { case (r, b, _) => r.image_id -> b }).toMap,
      re.map { case (r, _, o) => r.image_id -> o }.toMap,
      Pipelines.bytesOf(spark, batch(op)), rows.map(_.bytes.length.toLong).sum)
  }

  def run(op: Int): Unit =
    Main.main(Array("--input", corpus, "--output", out(op),
      "--incremental", batch(op), "--corpus-features", state,
      "--assignments", assignments, "--merge-new"))

  def traced(op: Int, t: Tracer, c: Counters): Unit =
    Pipelines.incremental(spark, batch(op), days(op).bytes, days(op).payload,
      out(op), state, assignments, t, c, threads)

  def items(op: Int): Long = days(op).truth.size

  def corrupt(op: Int): Unit =
    Pipelines.corruptAssignments(spark, s"${out(op)}/new_assignments.parquet")

  /** New-batch rows plus the corpus originals of the re-uploads, each with
    * its predicted cluster (corpus rows through the op's relabels). The
    * tables are batch-sized, so the check runs on the driver. */
  def check(op: Int): Check = {
    val day = days(op)
    def pairs(table: String) = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val fresh = pairs(s"${out(op)}/new_assignments.parquet")
    val relabel = spark.read.parquet(s"${out(op)}/relabels.parquet")
      .select("cluster_id", "new_cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wanted = day.originals.values.toSet
    val corpusPred = pairs(assignments).filter(p => wanted(p._1))
      .map { case (id, c) => id -> relabel.getOrElse(c, c) }.toMap
    val freshPred = fresh.toMap
    val bad = (day.truth.keySet -- freshPred.keySet).size +
      (fresh.size - freshPred.size) + (freshPred.keySet -- day.truth.keySet).size
    val base = day.truth ++ day.originals.map { case (re, o) => o -> day.truth(re) }
    val pred = freshPred ++ corpusPred
    val (recall, falseMerges) = Contingency(base.toSeq.flatMap { case (id, b) =>
      pred.get(id).map(b -> _) })
    // every re-upload must sit in its corpus original's cluster
    val strays = day.originals.count { case (re, o) =>
      freshPred.get(re).isEmpty || freshPred.get(re) != corpusPred.get(o) }
    Check(bad == 0 && strays == 0 && recall >= 0.99, recall, falseMerges,
      s"recall=$recall false_merge_pairs=$falseMerges bad_rows=$bad " +
        s"reuploads_astray=$strays")
  }
}

/** One pass over a fixed `SparkEntry` subset on a generated embeddings
  * table; every output is compared with its DuckDB oracle by the runner
  * after the JVM exits. Items per op are the input rows. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx._
  private val names = QueryMix.names
  private val keys = names.map(n => n -> SparkEntry.queries.keys
    .find(_.startsWith(n + "_"))
    .getOrElse(throw new IllegalStateException(s"no SparkEntry query $n")))
  private val data = dir("data")
  private def out(op: Int) = dir(s"out$op")

  // the table is generated from the seed by the runner before the JVM
  // starts (perfbench/querydata.py); the runner adds that time to setup_s
  def setup(): Unit = require(Files.exists(Paths.get(s"$data/embeddings.parquet")),
    s"query table missing under $data")

  private def pass(op: Int, tracer: Option[Tracer]): Unit = {
    keys.foreach { case (n, k) =>
      def write(): Unit = SparkEntry.queries(k)(spark, data).coalesce(1).write
        .mode(SaveMode.Overwrite).parquet(s"${out(op)}/$k")
      tracer match {
        case Some(t) => t.span(s"query.$n", "query")(write())
        case None => write()
      }
    }
    val sql = keys.map { case (_, k) => k -> SparkEntry.oracleSql(k) }
    Files.writeString(Paths.get(s"${out(op)}/oracle_sql.json"),
      Json.obj(sql: _*).s)
  }

  def run(op: Int): Unit = pass(op, None)

  def traced(op: Int, t: Tracer, c: Counters): Unit = pass(op, Some(t))

  // a warm pass takes about 4 s and keeps getting faster over the first
  // few passes of a JVM; a median over three passes still swung by a fifth
  // from run to run with the host's load, so the window spans six
  override def warmupOps: Int = 2
  override def minOps: Int = 6

  def items(op: Int): Long = QueryMix.rows(spark, data)

  /** Drops one row of the first query's output: the oracle compare must
    * catch it. */
  def corrupt(op: Int): Unit = {
    val table = s"${out(op)}/${keys.head._2}"
    val df = spark.read.parquet(table)
    df.limit(math.max(0, df.count().toInt - 1)).coalesce(1).write
      .mode(SaveMode.Overwrite).parquet(table + ".corrupt")
    Pipelines.replace(spark, table + ".corrupt", table)
  }

  def check(op: Int): Check = {
    val missing = keys.map(_._2).filterNot(k =>
      Files.exists(Paths.get(s"${out(op)}/$k/_SUCCESS")))
    Check(missing.isEmpty, Double.NaN, 0L,
      if (missing.isEmpty) "oracle compare pending"
      else s"missing outputs: ${missing.mkString(",")}")
  }
}

object QueryMix {
  /** q50: PQ codebook training, encoding and ADC top-1 search over a
    * spread()-repartitioned input — a chain of ~30 short jobs, the
    * driver-latency shape, and the only `Ann` path any workload runs. One
    * query because a pass of the wider dedup family costs more than the
    * benchmark's run-time budget allows on a 4-core host. */
  val names: Seq[String] = Seq("q50")

  private var inputRows = 0L
  def rows(spark: SparkSession, data: String): Long = {
    if (inputRows == 0L)
      inputRows = spark.read.parquet(s"$data/embeddings.parquet").count()
    inputRows
  }
}
