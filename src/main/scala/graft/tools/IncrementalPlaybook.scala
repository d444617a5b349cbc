package graft.tools

import graft.config.DedupConfig
import graft.operators.VerifyStage
import graft.pipeline.DedupPipeline
import graft.synth.ImageGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end drive of `Main --incremental` at bench scale — the daily-ingest
 * playbook (reference incremental index insert,
 * ea/sim/main/methods/index/faiss.py:40-51), executed rather than argued:
 *
 * {{{
 * runMain graft.tools.IncrementalPlaybook <bases> <workDir> [light|full]
 * }}}
 *
 *  1. Synthesize a corpus (`bases` ground-truth clusters, seed 42) and a
 *     daily batch: ~5% re-crawled corpus payloads (new ids, plus a few kept
 *     ids — the id-overlap case the side-salted join identity exists for)
 *     and a disjoint fresh tranche (seed 777).
 *  2. Run 1: `Main.run(--incremental --corpus-features --checkpoint)` —
 *     featurizes the corpus once and persists `corpus_features`.
 *  3. Run 2: same, with a DELIBERATELY NONEXISTENT `--input` — proving at
 *     scale that later runs read only the persisted features. Pairs must
 *     match run 1 exactly.
 *  4. Brute-force slice audit: every candidate-free (new, corpus) pair for a
 *     deterministic ~5% slice of the batch through the same
 *     [[VerifyStage]] OR-rule — evidence restricted to the slice must be a
 *     subset (precision 1.0) with recall >= 0.99 (LSH loss only).
 *
 * Prints a compact report for README/BENCH.md.
 */
object IncrementalPlaybook {
  def main(args: Array[String]): Unit = {
    val bases = if (args.length > 0) args(0).toLong else 20000L
    val work = if (args.length > 1) args(1) else "/tmp/graft_inc_playbook"
    val light = args.length > 2 && args(2) == "light"
    val spark = BenchExtra.session()
    import spark.implicits._

    val corpusDir = s"$work/corpus"
    val batchDir = s"$work/new_batch"
    val cfg = DedupConfig.default

    // --- 1. corpus + daily batch -------------------------------------------
    var t0 = System.nanoTime()
    ImageGen.generate(spark, bases, 42L, light = light).toDF()
      .write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val nCorpus = corpus.count()
    println(f"[gen] corpus: $nCorpus rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    t0 = System.nanoTime()
    val recrawl = corpus.where(pmod(xxhash64(col("image_id")), lit(20)) === 0)
      .withColumn("image_id",
        // most re-crawls arrive under a new id; every ~97th keeps its old id
        // (same-id re-crawl — exercises the side-salted join identity)
        when(pmod(xxhash64(lit("keep"), col("image_id")), lit(97)) === 0,
          col("image_id"))
          .otherwise(concat(lit("crawl_"), col("image_id"))))
    val fresh = ImageGen.generate(spark, math.max(1L, bases / 20), 777L,
        light = light).toDF()
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
    recrawl.unionByName(fresh).write.mode("overwrite").parquet(batchDir)
    val batch = spark.read.parquet(batchDir)
    val nBatch = batch.count()
    val nKept = batch.join(corpus, "image_id").count()
    println(f"[gen] batch: $nBatch rows ($nKept same-id re-crawls) in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // --- 2. run 1: featurize corpus, persist corpus_features ---------------
    t0 = System.nanoTime()
    graft.Main.run(spark, corpusDir, s"$work/out1", cfg,
      checkpoint = Some(s"$work/ck"), runId = "inc1", partitions = 32,
      incremental = Some(batchDir), corpusFeatures = Some(s"$work/features"))
    val w1 = (System.nanoTime() - t0) / 1e9
    val p1 = spark.read.parquet(s"$work/out1/incremental_pairs.parquet")
    println(f"[run1] wall=$w1%.1f s pairs=${p1.count()} (corpus featurized + persisted)")

    // --- 3. run 2: corpus_features only — input path does not exist --------
    t0 = System.nanoTime()
    graft.Main.run(spark, s"$work/no_such_input", s"$work/out2", cfg,
      checkpoint = Some(s"$work/ck"), runId = "inc2", partitions = 32,
      incremental = Some(batchDir), corpusFeatures = Some(s"$work/features"))
    val w2 = (System.nanoTime() - t0) / 1e9
    val p2 = spark.read.parquet(s"$work/out2/incremental_pairs.parquet")
    val only1 = p1.select("a", "b").exceptAll(p2.select("a", "b")).count()
    val only2 = p2.select("a", "b").exceptAll(p1.select("a", "b")).count()
    require(only1 == 0 && only2 == 0,
      s"run 2 pairs diverged from run 1: $only1 / $only2")
    println(f"[run2] wall=$w2%.1f s pairs=${p2.count()} " +
      f"(persisted features only — input path nonexistent; pairs identical)")

    // --- 4. brute-force slice audit ----------------------------------------
    t0 = System.nanoTime()
    val slice = batch.where(pmod(xxhash64(lit("slice"), col("image_id")), lit(20)) === 0)
    val nSlice = slice.count()
    def tagged(df: DataFrame, tag: String): DataFrame =
      DedupPipeline.features(df, cfg)
        .select(concat(lit(tag), col("id")).as("id"),
          col("shingles"), col("simhash"), col("norm_text"))
    val nf = tagged(slice, "n:")
    val cf = tagged(corpus, "c:")
    val allPairs = nf.select(col("id").as("a"))
      .crossJoin(cf.select(col("id").as("b")))
    val all = nf.unionByName(cf)
    val brute = VerifyStage.verify(allPairs, all, all, cfg)
      .where(col("is_dup"))
      .select(expr("substring(a, 3)").as("a"), expr("substring(b, 3)").as("b"))
    val evidence = p1
      .join(slice.select(col("image_id").as("a")), "a")
      .select("a", "b")
    val nBrute = brute.count()
    val missed = brute.exceptAll(evidence).count()
    val extra = evidence.exceptAll(brute).count()
    val recall = if (nBrute == 0) 1.0 else 1.0 - missed.toDouble / nBrute
    println(f"[audit] slice=$nSlice new rows x $nCorpus corpus rows: " +
      f"brute=$nBrute evidence=${evidence.count()} missed=$missed extra=$extra " +
      f"recall=$recall%.4f wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    require(extra == 0, "evidence must be a subset of the brute-force pairs")
    require(recall >= 0.99, f"slice recall $recall%.4f below the 0.99 gate")
    println("[audit] PASS: precision 1.0, recall >= 0.99")
    spark.stop()
  }
}
