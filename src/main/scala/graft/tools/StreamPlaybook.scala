package graft.tools

import graft.Main
import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import graft.synth.ImageGen
import org.apache.spark.sql.functions._

/**
 * End-to-end drive of `Main --stream` at bench scale — the continuous-ingest
 * analogue of [[IncrementalPlaybook]], executed rather than argued:
 *
 * {{{
 * runMain graft.tools.StreamPlaybook <bases> <workDir> [light|full]
 * }}}
 *
 *  1. Drop 1: synthesize a corpus (`bases` ground-truth clusters, seed 42)
 *     as parquet files in the watched directory; drain 1 bootstraps the
 *     state (batch 0 = the full batch DAG).
 *  2. Drop 2: a daily tranche — ~5% re-crawled corpus payloads under FRESH
 *     ids (the assignment fold's disjoint-ids contract) plus a disjoint
 *     fresh tranche (seed 777) — lands as new files; drain 2 must consume
 *     ONLY those files and fold them.
 *  3. Parity audit: the folded state must equal one batch run over
 *     everything seen (exceptAll both ways == 0) — the same
 *     semantics-free-incrementality claim `MainSpec` proves at toy scale.
 *  4. Drain 3 with nothing new: must be a no-op (no batch-2 marker); its
 *     wall is the steady-state cost of a cron tick that finds no work.
 *
 * Prints a compact report for README/BENCH.md.
 */
object StreamPlaybook {
  def main(args: Array[String]): Unit = {
    val bases = if (args.length > 0) args(0).toLong else 20000L
    val work = if (args.length > 1) args(1) else "/tmp/graft_stream_playbook"
    val light = args.length > 2 && args(2) == "light"
    val spark = BenchExtra.session()

    val watched = s"$work/watched"
    val out = s"$work/out"
    val state = s"$work/state"
    val cfg = DedupConfig.default
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    Seq(watched, out, state).foreach(rm)
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

    // --- 1. drop 1 = the corpus; drain 1 bootstraps ------------------------
    val corpus = ImageGen.generate(spark, bases, 42L, light = light).toDF()
    corpus.write.mode("append").parquet(watched)
    val nCorpus = spark.read.parquet(watched).count()
    var t0 = System.nanoTime()
    Main.runStream(spark, watched, out, state, cfg)
    val drain1 = secs(t0)
    val asg0 = spark.read.parquet(s"$state/assignments.parquet").count()
    println(f"[drain1] bootstrap: $nCorpus%d images -> $asg0%d assignments " +
      f"in $drain1%.1f s (${nCorpus / drain1}%.1f images/s)")
    require(asg0 == nCorpus)

    // --- 2. drop 2 = daily tranche under fresh ids; drain 2 folds ----------
    val recrawl = corpus.sample(withReplacement = false, 0.05, seed = 7L)
      .withColumn("image_id", concat(lit("d1_"), col("image_id")))
    val fresh = ImageGen.generate(spark, math.max(bases / 20, 2L), 777L,
        light = light).toDF()
      .withColumn("image_id", concat(lit("d1f_"), col("image_id")))
    val drop2 = recrawl.unionByName(fresh)
    drop2.write.mode("append").parquet(watched)
    val nBatch = spark.read.parquet(watched).count() - nCorpus
    t0 = System.nanoTime()
    Main.runStream(spark, watched, out, state, cfg)
    val drain2 = secs(t0)
    val asg1 = spark.read.parquet(s"$state/assignments.parquet")
    val nPairs = spark.read.parquet(s"$out/incremental_pairs_1.parquet").count()
    println(f"[drain2] fold: $nBatch%d new images, $nPairs%d cross evidence " +
      f"pairs, state ${asg1.count()}%d rows in $drain2%.1f s " +
      f"(${nBatch / drain2}%.1f images/s)")
    require(asg1.count() == nCorpus + nBatch)

    // --- 3. parity: fold == one batch run over everything ------------------
    t0 = System.nanoTime()
    val everything = spark.read.parquet(watched)
    val full = DedupPipeline.run(spark, everything, cfg).assignments
    val extra = asg1.exceptAll(full).count()
    val missing = full.exceptAll(asg1).count()
    println(f"[parity] full re-run ${secs(t0)}%.1f s; fold-vs-full " +
      f"exceptAll: $extra%d / $missing%d (must be 0 / 0)")
    require(extra == 0 && missing == 0, "stream fold diverged from batch run")

    // --- 4. empty drain = cron tick with no work ----------------------------
    t0 = System.nanoTime()
    Main.runStream(spark, watched, out, state, cfg)
    val drain3 = secs(t0)
    val marker2 = new org.apache.hadoop.fs.Path(s"$state/batch_2_done.parquet")
    val fired = marker2.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(marker2)
    println(f"[drain3] no new files: no-op in $drain3%.1f s, batch-2 " +
      f"fired=$fired%b (must be false)")
    require(!fired)
    spark.stop()
  }
}
