package graft.tools

import graft.config.DedupConfig
import graft.io.TableIO
import graft.obs.StageMetrics
import graft.operators.{Ingest, Validate}
import graft.pipeline.DedupPipeline

/** Profile of the DAG `Bench`'s scaling probe times: Ingest (decode-validate
  * + features, cached) materialized by `Validate.report`, then
  * `DedupPipeline.runFromFeatures` to assignments. Each round prints, per
  * half, the [[StageMetrics]] job and stage rows and totals; per-stage CPU
  * next to wall separates scheduler-concurrency artifacts (parallel stages
  * sharing the core pool) from real engine waste.
  * `runMain graft.tools.ProbeDiag <cpus> <inputDir> [rounds=2]`. */
object ProbeDiag {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProbeDiag <cpus> <inputDir> [rounds]")
    val cpus = args(0).toInt
    val inputDir = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 2
    // Bench's probe session: the same data-sized partition count on every
    // leg, AQE off, 512m scan splits
    val spark = BenchExtra.session(cpus, Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "512m"))
    val cfg = DedupConfig.default
    for (r <- 1 to rounds) {
      val (feat, ingest) = StageMetrics.measure(spark) {
        val feat = Ingest.run(spark, TableIO.readLocation(spark, inputDir), cfg,
          partitions = 32)
        BenchExtra.materialize(Validate.report(feat))
        feat
      }
      val (_, dedup) = StageMetrics.measure(spark) {
        BenchExtra.materialize(DedupPipeline.runFromFeatures(spark, feat, cfg).assignments)
      }
      feat.unpersist()
      for ((half, report) <- Seq("ingest" -> ingest, "dedup" -> dedup)) {
        report.breakdown.foreach(println)
        println(s"[round $r] $half ${report.summary}")
      }
    }
    spark.stop()
  }
}
