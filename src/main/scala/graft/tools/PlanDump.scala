package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Write the `explain("formatted")` plans of SparkEntry queries to files —
  * the round-6 plan-evidence artifacts (plans/r06/<query>_<tag>.txt):
  * `runMain graft.tools.PlanDump <q1,q2,...> <tag> [outDir] [sfDir] [cpus] [k=v ...]`.
  * Runs on the bench session shape ([[BenchExtra.session]]) plus any `k=v`
  * confs. It then executes the query's OWN QueryExecution (a noop write
  * would plan a separate one) and writes the FINAL adaptive plan to
  * <query>_<tag>_final.txt: the AQEShuffleRead coalescing, runtime join
  * rewrites and ReusedExchange the initial plan hides. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <q1,q2,...|all> <tag> [outDir] [sfDir] [cpus] [k=v ...]")
    val names = BenchExtra.queryNames(args(0))
    val tag = args(1)
    val outDir = if (args.length > 2) args(2) else "plans/r06"
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 4) args(4).toInt else Runtime.getRuntime.availableProcessors
    val spark = BenchExtra.session(cpus, BenchExtra.confs(args.drop(5).toSeq))
    Files.createDirectories(Paths.get(outDir))
    def dump(file: String, plan: String): Unit = {
      Files.writeString(Paths.get(outDir, file), plan)
      println(s"[plan-dump] $outDir/$file (${plan.length} chars)")
    }
    names.foreach { n =>
      val qe = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
      dump(s"${n}_$tag.txt", qe.explainString(ExplainMode.fromString("formatted")))
      qe.toRdd.count()
      dump(s"${n}_${tag}_final.txt", qe.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
