package graft.tools

import java.nio.file.{Files, Paths}

import graft.obs.StageMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Subset bench runner for optimization iteration (guide §1.4): times ONLY the
 * named SparkEntry queries with the exact Bench methodology — same session
 * config, one untimed sf0.001 warm-up pass, min of the timed passes at the
 * target sf, noop-sink materialization — so per-query numbers are comparable
 * with bench.json without paying the full 125-query suite plus scaling probe.
 *
 * {{{
 * runMain graft.tools.BenchExtra q98_bm25_index_topk,q125_filter_stack \
 *   [sfDir] [cpus] [passes=2] [k=v ...]
 * }}}
 *
 * `all` runs the whole suite (still without the probe). `sfDir` defaults to
 * the sf0.1 test data, `cpus` to the host's core count; `k=v` arguments are
 * extra session confs, `BENCH_EXTRA_CLEAR_CACHE=1` clears the cache before
 * each query. Each pass also reports task-CPU seconds — steal-immune, unlike
 * wall — and jobs. Results append one JSON line per run to
 * bench_extra.jsonl: `queries` holds each query's min wall, `cpu_s` the task
 * CPU of that same pass.
 */
object BenchExtra {

  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: BenchExtra <q1,q2,...|all> [sfDir] [cpus] [passes] [k=v ...]")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else Runtime.getRuntime.availableProcessors
    val passes = if (args.length > 3) args(3).toInt else 2
    val names = queryNames(args(0))
    val spark = session(cpus, confs(args.drop(4).toSeq))

    names.foreach { n =>
      try materialize(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    val clearCache = sys.env.get("BENCH_EXTRA_CLEAR_CACHE").contains("1")
    val best = names.map { n =>
      if (clearCache) spark.catalog.clearCache()
      val reports = run(spark, n, sfDir, passes)
      val min = reports.minByOption(_.wallS)
      println(f"[bench-extra] $n min=${min.fold(-1.0)(_.wallS)}%.3f s " +
        s"passes=${reports.map(r => f"${r.wallS}%.3f").mkString(",")}")
      n -> min
    }
    def perQuery(f: StageMetrics.Report => Double) = best
      .map { case (n, r) => s""""$n":${"%.3f".format(r.fold(-1.0)(f))}""" }
      .mkString("{", ",", "}")
    val total = best.flatMap(_._2).map(_.wallS).sum
    val line = s"""{"metric":"subset","value":${"%.3f".format(total)},""" +
      s""""unit":"sec","queries":${perQuery(_.wallS)},"sf":"$sfDir","cpus":$cpus,""" +
      s""""cpu_s":${perQuery(_.total.cpuS)}}"""
    println(line)
    Files.writeString(Paths.get("bench_extra.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }

  /** The session every tool in this package runs on: the query suite's
    * shape (one shuffle partition per thread, AQE on) at `cpus` threads, the
    * host's core count by default, with `confs` applied last. */
  def session(cpus: Int = Runtime.getRuntime.availableProcessors,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-tools")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `k=v` tool arguments as session confs. */
  def confs(args: Seq[String]): Seq[(String, String)] = args.map { kv =>
    val i = kv.indexOf('=')
    require(i > 0, s"expected a k=v session conf, got '$kv'")
    (kv.take(i), kv.drop(i + 1))
  }

  /** A comma-separated query list, or `all` for the whole suite. */
  def queryNames(arg: String): Seq[String] = {
    val names =
      if (arg == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    names
  }

  /** Times `passes` runs of query `name` on `sfDir`, each measured by
    * [[StageMetrics]], printing one line per pass and the warm (last) pass's
    * breakdown; returns the reports of the passes that succeeded. */
  def run(spark: SparkSession, name: String, sfDir: String,
      passes: Int): Seq[StageMetrics.Report] = {
    val query = graft.SparkEntry.queries(name)
    spark.sparkContext.setJobDescription(name)
    try (1 to passes).flatMap { p =>
      try {
        val (_, r) = StageMetrics.measure(spark)(materialize(query(spark, sfDir)))
        println(f"[bench-extra] $name pass $p: wall=${r.wallS}%.3f s " +
          f"cpu=${r.total.cpuS}%.2f s jobs=${r.jobs.size}")
        if (p == passes) r.breakdown.foreach(println)
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[bench-extra] $name failed: ${e.getMessage}"); None }
    } finally spark.sparkContext.setJobDescription(null)
  }
}
