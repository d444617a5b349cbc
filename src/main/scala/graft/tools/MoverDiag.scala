package graft.tools

import scala.io.Source

/**
 * The standing bench-regression protocol (round-4 verdict item 6): diff two
 * bench JSON artifacts and cpu-diag every wall mover in one pass, so a
 * round-over-round delta always lands with its steal-immune cpu figure the
 * same round instead of waiting a judge round.
 *
 * {{{
 * runMain graft.tools.MoverDiag <prev_bench.json> <curr_bench.json> \
 *   [sfDir] [factor=2.0] [cpus=<host cores>] [reps=3]
 * }}}
 *
 * A query is a mover when curr/prev >= factor or <= 1/factor (both
 * directions: an unexplained speed-up is usually the previous round's steal
 * window, worth recording too). Output is a markdown table ready for
 * BENCH.md; each mover is re-run with [[BenchExtra.run]] and its warm
 * (last) pass reported. Wall verdicts: a mover whose warm task-cpu is within
 * 1.5x of its warm wall did real work (plan cost — investigate); warm wall
 * far above cpu, or a diag wall far below the bench wall, points at steal.
 */
object MoverDiag {

  /** Extracts the per-query seconds map from a bench JSON line/file — the
    * `"queries":{"qNN_name":secs,...}` object. Regex-scoped to the queries
    * block so metric/sf fields cannot leak in. */
  def queryTimes(json: String): Map[String, Double] = {
    val block = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    "\"(q[0-9A-Za-z_]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def movers(prev: Map[String, Double], curr: Map[String, Double],
      factor: Double): Seq[(String, Double, Double, Double)] =
    (prev.keySet intersect curr.keySet).toSeq.flatMap { q =>
      val (p, c) = (prev(q), curr(q))
      val ratio = if (p > 0) c / p else Double.PositiveInfinity
      if (ratio >= factor || ratio <= 1.0 / factor) Some((q, p, c, ratio))
      else None
    }.sortBy(-_._4)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MoverDiag <prev.json> <curr.json> [sfDir] [factor] [cpus] [reps]")
    def slurp(p: String) = { val s = Source.fromFile(p); try s.mkString finally s.close() }
    val prev = queryTimes(slurp(args(0)))
    val curr = queryTimes(slurp(args(1)))
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val factor = if (args.length > 3) args(3).toDouble else 2.0
    val cpus = if (args.length > 4) args(4).toInt else Runtime.getRuntime.availableProcessors
    val reps = if (args.length > 5) args(5).toInt else 3
    val m = movers(prev, curr, factor)
    if (m.isEmpty) {
      println(s"MOVERS: none (factor $factor, ${prev.size} prev / ${curr.size} curr queries)")
      return
    }
    println(s"MOVERS (factor $factor): ${m.map(_._1).mkString(", ")}")
    val spark = BenchExtra.session(cpus)
    val rows = for ((q, p, c, r) <- m) yield {
      val warm = BenchExtra.run(spark, q, sfDir, reps).lastOption
      val (wall, cpu) = warm.fold((-1.0, -1.0))(w => (w.wallS, w.total.cpuS))
      f"| $q | $p%.2f s | $c%.2f s | $r%.2fx | $wall%.2f s | $cpu%.2f s |"
    }
    spark.stop()
    println("| query | prev wall | curr wall | ratio | diag warm wall | diag warm cpu |")
    println("|---|---|---|---|---|---|")
    rows.foreach(println)
  }
}
