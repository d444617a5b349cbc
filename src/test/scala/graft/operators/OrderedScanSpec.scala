package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class OrderedScanSpec extends SparkSpec {
  import spark.implicits._

  test("cumSums matches the single-partition window oracle") {
    val df = (1 to 500).map(i => (i * 0.5 % 37, (i % 7).toLong, (i % 3).toLong))
      .toDF("s", "v1", "v2")
      .groupBy("s").agg(sum("v1").as("v1"), sum("v2").as("v2"))
      .repartition(4) // arbitrary physical layout
    val got = OrderedScan.cumSums(df, "s", Seq("v1" -> "c1", "v2" -> "c2"))
      .select("s", "c1", "c2")
      .collect().map(r => r.getDouble(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("c1", sum("v1").over(w)).withColumn("c2", sum("v2").over(w))
      .select("s", "c1", "c2")
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1).toDouble, r.getLong(2).toDouble))).toMap

    assert(got.keySet == want.keySet)
    want.foreach { case (k, (a, b)) =>
      val (ga, gb) = got(k)
      assert(math.abs(ga - a) < 1e-9 && math.abs(gb - b) < 1e-9, s"at s=$k")
    }
  }

  test("cumSums handles fewer rows than partitions and empty input") {
    val tiny = Seq((1.0, 5L)).toDF("s", "v")
    val one = OrderedScan.cumSum(tiny, "s", "v", "c").select("c").as[Double].collect()
    assert(one.toSeq == Seq(5.0))
    val empty = OrderedScan.cumSum(tiny.limit(0), "s", "v", "c")
    assert(empty.count() == 0)
  }

  test("cyclicLead matches the global lead-with-wrap oracle") {
    val reps = Seq(10L, 3L, 77L, 42L, 5L, 100L, 61L).toDF("rep").repartition(3)
    val got = OrderedScan.cyclicLead(reps, "rep", "neg")
      .select("rep", "neg").as[(Long, Long)].collect().toMap
    val sorted = Seq(3L, 5L, 10L, 42L, 61L, 77L, 100L)
    val want = sorted.zip(sorted.tail :+ sorted.head).toMap
    assert(got == want)
  }

  test("cyclicLead single row wraps to itself") {
    val got = OrderedScan.cyclicLead(Seq(9L).toDF("rep"), "rep", "neg")
      .select("rep", "neg").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((9L, 9L)))
  }

  test("ordered scans leave no lingering cached RDDs") {
    // the value-bucketed stitch is consistency-by-construction (bucket id is
    // a pure function of the row value), so no pass needs a persisted frame
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 300).map(i => (i.toDouble, (i % 5).toLong)).toDF("s", "v")
    OrderedScan.cumSum(df, "s", "v", "c").count()
    OrderedScan.cyclicLead((1 to 50).map(_.toLong * 3).toDF("rep"), "rep", "neg").count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cache entries leaked: $leaked")
  }

  test("cumSums places a null order key first (nulls-first window parity)") {
    val df = Seq((Some(1.0), 2L), (None, 5L), (Some(3.0), 1L)).toDF("s", "v")
    val got = OrderedScan.cumSum(df, "s", "v", "c")
      .select("v", "c").as[(Long, Double)].collect().toMap
    assert(got(5L) == 5.0, "the null-key row must carry no earlier offset")
    assert(got(2L) == 7.0 && got(1L) == 8.0,
      "non-null rows must include the null-key row in their prefix")
  }

  test("cumSums rejects a non-numeric order column") {
    val df = Seq(("a", 1L)).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      OrderedScan.cumSum(df, "s", "v", "c")
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("topFractionGlobal: tie-inclusive top-k rule, partitioning-independent") {
    // coarse scores -> huge tie groups at the boundary (the case an
    // arbitrary intra-tie cut gets wrong)
    val rows = (1L to 400L).map(i => (i, (i % 5) * 0.25))
    val df = rows.toDF("id", "score")
    for (frac <- Seq(0.1, 0.25, 0.5, 1.0); parts <- Seq(1, 7)) {
      val got = Ranking.topFractionGlobal(df.repartition(parts), "score", frac)
        .select("id", "kept").as[(Long, Boolean)].collect().toMap
      val k = math.max(1L, math.floor(frac * rows.size).toLong)
      rows.foreach { case (id, s) =>
        val greater = rows.count(_._2 > s)
        assert(got(id) == (greater < k),
          s"frac=$frac parts=$parts id=$id score=$s greater=$greater k=$k")
      }
    }
    // frac = 1 keeps everything
    val all = Ranking.topFractionGlobal(df, "score", 1.0)
      .where(col("kept")).count()
    assert(all == rows.size)
  }

  test("percentileRanks: percent_rank semantics with ties, nulls, " +
    "degenerate input, partitioning-independent") {
    // scores 10, 20, 20, 30: pct = below/(n-1) -> 0, 1/3, 1/3, 1
    val df = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(20.0)),
      (4L, Some(30.0)), (5L, Option.empty[Double])).toDF("id", "s")
    for (parts <- Seq(1, 7)) {
      val got = Ranking.percentileRanks(df.repartition(parts), "s")
        .select("id", "pct").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got(1L) == Some(0.0))
      assert(got(2L) == Some(0.333333) && got(3L) == Some(0.333333))
      assert(got(4L) == Some(1.0))
      assert(got(5L).isEmpty, "null score must keep a null pct")
    }
    // single-row input: denominator guard -> 0, not NaN
    val one = Ranking.percentileRanks(Seq((1L, 5.0)).toDF("id", "s"), "s")
      .select("pct").head().getDouble(0)
    assert(one == 0.0)
  }

  test("topFractionByGroup: per-group tie-inclusive rule, partitioning-independent") {
    // unequal group sizes and coarse (tie-heavy) scores per group
    val rows = (1L to 500L).map { i =>
      val g = if (i <= 300) "a" else if (i <= 450) "b" else "c"
      (i, g, (i % 4) * 0.5)
    }
    val df = rows.toDF("id", "grp", "score")
    for (frac <- Seq(0.1, 0.25, 1.0); parts <- Seq(1, 7)) {
      val got = Ranking.topFractionByGroup(df.repartition(parts), "grp", "score", frac)
        .select("id", "kept").as[(Long, Boolean)].collect().toMap
      rows.groupBy(_._2).foreach { case (g, members) =>
        val k = math.max(1L, math.floor(frac * members.size).toLong)
        members.foreach { case (id, _, s) =>
          val greater = members.count(_._3 > s)
          assert(got(id) == (greater < k),
            s"frac=$frac parts=$parts grp=$g id=$id score=$s greater=$greater k=$k")
        }
      }
    }
  }
}
