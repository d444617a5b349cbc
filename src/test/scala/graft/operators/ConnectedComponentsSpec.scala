package graft.operators

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCC(edges: Seq[(Long, Long)], partitions: Int = 4,
      localThreshold: Long = 2000000L): Map[Long, Long] =
    ConnectedComponents.run(
      spark.createDataset(edges).repartition(partitions).toDF("src", "dst"),
      localThreshold = localThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("simple chain collapses to min") {
    val got = runCC(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 11L -> 10L, 1L -> 1L, 10L -> 10L)
      || got.filterKeys(_ != 1L).filterKeys(_ != 10L).toMap ==
         Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 11L -> 10L))
    assert(got(4L) == 1L && got(11L) == 10L)
  }

  test("random graphs match union-find oracle (local AND distributed paths)") {
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 5; threshold <- Seq(2000000L, 0L)) {
      val n = 80
      val edges = Seq.fill(70)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val oracle = ufComponents(edges)
      val got = runCC(edges, localThreshold = threshold)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.foreach { v =>
        assert(got.getOrElse(v, v) == oracle(v),
          s"trial=$trial threshold=$threshold node=$v")
      }
    }
  }

  test("local and distributed paths produce identical labelings") {
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(150)((rng.nextInt(100).toLong, rng.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    assert(runCC(edges, localThreshold = 2000000L) ==
      runCC(edges, localThreshold = 0L))
  }

  test("result independent of input partitioning and row order") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(60)((rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val a = runCC(edges, partitions = 1)
    val b = runCC(rng.shuffle(edges), partitions = 7)
    assert(a == b)
  }

  test("long path (diameter > iterations of naive min-propagation)") {
    val path = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = runCC(path)
    assert((0L until 200L).forall(v => got.getOrElse(v, v) == 0L))
    // same topology through the distributed star-fallback loop
    val gotDist = runCC(path, localThreshold = 0L)
    assert((0L until 200L).forall(v => gotDist.getOrElse(v, v) == 0L))
  }

  private def df(edges: Seq[(Long, Long)]) =
    spark.createDataset(edges).toDF("src", "dst")

  test("incrementalRun: combined view matches a full recompute (local AND distributed paths)") {
    val rng = new scala.util.Random(19)
    for (trial <- 0 until 3; threshold <- Seq(2000000L, 0L)) {
      // corpus over ids 0..59, new nodes 100..119; delta mixes new-new,
      // new-corpus and cross-component corpus-corpus edges
      val base = Seq.fill(50)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      def node(): Long =
        if (rng.nextBoolean()) 100L + rng.nextInt(20) else rng.nextInt(60).toLong
      val delta = Seq.fill(30)((node(), node()))
        .filter { case (a, b) => a != b }
      val assignments = ConnectedComponents.run(df(base),
        localThreshold = threshold).cache()
      val corpusIds = assignments.collect().map(_.getLong(0)).toSet

      val inc = ConnectedComponents.incrementalRun(assignments, df(delta),
        localThreshold = threshold)
      val combined = ConnectedComponents
        .applyRelabels(assignments, inc.relabels)
        .union(inc.newAssignments)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // oracle: union-find over base + delta together
      val oracle = ufComponents(base ++ delta)
      combined.foreach { case (id, comp) =>
        assert(comp == oracle.getOrElse(id, id),
          s"trial=$trial threshold=$threshold node=$id")
      }
      // coverage: every corpus id exactly once, plus every new endpoint
      val newIds = delta.flatMap(e => Seq(e._1, e._2)).toSet -- corpusIds
      assert(combined.keySet == corpusIds ++ newIds)
      // relabels only ever lists existing labels that actually moved
      inc.relabels.collect().foreach { r =>
        assert(corpusIds.contains(r.getLong(0)) && r.getLong(0) != r.getLong(1))
      }
      assignments.unpersist()
    }
  }

  test("incrementalRun: intra-component delta edges are a no-op") {
    val assignments = ConnectedComponents.run(df(Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    val inc = ConnectedComponents.incrementalRun(assignments, df(Seq((2L, 3L), (1L, 3L))))
    assert(inc.relabels.count() == 0 && inc.newAssignments.count() == 0)
    val after = ConnectedComponents.applyRelabels(assignments, inc.relabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("incrementalRun: a new minimal node becomes the merged label") {
    val assignments = ConnectedComponents.run(df(Seq((5L, 6L), (10L, 11L))))
    // new node 1 bridges both components and is the global minimum
    val inc = ConnectedComponents.incrementalRun(assignments,
      df(Seq((1L, 6L), (1L, 11L))))
    val news = inc.newAssignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(news == Map(1L -> 1L))
    val relabeled = inc.relabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relabeled == Map(5L -> 1L, 10L -> 1L))
  }

  test("unset shuffle.partitions: Spread and the local solve derive from one value") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.unset(key)
    try {
      val n = spark.sessionState.conf.defaultNumShufflePartitions
      val edges = spark.createDataset(Seq((1L, 2L), (2L, 3L))).toDF("src", "dst")
      assert(Spread.partitions(edges) ==
        math.max(spark.sparkContext.defaultParallelism, n))
      val solved = ConnectedComponents.run(edges)
      assert(solved.rdd.getNumPartitions == math.max(1, n / 4))
    } finally spark.conf.set(key, saved)
  }

  test("shuffle partitions ignore AQE's initialPartitionNum") {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.set(key, "7")
    try assert(Spread.shufflePartitions(spark) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    finally spark.conf.unset(key)
  }
}
