package graft.pipeline

import graft.SparkSpec
import graft.config.DedupConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[DedupPipeline.incrementalPairs]] contracts the image-level MainSpec
  * cannot pin: cross-frame id overlap (the daily re-crawl shape) and the
  * winnowed-anchor candidate family. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = DedupConfig.default

  private def feat(rows: Seq[(String, String, Long)], c: DedupConfig = cfg): DataFrame =
    DedupPipeline.features(
      rows.toDF("image_id", "caption", "phash"), c)
      .persist()

  /** Whether `p` is a file scan of the state table `name`. */
  private def scanOf(name: String)(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName == s"$name.parquet")
    case _ => false
  }

  /** Nodes of `plan` matching `f`, through AQE stages and subqueries. */
  private def nodes(plan: SparkPlan)(f: SparkPlan => Boolean): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case p if f(p) => p
    }

  test("overlapping image_id across frames does not alias the join identity") {
    // the re-crawl shape: the SAME image_id lives in both the corpus and the
    // new batch, with changed content. An un-salted content-free nid maps
    // the two rows to one node: the verify joins fan out, compute evidence
    // from the wrong side's features (corpus-vs-itself jaccard 1.0), and
    // emit duplicate rows. Side-salted nids keep them distinct.
    val corpus = feat(Seq(
      ("img1", "alpha beta gamma delta epsilon zeta eta theta", 0x0123456789ABCDEFL),
      ("img2", "totally unrelated corpus content words here now", 0x7EDCBA9876543210L)))
    // img1 re-crawled with a changed tail: near-dup of its corpus self but
    // NOT identical; img3 matches nothing
    val fresh = feat(Seq(
      ("img1", "alpha beta gamma delta epsilon zeta eta iota", 0x0123456789ABCDE0L),
      ("img3", "completely different new batch text with no match", 0x00FF00FF00FF00FFL)))

    val got = DedupPipeline.incrementalPairs(spark, fresh, corpus, cfg)
      .collect()
    assert(got.length == 1, s"expected exactly one evidence row, got ${got.toSeq}")
    val r = got.head
    assert(r.getAs[String]("a") == "img1" && r.getAs[String]("b") == "img1")
    // the jaccard must compare NEW caption vs CORPUS caption — an aliased
    // identity would score a side against itself and report 1.0
    val j = r.getAs[Double]("jaccard")
    assert(j >= cfg.jaccardMin && j < 1.0, s"jaccard=$j must be in [min, 1)")
  }

  test("anchor candidate family carries long-match recall in incremental mode") {
    // pair sharing ONLY one long exact run inside otherwise-disjoint text:
    // shingle jaccard is far below jaccardMin (no band collision is likely
    // and the verify would reject anyway) and the simhashes are unrelated,
    // so ONLY the winnowed-anchor family can surface the pair
    val run = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpusText = "aaa bbb ccc ddd eee fff ggg hhh iii jjj " + run +
      " kkk lll mmm nnn ooo ppp qqq rrr"
    val newText = "zzz yyy xxx www vvv uuu ttt sss " + run +
      " qqz rrz ssz ttz uuz vvz wwz"
    val lcsCfg = cfg.copy(lcsMin = 40, anchorK = 16)
    val corpus = feat(Seq(("c1", corpusText, 0x1111111111111111L)), lcsCfg)
    val fresh = feat(Seq(("n1", newText, 0x5A5A5A5A5A5A5A5AL)), lcsCfg)

    val got = DedupPipeline.incrementalPairs(spark, fresh, corpus, lcsCfg)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(got == Set(("n1", "c1")),
      s"long-match pair not surfaced through anchors: $got")

    // control: with the LCS detector off the pair is (correctly) invisible
    val off = DedupPipeline.incrementalPairs(spark, fresh, corpus, cfg).count()
    assert(off == 0L)
  }

  test("bucketed corpus state reproduces the in-memory pairs, shuffle-free") {
    // the daily-ingest upgrade: corpusStateRows persisted bucketed-by-key,
    // then incrementalPairsFromState over the bucketed scan must be
    // pair-for-pair the in-memory DAG — with every corpus-side Exchange gone
    import graft.synth.ImageGen
    val cfgL = cfg.copy(lcsMin = 40, anchorK = 16) // all three families live
    // the re-ingest shape: every _000 root re-enters under a new id — each
    // is an exact dup of its corpus self, so cross-side pairs are guaranteed
    val corpus = DedupPipeline.features(
      ImageGen.generate(spark, bases = 30, seed = 7L).toDF(), cfgL).persist()
    val fresh = corpus.where(col("id").endsWith("_000"))
      .withColumn("id", concat(lit("new_"), col("id"))).persist()
    assert(corpus.count() > 0 && fresh.count() > 0)

    val inMem = DedupPipeline.incrementalPairs(spark, fresh, corpus, cfgL)
    val dir = java.nio.file.Files.createTempDirectory("graft-bkst").toString
    val io = new graft.io.ParquetTableIO(spark, dir)
    val n = corpus.count()
    io.writeBucketed(DedupPipeline.corpusStateRows(corpus, n, cfgL),
      "corpus_buckets", "key", 4)
    val fromState = DedupPipeline.incrementalPairsFromState(spark, fresh,
      corpus, io.readBucketed("corpus_buckets", "key", 4), n, cfgL)

    val a = inMem.orderBy("a", "b").collect().toSeq
    val b = fromState.orderBy("a", "b").collect().toSeq
    assert(a.nonEmpty, "fixture must plant cross-side near-dups")
    assert(a == b, s"state path diverged:\n in-mem=${a.take(5)}\n state=${b.take(5)}")

    // plan shape: force SMJ (no broadcast) so every join plans its
    // exchanges, then the bucketed path must (a) scan the corpus state as
    // Bucketed: true, once, and (b) plan no Exchange on `key` above that
    // scan — the corpus side's sizing, ranking and candidate join are
    // shuffle-free; only the emitted pairs move (on `a`, `b`)
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val statePlan = DedupPipeline.incrementalPairsFromState(spark, fresh,
        corpus, io.readBucketed("corpus_buckets", "key", 4), n, cfgL)
      val plan = statePlan.queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("Bucketed: true"),
        s"corpus state scan not bucketed:\n${planStr.take(3000)}")
      assert(nodes(plan)(scanOf("corpus_buckets")).size == 1,
        s"corpus state must be scanned once:\n${planStr.take(3000)}")
      val shuffled = nodes(plan) {
        case e @ ShuffleExchangeExec(HashPartitioning(exprs, _), _, _, _) =>
          exprs.exists(_.references.exists(_.name == "key")) &&
            e.exists(scanOf("corpus_buckets"))
        case _ => false
      }
      assert(shuffled.isEmpty,
        s"bucketed state must not shuffle the corpus side:\n${shuffled.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    Seq(corpus, fresh).foreach(_.unpersist())
  }

  test("the pairs plan reads each corpus state table once") {
    // corpus_buckets once (the one-pass bipartite ranking) and
    // corpus_features once (the `b` side of verify, which carries the image
    // ids so no join maps node ids back)
    import graft.synth.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft-scan1").toString
    val io = new graft.io.ParquetTableIO(spark, dir)
    io.write(DedupPipeline.features(
      ImageGen.generate(spark, bases = 20, seed = 11L).toDF(), cfg),
      "corpus_features")
    val corpus = io.read("corpus_features")
    val n = corpus.count()
    io.writeBucketed(DedupPipeline.corpusStateRows(corpus, n, cfg),
      "corpus_buckets", "key", 4)
    val fresh = DedupPipeline.features(
      ImageGen.generate(spark, bases = 20, seed = 11L).toDF()
        .where(col("image_id").endsWith("_000"))
        .withColumn("image_id", concat(lit("new_"), col("image_id"))), cfg)
      .persist()

    val pairs = DedupPipeline.incrementalPairsFromState(spark, fresh, corpus,
      io.readBucketed("corpus_buckets", "key", 4), n, cfg)
    assert(pairs.collect().nonEmpty, "fixture must plant cross-side near-dups")
    val plan = pairs.queryExecution.executedPlan
    for (t <- Seq("corpus_buckets", "corpus_features"))
      assert(nodes(plan)(scanOf(t)).size == 1, s"$t scanned more than once:\n$plan")
    fresh.unpersist()
  }
}
