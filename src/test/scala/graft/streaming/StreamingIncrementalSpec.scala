package graft.streaming

import graft.SparkSpec
import graft.config.DedupConfig
import graft.operators.Ingest
import graft.pipeline.DedupPipeline
import graft.model.ImageRow
import graft.synth.ImageGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = DedupConfig.default

  private def rmrf(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  test("micro-batches bootstrap then fold — equal to one batch run over everything") {
    val state = "/tmp/graft_sinc/state"
    val out = "/tmp/graft_sinc/out"
    Seq(state, out).foreach(rmrf)
    val b0 = ImageGen.generate(spark, bases = 15, seed = 42L).toDF()
    val reing = b0.limit(5)
      .withColumn("image_id", concat(lit("n_"), col("image_id")))
    val freshB = ImageGen.generate(spark, bases = 4, seed = 777L).toDF()
      .withColumn("image_id", concat(lit("f_"), col("image_id")))
    val b1 = reing.unionByName(freshB)

    // batch 0 bootstraps the corpus state
    StreamingIncremental.processBatch(spark, b0, state, out, cfg, 0L)
    val asg0 = spark.read.parquet(s"$state/assignments.parquet")
    assert(asg0.count() == b0.count())

    // batch 1 folds against it
    StreamingIncremental.processBatch(spark, b1, state, out, cfg, 1L)
    val asg1 = spark.read.parquet(s"$state/assignments.parquet")
    assert(asg1.count() == b0.count() + b1.count())
    assert(spark.read.parquet(s"$state/corpus_features.parquet").count() ==
      b0.count() + b1.count())
    // every re-ingested row landed in its original's cluster
    val byId = asg1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    reing.select("image_id").collect().map(_.getString(0)).foreach { nid =>
      assert(byId(nid) == byId(nid.stripPrefix("n_")),
        s"$nid not clustered with its original")
    }
    // per-batch validation report written, all synthetic payloads valid
    val v1 = spark.read.parquet(s"$out/validation_1.parquet").head()
    assert(v1.getAs[Long]("rows") == b1.count())
    assert(v1.getAs[Long]("valid") == b1.count())

    // evidence table written, bipartite only
    val ev = spark.read.parquet(s"$out/incremental_pairs_1.parquet")
    assert(ev.count() > 0)
    ev.select("a", "b").collect().foreach { r =>
      assert(r.getString(0).startsWith("n_") || r.getString(0).startsWith("f_"))
      assert(!r.getString(1).startsWith("n_") && !r.getString(1).startsWith("f_"))
    }

    // the stream state equals ONE batch run over the union — the fold is
    // semantics-free incrementality, not an approximation
    val full = DedupPipeline.run(spark, b0.unionByName(b1), cfg).assignments
    assert(asg1.exceptAll(full).count() == 0 && full.exceptAll(asg1).count() == 0)

    // replay of a completed batch is a marker-gated no-op
    val before = asg1.orderBy("image_id").collect().toSeq
    StreamingIncremental.processBatch(spark, b1, state, out, cfg, 1L)
    val after = spark.read.parquet(s"$state/assignments.parquet")
      .orderBy("image_id").collect().toSeq
    assert(before == after)

    // a config drift against the bootstrapped feature space fails fast
    val b2 = ImageGen.generate(spark, bases = 2, seed = 5L).toDF()
      .withColumn("image_id", concat(lit("x_"), col("image_id")))
    val drift = intercept[IllegalArgumentException] {
      StreamingIncremental.processBatch(spark, b2, state, out,
        cfg.copy(bands = 32, rowsPerBand = 4), 2L)
    }
    assert(drift.getMessage.contains("bands=32"))
  }

  /** Re-ingests of `b0` under fresh ids plus a foreign tranche. */
  private def nextBatch(b0: DataFrame) =
    b0.limit(4).withColumn("image_id", concat(lit("n_"), col("image_id")))
      .unionByName(ImageGen.generate(spark, bases = 3, seed = 777L).toDF()
        .withColumn("image_id", concat(lit("f_"), col("image_id"))))

  private def sameRows(x: DataFrame, y: DataFrame): Boolean =
    x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0

  test("stream bootstrap writes the bucketed state Main --corpus-features reads") {
    val root = "/tmp/graft_sinc_shared"
    rmrf(root)
    val (state, nb, mainOut) = (s"$root/state", s"$root/new", s"$root/main")
    val b0 = ImageGen.generate(spark, bases = 12, seed = 42L).toDF()
    StreamingIncremental.processBatch(spark, b0, state, s"$root/out", cfg, 0L)
    val buckets = spark.read.parquet(s"$state/corpus_buckets.parquet")
    assert(buckets.count() > 0 && buckets.columns.toSet == Set("b", "key"))
    val meta = spark.read.parquet(s"$state/corpus_features_meta.parquet").head()
    assert(meta.getAs[Long]("n_corpus") == b0.count())
    assert(meta.getAs[Int]("bucket_count") > 0)

    // a daily Main run on the stream's root: the bucketed evidence path
    // writes exactly the in-memory DAG's pairs
    nextBatch(b0).write.mode("overwrite").parquet(nb)
    graft.Main.run(spark, "/nonexistent/never_read", mainOut, cfg,
      partitions = 4, incremental = Some(nb), corpusFeatures = Some(state))
    val got = spark.read.parquet(s"$mainOut/incremental_pairs.parquet")
    val newFeat = Ingest.run(spark, spark.read.parquet(nb), cfg)
    val want = DedupPipeline.incrementalPairs(spark, newFeat,
      spark.read.parquet(s"$state/corpus_features.parquet"), cfg)
    assert(got.count() > 0)
    assert(sameRows(got, want))
    newFeat.unpersist()
  }

  test("a stream root without bucket columns is upgraded on the next batch") {
    val root = "/tmp/graft_sinc_legacy"
    rmrf(root)
    val (state, out) = (s"$root/state", s"$root/out")
    val b0 = ImageGen.generate(spark, bases = 12, seed = 42L).toDF()
    val b1 = nextBatch(b0)
    // the layout earlier stream bootstraps wrote: features, assignments and
    // a feature_config-only meta row
    val feat0 = Ingest.run(spark, b0, cfg)
    feat0.write.parquet(s"$state/corpus_features.parquet")
    DedupPipeline.runFromFeatures(spark, feat0, cfg).assignments
      .write.parquet(s"$state/assignments.parquet")
    spark.range(1).select(lit(cfg.featureConfigId).as("feature_config"))
      .write.parquet(s"$state/corpus_features_meta.parquet")
    feat0.unpersist()

    StreamingIncremental.processBatch(spark, b1, state, out, cfg, 1L)
    val buckets = spark.read.parquet(s"$state/corpus_buckets.parquet")
    assert(buckets.count() > 0 && buckets.columns.toSet == Set("b", "key"))
    val meta = spark.read.parquet(s"$state/corpus_features_meta.parquet").head()
    assert(meta.getAs[String]("bucket_config") == cfg.bucketConfigId)
    assert(meta.getAs[Long]("n_corpus") == b0.count())
    assert(spark.read.parquet(s"$state/corpus_features.parquet").count() ==
      b0.count() + b1.count())
    val asg = spark.read.parquet(s"$state/assignments.parquet")
    assert(sameRows(asg,
      DedupPipeline.run(spark, b0.unionByName(b1), cfg).assignments))
  }

  test("a stream batch under a drifted bucket config fails fast") {
    val root = "/tmp/graft_sinc_drift"
    rmrf(root)
    val (state, out) = (s"$root/state", s"$root/out")
    val b0 = ImageGen.generate(spark, bases = 4, seed = 42L).toDF()
    StreamingIncremental.processBatch(spark, b0, state, out, cfg, 0L)
    val drift = intercept[IllegalArgumentException] {
      StreamingIncremental.processBatch(spark, nextBatch(b0), state, out,
        cfg.copy(hammingMax = 7), 1L)
    }
    assert(drift.getMessage.contains("hammingMax=7"), drift.getMessage)
  }

  test("end-to-end through a real stream (foreachBatch)") {
    val state = "/tmp/graft_sinc_stream/state"
    val out = "/tmp/graft_sinc_stream/out"
    val ck = "/tmp/graft_sinc_stream/ck"
    Seq(state, out, ck).foreach(rmrf)
    val rows0 = ImageGen.generate(spark, bases = 6, seed = 42L).collect().toSeq
    val rows1 = ImageGen.generate(spark, bases = 3, seed = 99L)
      .collect().toSeq.map(r => r.copy(image_id = "s_" + r.image_id))

    val input = MemoryStream[ImageRow](spark)
    val q = StreamingIncremental.start(input.toDF(), state, out, cfg, ck)
    try {
      input.addData(rows0)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$state/assignments.parquet").count() ==
        rows0.size)
      input.addData(rows1)
      q.processAllAvailable()
      val asg = spark.read.parquet(s"$state/assignments.parquet")
      assert(asg.count() == rows0.size + rows1.size)
      assert(spark.read.parquet(s"$state/batch_1_done.parquet").count() == 1)
    } finally q.stop()
  }
}
