package graft.pipeline

import graft.{Main, SparkSpec}
import graft.config.DedupConfig
import graft.synth.ImageGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rows without a caption (null, "", or text that normalizes to "") share no
  * text: they must never merge on the caption side, in the batch DAG or in
  * the incremental fold. */
class CaptionlessSpec extends SparkSpec {
  import spark.implicits._

  private def rmrf(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** `df` with the caption of each listed image_id replaced. */
  private def recaption(df: DataFrame, caps: Seq[(String, String)]): DataFrame =
    caps.foldLeft(df) { case (d, (id, c)) =>
      d.withColumn("caption",
        when(col("image_id") === id, lit(c)).otherwise(col("caption")))
    }

  test("batch DAG: k caption-less images with unrelated pixels stay k clusters") {
    // one original per base: pixels of different bases are unrelated
    val originals = ImageGen.generate(spark, bases = 6, seed = 42L, light = true)
      .collect().filter(_.image_id.endsWith("_000")).sortBy(_.image_id)
    val caps = Seq[String](null, null, "", "", "!!!", "!!!")
    assert(originals.length == caps.length)
    val rows = originals.zip(caps).map { case (r, c) => r.copy(caption = c) }
    val res = DedupPipeline.run(spark, rows.toSeq.toDS().toDF(),
      DedupConfig.default)
    assert(res.assignments.count() == rows.length)
    assert(res.assignments.select("cluster_id").distinct().count() == rows.length,
      "caption-less rows must not share a cluster through the caption side")
    assert(res.dupPairs.count() == 0, res.dupPairs.collect().toSeq)
  }

  test("incremental fold equals a full re-run when corpus and batch hold caption-less rows") {
    val root = "/tmp/graft_captionless_spec"
    val Seq(in, nb, all, state, outC, outI, outA) =
      Seq("corpus", "new", "all", "state", "out_corpus", "out_inc", "out_all")
        .map(d => s"$root/$d")
    rmrf(root)
    val corpus = recaption(ImageGen.generate(spark, bases = 10, seed = 42L).toDF(),
      Seq("img_00000001_000" -> null, "img_00000002_000" -> "!!!"))
    val reingested = corpus.where(col("image_id").startsWith("img_00000003_"))
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
    val foreign = recaption(ImageGen.generate(spark, bases = 3, seed = 777L).toDF()
      .withColumn("image_id", concat(lit("new_x_"), col("image_id"))),
      Seq("new_x_img_00000000_000" -> null, "new_x_img_00000001_000" -> ""))
    val batch = reingested.unionByName(foreign)
    corpus.write.parquet(in)
    batch.write.parquet(nb)
    corpus.unionByName(batch).write.parquet(all)

    val cfg = DedupConfig.default
    Main.run(spark, in, outC, cfg, partitions = 4)
    Main.run(spark, in, outI, cfg, partitions = 4, incremental = Some(nb),
      corpusFeatures = Some(state), assignments = Some(s"$outC/assignments.parquet"))
    Main.run(spark, all, outA, cfg, partitions = 4)

    val combined = DedupPipeline.applyClusterRelabels(
        spark.read.parquet(s"$outC/assignments.parquet"),
        spark.read.parquet(s"$outI/relabels.parquet"))
      .unionByName(spark.read.parquet(s"$outI/new_assignments.parquet"))
    val full = spark.read.parquet(s"$outA/assignments.parquet")
    assert(combined.count() == full.count())
    assert(combined.exceptAll(full).count() == 0 &&
      full.exceptAll(combined).count() == 0,
      "delta fold must equal the from-scratch labeling")
  }
}
