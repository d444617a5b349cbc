package graft.operators

import graft.SparkSpec
import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import graft.synth.ImageGen
import org.apache.spark.sql.functions._

/** The fused single-payload-pass ingest must agree with the separate
  * Validate + features path: same validation verdicts, same final cluster
  * assignments through runFromFeatures. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = DedupConfig.default
  private lazy val images = ImageGen.generate(spark, bases = 60, seed = 42L).toDF().cache()

  test("validation flags match Validate.perRow") {
    val fused = Ingest.run(spark, images, cfg, partitions = 4)
    val a = fused.select("id", "decode_ok", "phash_match", "dims_match", "valid")
      .as[(String, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    val b = Validate.perRow(spark, images)
      .as[(String, Boolean, Boolean, Boolean, Boolean)].collect().toSet
    assert(a == b)
    fused.unpersist()
  }

  test("runFromFeatures(Ingest.run) assignments == run(images) assignments") {
    val fused = Ingest.run(spark, images, cfg, partitions = 4)
    val viaIngest = DedupPipeline.runFromFeatures(spark, fused, cfg)
      .assignments.as[(String, Long)].collect().toMap
    val direct = DedupPipeline.run(spark, images, cfg)
      .assignments.as[(String, Long)].collect().toMap
    assert(viaIngest == direct)
    fused.unpersist()
  }

  test("validation report counts every row") {
    val fused = Ingest.run(spark, images, cfg, partitions = 4)
    val rep = Validate.report(fused).head()
    assert(rep.getAs[Long]("rows") == images.count())
    assert(rep.getAs[Long]("valid") == images.count()) // pristine synthetic table
    fused.unpersist()
  }

  test("a completed Main-style run leaves no cached RDD") {
    images.count() // materialize the fixture cache before the baseline snapshot
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the caller unpersists after consuming (the Main contract)
    val on = Ingest.run(spark, images, cfg, partitions = 4)
    on.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet != before)
    on.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "completed run must leave no lingering cached RDD")
  }

  test("embeddingReport: zero/NaN/mixed-dim counting, norm stats over finite rows") {
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f)),            // norm 5
      (2L, Array(0.0f, 0.0f)),            // zero vector
      (3L, Array(Float.NaN, 1.0f)),       // non-finite
      (4L, Array(Float.PositiveInfinity, 0.0f)), // non-finite
      (5L, Array(1.0f, 0.0f, 0.0f)))      // different dim, norm 1
      .toDF("vec_id", "embedding")
    val r = Validate.embeddingReport(vecs, "embedding").head()
    assert(r.getAs[Long]("n_vecs") == 5)
    assert(r.getAs[Long]("n_zero") == 1)
    assert(r.getAs[Long]("n_nonfinite") == 2)
    assert(r.getAs[Long]("n_dims") == 2)
    assert(r.getAs[Double]("min_norm") == 0.0, "zero vector's norm counts")
    assert(r.getAs[Double]("max_norm") == 5.0)
    assert(r.getAs[Double]("avg_norm") == 2.0, "(5 + 0 + 1)/3 over finite rows")
  }

  test("embeddingDrift: hand means, non-finite exclusion, zero-mean guard") {
    val a = Seq(
      (1L, Array(1.0f, 0.0f)),       // norm 1
      (2L, Array(0.0f, 1.0f)),       // norm 1 -> mean vec (0.5, 0.5)
      (3L, Array(Float.NaN, 9.0f)))  // excluded everywhere
      .toDF("vec_id", "embedding")
    val b = Seq((4L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Validate.embeddingDrift(a, b, "embedding").head()
    assert(r.getAs[Long]("dim") == 2)
    assert(r.getAs[Long]("n_a") == 2 && r.getAs[Long]("n_b") == 1)
    assert(r.getAs[Double]("mean_norm_a") == 1.0)
    assert(r.getAs[Double]("mean_norm_b") == 2.0)
    // cos((0.5, 0.5), (2, 0)) = 1 / (sqrt(0.5) * 2)
    assert(math.abs(r.getAs[Double]("mean_cosine") - 0.707107) < 1e-9)
    // identical slices: cosine exactly 1
    val same = Validate.embeddingDrift(a, a, "embedding").head()
    assert(same.getAs[Double]("mean_cosine") == 1.0)
    // an all-zero mean on one side yields the guarded 0.0, not NaN
    val z = Seq((5L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val rz = Validate.embeddingDrift(a, z, "embedding").head()
    assert(rz.getAs[Double]("mean_cosine") == 0.0)
  }

  test("tableProfile: nulls, exact distincts, native-type min/max, " +
    "identifier guard") {
    val df = Seq(
      (1L, Some("b"), Some(10)),
      (2L, Some("a"), Some(2)),   // numeric min 2 < 10 but string '10' < '2'
      (3L, None, Some(10)),
      (4L, Some("a"), None))
      .toDF("id", "s", "v")
    val rows = Validate.tableProfile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("id").getAs[Long]("n_rows") == 4)
    assert(rows("id").getAs[Long]("n_nulls") == 0)
    assert(rows("id").getAs[Long]("n_distinct") == 4)
    assert(rows("s").getAs[Long]("n_nulls") == 1)
    // countDistinct skips NULLs: {a, b}
    assert(rows("s").getAs[Long]("n_distinct") == 2)
    assert(rows("s").getAs[String]("min_val") == "a" &&
      rows("s").getAs[String]("max_val") == "b")
    // min/max on the NATIVE int type, cast after: 2..10, not "10".."2"
    assert(rows("v").getAs[String]("min_val") == "2" &&
      rows("v").getAs[String]("max_val") == "10")
    // approx mode still produces a sane cardinality for tiny inputs
    val ap = Validate.tableProfile(df, Seq("id"), approx = true)
      .head().getAs[Long]("n_distinct")
    assert(ap >= 3 && ap <= 5)
    intercept[IllegalArgumentException] {
      Validate.tableProfile(df, Seq("id; DROP"))
    }
  }
}
