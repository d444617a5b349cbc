package graft.pipeline

import graft.SparkSpec
import graft.config.DedupConfig
import graft.functions.HashKernels
import graft.io.CheckpointStore
import graft.model.ImageRow
import graft.synth.{ImageCodec, ImageGen}
import org.apache.spark.sql.functions._

/** Golden end-to-end gates (SURVEY.md section 5 / BASELINE.md):
  * dup-pair recall >= 0.99 vs the exact brute-force oracle at identical
  * config, ground-truth cluster parity, per-row fidelity, resume. */
class ImagePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = DedupConfig.default
  private val bases = 120L
  private lazy val images = ImageGen.generate(spark, bases, seed = 42L).toDF().cache()
  private lazy val result = DedupPipeline.run(spark, images, cfg)

  /** Exact oracle: brute-force all-pairs with the same kernels + config
    * (shared-config requirement — the gate measures LSH loss only). */
  private lazy val oraclePairs: Set[(String, String)] = {
    val rows = images.select("image_id", "caption", "phash")
      .as[(String, String, Long)].collect()
    val feats = rows.map { case (id, caption, phash) =>
      val toks = caption.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
        .map(t => graft.functions.Oracles.hashString(t, cfg.seed))
      val sh = HashKernels.shingleHashesFromTokenHashes(toks, cfg.shingleK, cfg.seed)
      val sim = HashKernels.simhash64Array(HashKernels.phashTokens(phash), cfg.seed)
      (id, sh, sim)
    }
    (for {
      (ia, sha, sima) <- feats; (ib, shb, simb) <- feats if ia < ib
      if HashKernels.jaccard(sha, shb) >= cfg.jaccardMin ||
         java.lang.Long.bitCount(sima ^ simb) <= cfg.hammingMax
    } yield (ia, ib)).toSet
  }

  test("dup-pair recall >= 0.99 (cluster co-membership) and evidence precision == 1.0") {
    // recall: every oracle dup pair must land in one cluster (the pipeline
    // emits representative-level evidence pairs; members reach their reps via
    // exact-identity star edges, so co-membership is the full pair set)
    val clusterPairs = graft.eval.Oracles.clusterPairs(result.assignments, "image_id", "cluster_id")
      .as[(String, String)].collect().toSet
    assert(oraclePairs.nonEmpty)
    val recall = (oraclePairs intersect clusterPairs).size.toDouble / oraclePairs.size
    assert(recall >= 0.99,
      s"recall=$recall oracle=${oraclePairs.size} clusterPairs=${clusterPairs.size}")
    // precision of the explicit evidence pairs: each must be a true oracle pair
    val evidence = result.dupPairs.select("a", "b").as[(String, String)].collect().toSet
    assert((evidence diff oraclePairs).isEmpty,
      s"evidence pairs disagree with oracle kernels: ${(evidence diff oraclePairs).take(5)}")
  }

  test("cluster assignments partition all rows and match ground truth") {
    val assigned = result.assignments.as[(String, Long)].collect().toMap
    val truth = ImageGen.expectedClusters(spark, bases, seed = 42L)
      .collect().map(e => e.image_id -> e.cluster_id).toMap
    assert(assigned.keySet == truth.keySet, "assignment is not a partition of the input")
    // pairwise parity: same-truth-cluster <=> same-predicted-cluster
    val ids = truth.keys.toSeq.sorted
    var fn = 0; var fp = 0; var pos = 0
    for (i <- ids.indices; j <- (i + 1) until ids.size) {
      val same = truth(ids(i)) == truth(ids(j))
      val pred = assigned(ids(i)) == assigned(ids(j))
      if (same) { pos += 1; if (!pred) fn += 1 }
      else if (pred) fp += 1
    }
    assert(pos > 0)
    assert(fn.toDouble / pos <= 0.01, s"ground-truth pair recall: missed $fn of $pos")
    assert(fp == 0, s"$fp cross-cluster merges")
  }

  test("per-row fidelity: PSNR >= 40 dB for lossy, exact pixels for png; captions from vocab") {
    val rows = images.as[ImageRow].collect()
    val byBase = rows.groupBy(_.image_id.substring(4, 12).toLong)
    byBase.foreach { case (baseIdx, members) =>
      val base = ImageGen.renderBase(42L, baseIdx)
      members.foreach { r =>
        assert(r.caption.nonEmpty && r.w > 0 && r.h > 0)
        if (r.fmt == "jpg") {
          val p = graft.operators.Oracles.psnrAgainst(base, r.bytes)
          assert(p >= 40.0, s"${r.image_id}: PSNR=$p")
        }
      }
    }
  }

  test("resume: second run from checkpoints reproduces identical assignments") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val store1 = new CheckpointStore(spark, dir, "run1")
    val r1 = DedupPipeline.run(spark, images, cfg, Some(store1))
      .assignments.as[(String, Long)].collect().toMap
    // relaunch: same runId → verified_pairs read from parquet, not recomputed
    val store2 = new CheckpointStore(spark, dir, "run1")
    assert(store2.exists("verified_pairs"))
    val r2 = DedupPipeline.run(spark, images, cfg, Some(store2))
      .assignments.as[(String, Long)].collect().toMap
    // cluster labels are content-derived, so full equality holds
    assert(r1 == r2)
    // metrics recorded the computed stage with wall time
    val m = store1.metrics().select("stage").as[String].collect()
    assert(m.contains("verified_pairs"))
    // per-partition lineage: one row per output file, footer row counts sum
    // to the stage's metric row count, and every file has real bytes
    val lin = store1.lineage()
      .filter($"stage" === "verified_pairs")
      .select("file", "bytes", "rows").as[(String, Long, Long)].collect()
    assert(lin.nonEmpty)
    assert(lin.forall(_._2 > 0))
    // file paths are stage-RELATIVE (a flat parquet write: bare part files,
    // no directory separators, no URI scheme) — pins the qualified-base
    // relativize; an absolute/unqualified-base regression would leak
    // 'file:/...' or '/tmp/...' here
    assert(lin.forall(r => !r._1.contains("/") && r._1.endsWith(".parquet")),
      s"lineage paths not stage-relative: ${lin.map(_._1).take(3).toSeq}")
    val metricRows = store1.metrics().filter($"stage" === "verified_pairs")
      .select("rows").as[Long].head()
    assert(lin.map(_._3).sum == metricRows)
    // resume (store2) read the checkpoint: no second lineage batch appended
    assert(store2.lineage().filter($"stage" === "verified_pairs").count() == lin.length)
    // checkpointed runs persist the bucket-occupancy profile as a stage,
    // with the invariants of any histogram: rows conserved, classes sane
    assert(store1.exists("bucket_histogram"))
    // read through the store API (layout-agnostic): the stage exists, so
    // the compute thunk must never run
    val hist = store1.stage("bucket_histogram")(
      sys.error("bucket_histogram must come from the checkpoint"))
    assert(hist.count() > 0)
    assert(hist.select("n_rows").as[Long].collect().sum > 0)
    // ... and the cap-loss posture next to it: statuses legal, volumes
    // conserved (emitted + dropped = exact), nothing dropped outside the
    // degrade status
    assert(store1.exists("cap_loss"))
    val loss = store1.stage("cap_loss")(
      sys.error("cap_loss must come from the checkpoint"))
      .select("status", "exact_pairs", "emitted_pairs", "dropped_pairs")
      .as[(String, Long, Long, Long)].collect()
    assert(loss.nonEmpty)
    assert(loss.forall(r => Set("exact", "salted", "degraded")(r._1)))
    assert(loss.forall(r => r._2 == r._3 + r._4), "volume conservation")
    assert(loss.filter(_._1 != "degraded").forall(_._4 == 0L))
  }

  test("resume: a verified_pairs stage without image ids is refused") {
    // the layout older builds wrote: no image_a/image_b columns
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-old").toString
    val store = new CheckpointStore(spark, dir, "old")
    store.stage("verified_pairs")(Seq((1L, 2L, 1.0, 0, 0, true))
      .toDF("a", "b", "jaccard", "hamming", "lcs", "is_dup"))
    val e = intercept[IllegalArgumentException](DedupPipeline.run(spark,
      ImageGen.generate(spark, 4L, seed = 5L).toDF(), cfg, Some(store)))
    assert(e.getMessage.contains("verified_pairs"))
  }

  test("phash: variants stay close, unrelated bases far (hamming histogram)") {
    val rows = images.select("image_id", "phash").as[(String, Long)].collect()
    val byBase = rows.groupBy(_._1.substring(4, 12))
    // intra-base (excluding caption twins, which have unrelated pixels)
    val intra = byBase.values.toSeq.flatMap { ms =>
      val s = ms.toSeq
      for (a <- s; b <- s if a._1 < b._1)
        yield java.lang.Long.bitCount(a._2 ^ b._2)
    }
    val interSample = {
      val firsts = byBase.values.map(_.head).toSeq.sortBy(_._1).take(40)
      for (a <- firsts; b <- firsts if a._1 < b._1)
        yield java.lang.Long.bitCount(a._2 ^ b._2)
    }
    assert(interSample.count(_ <= cfg.hammingMax * 2) == 0,
      "unrelated phashes too close — candidate pollution at scale")
    assert(intra.count(_ <= cfg.hammingMax) >= intra.size / 2,
      "too few variant pairs within Hamming threshold")
  }

  test("winnowed anchors surface long-match pairs no band or chunk catches") {
    // one shared ~100-char caption run inside otherwise disjoint junk:
    // trigram-shingle Jaccard ~ 0.1 (below the 0.5 verify gate) and
    // maximally distant phashes — only the anchor family can connect them
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    def junk(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val df = Seq(
      ("img_a", junk("qa") + " " + run, 0L),
      ("img_b", run + " " + junk("zb"), -1L))
      .toDF("image_id", "caption", "phash")
    val without = DedupPipeline.run(spark, df, cfg) // lcsMin = 0
      .assignments.as[(String, Long)].collect().toMap
    assert(without("img_a") != without("img_b"),
      "pair must not cluster without the LCS detector — fixture broken")
    val withAnchors = DedupPipeline.run(spark, df, cfg.copy(lcsMin = 64))
      .assignments.as[(String, Long)].collect().toMap
    assert(withAnchors("img_a") == withAnchors("img_b"),
      "anchor candidate family failed to reach the LCS verify rule")
  }
}
