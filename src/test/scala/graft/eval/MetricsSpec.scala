package graft.eval

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("accuracy@k and MRR: hand case") {
    // q1: truth at rank 1; q2: truth at rank 3; q3: truth absent
    val ranked = Seq(
      (1L, 10L, 1), (1L, 11L, 2),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1))
      .toDF("query_id", "cluster_id", "rank")
    val truth = Seq((1L, 10L), (2L, 22L), (3L, 99L))
      .toDF("query_id", "true_cluster_id")
    val m = Metrics.accuracyAndMrr(ranked, truth, Seq(1, 3)).head()
    assert(math.abs(m.getAs[Double]("acc_at_1") - 1.0 / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("acc_at_3") - 2.0 / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("mrr") - (1.0 + 1.0 / 3) / 3) < 1e-9)
  }

  test("pair recall/precision: hand case") {
    val pred = Seq(("a", "b"), ("c", "b"), ("x", "y")).toDF("a", "b")
    val oracle = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("a", "b")
    val m = Metrics.pairRecallPrecision(pred, oracle).head()
    assert(math.abs(m.getAs[Double]("recall") - 2.0 / 3) < 1e-9)   // (a,b),(b,c) hit
    assert(math.abs(m.getAs[Double]("precision") - 2.0 / 3) < 1e-9)
  }

  test("rocAuc: perfect, inverted, and known-AUC case") {
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("score", "label")
    assert(math.abs(Metrics.rocAuc(perfect, "score", "label") - 1.0) < 1e-9)
    val inverted = Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))
      .toDF("score", "label")
    assert(math.abs(Metrics.rocAuc(inverted, "score", "label")) < 1e-9)
    // one discordant pair of 4: AUC = 3/4
    val mixed = Seq((0.9, true), (0.4, true), (0.5, false), (0.1, false))
      .toDF("score", "label")
    assert(math.abs(Metrics.rocAuc(mixed, "score", "label") - 0.75) < 1e-9)
  }

  test("fBeta sweep finds the separating threshold") {
    // scores: new issues have low max-similarity
    val scored = Seq((0.1, true), (0.2, true), (0.7, false), (0.9, false))
      .toDF("score", "is_new")
    val best = Metrics.fBetaSweep(scored, "score", "is_new", beta = 1.0).head()
    assert(math.abs(best.getAs[Double]("fbeta") - 1.0) < 1e-9)
    assert(best.getAs[Double]("threshold") == 0.2)
  }

  test("fBetaSweepV2 matches a direct port of ImprovedUpdateRule(reverse=true)") {
    // (score, is_new, is_hit) — scores distinct so every prediction is its
    // own threshold row, like the reference's per-prediction sweep
    val preds = Seq(
      (0.05, true, false), (0.10, true, true), (0.20, false, false),
      (0.30, true, false), (0.40, false, true), (0.55, false, false),
      (0.60, false, true), (0.75, true, true), (0.90, false, true))
    // reference loop (attach_f_beta_v2.py:10 + f_beta/helpers.py:47-81):
    // ascending by score; start all-negative (TN = !new & hit, FN = rest);
    // each step flips one prediction to positive
    val sorted = preds.sortBy(_._1)
    var tn = sorted.count(p => !p._2 && p._3)
    var fn = sorted.length - tn
    var tp = 0; var fp = 0
    val expected = sorted.map { case (score, isNew, isHit) =>
      if (!isNew && isHit) tn -= 1 else fn -= 1
      if (isNew) tp += 1 else fp += 1
      val p = tp.toDouble / (tp + fp)
      val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      val f = if (tp == 0) 0.0 else 2 * p * r / (p + r)
      (score, p, r, f)
    }
    val got = Metrics.fBetaSweepV2(
        preds.toDF("score", "is_new", "is_hit"), "score", "is_new", "is_hit",
        beta = 1.0)
      .orderBy("threshold")
      .as[(Double, Double, Double, Double)].collect().toSeq
    assert(got.length == expected.length)
    got.zip(expected).foreach { case ((gt, gp, gr, gf), (et, ep, er, ef)) =>
      assert(gt == et)
      assert(math.abs(gp - ep) < 1e-12, s"precision at $gt")
      assert(math.abs(gr - er) < 1e-12, s"recall at $gt")
      assert(math.abs(gf - ef) < 1e-12, s"fbeta at $gt")
    }
    // and the v1 rule on the same input DIFFERS (the variant is real):
    // v1 recall ignores is_hit, so the two sweeps disagree wherever a
    // not-new miss sits above the threshold
    val v1 = Metrics.fBetaSweep(
        preds.map(p => (p._1, p._2)).toDF("score", "is_new"),
        "score", "is_new", beta = 1.0)
      .orderBy("threshold").as[(Double, Double, Double, Double)].collect()
    assert(v1.zip(got).exists { case ((_, _, r1, _), (_, _, r2, _)) => r1 != r2 })
  }

  test("fBeta sweeps yield an empty frame (not an NPE) on empty input") {
    val empty = Seq.empty[(Double, Boolean, Boolean)]
      .toDF("score", "is_new", "is_hit")
    assert(Metrics.fBetaSweep(empty, "score", "is_new", beta = 1.0).count() == 0)
    assert(Metrics.fBetaSweepV2(
      empty, "score", "is_new", "is_hit", beta = 1.0).count() == 0)
  }

  test("clusterAgreement: hand-computed ARI and NMI") {
    // a = {1,2},{3,4}; b = {1,2},{3},{4}: contingency (a1,b1)=2, (a2,b2)=1,
    // (a2,b3)=1 -> sumIJ=1, sumA=2, sumB=1, C2n=6
    //   ARI = (1 - 2*1/6) / ((2+1)/2 - 2*1/6) = (2/3)/(7/6) = 4/7
    //   MI  = .5 ln2 + .25 ln2 + .25 ln2 = ln2; Ha = ln2; Hb = 1.5 ln2
    //   NMI = ln2 / sqrt(1.5 ln2^2) = 1/sqrt(1.5)
    val a = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y")).toDF("id", "c")
    val b = Seq((1L, "p"), (2L, "p"), (3L, "q"), (4L, "r")).toDF("id", "c")
    val r = Metrics.clusterAgreement(a, b, "id", "c").head()
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Long]("clusters_a") == 2 && r.getAs[Long]("clusters_b") == 3)
    assert(math.abs(r.getAs[Double]("ari") - 4.0 / 7) < 1e-12)
    assert(math.abs(r.getAs[Double]("nmi") - 1.0 / math.sqrt(1.5)) < 1e-12)
  }

  test("clusterAgreement: identical partitions score 1 under any labels") {
    val a = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L)).toDF("id", "c")
    val b = Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, 5L)).toDF("id", "c")
    val r = Metrics.clusterAgreement(a, b, "id", "c").head()
    assert(math.abs(r.getAs[Double]("ari") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("nmi") - 1.0) < 1e-12)
  }

  test("clusterAgreement degenerate edges follow the documented convention") {
    // both trivial (single cluster each): ARI = NMI = 1
    val one = Seq((1L, 0L), (2L, 0L)).toDF("id", "c")
    val r1 = Metrics.clusterAgreement(one, one, "id", "c").head()
    assert(r1.getAs[Double]("ari") == 1.0 && r1.getAs[Double]("nmi") == 1.0)
    // one trivial, one not: NMI = 0
    val split = Seq((1L, 1L), (2L, 2L)).toDF("id", "c")
    val r2 = Metrics.clusterAgreement(one, split, "id", "c").head()
    assert(r2.getAs[Double]("nmi") == 0.0)
    // empty intersection
    val r3 = Metrics.clusterAgreement(one.limit(0), split, "id", "c").head()
    assert(r3.getAs[Long]("n") == 0)
  }

  test("clusterPairs emits all intra-cluster pairs") {
    val asg = Seq(("a", 1L), ("b", 1L), ("c", 1L), ("d", 2L)).toDF("id", "cluster")
    val pairs = Oracles.clusterPairs(asg, "id", "cluster")
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("clusterChurn: split, merge, stable, relabel, and arrivals ignored") {
    // before: {a,b}=1, {c,d}=2, {e}=3, {f}=4
    val before = Seq(("a", 1L), ("b", 1L), ("c", 2L), ("d", 2L),
      ("e", 3L), ("f", 4L)).toDF("id", "c")
    // after: 1 splits (a->10, b->11); 2 and 3 merge into 20 (c,d,e->20);
    // 4 survives intact under a NEW label (f->30, structural stability);
    // g is an arrival, ignored (assignmentDiff's axis)
    val after = Seq(("a", 10L), ("b", 11L), ("c", 20L), ("d", 20L),
      ("e", 20L), ("f", 30L), ("g", 99L)).toDF("id", "c")
    val r = Metrics.clusterChurn(before, after, "id", "c").head()
    assert(r.getAs[Long]("n_before") == 4)
    assert(r.getAs[Long]("n_after") == 4, "g's cluster 99 has no shared ids")
    assert(r.getAs[Long]("n_split") == 1, "only cluster 1 split")
    assert(r.getAs[Long]("n_merged") == 1, "only cluster 20 merged sources")
    assert(r.getAs[Long]("n_stable") == 1, "only 4->30 is 1:1 (label may move)")
  }

  test("transitivityAudit: triangle, path, triangle+pendant, noisy input") {
    def audit(edges: Seq[(Long, Long)]) =
      Metrics.transitivityAudit(edges.toDF("a", "b")).head()
    val tri = audit(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(tri.getAs[Long]("n_edges") == 3 && tri.getAs[Long]("n_wedges") == 3)
    assert(tri.getAs[Long]("n_triangles") == 1)
    assert(tri.getAs[Double]("transitivity") == 1.0)
    val path = audit(Seq((1L, 2L), (2L, 3L)))
    assert(path.getAs[Long]("n_wedges") == 1 &&
      path.getAs[Long]("n_triangles") == 0 &&
      path.getAs[Double]("transitivity") == 0.0)
    // triangle + pendant: degrees 2,2,3,1 -> wedges 1+1+3 = 5, one triangle
    val pend = audit(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(pend.getAs[Long]("n_wedges") == 5 &&
      pend.getAs[Long]("n_triangles") == 1)
    assert(pend.getAs[Double]("transitivity") == 0.6)
    // duplicates, reversed orientation, and self loops canonicalize away
    val noisy = audit(Seq((1L, 2L), (2L, 1L), (2L, 2L), (1L, 2L)))
    assert(noisy.getAs[Long]("n_edges") == 1 &&
      noisy.getAs[Long]("n_wedges") == 0 &&
      noisy.getAs[Double]("transitivity") == 0.0)
  }

  test("transitivityAudit counts every triangle exactly once on a clique") {
    // K5: edges 10, wedges 5*C(4,2) = 30, triangles C(5,3) = 10, trans = 1
    val k5 = for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)
    val r = Metrics.transitivityAudit(k5.toDF("a", "b")).head()
    assert(r.getAs[Long]("n_edges") == 10 && r.getAs[Long]("n_wedges") == 30)
    assert(r.getAs[Long]("n_triangles") == 10)
    assert(r.getAs[Double]("transitivity") == 1.0)
  }

  test("powerLawFit: exact two-point fit, degenerate guards, non-positive exclusion") {
    // counts {1,1,1,1,2,2}: spectrum {(1,4),(2,2)} — the q110 hand case:
    // slope ln(2/4)/ln 2 = -1, intercept ln 4, exact 2-point fit -> r2 = 1
    val counts = Seq(1L, 1L, 1L, 1L, 2L, 2L).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("id", "c")
    val r = Metrics.powerLawFit(counts, "c").head()
    assert(r.getAs[Long]("n_points") == 2)
    assert(r.getAs[Double]("slope") == -1.0)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(4)) < 1e-6)
    assert(r.getAs[Double]("r2") == 1.0)
    // one spectrum point -> zeros, not NaN
    val deg = Metrics.powerLawFit(Seq((1L, 3L), (2L, 3L)).toDF("id", "c"), "c").head()
    assert(deg.getAs[Long]("n_points") == 1)
    assert(deg.getAs[Double]("slope") == 0.0 && deg.getAs[Double]("r2") == 0.0)
    // zero/negative counts carry no log point — excluded, not NaN-poisoned
    val mixed = Seq((1L, 0L), (2L, -5L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L), (7L, 2L), (8L, 2L)).toDF("id", "c")
    val m = Metrics.powerLawFit(mixed, "c").head()
    assert(m.getAs[Long]("n_points") == 2 && m.getAs[Double]("slope") == -1.0)
  }

  test("clusterChurn: identical snapshots are all stable; empty overlap is all zero") {
    val snap = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("id", "c")
    val r = Metrics.clusterChurn(snap, snap, "id", "c").head()
    assert(r.getAs[Long]("n_stable") == 2 && r.getAs[Long]("n_split") == 0 &&
      r.getAs[Long]("n_merged") == 0)
    val other = Seq(("x", 5L)).toDF("id", "c")
    val z = Metrics.clusterChurn(snap, other, "id", "c").head()
    assert(z.getAs[Long]("n_before") == 0 && z.getAs[Long]("n_after") == 0 &&
      z.getAs[Long]("n_stable") == 0)
  }
}
