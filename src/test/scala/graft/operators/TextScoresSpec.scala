package graft.operators

import graft.SparkSpec
import graft.eval.Metrics
import org.apache.spark.sql.functions._

class TextScoresSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "red fox jumps"), (2L, "red fox sleeps"), (3L, "blue whale sings"))
    .toDF("doc_id", "text")

  test("idf table: df counts and idf formula") {
    val idf = TextScores.idfTable(docs, "doc_id", "text")
      .as[(String, Long, Double)].collect()
      .map { case (t, df, i) => t -> ((df, i)) }.toMap
    assert(idf("red")._1 == 2 && idf("blue")._1 == 1)
    assert(math.abs(idf("red")._2 - (1.0 + math.log(3.0 / 3))) < 1e-9)
    assert(math.abs(idf("blue")._2 - (1.0 + math.log(3.0 / 2))) < 1e-9)
  }

  test("lerch pair score = sum of idf^2 over common tokens") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val got = TextScores.lerchPairScores(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val idfRed = 1.0 + math.log(3.0 / 3)   // df=2
    val idfFox = 1.0 + math.log(3.0 / 3)
    assert(math.abs(got((1L, 2L)) - (idfRed * idfRed + idfFox * idfFox)) < 1e-9)
    assert(!got.contains((1L, 3L))) // no common tokens -> no row
  }

  test("fast align: identical docs score high, disjoint score zero, shift decays") {
    val same = Oracles.fastAlignScore(Array("a", "b", "c"), Array("a", "b", "c"))
    assert(math.abs(same - 1.0) < 1e-9) // every token matches at distance 0
    val disjoint = Oracles.fastAlignScore(Array("a", "b"), Array("x", "y"))
    assert(disjoint == 0.0)
    val shifted = Oracles.fastAlignScore(Array("a", "b", "c"), Array("x", "a", "b"))
    assert(shifted > 0.0 && shifted < same)
  }

  test("fast_align column (codegen'd expression) matches the driver kernel") {
    val cases = Seq(
      (Array("a", "b", "c"), Array("a", "b", "c")),
      (Array("a", "b"), Array("x", "y")),
      (Array("a", "b", "c"), Array("x", "a", "b")),
      (Array("a", "a", "b"), Array("b", "a")), // repeated tokens: first pos wins
      (Array.empty[String], Array("z")))
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a.toSeq, b.toSeq) }.toDF("i", "ta", "tb")
    val got = df.select($"i", graft.functions.fast_align($"ta", $"tb").as("s"))
      .as[(Int, Double)].collect().toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(got(i) - Oracles.fastAlignScore(a, b)) < 1e-12,
        s"case $i: got=${got(i)} want=${Oracles.fastAlignScore(a, b)}")
    }
  }

  test("bootstrap CI: deterministic, brackets the mean, partitioning-independent") {
    val scores = (1 to 200).map(i => (i.toLong, (i % 10).toDouble)).toDF("id", "s")
    val r1 = Metrics.bootstrapCI(scores, "s", "id").head()
    val r2 = Metrics.bootstrapCI(scores.repartition(7), "s", "id").head()
    assert(r1 == r2, "bootstrap not partitioning-independent")
    val (m, lo, hi) = (r1.getDouble(0), r1.getDouble(1), r1.getDouble(2))
    assert(lo <= m && m <= hi)
    assert(math.abs(m - 4.5) < 0.5) // population mean 4.5
  }

  test("tfidf cosine: IP/(norm*norm) hand-computed; identical docs score 1") {
    val pairs = Seq((1L, 2L), (1L, 1L), (1L, 3L)).toDF("a", "b")
    val got = TextScores.tfidfCosinePairs(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def idf(df: Int) = 1.0 + math.log(3.0 / (df + 1))
    // doc1 = red(2) fox(2) jumps(1); doc2 = red fox sleeps
    val w2 = idf(2) * idf(2); val w1 = idf(1) * idf(1)
    val ip = 2 * w2                      // common: red, fox
    val norm = math.sqrt(2 * w2 + w1)    // both docs have the same norm shape
    assert(math.abs(got((1L, 2L)) - ip / (norm * norm)) < 1e-9)
    assert(math.abs(got((1L, 1L)) - 1.0) < 1e-9) // self pair: cosine exactly 1
    assert(!got.contains((1L, 3L)))      // no common token -> no row
  }

  test("tfidf index retrieval: posting join scores, top-k ranks, minIdf prunes") {
    // corpus idf (N=3): red/fox df=2 -> idf=1; jumps/sleeps/blue/whale/sings
    // df=1 -> idf = 1 + ln(1.5)
    val queries = docs.where($"doc_id" === 1L)
    val got = Ranking.topKItems(
        TextScores.tfidfIndexScores(docs, queries, "doc_id", "text"), 3)
      .select("query_id", "item_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    val w1 = { val i = 1.0 + math.log(3.0 / 2); i * i } // df=1 tokens
    // reachable items: self (red+fox+jumps), doc2 (red+fox); doc3 shares
    // no token and must be ABSENT (inverted-index semantics), not scored 0
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 1L, 1), (1L, 2L, 2)))
    assert(math.abs(got(0)._4 - (2.0 + w1)) < 1e-9) // self: red^2+fox^2+jumps^2
    assert(math.abs(got(1)._4 - 2.0) < 1e-9)        // doc2: red^2+fox^2
    // minIdf above the df=2 tokens' idf (1.0) prunes red/fox postings:
    // only 'jumps' remains indexed for the query -> self-match only
    val pruned = Ranking.topKItems(
        TextScores.tfidfIndexScores(docs, queries, "doc_id", "text", minIdf = 1.1), 3)
      .select("item_id").as[Long].collect().toSeq
    assert(pruned == Seq(1L))
  }

  test("repetition signals: hand-computed ratios, degenerate text flagged") {
    val in = Seq(
      (1L, "a b c d"),          // all distinct: ratio 1, dup bigrams 0
      (2L, "a a a a"),          // 1/4 distinct; bigrams all "a a" -> 2/3 dup
      (3L, "spam spam spam spam spam spam ham"),
      (4L, "x"),                // single token: no bigrams
      (5L, null.asInstanceOf[String]) // null text -> empty-doc row, not -1/null
    ).toDF("doc_id", "text")
    val got = TextScores.repetitionSignals(in, "doc_id", "text")
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4, 1.0, 0.0)))
    assert(got(2L)._2 == 4 && got(2L)._3 == 0.25)
    assert(got(2L)._4 == math.rint((1.0 - 1.0 / 3) * 1e4) / 1e4) // 4-dp rounded
    // doc3: 7 tokens, 2 distinct; 6 bigrams, 2 distinct ("spam spam", "spam ham")
    assert(got(3L)._2 == 7 && got(3L)._3 == math.rint(2.0 / 7 * 1e4) / 1e4)
    assert(got(3L)._4 == math.rint((1.0 - 2.0 / 6) * 1e4) / 1e4)
    assert(got(4L) == ((4L, 1, 1.0, 0.0)))
    assert(got(5L) == ((5L, 0, 1.0, 0.0)))
  }

  test("noveltyExact: hand-computed fractions") {
    val cfg = graft.config.DedupConfig.default
    // corpus with enough token variety that probe trigrams cannot collide
    val corpus = (0 until 120).map { i =>
      (i.toLong, s"w${i % 30} w${(i + 7) % 30} w${(i + 13) % 30} w${(i + 21) % 30} w${(i + 2) % 30}")
    }.toDF("doc_id", "text")
    val batch = Seq(
      (1000L, "w3 w10 w16 w24 w5"),   // verbatim corpus doc 3 -> novelty 0
      (2000L, "zz1 zz2 zz3"),         // one fully novel trigram -> 1.0
      (3000L, "w0 w7 w13 qq qq")      // trigrams: (w0 w7 w13) seen; (w7 w13 qq), (w13 qq qq) novel
    ).toDF("doc_id", "text")
    val got = TextScores.noveltyExact(batch, corpus, "doc_id", "text", cfg)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1000L) == ((1000L, 3, 0.0)))
    assert(got(2000L) == ((2000L, 1, 1.0)))
    assert(got(3000L)._2 == 3 &&
      got(3000L)._3 == math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("heavyNgrams: df and total counts by hand; short docs emit nothing") {
    val corpus = Seq(
      (1L, "click here to accept click here to accept"), // bigram df source
      (2L, "click here to win"),
      (3L, "click here to win again"),
      (4L, "to accept"),                                  // < n tokens for n=3
      (5L, "unrelated words entirely")).toDF("doc_id", "text")
    val got = TextScores.heavyNgrams(corpus, "doc_id", "text", n = 3, minDf = 2)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // "click here to": docs 1 (twice), 2, 3 -> df 3, total 4
    assert(got("click here to") == ((3L, 4L)))
    // "here to accept": doc 1 twice only -> df 1 < minDf -> absent
    assert(!got.contains("here to accept"))
    assert(got("here to win") == ((2L, 2L)))
    assert(!got.keys.exists(_.startsWith("unrelated")))
  }

  test("duplicateLineSignals: hand fractions; null text degrades to empty doc") {
    val docs = Seq(
      (1L, "a\nb\na"),      // 3 lines, 2 distinct -> 1 - 2/3
      (2L, "only line"),    // 1 line, 0.0
      (3L, "x\nx\nx\nx"),   // 4 lines, 1 distinct -> 0.75
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextScores.duplicateLineSignals(docs, "doc_id", "text")
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3, 2, math.rint((1.0 - 2.0 / 3) * 1e4) / 1e4)))
    assert(got(2L) == ((2L, 1, 1, 0.0)))
    assert(got(3L) == ((3L, 4, 1, 0.75)))
    assert(got(4L) == ((4L, 1, 1, 0.0)), "null text = one empty line, clean")
  }

  test("frequencySpectrum: hand-counted frequency-of-frequencies") {
    // counts: a=4, b=2, c=2, d=1  ->  spectrum {1:1, 2:2, 4:1}
    val docs = Seq((1L, "a b a"), (2L, "a c b"), (3L, "a c d"),
      (4L, ""), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextScores.frequencySpectrum(docs, "text")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 4L -> 1L))
  }

  test("bm25IndexScores: hand-computed Okapi terms, saturation and length norm") {
    val corpus = Seq((1L, "x x y"), (2L, "x z")).toDF("doc_id", "text")
    val queries = Seq((10L, "x y")).toDF("doc_id", "text")
    val (k1, b) = (1.2, 0.75)
    val got = TextScores.bm25IndexScores(corpus, queries, "doc_id", "text", k1, b)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // n = 2, avgdl = 2.5; df: x=2, y=1; idf = ln((n-df+0.5)/(df+0.5)+1)
    val idfX = math.log(0.5 / 2.5 + 1); val idfY = math.log(1.5 / 1.5 + 1)
    def term(idf: Double, tf: Long, dl: Long) =
      idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 2.5))
    val d1 = term(idfX, 2, 3) + term(idfY, 1, 3)
    val d2 = term(idfX, 1, 2)
    assert(got.keySet == Set((10L, 1L), (10L, 2L)))
    assert(math.abs(got((10L, 1L)) - d1) < 1e-12, s"d1 ${got((10L, 1L))} vs $d1")
    assert(math.abs(got((10L, 2L)) - d2) < 1e-12)
    assert(got((10L, 1L)) > got((10L, 2L)),
      "two query-term hits must outscore one")
    // saturation: doubling tf must NOT double the term
    assert(term(idfX, 4, 3) < 2 * term(idfX, 2, 3))
  }

  test("bm25IndexScores: empty / all-empty-text corpus yields an empty " +
      "frame with the contract schema") {
    val corpus = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "x y")).toDF("doc_id", "text")
    val got = TextScores.bm25IndexScores(corpus, queries, "doc_id", "text")
    assert(got.columns.toSeq == Seq("query_id", "item_id", "score"))
    assert(got.count() == 0)
  }

  test("tfidfBm25IndexScores: both fused scores match the single-index " +
      "operators pair-for-pair") {
    // candidate sets are identical by construction; scores must agree to
    // summation-order tolerance (the operators' rounding contract is 4
    // decimals downstream)
    val corpus = Seq((1L, "x x y"), (2L, "x z"), (3L, "q r s t"),
      (4L, ""), (5L, "y y z w")).toDF("doc_id", "text")
    val queries = Seq((10L, "x y"), (20L, "z q")).toDF("doc_id", "text")
    val fused = TextScores
      .tfidfBm25IndexScores(corpus, queries, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val tf = TextScores.tfidfIndexScores(corpus, queries, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val bm = TextScores.bm25IndexScores(corpus, queries, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(fused.keySet == tf.keySet && fused.keySet == bm.keySet,
      s"candidate sets diverge: ${fused.keySet} vs ${tf.keySet} vs ${bm.keySet}")
    fused.foreach { case (k, (ft, fb)) =>
      assert(math.abs(ft - tf(k)) < 1e-12, s"tfidf mismatch at $k")
      assert(math.abs(fb - bm(k)) < 1e-12, s"bm25 mismatch at $k")
    }
  }

  test("bigramLmScores: hand-computed add-alpha probabilities (self-score)") {
    // corpus: c2 = {(<s>,a):3, (a,b):2, (a,c):1}; c1 = {<s>:3, a:3}; V = 3
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val a = 0.5
    val got = TextScores.bigramLmScores(corpus, corpus, "doc_id", "text", a)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val pSA = (3 + a) / (3 + a * 3); val pAB = (2 + a) / (3 + a * 3)
    val pAC = (1 + a) / (3 + a * 3)
    assert(got(1L)._1 == 2)
    assert(math.abs(got(1L)._2 - -(math.log(pSA) + math.log(pAB)) / 2) < 1e-6)
    assert(math.abs(got(3L)._2 - -(math.log(pSA) + math.log(pAC)) / 2) < 1e-6)
    assert(got(1L) == got(2L), "identical docs score identically")
    // the common chain (a b, seen twice) is more probable than the rare one
    assert(got(1L)._2 < got(3L)._2)
  }

  test("bigramLmScores: new batch vs fixed corpus — unseen stays finite") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "z z"), // (<s>,z) unseen bigram, seen context; (z,z) unseen context
      (11L, "a"),   // single token still scores (conditioned on BOS)
      (12L, ""),    // zero tokens -> dropped
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val a = 0.5
    val got = TextScores.bigramLmScores(corpus, batch, "doc_id", "text", a)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(10L, 11L), "empty and null docs dropped")
    val pSZ = a / (3 + a * 3)       // unseen bigram, context <s> has mass 3
    val pZZ = a / (0 + a * 3)       // unseen context: exactly 1/V
    assert(math.abs(got(10L)._2 - -(math.log(pSZ) + math.log(pZZ)) / 2) < 1e-6)
    assert(got(11L)._1 == 1)
    assert(math.abs(got(11L)._2 - -math.log((3 + a) / (3 + a * 3))) < 1e-6)
  }

  test("zipfFit: exact two-point fit and degenerate guards") {
    // spectrum {(1, 4), (2, 2)}: slope ln(2/4)/ln 2 = -1, intercept ln 4,
    // two points fit exactly -> r2 = 1
    val docs = Seq((1L, "a b c d e e f f")).toDF("doc_id", "text")
    val r = TextScores.zipfFit(docs, "text").head()
    assert(r.getAs[Long]("n_points") == 2)
    assert(r.getAs[Double]("slope") == -1.0)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(4)) < 1e-6)
    assert(r.getAs[Double]("r2") == 1.0)
    // one spectrum point: no variance to fit -> zeros, not NaN
    val deg = TextScores.zipfFit(Seq((1L, "a")).toDF("doc_id", "text"),
      "text").head()
    assert(deg.getAs[Long]("n_points") == 1)
    assert(deg.getAs[Double]("slope") == 0.0 && deg.getAs[Double]("r2") == 0.0)
  }

  test("distributionDrift: identical slices have zero divergence") {
    val docs = Seq((1L, "a b b c"), (2L, "c d")).toDF("doc_id", "text")
    val r = TextScores.distributionDrift(docs, docs, "text").head()
    assert(r.getAs[Long]("n_types_a") == 4 &&
      r.getAs[Long]("n_types_b") == 4 && r.getAs[Long]("n_types_union") == 4)
    assert(r.getAs[Double]("kl_ab") == 0.0 && r.getAs[Double]("kl_ba") == 0.0)
    assert(r.getAs[Double]("js_divergence") == 0.0 &&
      r.getAs[Double]("total_variation") == 0.0)
  }

  test("distributionDrift: hand-computed Jeffreys-smoothed divergences") {
    val a = Seq((1L, "x x")).toDF("doc_id", "text")
    val b = Seq((2L, "y")).toDF("doc_id", "text")
    val r = TextScores.distributionDrift(a, b, "text").head()
    assert(r.getAs[Long]("n_types_a") == 1 && r.getAs[Long]("n_types_b") == 1)
    assert(r.getAs[Long]("n_types_union") == 2)
    // union vocab {x, y}: p = (2.5/3, 0.5/3), q = (0.5/2, 1.5/2)
    val (px, py) = (2.5 / 3, 0.5 / 3)
    val (qx, qy) = (0.25, 0.75)
    val klAb = px * math.log(px / qx) + py * math.log(py / qy)
    val klBa = qx * math.log(qx / px) + qy * math.log(qy / py)
    val (mx, my) = ((px + qx) / 2, (py + qy) / 2)
    val js = (px * math.log(px / mx) + py * math.log(py / my)) / 2 +
      (qx * math.log(qx / mx) + qy * math.log(qy / my)) / 2
    val tv = (math.abs(px - qx) + math.abs(py - qy)) / 2
    assert(math.abs(r.getAs[Double]("kl_ab") - klAb) < 1e-6)
    assert(math.abs(r.getAs[Double]("kl_ba") - klBa) < 1e-6)
    assert(math.abs(r.getAs[Double]("js_divergence") - js) < 1e-6)
    assert(math.abs(r.getAs[Double]("total_variation") - tv) < 1e-6)
    // JS and TV are symmetric in the slice order; KL is not
    val rev = TextScores.distributionDrift(b, a, "text").head()
    assert(rev.getAs[Double]("js_divergence") ==
      r.getAs[Double]("js_divergence"))
    assert(rev.getAs[Double]("total_variation") ==
      r.getAs[Double]("total_variation"))
    assert(math.abs(rev.getAs[Double]("kl_ab") -
      r.getAs[Double]("kl_ba")) < 1e-12)
  }
}
