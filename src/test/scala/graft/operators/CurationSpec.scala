package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (0 until 2000)
    .map(i => (i.toLong, s"stratum${i % 4}", s"host${i % 37}", 1 + (i * 7) % 90))
    .toDF("doc_id", "lang", "source", "n_tokens")

  /** A single-rate sample: no stratum has its own rate. */
  private def sampleAt(df: org.apache.spark.sql.DataFrame, rate: Double,
      salt: String = "graft") =
    Curation.stratifiedSample(df, "doc_id", "lang", Map.empty, rate, salt)

  test("stratifiedSample: reproducible, rate-accurate, nested across rates") {
    val s20 = sampleAt(docs, 0.2).select("doc_id").as[Long].collect().toSet
    val s20b = sampleAt(docs, 0.2).select("doc_id").as[Long].collect().toSet
    assert(s20 == s20b)
    assert(math.abs(s20.size / 2000.0 - 0.2) < 0.05, s"rate off: ${s20.size}")
    // threshold monotonicity: a lower rate is a SUBSET of a higher one
    val s50 = sampleAt(docs, 0.5).select("doc_id").as[Long].collect().toSet
    assert(s20.subsetOf(s50))
    // different salt = a different (still rate-accurate) sample
    val alt = sampleAt(docs, 0.2, salt = "other").select("doc_id").as[Long].collect().toSet
    assert(alt != s20)
    // boundary rates
    assert(sampleAt(docs, 1.0).count() == 2000)
    assert(sampleAt(docs, 0.0).count() == 0)
  }

  test("stratifiedSample keeps duplicate keys together") {
    val dup = docs.union(docs) // every key twice
    val n = sampleAt(dup, 0.3)
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(n.nonEmpty && n.forall(_ == 2), "a key was split by sampling")
  }

  test("stratifiedSample: per-stratum rates hold, absent strata use default") {
    val rates = Map("stratum0" -> 0.8, "stratum1" -> 0.1)
    val got = Curation.stratifiedSample(docs, "doc_id", "lang", rates, 0.4)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // each stratum has 500 rows
    assert(math.abs(got("stratum0") / 500.0 - 0.8) < 0.08, got.toString)
    assert(math.abs(got("stratum1") / 500.0 - 0.1) < 0.08, got.toString)
    assert(math.abs(got("stratum2") / 500.0 - 0.4) < 0.08, got.toString)
    assert(math.abs(got("stratum3") / 500.0 - 0.4) < 0.08, got.toString)
    // membership within a stratum matches a single-rate sample at that rate
    // (same salt, same key -> same hash -> same decision)
    val plain = sampleAt(docs.where(col("lang") === "stratum0"), 0.8)
      .select("doc_id").as[Long].collect().toSet
    val strat = Curation.stratifiedSample(docs, "doc_id", "lang", rates, 0.4)
      .where(col("lang") === "stratum0")
      .select("doc_id").as[Long].collect().toSet
    assert(strat == plain)
  }

  test("capPerKey: at most n per key, best-first, deterministic") {
    val capped = Curation.capPerKey(docs, "source", 10,
      Seq(col("n_tokens").desc, col("doc_id").asc))
    val perKey = capped.groupBy("source").count().select("count").as[Long].collect()
    assert(perKey.forall(_ <= 10))
    assert(perKey.count(_ == 10) == 37) // every host has > 10 rows
    // kept rows are exactly the top-10 by (n_tokens desc, doc_id asc)
    val gotHost0 = capped.where(col("source") === "host0")
      .select("doc_id").as[Long].collect().toSet
    val expectHost0 = docs.where(col("source") === "host0")
      .select("doc_id", "n_tokens").as[(Long, Int)].collect()
      .sortBy { case (id, t) => (-t, id) }.take(10).map(_._1).toSet
    assert(gotHost0 == expectHost0)
  }

  test("packAssignments equals the sequential fold, straddles boundaries") {
    val budget = 512L
    val got = Curation.packAssignments(docs, "doc_id", "n_tokens", budget)
      .select("doc_id", "start_offset", "bin_first", "bin_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // driver-side sequential oracle
    var off = 0L
    val rows = docs.select("doc_id", "n_tokens").as[(Long, Int)].collect().sortBy(_._1)
    rows.zip(got).foreach { case ((id, n), (gid, gOff, gFirst, gLast)) =>
      assert(gid == id)
      assert(gOff == off, s"offset at $id")
      assert(gFirst == off / budget, s"bin_first at $id")
      val last = if (n > 0) (off + n - 1) / budget else off / budget
      assert(gLast == last, s"bin_last at $id")
      off += n
    }
    // the layout genuinely straddles window boundaries somewhere
    assert(got.exists { case (_, _, f, l) => l > f })
    // zero-token docs take no space and stay in one bin
    val withEmpty = docs.union(Seq((9999L, "x", "h", 0)).toDF(docs.columns: _*))
    val e = Curation.packAssignments(withEmpty, "doc_id", "n_tokens", budget)
      .where(col("doc_id") === 9999L)
      .select("bin_first", "bin_last").as[(Long, Long)].head()
    assert(e._1 == e._2)
  }

  test("removeBoilerplateLines: heavy lines cut everywhere, order kept, " +
      "short lines exempt, all docs returned") {
    val corpus = (0 until 30).map { i =>
      val body = s"unique body line $i\nsecond unique $i"
      val header = if (i % 2 == 0) "SHARED HEADER\n" else ""
      val footer = if (i % 3 == 0) "\nok\nFOOTER BOILERPLATE" else ""
      (i.toLong, header + body + footer)
    }.toDF("doc_id", "text")
    val out = Curation.removeBoilerplateLines(corpus, "doc_id", "text",
        minDf = 5, minLineLen = 5)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.size == 30, "every doc comes back exactly once")
    out.foreach { case (id, clean, nRemoved) =>
      assert(!clean.contains("SHARED HEADER"), s"header survived in $id")
      assert(!clean.contains("FOOTER BOILERPLATE"), s"footer survived in $id")
      // unique body stays, in order; the short 'ok' line is exempt
      val expected = s"unique body line $id\nsecond unique $id" +
        (if (id % 3 == 0) "\nok" else "")
      assert(clean == expected, s"doc $id: got '$clean'")
      val expRemoved = (if (id % 2 == 0) 1L else 0L) + (if (id % 3 == 0) 1L else 0L)
      assert(nRemoved == expRemoved, s"doc $id removed count")
    }
    // a doc that is ALL boilerplate comes back empty, not missing
    val allBoiler = corpus.union(
      Seq((999L, "SHARED HEADER\nSHARED HEADER")).toDF("doc_id", "text"))
    val e = Curation.removeBoilerplateLines(allBoiler, "doc_id", "text",
        minDf = 5, minLineLen = 5)
      .where(col("doc_id") === 999L)
      .as[(Long, String, Long)].head()
    assert(e._2 == "" && e._3 == 2L)
  }

  test("mixtureRates: exact allotments, clamp at 1.0, unweighted excluded") {
    // strata: stratum0..3, 500 rows each; n_tokens totals are exact longs
    val weights = Map("stratum0" -> 0.6, "stratum1" -> 0.4)
    val totals = docs.groupBy("lang").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    val budget = 30000L
    val rates = Curation.mixtureRates(docs, "lang", "n_tokens", weights, budget)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rates.keySet == Set("stratum0", "stratum1"), "unweighted strata leak")
    val w = weights.values.sum
    rates.foreach { case (k, (_, avail, target, rate)) =>
      assert(avail == totals(k))
      assert(target == budget * weights(k) / w)
      assert(rate == math.min(1.0, target / avail.toDouble))
    }
    // a budget above every stratum's total clamps all rates to exactly 1.0
    val clamped = Curation.mixtureRates(docs, "lang", "n_tokens",
        weights, 10000000L)
      .select("rate").as[Double].collect()
    assert(clamped.nonEmpty && clamped.forall(_ == 1.0))
  }

  test("mixtureSample: per-stratum token take tracks the allotment; " +
      "rate-1.0 strata keep every row; sample nests across budgets") {
    val weights = Map("stratum0" -> 0.6, "stratum1" -> 0.4)
    val sampled = Curation.mixtureSample(docs, "doc_id", "lang", "n_tokens",
      weights, 30000L)
    val take = sampled.groupBy("lang").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    // allotments: 18000 / 12000 tokens; md5 thresholding is uniform so the
    // realized take lands near the allotment (not exact — rows are lumpy)
    assert(math.abs(take("stratum0") - 18000.0) / 18000.0 < 0.15, take.toString)
    assert(math.abs(take("stratum1") - 12000.0) / 12000.0 < 0.15, take.toString)
    // huge budget -> every weighted row kept verbatim
    val all = Curation.mixtureSample(docs, "doc_id", "lang", "n_tokens",
      weights, 10000000L)
    assert(all.count() ==
      docs.where(col("lang").isin("stratum0", "stratum1")).count())
    // monotone nesting: smaller budget selects a subset
    val small = Curation.mixtureSample(docs, "doc_id", "lang", "n_tokens",
        weights, 10000L).select("doc_id").as[Long].collect().toSet
    val big = Curation.mixtureSample(docs, "doc_id", "lang", "n_tokens",
        weights, 30000L).select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big))
  }

  test("redactPii: each family redacted and counted on its own text state; " +
      "clean text untouched") {
    val in = Seq(
      (1L, "reach me at jane.doe+spam@mail-host.example.org or"
        + " bob@x.io thanks"),
      (2L, "server 192.168.0.1 and 10.0.255.7 up"),
      (3L, "call +1 555 0123 456 today"),
      (4L, "mixed alice@a.co from 8.8.8.8 dial +44 20 7946 0958 end"),
      (5L, "no pii here, just words and 42 numbers like 3.14")
    ).toDF("doc_id", "text")
    val out = Curation.redactPii(in, "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "reach me at <EMAIL> or <EMAIL> thanks")
    assert((out(1L)._3, out(1L)._4, out(1L)._5) == ((2L, 0L, 0L)))
    assert(out(2L)._2 == "server <IP> and <IP> up")
    assert((out(2L)._3, out(2L)._4, out(2L)._5) == ((0L, 2L, 0L)))
    assert(out(3L)._2 == "call <PHONE> today")
    assert((out(3L)._3, out(3L)._4, out(3L)._5) == ((0L, 0L, 1L)))
    assert(out(4L)._2 == "mixed <EMAIL> from <IP> dial <PHONE> end")
    assert((out(4L)._3, out(4L)._4, out(4L)._5) == ((1L, 1L, 1L)))
    // 3.14 is not an IPv4, 42 is not a phone (no leading +): untouched
    assert(out(5L)._2 == "no pii here, just words and 42 numbers like 3.14")
    assert((out(5L)._3, out(5L)._4, out(5L)._5) == ((0L, 0L, 0L)))
  }

  test("leakFreeSplit: cluster members never straddle the split; " +
      "unassigned docs split solo; frac tracks on units") {
    // 600 docs in 200 clusters of 3, plus 400 singletons missing from the
    // assignment table entirely (the left-join solo path)
    val clustered = (0 until 600).map(i => (i.toLong, s"text ${i % 200}"))
    val solo = (1000 until 1400).map(i => (i.toLong, s"solo text $i"))
    val corpus = (clustered ++ solo).toDF("doc_id", "text")
    val assignments = (0 until 600)
      .map(i => (i.toLong, (i % 200).toLong)).toDF("id", "cluster")
    val out = Curation.leakFreeSplit(corpus, "doc_id", assignments,
        "id", "cluster", evalFrac = 0.3)
      .select("doc_id", "split_unit", "split")
      .as[(Long, String, String)].collect()
    assert(out.length == 1000, "every doc comes back exactly once")
    // coherence: one split per unit — no cluster straddles train/eval
    val perUnit = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(perUnit.values.forall(_.size == 1), "a split unit straddled")
    // solo docs got their own unit; clustered docs share theirs
    assert(out.filter(_._1 >= 1000).forall(r => r._2 == s"solo:${r._1}"))
    assert(out.filter(_._1 < 600).groupBy(_._2).forall(_._2.length == 3))
    // the eval FRACTION is on units, within sampling noise of 0.3
    val units = out.map(r => (r._2, r._3)).distinct
    val evalFrac = units.count(_._2 == "eval").toDouble / units.length
    assert(math.abs(evalFrac - 0.3) < 0.07, s"unit eval frac $evalFrac")
    // reproducible: a second run selects identically
    val again = Curation.leakFreeSplit(corpus, "doc_id", assignments,
        "id", "cluster", evalFrac = 0.3)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again == out.map(r => (r._1, r._3)).toSet)
  }

  test("temperatureRates: alpha=0.5 gives sqrt-ratio down-sampling, alpha=1 no-op") {
    // masses 100 / 400 / 1600: rate_i = sqrt(min_mass / mass_i) at alpha=0.5
    val df = Seq(("a", 100L), ("b", 400L), ("c", 1600L), (null, 999L))
      .toDF("lang", "toks")
    val half = Curation.temperatureRates(df, "lang", "toks", alpha = 0.5)
      .select("stratum", "n_tokens", "rate")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(half.keySet == Set("a", "b", "c"), "null stratum must drop")
    assert(half("a") == ((100L, 1.0)), "smallest stratum keeps everything")
    assert(half("b") == ((400L, 0.5)) && half("c") == ((1600L, 0.25)))
    val one = Curation.temperatureRates(df, "lang", "toks", alpha = 1.0)
      .select("rate").as[Double].collect()
    assert(one.forall(_ == 1.0), s"alpha=1 must be a no-op: ${one.toSeq}")
  }

  test("captionSpam: many-image captions flag, galleries of one image do not") {
    def img(i: Int): Array[Byte] = Array.fill(8)(i.toByte)
    val rows = Seq.newBuilder[(String, Array[Byte], String)]
    // spam: one caption over 5 distinct images (plus a repeat row of one)
    (0 until 5).foreach(i => rows += (((s"s$i"), img(i), "click here now")))
    rows += (("s5", img(0), "click here now"))
    // gallery: one image re-posted 6 times under one caption -> NOT spam
    (0 until 6).foreach(i => rows += ((s"g$i", img(100), "my one photo")))
    // normalization folds case/punct variants into one caption key
    rows += (("n0", img(50), "Great Product!!"))
    rows += (("n1", img(51), "great product"))
    rows += (("n2", img(52), "great   product"))
    // unique captions -> never flagged
    (0 until 4).foreach(i => rows += ((s"u$i", img(200 + i), s"unique $i")))
    val images = rows.result().toDF("image_id", "bytes", "caption")
    val got = Curation.captionSpam(images, "caption", "bytes", minImages = 3)
      .select("caption", "n_images", "n_rows")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("click here now", 5L, 6L), ("Great Product!!", 3L, 3L)),
      s"flagged set wrong: $got")
  }

  test("packingReport: straddlers, window count, and fill by hand") {
    // budget 4, token counts in id order: 3, 2, 0, 2 -> cums 3, 5, 5, 7
    val docs = Seq((1L, 3L), (2L, 2L), (3L, 0L), (4L, 2L))
      .toDF("doc_id", "n_tokens")
    val r = Curation.packingReport(docs, "doc_id", "n_tokens", 4L).head()
    assert(r.getAs[Long]("n_docs") == 4 && r.getAs[Long]("n_tokens") == 7)
    assert(r.getAs[Long]("n_windows") == 2)
    // only doc 2 spans the 4-token boundary (offsets 3..4)
    assert(r.getAs[Long]("n_straddlers") == 1)
    assert(r.getAs[Double]("straddle_frac") == 0.25)
    assert(r.getAs[Double]("fill_frac") == 0.875)
    // empty corpus: all zeros, no division blowups
    val empty = Curation.packingReport(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", 4L).head()
    assert(empty.getAs[Long]("n_docs") == 0 &&
      empty.getAs[Long]("n_windows") == 0)
    assert(empty.getAs[Double]("fill_frac") == 0.0)
  }

  test("dataCard: hand-computed corpus summary row") {
    val docs = Seq(
      (1L, "the cat and the dog"), // 5 toks, sr 0.6 -> en
      (2L, "the cat and the dog"), // exact duplicate of 1
      (3L, "zz qq ww"),            // 3 toks, sr 0 -> other
      (4L, "")                     // empty
    ).toDF("doc_id", "text")
    val r = Curation.dataCard(docs, "doc_id", "text").head()
    assert(r.getAs[Long]("n_docs") == 4 && r.getAs[Long]("n_empty_docs") == 1)
    assert(r.getAs[Long]("n_dup_docs") == 1)
    assert(r.getAs[Long]("n_tokens") == 13)
    // vocabulary: the, cat, and, dog, zz, qq, ww
    assert(r.getAs[Long]("n_token_types") == 7)
    assert(r.getAs[Double]("mean_tokens") == 3.25)
    // counts sorted (0, 3, 5, 5): first cum >= 0.5*4 is at value 3
    assert(r.getAs[Long]("p50_tokens") == 3)
    assert(r.getAs[Double]("pct_en") == 0.5)
  }

  test("removeRepeatedSpans: shared 3-gram coverage, untouched uniques, " +
    "all-shared and short docs, guards") {
    val docs = Seq(
      (1L, "x y z p q r s t"),      // shares "x y z p" prefix with doc 2
      (2L, "x y z p q2 u v w"),     // -> 3-grams (x y z), (y z p) heavy
      (3L, "completely different words here"),
      (4L, "x y z"),                // the whole doc is a heavy gram
      (5L, "a b"))                  // shorter than n: no grams, untouched
      .toDF("doc_id", "text")
    val got = Curation.removeRepeatedSpans(docs, "doc_id", "text",
        n = 3, minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))).toMap
    // positions 0..3 covered by the two overlapping heavy grams
    assert(got(1L) == (("q r s t", 4L)), got(1L).toString)
    assert(got(2L) == (("q2 u v w", 4L)), got(2L).toString)
    assert(got(3L) == (("completely different words here", 0L)))
    // "x y z" occurs in docs 1, 2, and 4 (df 3): doc 4 is ALL shared mass
    assert(got(4L) == (("", 3L)))
    assert(got(5L) == (("a b", 0L)))
    intercept[IllegalArgumentException] {
      Curation.removeRepeatedSpans(docs, "doc_id", "text", 3, 1)
    }
    intercept[IllegalArgumentException] {
      Curation.removeRepeatedSpans(docs, "doc_id", "text", 0, 2)
    }
    // surviving text keeps its RAW form — removal must not rewrite
    // casing/punctuation of what it keeps
    val raw = Seq((1L, "Hello, World! This is unique prose."),
      (2L, "Entirely different Raw, text? here!")).toDF("doc_id", "text")
    val r = Curation.removeRepeatedSpans(raw, "doc_id", "text", 3, 2)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[String]("clean_text"))
      .toMap
    assert(r(1L) == "Hello, World! This is unique prose.")
    // identical docs SHORTER than n contain no n-gram: untouched, never
    // masked by the degraded whole-doc shingle
    val short = Seq((1L, "happy new year"), (2L, "happy new year"))
      .toDF("doc_id", "text")
    val s5 = Curation.removeRepeatedSpans(short, "doc_id", "text", 5, 2)
      .collect().map(x => x.getAs[Long]("id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_removed")))).toMap
    assert(s5(1L) == (("happy new year", 0L)) &&
      s5(2L) == (("happy new year", 0L)), s5.toString)
  }

  test("removeRepeatedSpans: untouched docs take the narrow passthrough " +
    "(no token-level rebuild), same token-rebuilt output") {
    // the round-6 passthrough: docs with zero covered positions skip the
    // posexplode/anti-join/collect_list reassembly entirely and are emitted
    // as concat_ws over the token array — output identical (clean_text is
    // token-rebuilt on both paths: whitespace runs collapse, ends trim)
    val docs = Seq(
      (1L, "x y z p q r"), (2L, "x y z p u v"),      // heavy "x y z"/"y z p"
      (3L, " spaced   out\ttokens  "),               // untouched, messy ws
      (4L, "plain unique words entirely"))           // untouched, clean
      .toDF("doc_id", "text")
    val out = Curation.removeRepeatedSpans(docs, "doc_id", "text",
      n = 3, minDocs = 2)
    val got = out.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), got.toString)
    // both paths rebuild from the raw-token stream: single spaces, trimmed
    assert(got(3L) == (("spaced out\ttokens", 0L)), got(3L).toString)
    assert(got(4L) == (("plain unique words entirely", 0L)))
    assert(got(1L)._2 == 4L && got(2L)._2 == 4L, got.toString)
    // plan shape: the rebuild side is gated by a semi-join on affected ids
    // and the passthrough side by the complementary anti-join
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("weightedSample: exact A-ES selection vs an independent Scala " +
    "replication; zero/null weights excluded; guards") {
    val rows = (1L to 20L).map(i => (i, Some(i.toDouble))) ++
      Seq((21L, Some(0.0)), (22L, Option.empty[Double]))
    val df = rows.toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", k = 5)
      .select("id").as[Long].collect().toSet
    // independent replication of the priority race
    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(id: Long, w: Double): Double = {
      val hex = md.digest(s"graft$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val v = java.lang.Long.parseLong(hex, 16)
      -math.log((v + 0.5) / 4294967296.0) / w
    }
    val expect = (1L to 20L).map(i => (pri(i, i.toDouble), i))
      .sortBy(identity).take(5).map(_._2).toSet
    assert(got == expect, s"got $got expect $expect")
    intercept[IllegalArgumentException] {
      Curation.weightedSample(df, "id", "w", k = 0)
    }
  }

  test("dedupWeights: min-id canonicals with occurrence counts, " +
    "schema preserved") {
    val docs = Seq(
      (5L, "dup text", "en"),
      (2L, "dup text", "en"),   // canonical of the group of 3
      (9L, "dup text", "de"),   // same text, other cols differ: canonical's kept
      (7L, "unique", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.dedupWeights(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), r.getAs[Long]("weight")))).toMap
    assert(out.keySet == Set(2L, 7L))
    assert(out(2L) == (("en", 3L)))   // canonical row's own columns survive
    assert(out(7L) == (("en", 1L)))
    // weights conserve mass: sum == input rows
    assert(out.values.map(_._2).sum == 4L)
  }
}
