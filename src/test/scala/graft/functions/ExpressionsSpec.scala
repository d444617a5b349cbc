package graft.functions

import graft.SparkSpec
import graft.functions.Oracles._
import org.apache.spark.sql.functions._

/** The Catalyst expressions must (a) produce the same bits as the kernels
  * (codegen path == interpreted path == oracle path) and (b) stay inside
  * whole-stage codegen. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq("the red fox jumps over the lazy dog",
    "the red fox jumps over a lazy dog", "completely unrelated words here",
    "", "one")

  test("expression pipeline matches kernel computation bit-for-bit") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select($"id",
        shingle_hashes(tokens($"text"), 3, 42L).as("sh"))
      .withColumn("sig", minhash_signature($"sh", 16, 42L))
      .withColumn("sim", simhash64($"sh", 42L))
      .withColumn("bk", lsh_band_keys($"sig", 8, 2, 42L))
      .as[(Long, Array[Long], Array[Long], Long, Array[Long])]
      .collect().sortBy(_._1)

    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
      val sh = HashKernels.shingleHashesFromTokenHashes(
        toks.map(Oracles.hashString(_, 42L)), 3, 42L)
      val (_, gsh, gsig, gsim, _) = got(i)
      assert(gsh.sameElements(sh), s"shingles differ for '$t'")
      assert(gsig.sameElements(HashKernels.minhashArray(sh, 16, 42L)))
      assert(gsim == HashKernels.simhash64Array(sh, 42L))
    }
  }

  test("binary expressions: jaccard / lcs / cosine / hamming on columns") {
    val df = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L), "abcdef", "zabcy",
        Array(1f, 0f), Array(1f, 0f), 5L, 6L))
      .toDF("s1", "s2", "t1", "t2", "v1", "v2", "h1", "h2")
    val r = df.select(
      jaccard_sim($"s1", $"s2").as("j"),
      lcs_length($"t1", $"t2").as("l"),
      cosine_sim($"v1", $"v2").as("c"),
      dot_product($"v1", $"v2").as("d"),
      hamming64($"h1", $"h2").as("h")).head()
    assert(r.getDouble(0) == 0.5)
    assert(r.getInt(1) == 3)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) == 1.0) // (1,0).(1,0)
    assert(r.getInt(4) == 2) // 101 ^ 110 = 011
  }

  test("expressions survive whole-stage codegen (plan contains codegen span)") {
    // a range source (not a local relation, which constant-folds away)
    val df = spark.range(100)
      .withColumn("text", concat_ws(" ", lit("tok"), ($"id" % 7).cast("string"),
        lit("word"), ($"id" % 3).cast("string")))
    val plan = df.select(minhash_signature(
        shingle_hashes(tokens($"text"), 3, 42L), 16, 42L).as("sig"))
      .queryExecution.executedPlan
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    val projLine = plan.toString.linesIterator
      .find(_.contains("minhash_signature")).getOrElse("")
    assert(projLine.trim.startsWith("*("),
      s"signature projection fell out of codegen:\n$plan")
  }

  test("fast_align stays inside whole-stage codegen too") {
    val df = spark.range(100)
      .withColumn("ta", split(concat_ws(" ", lit("a"), ($"id" % 5).cast("string")), " "))
      .withColumn("tb", split(concat_ws(" ", lit("a"), ($"id" % 3).cast("string")), " "))
    val plan = df.select(
        fast_align($"ta", $"tb").as("s"))
      .queryExecution.executedPlan
    val line = plan.toString.linesIterator
      .find(_.contains("fast_align")).getOrElse("")
    assert(line.trim.startsWith("*("),
      s"fast_align fell out of codegen:\n$plan")
  }

  test("icws / weighted_jaccard: exact values, determinism, calibration") {
    // weighted_jaccard hand values
    val wj = Seq(
      (1L, Array(7L), Array(7L, 7L, 7L)),          // {a:1} vs {a:3} -> 1/3
      (2L, Array(1L, 2L), Array(2L, 3L)),          // sum-min 1 / (2+2-1) -> 1/3
      (3L, Array(5L, 5L), Array(5L, 5L)),          // identical -> 1
      (4L, Array.empty[Long], Array.empty[Long]))  // both empty -> 1
      .toDF("id", "a", "b")
      .select($"id", weighted_jaccard($"a", $"b").as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(wj(1L) - 1.0 / 3) < 1e-12)
    assert(math.abs(wj(2L) - 1.0 / 3) < 1e-12)
    assert(wj(3L) == 1.0 && wj(4L) == 1.0)

    // identical multisets -> identical signatures (slot-for-slot);
    // collision fraction over 256 slots estimates the WEIGHTED jaccard:
    // {a:1} vs {a:3} has SET jaccard 1 but wj 1/3 — the estimator must
    // track the weighted value, not the set one
    val sigs = Seq(
      ("x", Array(7L, 8L, 9L)), ("y", Array(7L, 8L, 9L)),
      ("p", Array(7L)), ("q", Array(7L, 7L, 7L)))
      .toDF("k", "h")
      .select($"k", icws_signature($"h", 256, 42L).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("x") == sigs("y"), "identical multisets must collide fully")
    val coll = sigs("p").zip(sigs("q")).count { case (a, b) => a == b } / 256.0
    assert(coll > 1.0 / 3 - 0.12 && coll < 1.0 / 3 + 0.12,
      s"ICWS collision rate $coll far from weighted jaccard 1/3")
  }

  test("char_entropy stays inside whole-stage codegen") {
    val df = spark.range(100)
      .withColumn("text", concat_ws(" ", lit("tok"), ($"id" % 7).cast("string")))
    val plan = df.select(char_entropy($"text").as("h"))
      .queryExecution.executedPlan
    val line = plan.toString.linesIterator
      .find(_.contains("char_entropy")).getOrElse("")
    assert(line.trim.startsWith("*("),
      s"char_entropy fell out of codegen:\n$plan")
  }

  test("null propagation: null input yields null output, no NPE") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("a b c d"))).toDF("id", "text")
    val out = df.select($"id",
        shingle_hashes(split(coalesce($"text", lit(null).cast("string")), " "), 2, 42L).as("sh"))
      .collect()
    assert(out.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(!out.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("char_entropy: hand values, empty, null, and non-ASCII counting") {
    val df = Seq(
      (1L, Some("aabb")),              // two symbols, p=1/2 each -> 1 bit
      (2L, Some("aaab")),              // -(3/4)lg(3/4)-(1/4)lg(1/4)
      (3L, Some("aaaa")),              // single symbol -> 0
      (4L, Some("")),                  // empty -> 0 by convention
      (5L, Option.empty[String]),      // null -> null
      (6L, Some("αβ")),      // 2 distinct BMP code points -> 1 bit
      (7L, Some("😀😁"))) // 2 surrogate-pair code points -> 1 bit
      .toDF("id", "text")
      .select($"id", char_entropy($"text").as("h")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(math.abs(df(1L).get - 1.0) < 1e-12)
    val expected2 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2)
    assert(math.abs(df(2L).get - expected2) < 1e-12)
    assert(df(3L).get == 0.0)
    assert(df(4L).get == 0.0)
    assert(df(5L).isEmpty)
    assert(math.abs(df(6L).get - 1.0) < 1e-12)
    // surrogate pairs must count as ONE code point each, not two chars
    assert(math.abs(df(7L).get - 1.0) < 1e-12)
  }

  test("text helpers: normalize / token_count / lang_id / quality") {
    val r = Seq(("  The RED,   fox!! ", "the and of to in is it on a that"))
      .toDF("a", "b")
      .select(normalize_text($"a").as("n"), token_count($"b").as("tc"),
        lang_id($"b").as("lid"), quality_score($"b").as("q"))
      .head()
    assert(r.getString(0) == "the red fox")
    assert(r.getInt(1) == 10)
    assert(r.getString(2) == "en")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("stopword_ratio kernel == regex chain on edge and generated inputs") {
    val cases = Seq(
      "the quick brown fox", // 1 stopword / 4 tokens
      "the and of to in",    // all stopwords
      "theory andover offset", // stopword PREFIXES must not count
      "xthe thex a4 4a a",   // embedded/joined; exactly "a" counts
      "THE The tHe",         // case folding
      "!!! ,,, ;;;",         // punctuation-only -> 0 tokens -> 0.0
      "", " ", "\t\n the \n at\t", // whitespace shapes
      "a-b the,fox (and) [of]", // punctuation separators
      "café the naïve İstanbul", // multi-byte + dotted I
      "9to5 at7 7at at 2in", // digit-adjacent runs
      "a", "at", "zz")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select($"id", stopword_ratio($"text").as("k"),
        stopword_ratio_regex($"text").as("r"))
      .as[(Long, Double, Double)].collect()
    got.foreach { case (i, k, r) =>
      assert(k == r, s"case $i '${cases(i.toInt)}': kernel $k != regex $r")
    }
    // null propagates as null on both spellings
    val nr = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(stopword_ratio($"text").as("k"),
        stopword_ratio_regex($"text").as("r")).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("quality_score / distinct_token_ratio kernels == expression chains") {
    val cases = Seq(
      "the quick brown fox jumped over it", // stopwords + mid-length words
      "a b c d e f",                        // short words (mean < 3)
      "superlongwordswithoutanystopswords everywhere here", // mean > 12
      "Stop. Right! Now, please; really: yes?", // punctuation-dense
      "dup dup dup dup", "one", "", "   ",
      "x" * 30 + " yy", "café über naïve",
      "a,b.c!d", "the the the")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select($"id",
        quality_score($"text").as("qk"), quality_score_exprs($"text").as("qe"),
        distinct_token_ratio($"text").as("rk"),
        distinct_token_ratio_arrays($"text").as("re"))
      .as[(Long, Double, Double, Double, Double)].collect()
    got.foreach { case (i, qk, qe, rk, re) =>
      assert(qk == qe, s"quality case $i '${cases(i.toInt)}': $qk != $qe")
      assert(rk == re, s"dtr case $i '${cases(i.toInt)}': $rk != $re")
    }
    // nulls: the original chain's when/otherwise arms swallow the null at
    // every branch, so quality_score(NULL) is 0.0 on BOTH spellings (the
    // SQL oracles' CASE ELSE arms agree); dtr coalesces to 1.0 on both
    val nr = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(quality_score($"text").as("q"),
        quality_score_exprs($"text").as("qe"),
        distinct_token_ratio($"text").as("r"),
        distinct_token_ratio_arrays($"text").as("re")).head()
    assert(nr.getDouble(0) == 0.0 && nr.getDouble(1) == 0.0)
    assert(nr.getDouble(2) == 1.0 && nr.getDouble(3) == 1.0)
  }

  test("subword_count: BPE-ish class split vs whitespace count") {
    // "don't stop!!" -> don | ' | t | stop | ! | ! = 6 pieces, 2 ws tokens;
    // "x2=y_3;" -> x | 2 | = | y | _ | 3 | ; = 7 pieces, 1 ws token
    val r = Seq(("don't stop!!", "x2=y_3;", ""))
      .toDF("a", "b", "c")
      .select(subword_count($"a").as("sa"), token_count($"a").as("ta"),
        subword_count($"b").as("sb"), subword_count($"c").as("sc"))
      .head()
    assert(r.getInt(0) == 6 && r.getInt(1) == 2)
    assert(r.getInt(2) == 7)
    assert(r.getInt(3) == 0)
    // vertical tab is whitespace in the explicit class on BOTH engines (Java
    // \s includes \x0B, RE2's does not — the class is spelled out so the
    // oracle can never diverge): "a<VT>b" -> a | b = 2 pieces
    val vt = Seq(("a\u000Bb")).toDF("a")
      .select(subword_count($"a").as("s")).head()
    assert(vt.getInt(0) == 2)
  }
}
