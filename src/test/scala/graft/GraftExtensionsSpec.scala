package graft

import org.apache.spark.sql.SparkSession

/** SQL-function surface: the same codegen'd kernels reachable from plain SQL,
  * both via runtime registration and via the SparkSessionExtensions hook. */
class GraftExtensionsSpec extends SparkSpec {

  test("register exposes every kernel as a SQL function") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
           graft_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L))      AS jac,
           graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F))       AS cos,
           graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))          AS dot,
           graft_lcs_length('hello world', 'say hello')             AS lcs,
           size(graft_minhash(array(7L, 8L, 9L), 16))               AS sig_n,
           size(graft_oph(array(7L, 8L, 9L), 16))                   AS oph_n,
           size(graft_oph_band_keys(array(7L, 8L, 9L), 16, 4, 4))   AS oph_b,
           size(graft_band_keys(graft_minhash(array(7L), 16), 4, 4)) AS bands_n,
           size(graft_shingles(array('a','b','c','d'), 3))          AS sh_n,
           graft_simhash64(array(5L, 6L))                           AS sim,
           size(graft_phash_tokens(81985529216486895L))             AS ph_n,
           graft_phash_canonical(81985529216486895L)                AS ph_c,
           graft_phash_transpose(81985529216486895L)                AS ph_t,
           graft_phash_rot90(81985529216486895L)                    AS ph_r,
           graft_phash_canonical_d4(81985529216486895L)             AS ph_d4,
           graft_fingerprint('abc')                                 AS fp,
           graft_srp_bucket(array(0.5F, -0.5F), 8)                  AS srp,
           size(graft_winnow_anchors('abcdefghijklmnop', 4, 8))     AS wa_n
        """).head()
    assert(row.getAs[Double]("jac") === 0.5)
    assert(row.getAs[Double]("cos") === 1.0)
    assert(row.getAs[Double]("dot") === 11.0)
    assert(row.getAs[Int]("lcs") === 5)
    assert(row.getAs[Int]("sig_n") === 16)
    assert(row.getAs[Int]("oph_n") === 16)
    assert(row.getAs[Int]("oph_b") === 4)
    assert(row.getAs[Int]("bands_n") === 4)
    assert(row.getAs[Int]("sh_n") === 2)
    assert(row.getAs[Int]("ph_n") === 8)
    assert(row.getAs[Long]("ph_c") ===
      graft.functions.HashKernels.phashCanonical(81985529216486895L))
    assert(row.getAs[Long]("ph_t") ===
      graft.functions.HashKernels.phashTranspose(81985529216486895L))
    assert(row.getAs[Long]("ph_r") ===
      graft.functions.HashKernels.phashRot90(81985529216486895L))
    assert(row.getAs[Long]("ph_d4") ===
      graft.functions.HashKernels.phashCanonicalD4(81985529216486895L))
    assert(row.getAs[Long]("fp") !== 0L)
    // 16 chars, k=4 -> 13 grams <= w=8? no: m=13 > w=8 -> winnowed scan;
    // density bound only — exact content equality vs the Column API:
    val wa = row.getAs[Int]("wa_n")
    assert(wa >= 1 && wa <= 13)
    // out-of-range window must fail at resolution, not AIOOBE per row
    intercept[Exception] {
      spark.sql("SELECT graft_winnow_anchors('abcdef', 4, 0)").collect()
    }
    val sqlAnchors = spark.sql(
      "SELECT graft_winnow_anchors('abcdefghijklmnop', 4, 8) AS a")
      .head().getSeq[Long](0)
    val colAnchors = spark.range(1).select(graft.functions.winnow_anchors(
        org.apache.spark.sql.functions.lit("abcdefghijklmnop"), 4, 8).as("a"))
      .head().getSeq[Long](0)
    assert(sqlAnchors === colAnchors)
    // every table kernel is a SQL function under its table name; the ones
    // without a SQL name are the Column-only kernels GraftExtensions names
    graft.functions.Kernel.all.foreach { k =>
      k.sql match {
        case Some((fn, _)) => assert(spark.catalog.functionExists(fn), fn)
        case None => assert(Set("adc_lookup", "quality_score", "distinct_token_ratio")(k.name),
          s"${k.name} has no SQL twin")
      }
    }
  }

  /** The messages of `e` and of its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** `q` fails while it is resolved, not per row when it runs, with a
    * message that holds every one of `parts`. */
  private def rejectedAtResolution(q: String, parts: String*): Unit = {
    GraftExtensions.register(spark)
    val m = messages(intercept[Exception](spark.sql(q)))
    parts.foreach(p => assert(m.contains(p), m))
  }

  test("graft_shingles rejects k = 0 at resolution") {
    rejectedAtResolution("SELECT graft_shingles(array('a', 'b'), 0)", "shingle_hashes", "k(0)")
    // the Column API fails when the plan is built
    val e = intercept[IllegalArgumentException](
      graft.functions.shingle_hashes(org.apache.spark.sql.functions.lit("a"), 0))
    assert(e.getMessage.contains("shingle_hashes: k(0)"), e.getMessage)
  }

  test("graft_srp_bucket rejects 65 bits at resolution") {
    rejectedAtResolution("SELECT graft_srp_bucket(array(0.5F), 65)", "srp_bucket", "bits(65)")
  }

  test("graft_minhash_band_keys rejects more band rows than hashes at resolution") {
    rejectedAtResolution("SELECT graft_minhash_band_keys(array(1L), 16, 8, 4)",
      "minhash_band_keys", "bands(8) * rowsPerBand(4)", "numHashes(16)")
  }

  test("graft_minhash rejects a negative numHashes at resolution") {
    rejectedAtResolution("SELECT graft_minhash(array(1L), -1)",
      "minhash_signature", "numHashes(-1)")
  }

  test("graft_lcs_length rejects a negative maxLen at resolution") {
    rejectedAtResolution("SELECT graft_lcs_length('a', 'b', -1)", "lcs_length", "maxLen(-1)")
  }

  test("graft_simhash64 rejects a string argument at analysis") {
    rejectedAtResolution("SELECT graft_simhash64('x')",
      "simhash64 requires an array<bigint> argument, got STRING")
  }

  test("graft_jaccard rejects string arguments at analysis") {
    rejectedAtResolution("SELECT graft_jaccard('a', 'b')",
      "jaccard_sim requires array<bigint> and array<bigint> arguments, got STRING and STRING")
  }

  test("text-analysis surface: SQL functions match the Column API") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    GraftExtensions.register(spark)
    val s = "The quick brown fox, jumps over http://x.io/a_b-9!"
    val row = spark.sql(
      s"""SELECT
            graft_normalize('$s')                         AS norm,
            graft_tokens('$s')                            AS toks,
            graft_content_hash('$s')                      AS ch,
            graft_token_count('$s')                       AS tc,
            graft_subword_count('$s')                     AS sc,
            graft_stopword_ratio('$s')                    AS sr,
            graft_lang_id('$s')                           AS lid,
            graft_lang_id('$s', 0.99)                     AS lid_hi,
            graft_quality('$s')                           AS q,
            graft_hamming64(7L, 1L)                       AS h
         """).head()
    val col = spark.range(1).select(
      graft.functions.normalize_text(lit(s)).as("norm"),
      graft.functions.tokens(lit(s)).as("toks"),
      graft.functions.content_hash(lit(s)).as("ch"),
      graft.functions.token_count(lit(s)).as("tc"),
      graft.functions.subword_count(lit(s)).as("sc"),
      graft.functions.stopword_ratio(lit(s)).as("sr"),
      graft.functions.lang_id(lit(s)).as("lid"),
      graft.functions.quality_score(lit(s)).as("q")).head()
    assert(row.getAs[String]("norm") === col.getAs[String]("norm"))
    assert(row.getSeq[String](1) === col.getSeq[String](1))
    assert(row.getAs[Long]("ch") === col.getAs[Long]("ch"))
    assert(row.getAs[Int]("tc") === col.getAs[Int]("tc"))
    assert(row.getAs[Int]("sc") === col.getAs[Int]("sc"))
    assert(row.getAs[Double]("sr") === col.getAs[Double]("sr"))
    assert(row.getAs[String]("lid") === col.getAs[String]("lid"))
    assert(row.getAs[String]("lid_hi") === "other") // threshold override bites
    // integer threshold literals are legal too (0 -> everything is 'en')
    assert(spark.sql("SELECT graft_lang_id('zqx', 0) AS l").head()
      .getAs[String]("l") === "en")
    assert(row.getAs[Double]("q") === col.getAs[Double]("q"))
    assert(row.getAs[Int]("h") === 2)
    // non-literal threshold must fail at resolution, not per row
    intercept[Exception] {
      spark.sql("SELECT graft_lang_id('x', rand())").collect()
    }
  }

  test("repetition-signal SQL functions match TextScores.repetitionSignals") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val docs = Seq((1L, "a b c d"), (2L, "a a a a"),
      (3L, "spam spam spam spam spam spam ham"), (4L, "x"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    docs.createOrReplaceTempView("rep_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_distinct_token_ratio(text) AS dtr,
           graft_dup_bigram_frac(text) AS dbf
         FROM rep_docs""").as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val viaOp = graft.operators.TextScores
      .repetitionSignals(docs, "doc_id", "text")
      .select("id", "distinct_token_ratio", "dup_bigram_frac")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(viaSql == viaOp, s"sql=$viaSql op=$viaOp")
  }

  test("SQL results agree with the Column API on real captions") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs")
      .toDF("caption").createOrReplaceTempView("ext_caps")
    val viaSql = spark.sql(
      """SELECT graft_simhash64(graft_shingles(split(caption, ' '), 3)) AS s,
                graft_minhash(graft_shingles(split(caption, ' '), 3), 32) AS m
         FROM ext_caps""").collect()
    val viaCol = spark.table("ext_caps").select(
      graft.functions.simhash64(
        graft.functions.shingle_hashes(
          org.apache.spark.sql.functions.split($"caption", " "), 3)).as("s"),
      graft.functions.minhash_signature(
        graft.functions.shingle_hashes(
          org.apache.spark.sql.functions.split($"caption", " "), 3), 32).as("m"))
      .collect()
    assert(viaSql.map(_.getLong(0)).toSeq === viaCol.map(_.getLong(0)).toSeq)
    assert(viaSql.map(_.getSeq[Long](1)).toSeq === viaCol.map(_.getSeq[Long](1)).toSeq)
  }

  test("64-bit seeds reach the kernels untruncated") {
    GraftExtensions.register(spark)
    val bigSeed = 5000000000L // outside Int range
    val viaSql = spark.sql(s"SELECT graft_fingerprint('abc', $bigSeed) AS f")
      .head().getLong(0)
    val viaCol = spark.range(1)
      .select(graft.functions.rolling_fingerprint(
        org.apache.spark.sql.functions.lit("abc"), bigSeed).as("f"))
      .head().getLong(0)
    assert(viaSql == viaCol, "SQL seed path truncated a 64-bit literal")
  }

  test("out-of-Int-range count literal is rejected, not silently wrapped") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(1L), 4294967299)").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("out of Int range"), msgs)
  }

  test("non-literal static parameter is rejected at resolution") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(1L), cast(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.toLowerCase.contains("foldable"))
  }

  test("graft_char_entropy: SQL surface agrees with the Column API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_char_entropy('aabb') AS h2,
           graft_char_entropy('aaaa') AS h0,
           graft_char_entropy('') AS he""").head()
    assert(math.abs(r.getAs[Double]("h2") - 1.0) < 1e-12)
    assert(r.getAs[Double]("h0") == 0.0 && r.getAs[Double]("he") == 0.0)
    val docs = Seq((1L, "the quick brown fox"), (2L, "zzzzzz zz z"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ent_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_char_entropy(text) AS h FROM ent_docs")
      .as[(Long, Double)].collect().toMap
    val viaCol = docs.select($"doc_id",
        graft.functions.char_entropy($"text").as("h"))
      .as[(Long, Double)].collect().toMap
    assert(viaSql == viaCol)
    // non-string argument fails at analysis, not per-row in codegen
    val e = intercept[Exception] {
      spark.sql("SELECT graft_char_entropy(42)").collect()
    }
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("extensions hook injects the functions into a fresh session") {
    // Reuse the shared SparkContext but build a NEW session through the
    // public extensions path (Builder.withExtensions), then restore the
    // shared session as active/default for the other suites.
    val base = spark
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val fresh = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(fresh ne base)
      val jac = fresh.sql("SELECT graft_jaccard(array(1L,2L), array(1L,2L)) AS j")
        .head().getAs[Double]("j")
      assert(jac === 1.0)
      // DESCRIBE FUNCTION resolves through the injected ExpressionInfo
      val descr = fresh.sql("DESCRIBE FUNCTION graft_minhash").collect().mkString
      assert(descr.contains("graft_minhash"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
