package graft.operators

import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Classical pairwise text scorers kept as diagnostics alongside the signature
 * methods (the north rule supersedes them for dedup, but they remain part of
 * the reference's operator surface — SURVEY.md section 2.9).
 */
object TextScores {

  /** Per-token document frequency + IDF = 1 + ln(N/(df+1))
    * (reference: ea/sim/main/methods/classic/fast.py:17-36,
    * cross_encoders/lerch.py:22-33). N stays an EAGER driver count — the
    * in-plan 1-row-combine variant was tried in round 6 and reverted with
    * measurements: a cross join's size estimate is the PRODUCT of its
    * children's, which inflated the idf branch enough to flip downstream
    * join sides (q63's plan broadcast the corpus-sized posting explode and
    * streamed the vocabulary through one AQE-coalesced task: 6.0 s warm vs
    * 2.9 s with the small idf branch as the build side; constant-key
    * equi-join attachment constant-folds back to the same nested loop).
    * The count itself is one column-pruned pass, far cheaper than the
    * mis-planned join it avoids.
    *
    * @note Eager: building the plan runs one driver job (`docs.count()`),
    *       before the returned frame is ever executed. */
  def idfTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.count()
    // Spread.byKeys: the df reduce is vocabulary-cardinality — partial agg
    // compresses little and AQE otherwise folds the final agg into one task
    Spread.byKeys(docs.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("token")),
        col("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf", lit(1.0) + log(lit(n.toDouble) / (col("df") + 1)))
  }

  /**
   * Lerch TF-IDF pair score: sum of idf(t)^2 over tokens common to both docs
   * (reference: ea/sim/main/methods/base/cross_encoders/lerch.py:46-50),
   * computed set-at-a-time: explode distinct tokens, join both pair sides,
   * aggregate — no per-pair driver loop, idf table broadcast by Catalyst.
   *
   * @param pairs (a, b) doc-id pairs to score
   */
  def lerchPairScores(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    val idf = idfTable(docs, idCol, textCol)
    val ta = toks.select(col("id").as("a"), col("token"))
    val tb = toks.select(col("id").as("b"), col("token"))
    pairs
      .join(ta, "a").join(tb, Seq("b", "token")) // common tokens only
      // no broadcast hint: the distinct-token table is unbounded (billions
      // of rows on a web corpus — a forced broadcast would OOM the driver);
      // AQE picks broadcast at runtime when the idf side is actually small
      .join(idf.select("token", "idf"), "token")
      .groupBy("a", "b")
      .agg(sum(col("idf") * col("idf")).as("lerch_score"))
  }

  /**
   * TF-IDF vector cosine — the reference's TF-IDF ENCODER variant
   * (reference: ea/sim/main/methods/neural/mix/lerch.py:13-41: each doc's
   * vector holds idf(t) at PRESENT tokens — assignment, not accumulation —
   * scored by inner product, mix/lerch.py:47-58). Here the inner product is
   * normalized to cosine so the score is scale-free across doc lengths; the
   * un-normalized IP is exactly [[lerchPairScores]]. Set-at-a-time like
   * lerch: the pair IP comes from the common-token join, the norms from a
   * per-doc aggregate — no per-pair vector materialization, no vocab-sized
   * dense vectors (the reference allocates |vocab| floats per doc;
   * at web scale the sparse join IS the vector product).
   *
   * Pairs with no common token have cosine 0 and are not returned (same
   * contract as [[lerchPairScores]]).
   *
   * @param pairs (a, b) doc-id pairs to score
   * @return (a, b, tfidf_cosine)
   */
  def tfidfCosinePairs(docs: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    val idf = idfTable(docs, idCol, textCol).select("token", "idf")
    val weighted = toks.join(idf, "token")
    val norms = weighted.groupBy("id")
      .agg(sqrt(sum(col("idf") * col("idf"))).as("norm"))
    val ta = weighted.select(col("id").as("a"), col("token"), col("idf"))
    val tb = weighted.select(col("id").as("b"), col("token"))
    val ip = pairs
      .join(ta, "a").join(tb, Seq("b", "token"))
      .groupBy("a", "b")
      .agg(sum(col("idf") * col("idf")).as("ip"))
    ip.join(norms.select(col("id").as("a"), col("norm").as("norm_a")), "a")
      .join(norms.select(col("id").as("b"), col("norm").as("norm_b")), "b")
      .select(col("a"), col("b"),
        (col("ip") / (col("norm_a") * col("norm_b"))).as("tfidf_cosine"))
  }

  /**
   * TF-IDF as the retrieval INDEX — the reference's eval-Lerch-as-index
   * configuration (reference: ea/sim/dev/evaluation/eval_lerch_as_index
   * .py:36-38: TfIdfEncoder + WeightedIPSimilarity through
   * IndexRetrievalModel): no candidate pair list is given; the sparse
   * posting-list join IS the candidate generation. Every corpus doc sharing
   * >= 1 distinct token with a query is scored by the Lerch weighted inner
   * product sum(idf(t)^2) over shared tokens ([[lerchPairScores]]' kernel).
   *
   * Scale shape: postings (item, token, idf) and query tokens shuffle on
   * `token`. The hot tokens of a Zipfian corpus are exactly the LOW-idf
   * ones whose score contribution is smallest — `minIdf` prunes postings
   * below it (the classic stopword cut that bounds posting-list length;
   * 0.0 keeps everything). Nothing is ever |vocab|-dense and no per-query
   * corpus scan exists; docs sharing no indexed token with a query are
   * definitionally unreachable through an inverted index and score 0 by
   * omission.
   *
   * @return (query_id, item_id, score) — unranked; compose with
   *         [[Ranking.topKItems]] for retrieval
   */
  def tfidfIndexScores(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, minIdf: Double = 0.0): DataFrame = {
    val idf0 = idfTable(corpus, idCol, textCol).select("token", "idf")
    val idf = if (minIdf > 0.0) idf0.where(col("idf") >= minIdf) else idf0
    val postings = corpus.select(col(idCol).as("item_id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .join(idf, "token")
    val qtoks = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    // NO explicit repartition before this agg: the posting fan-out is many
    // times the (query, item) pair count (pairs share many tokens), so
    // map-side partial aggregation is the big compression here — measured
    // on q63, repartitioning the raw fan-out tripled task cpu (17 -> 60 s)
    qtoks.join(postings, "token")
      .groupBy("query_id", "item_id")
      .agg(sum(col("idf") * col("idf")).as("score"))
  }

  /**
   * BM25 retrieval scores — the standard probabilistic index scorer next to
   * the reference's Lerch TF-IDF ([[tfidfIndexScores]]): same sparse
   * posting-list candidate generation (every corpus doc sharing a token
   * with the query is a candidate — no ANN, no signatures), but scored
   * with the Okapi term-saturation formula
   *   sum over shared tokens of
   *     idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
   * with the Lucene non-negative idf = ln((N - df + 0.5)/(df + 0.5) + 1).
   * Query tokens enter distinct (query tf = 1, the standard short-query
   * simplification). tf saturation + length normalization is exactly what
   * TF-IDF-sum lacks on web documents (a token repeated 100x should not
   * score 100x).
   *
   * Scale shape: identical to [[tfidfIndexScores]] — postings and query
   * tokens shuffle on the token, one agg per (query, item); the df/idf
   * table is vocabulary-sized and joins distributed. The corpus stats
   * (N, total dl) are an EAGER driver aggregate (two scalars — the bounded
   * Ann-collect contract): the in-plan 1-row cross-join combine was tried
   * in round 6 and reverted with measurements — its product-of-children
   * size estimate inflated the idf branch so Catalyst broadcast the
   * corpus-sized tf table and streamed the vocabulary through one
   * AQE-coalesced task (a 5.0 s single-task stage inside q98). An empty
   * corpus returns an empty frame (no NPE on the null sum — the round-5
   * ADVICE fix, kept).
   *
   * @return (query_id, item_id, score) — raw double; round before ranking
   *         (the q63 tie-determinism contract)
   * @note Eager: building the plan runs one driver job (the corpus stats
   *       `.head()`), before the returned frame is ever executed.
   */
  def bm25IndexScores(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val withDl = corpus.select(col(idCol).as("item_id"),
        tokens(col(textCol)).as("l"))
      .withColumn("dl", size(col("l"))).where(col("dl") > 0)
    val statsRow = withDl
      .agg(count(lit(1)).as("__n"), sum(col("dl").cast("long")).as("__sdl"))
      .head()
    val n = statsRow.getLong(0)
    if (n == 0L) {
      // no non-empty corpus doc: no posting can exist — empty result with
      // the contract schema (id types follow the inputs), not a
      // divide-by-zero avgdl
      return queries.select(col(idCol).as("query_id"))
        .crossJoin(corpus.select(col(idCol).as("item_id")))
        .withColumn("score", lit(0.0))
        .where(lit(false))
    }
    val avgdl = statsRow.getLong(1).toDouble / n
    // Spread.byKeys on both index aggregations: (item, token) term
    // frequencies are mostly 1 and the df reduce is vocabulary-sized —
    // partial aggregation compresses little, and the explicit keyed
    // exchanges keep both reduces parallel under AQE
    val tf = Spread.byKeys(withDl.select(col("item_id"), col("dl"),
        explode(col("l")).as("token")),
        col("item_id"), col("token"), col("dl"))
      .groupBy("item_id", "token", "dl").agg(count(lit(1)).as("tf"))
    val idf = Spread.byKeys(tf, col("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(n.toDouble) - col("df") + 0.5) /
          (col("df") + 0.5) + 1.0))
      .select("token", "idf")
    val postings = tf.join(idf, "token")
    val qtoks = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    // no repartition before the scoring agg — the tfidfIndexScores
    // fan-out-compression rationale
    qtoks.join(postings, "token")
      .groupBy("query_id", "item_id")
      .agg(sum(col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) *
          (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))).as("score"))
  }

  /**
   * BOTH index scorers off ONE posting join — for consumers that score the
   * same (corpus, queries) against TF-IDF and BM25 together (rank fusion,
   * q118): the candidate sets are identical by construction (every corpus
   * doc sharing >= 1 distinct token with the query), so running
   * [[tfidfIndexScores]] and [[bm25IndexScores]] separately tokenizes the
   * corpus, aggregates the df table and shuffles the posting join TWICE for
   * the same pairs. Here one tf aggregation feeds both idf formulas and one
   * (query, item) aggregation emits both sums.
   *
   * Score parity is bit-for-bit with the single-index operators: the
   * TF-IDF leg's N counts ALL corpus rows (the [[idfTable]] contract) while
   * the BM25 leg's N/avgdl count only dl > 0 docs (the [[bm25IndexScores]]
   * contract), df is the shared distinct-doc count per token, and each
   * leg's per-token arithmetic is the same expression as its home operator.
   *
   * @return (query_id, item_id, tfidf_score, bm25_score) — raw doubles;
   *         round before ranking (the q63 tie-determinism contract)
   * @note Eager: building the plan runs one driver job (the corpus stats
   *       `.head()`), before the returned frame is ever executed.
   */
  def tfidfBm25IndexScores(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val withDl = corpus.select(col(idCol).as("item_id"),
        tokens(col(textCol)).as("l"))
      .withColumn("dl", size(col("l")))
    // one EAGER stats pass (three scalars — the bm25IndexScores rationale:
    // the in-plan cross-join combine flips downstream join sides):
    // nAll = ALL corpus rows (TF-IDF's N), n / avgdl over dl > 0 docs
    // (BM25's N, avgdl) — same IEEE ops as the home operators' stats
    val statsRow = withDl
      .agg(count(lit(1)).as("__nall"),
        count(when(col("dl") > 0, lit(1))).as("__n"),
        sum(when(col("dl") > 0, col("dl")).cast("long")).as("__sdl"))
      .head()
    val nAll = statsRow.getLong(0)
    val n = statsRow.getLong(1)
    if (n == 0L) {
      return queries.select(col(idCol).as("query_id"))
        .crossJoin(corpus.select(col(idCol).as("item_id")))
        .withColumn("tfidf_score", lit(0.0))
        .withColumn("bm25_score", lit(0.0))
        .where(lit(false))
    }
    val avgdl = statsRow.getLong(2).toDouble / n
    // Spread.byKeys on all three aggregations — the bm25IndexScores
    // rationale (parallel reduces under AQE at high key cardinality)
    val tf = Spread.byKeys(withDl.where(col("dl") > 0)
        .select(col("item_id"), col("dl"), explode(col("l")).as("token")),
        col("item_id"), col("token"), col("dl"))
      .groupBy("item_id", "token", "dl").agg(count(lit(1)).as("tf"))
    val idf = Spread.byKeys(tf, col("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf_tf",
        lit(1.0) + log(lit(nAll.toDouble) / (col("df") + 1)))
      .withColumn("idf_bm",
        log((lit(n.toDouble) - col("df") + 0.5) /
          (col("df") + 0.5) + 1.0))
      .select("token", "idf_tf", "idf_bm")
    val postings = tf.join(idf, "token")
    val qtoks = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    // no repartition before the scoring agg — the tfidfIndexScores
    // fan-out-compression rationale
    qtoks.join(postings, "token")
      .groupBy("query_id", "item_id")
      .agg(sum(col("idf_tf") * col("idf_tf")).as("tfidf_score"),
        sum(col("idf_bm") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
          .as("bm25_score"))
  }

  /** Shared novelty projection: (id, sh = DISTINCT shingle hashes). */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      cfg: graft.config.DedupConfig): DataFrame =
    docs.select(col(idCol).as("id"),
      array_distinct(text_shingles(col(textCol), cfg)).as("sh"))

  /**
   * EXACT n-gram novelty of a NEW batch against an EXISTING corpus: per new
   * doc, the fraction of its DISTINCT shingles that occur in NO corpus
   * document — the data-selection signal a pretraining pipeline uses to
   * prioritize genuinely new content (and the inverse of boilerplate
   * coverage). 0.0 = every shingle already in the corpus (a re-crawl),
   * 1.0 = fully novel; shingle-less docs (empty text) score 0.0 — no
   * evidence of novelty.
   *
   * Scale shape: a posting equi-join on 8-byte shingle hashes — the new
   * side ships (id, shingle) rows, the corpus side DISTINCT shingles only;
   * never a doc-by-doc comparison.
   *
   * @return (id, n_shingles, novelty) with novelty rounded to 6 places
   */
  def noveltyExact(newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, cfg: graft.config.DedupConfig): DataFrame = {
    val bsh = shingleSets(newDocs, idCol, textCol, cfg)
    val cpost = shingleSets(corpus, idCol, textCol, cfg)
      .select(explode(col("sh")).as("g")).distinct()
    val seen = bsh.select(col("id"), explode(col("sh")).as("g"))
      .join(cpost, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("__seen"))
    bsh.select(col("id"), size(col("sh")).as("n_shingles"))
      .join(seen, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        round(when(col("n_shingles") === 0, 0.0)
          .otherwise(lit(1.0) -
            coalesce(col("__seen"), lit(0L)).cast("double") / col("n_shingles")),
          6).as("novelty"))
  }

  /**
   * Repetition-based quality signals per document — the Gopher/FineWeb
   * heuristic family (Rae et al. 2021 §A1.1 repetition filters): the
   * distinct-token ratio and the duplicate-bigram fraction, both pure
   * narrow column expressions over the whitespace token list. Low distinct
   * ratios / high dup-bigram fractions mark boilerplate and degenerate
   * (looping) text a training-data pipeline drops before dedup even runs.
   *
   * @return (id, n_tokens, distinct_token_ratio, dup_bigram_frac), ratios
   *         rounded to 4 places (empty docs: ratio 1.0 / frac 0.0)
   */
  def repetitionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // coalesce: NULL text (routine in raw web corpora) degrades to the
    // empty-doc row, not size(null) = -1 garbage. array_remove, not a
    // filter() lambda: higher-order functions evaluate interpreted and
    // would knock this whole-corpus projection out of whole-stage codegen
    // (the functions/package.scala tokens() rationale).
    val toks = array_remove(split(coalesce(col(textCol), lit("")), " "), "")
    docs.select(col(idCol).as("id"), toks.as("l"))
      .withColumn("n_tokens", size(col("l")))
      .withColumn("bigrams",
        when(col("n_tokens") < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), col("n_tokens") - 2), i =>
            concat_ws(" ", element_at(col("l"), i + 1),
              element_at(col("l"), i + 2)))))
      .select(col("id"), col("n_tokens"),
        round(when(col("n_tokens") === 0, 1.0)
          .otherwise(size(array_distinct(col("l"))).cast("double") /
            col("n_tokens")), 4).as("distinct_token_ratio"),
        round(when(size(col("bigrams")) === 0, 0.0)
          .otherwise(lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") /
            size(col("bigrams"))), 4).as("dup_bigram_frac"))
  }

  /**
   * Corpus-wide heavy (boilerplate) n-grams: every word n-gram occurring in
   * at least `minDf` DISTINCT documents, with its document frequency and
   * total occurrence count — the detector that feeds a filter list (the
   * corpus-level counterpart of [[graft.operators.Curation
   * .removeBoilerplateLines]]'s per-line df test, at n-gram granularity;
   * the same "repeated content is evidence, not information" rationale as
   * the reference's unique-member listing, ea/sim/main/data/objects/issue
   * .py:56-73).
   *
   * Scale shape: one explode + one aggregation. The n-gram STRING shuffles
   * (the report needs the text back, so hashing would force a rejoin);
   * map-side partial aggregation collapses per-partition repeats before the
   * exchange, and the `minDf` filter keeps the result boilerplate-sized.
   *
   * @return (ngram, doc_freq, total_freq) for doc_freq >= minDf
   */
  def heavyNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    require(n >= 1, s"n($n) must be positive")
    require(minDf >= 2, s"minDf($minDf) < 2 reports every n-gram in the corpus")
    val toks = array_remove(split(coalesce(col(textCol), lit("")), " "), "")
    docs.select(col(idCol).as("id"), toks.as("l"))
      .where(size(col("l")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("l")) - (n - 1)),
        i => concat_ws(" ", slice(col("l"), i, lit(n))))).as("ngram"))
      .groupBy("ngram")
      .agg(countDistinct(col("id")).as("doc_freq"),
        count(lit(1)).as("total_freq"))
      .where(col("doc_freq") >= minDf)
  }

  /**
   * Intra-document duplicate-LINE signals: line count, distinct-line count,
   * and the duplicated-line fraction — the within-doc spam signal (scraped
   * pages repeating a nav block, generated text looping a paragraph)
   * complementing [[repetitionSignals]]'s token-level ratios and the
   * corpus-level [[graft.operators.Curation.removeBoilerplateLines]]. A
   * pure NARROW projection (split + array_distinct per row, no shuffle):
   * scan-speed work at 100 TB that fuses into whatever stage reads the
   * text.
   *
   * @return (id, n_lines, n_distinct_lines, dup_line_frac), fraction
   *         rounded to 4 places; NULL text degrades to the empty doc
   *         (1 line, 0.0 — split never returns an empty list)
   */
  def duplicateLineSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ls = split(coalesce(col(textCol), lit("")), "\n", -1)
    docs.select(col(idCol).as("id"), ls.as("l"))
      .select(col("id"), size(col("l")).as("n_lines"),
        size(array_distinct(col("l"))).as("n_distinct_lines"))
      .withColumn("dup_line_frac",
        round(lit(1.0) - col("n_distinct_lines").cast("double") /
          col("n_lines"), 4))
  }

  /**
   * Corpus token frequency-of-frequencies — the Zipf diagnostic every
   * curation run wants before setting thresholds: one row per occurrence
   * count f with the number of distinct token types at that count. The
   * hapax fraction (f = 1 row over the type total) flags OCR garbage /
   * tokenizer damage; the heavy tail (huge f, tiny n_types) is the stopword
   * / boilerplate mass that feeds [[heavyNgrams]]-style cut decisions.
   *
   * Scale shape: two aggregations, both with map-side partial combine — the
   * (token, count) shuffle is vocabulary-sized, the spectrum output is tiny
   * (distinct frequency VALUES grow ~ sqrt(total token mass): counts above
   * sqrt(M) can number at most sqrt(M) of them, counts below it at most
   * sqrt(M) values). Nothing collects; no windows.
   *
   * @return (freq, n_types) — one row per distinct occurrence count
   */
  /** Per-token corpus frequencies — the shared first stage of the spectrum
    * and the Zipf fit, factored so their tokenization cannot diverge. */
  private def termFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))

  def frequencySpectrum(docs: DataFrame, textCol: String): DataFrame =
    termFreqs(docs, textCol)
      .groupBy("freq").agg(count(lit(1)).as("n_types"))

  /**
   * Zipf fit over the [[frequencySpectrum]] — the corpus-health scalar next
   * to the raw spectrum: ordinary least squares on (ln f, ln n_types).
   * Natural text follows Zipf's law, which on the frequency-of-frequencies
   * axis means slope ≈ −2 (n_types(f) ∝ f^(−1−1/s) with s ≈ 1); a much
   * flatter slope flags template/boilerplate mass, a much steeper one
   * tokenizer damage or OCR noise flooding the hapax bucket. One number an
   * ingest gate can threshold where the spectrum needs a human eye.
   *
   * Scale: the spectrum's two aggregations plus one more to a single row
   * (the spectrum has ≤ ~sqrt(token mass) rows — tiny).
   *
   * @return one row: (n_points, slope, intercept, r2), rounded to 6;
   *         degenerate fits (fewer than 2 points, zero x-variance) yield
   *         zeros
   */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame =
    // per-token frequencies; powerLawFit derives the spectrum + OLS (one
    // shared closed form for every heavy-tail gate — same output schema)
    graft.eval.Metrics.powerLawFit(termFreqs(docs, textCol), "freq")

  /**
   * Corpus drift report between two corpus slices — the monitoring gate a
   * continuous-crawl pipeline runs before folding a new snapshot into the
   * training mix: compare the token distribution of slice A (e.g. the
   * standing corpus) against slice B (today's crawl) and publish the
   * standard divergences. A JS jump flags a source-mix shift (new domain,
   * spam wave, language drift) BEFORE it contaminates the mixture weights
   * that [[graft.operators.Curation.mixtureRates]] derives from corpus
   * shares.
   *
   * Distributions are Jeffreys-smoothed over the UNION vocabulary
   * (p_i = (c_i + α) / (T + α·V)), so every divergence is finite, symmetric
   * handling of unseen-on-one-side tokens is built in, and the whole row is
   * a pure function of the two exact count tables — re-derivable by an
   * independent engine, which is what the oracle does.
   *
   * Scale shape: one vocabulary-sized count shuffle per side (map-side
   * partial combine), one full-outer equi-join on token, then a single
   * aggregate to one row; the 1-row totals frame attaches by broadcast.
   * Nothing collects, no windows.
   *
   * @param alpha Jeffreys pseudo-count (> 0); 0.5 is the standard prior
   * @return one row: (n_types_a, n_types_b, n_types_union,
   *         kl_ab, kl_ba, js_divergence, total_variation) — divergences in
   *         nats, rounded to 6
   */
  def distributionDrift(a: DataFrame, b: DataFrame, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha($alpha) must be positive")
    def cnt(df: DataFrame, out: String) =
      df.select(explode(tokens(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as(out))
    val joined = cnt(a, "na").join(cnt(b, "nb"), Seq("tok"), "full_outer")
      .select(coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val tot = joined.agg(sum("na").as("ta"), sum("nb").as("tb"),
      count(lit(1)).as("v"))
    val al = lit(alpha)
    val sm = joined.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        ((col("na") + al) / (col("ta") + al * col("v"))).as("p"),
        ((col("nb") + al) / (col("tb") + al * col("v"))).as("q"))
    val m = (col("p") + col("q")) / 2
    sm.agg(
      count(when(col("na") > 0, lit(1))).as("n_types_a"),
      count(when(col("nb") > 0, lit(1))).as("n_types_b"),
      count(lit(1)).as("n_types_union"),
      round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_ab"),
      round(sum(col("q") * log(col("q") / col("p"))), 6).as("kl_ba"),
      round(sum(col("p") * log(col("p") / m)) / 2 +
        sum(col("q") * log(col("q") / m)) / 2, 6).as("js_divergence"),
      round(sum(abs(col("p") - col("q"))) / 2, 6).as("total_variation"))
  }

  /** Document-start sentinel of [[bigramLmScores]]: the first real token is
    * conditioned on it, so single-token docs still score and cross-document
    * bigrams never form. A literal `<s>` TOKEN in the text aliases with it
    * (space-split tokenization cannot escape it) — harmless for a quality
    * score (it only mixes two contexts' counts) but worth knowing. */
  val BosToken = "<s>"

  /**
   * Corpus-trained bigram language-model quality score — the classical
   * perplexity filter of web-pipeline curation (CCNet/Gopher shape), fully
   * self-contained: the LM is TRAINED by aggregation over `corpus` and
   * APPLIED by join, so the model never leaves the cluster as an artifact.
   * Per scored doc, log-perplexity = -mean over its tokens of
   * ln P(w_i | w_{i-1}) with add-alpha smoothing
   * P = (c2(prev,w) + alpha) / (c1(prev) + alpha * V): c2 the corpus bigram
   * count, c1 the context mass (occurrences of `prev` as a bigram left
   * side), V the corpus vocabulary size. Every doc enters through
   * [[BosToken]]. Unseen bigrams stay finite (an unseen context scores
   * ln(alpha/(alpha*V)) = -ln V per token), so a NEW batch can be scored
   * against a fixed reference corpus — the CCNet shape: train on quality
   * text, score the crawl — or `docs` can be `corpus` itself (classic
   * self-perplexity). LOW log_ppl = the corpus's own high-probability
   * chains (boilerplate); HIGH = rare or garbled text; both tails feed the
   * quality gates like any other signal (e.g. via
   * [[graft.operators.Ranking.topFractionGlobal]]).
   *
   * Scale shape: the model IS two distributed count tables — never
   * collected, never |vocab|^2-densified. Three shuffles end to end: the
   * count aggregations (map-side partial combine collapses per-partition
   * repeats), the score join keyed by the bigram, and the per-doc mean.
   * The count tables are vocabulary-sized, so AQE broadcasts them when
   * small and shuffle-joins when web-sized; the scored side streams.
   *
   * @param corpus training frame (counts come from here)
   * @param docs   frame to score (may be `corpus` itself)
   * @param alpha  add-alpha smoothing mass, > 0
   * @return (id, n_tokens, log_ppl) — log_ppl rounded to 6 places;
   *         zero-token docs are dropped (nothing to condition on)
   */
  def bigramLmScores(corpus: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0, s"alpha($alpha) must be > 0 (0 makes unseen bigrams -inf)")
    // array_remove, not a filter() lambda: keeps the per-row tokenize +
    // bigram build inside whole-stage codegen (repetitionSignals rationale)
    val toks = array_remove(split(coalesce(col(textCol), lit("")), " "), "")
    def bigrams(f: DataFrame): DataFrame =
      f.select(col(idCol).as("id"), toks.as("l"))
        .where(size(col("l")) > 0)
        // prev = BOS-prefixed all-but-last, zipped positionally with l —
        // an O(tokens) array build, never the O(tokens^2) bytes of
        // carrying the whole array through a posexplode
        .select(col("id"), explode(arrays_zip(
          concat(array(lit(BosToken)),
            slice(col("l"), lit(1), size(col("l")) - 1)).as("prev"),
          col("l").as("cur"))).as("g"))
        .select(col("id"), col("g.prev").as("prev"), col("g.cur").as("cur"))
    val trainGrams = bigrams(corpus)
    val c2 = trainGrams.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = trainGrams.groupBy("prev").agg(count(lit(1)).as("c1"))
    // V is ONE scalar (bounded driver artifact, the Ann collect contract);
    // kept EAGER — the in-plan cross-join combine inflates the scored
    // side's size estimate and un-broadcasts the c2/c1 joins (the idfTable
    // lesson, measured on q90)
    val v = trainGrams.agg(countDistinct(col("cur"))).first().getLong(0)
    bigrams(docs)
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        round(-avg(log((coalesce(col("c2"), lit(0L)) + alpha) /
          (coalesce(col("c1"), lit(0L)) + alpha * v))), 6).as("log_ppl"))
  }
}
