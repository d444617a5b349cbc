package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for the training-data pipeline: deterministic
 * sampling, stratified sampling, per-key caps, and sequence packing — the
 * selection layer that runs between dedup and training-data export.
 *
 * Every operator here is REPRODUCIBLE BY CONSTRUCTION: membership is a pure
 * function of row content (an md5 prefix compare), never of `rand()`,
 * partitioning, or execution order — so a re-run, a recomputed partition
 * after executor loss, or an independent engine (the DuckDB oracles) selects
 * the exact same rows. That property is what makes a 100 TB corpus sample
 * auditable: the sample can be re-derived from the corpus snapshot alone.
 *
 * Reference analogue: the reference samples eval query subsets and
 * train/test splits by seeded index selection
 * (ea/sim/dev/scripts/data/dataset/nb/main.py:12, random_seed=42); here the
 * seed is a salt string and selection is content-hash-ordered so it needs no
 * global index.
 */
object Curation {

  /** Uniform [0, 1) selection value for a key: the first 8 hex digits of
    * md5(salt || key) compared lexicographically — fixed-width lowercase hex
    * compares identically to its numeric value, and md5 is available
    * bit-identically in every engine (the oracle recomputes membership in
    * SQL). Not a cryptographic boundary — a reproducibility device. */
  private def hashHex(key: Column, salt: String): Column =
    substring(md5(concat(lit(salt), key.cast("string")).cast("binary")), 1, 8)

  /** 8-hex-digit threshold for a sampling rate: keys whose [[hashHex]] sorts
    * strictly below it are kept; floor(rate * 2^32) keys per 2^32. */
  private def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    f"${math.floor(rate * 4294967296.0).toLong.min(4294967295L)}%08x"
  }

  /**
   * Deterministic STRATIFIED sample: keeps each row iff
   * md5(salt || key) < its stratum's rate — per-stratum rates being the
   * corpus-mixture knob (e.g. keep 80% of high-quality strata, 5% of
   * boilerplate ones). A NARROW zero-shuffle filter (the scan's predicate
   * at 100 TB), reproducible across runs, engines, and partial recomputes:
   * the rates map becomes a literal when-chain on the stratum column, so no
   * join and no rand(). Sampling is BY KEY: duplicate keys are kept or
   * dropped together (sample-then-dedup stays coherent). Strata absent from
   * the map use `defaultRate`; NULL strata use `defaultRate`.
   */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "graft"): DataFrame = {
    val thr = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === lit(stratum), lit(thresholdHex(rate)))
          .otherwise(acc)
    }
    df.where(hashHex(col(keyCol), salt) < thr)
  }

  /**
   * Per-key cap: keep at most `n` rows per key, best-first — the
   * RefinedWeb/CCNet per-domain cap (no host may dominate the corpus).
   * One shuffle on the key; the window partition is per-key so it never
   * degenerates as long as no single key exceeds a partition (cap the
   * pathological key upstream with [[SkewStats.heavyKeys]] if one does —
   * at that point it is a dedup problem, not a sampling one).
   *
   * @param orderBy priority (best first), e.g. quality desc then id asc;
   *                MUST be a total order per key for deterministic output —
   *                append a unique tiebreaker
   */
  def capPerKey(df: DataFrame, keyCol: String, n: Int,
      orderBy: Seq[Column]): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(keyCol)).orderBy(orderBy: _*)))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /**
   * Corpus-wide boilerplate-LINE removal (the CCNet/RefinedWeb line-dedup
   * pass): a line occurring in >= `minDf` DISTINCT documents is boilerplate
   * (cookie banners, nav footers, license headers) and is removed from every
   * document; per-doc line order is preserved and every input doc comes back
   * exactly once (possibly with empty `clean_text`). Lines shorter than
   * `minLineLen` chars are never removal candidates — blank/separator lines
   * are ubiquitous and removing them would mangle formatting, the same
   * short-line exemption CCNet applies.
   *
   * Scale shape: lines shuffle as 8-byte `xxhash64` keys for the df count
   * (equal-hash => treated equal, the [[graft.operators.Dedup.exact]]
   * identity contract); the heavy-line set is boilerplate-sized (tiny next
   * to the corpus) so AQE broadcasts the flag join; reassembly is one
   * doc-keyed aggregation whose rows are bounded by the doc's own size.
   * Nothing corpus-sized is collected or broadcast unconditionally.
   *
   * Reference analogue: the unique-member listing that drops repeated
   * content before scoring (ea/sim/main/data/objects/issue.py:56-73), moved
   * from whole-record to line granularity.
   *
   * @return (idCol, clean_text, n_removed) — `n_removed` counts removed
   *         line INSTANCES in that doc
   */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int, minLineLen: Int = 5): DataFrame = {
    require(minDf >= 2, s"minDf($minDf) < 2 would remove every line")
    require(minLineLen >= 1, s"minLineLen must be positive, got $minLineLen")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)))
      .select(col(idCol), col("pos"), col("col").as("line"),
        xxhash64(col("col")).as("__lh"))
    val heavy = lines.where(length(col("line")) >= minLineLen)
      .groupBy("__lh").agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__lh"), lit(true).as("__hv"))
    lines.join(heavy, Seq("__lh"), "left")
      .withColumn("__rm", col("__hv").isNotNull)
      .groupBy(col(idCol))
      .agg(
        // collect_list drops the nulls the `when` leaves for removed lines;
        // array_sort on (pos, line) structs restores document order
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(!col("__rm"), struct(col("pos"), col("line"))))),
          s => s("line"))).as("clean_text"),
        sum(when(col("__rm"), 1L).otherwise(0L)).as("n_removed"))
  }

  /**
   * Sequence packing for LLM pretraining export: documents are concatenated
   * in `orderCol` order into one token stream and split into fixed
   * `budget`-token context windows; each doc gets its stream start offset
   * and the first/last window (bin) it lands in. The GPT-style
   * concat-then-chunk layout — a doc may straddle a window boundary
   * (bin_first < bin_last).
   *
   * Fully distributed: the global running total is
   * [[OrderedScan.cumSums]] (value-bucketed prefix sums — no
   * single-partition window), everything else is a narrow projection.
   *
   * @param orderCol numeric UNIQUE order key (the cumSums tie contract)
   * @param tokenCol per-doc token count (>= 0; empty docs occupy no tokens
   *                 and land wholly in the window their offset points at)
   * @return input columns + (start_offset, bin_first, bin_last) as longs
   */
  def packAssignments(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val cum = OrderedScan.cumSums(df, orderCol, Seq(tokenCol -> "__cum"))
    cum
      .withColumn("start_offset", (col("__cum") - col(tokenCol)).cast("long"))
      .withColumn("bin_first",
        floor(col("start_offset") / lit(budget)).cast("long"))
      .withColumn("bin_last",
        when(col(tokenCol) > 0,
          floor((col("__cum") - 1) / lit(budget)).cast("long"))
          .otherwise(col("bin_first")))
      .drop("__cum")
  }

  /**
   * Packing-efficiency report over [[packAssignments]] — the one-row
   * summary a pretraining-export job publishes next to its packed shards:
   * how many context windows the corpus fills, what fraction of documents
   * straddle a window boundary (the attention-mask / document-boundary
   * cost of concat-then-chunk packing), and the fill fraction of the
   * window budget (1 − tail waste). Reading this row is how an operator
   * picks the window budget: straddle_frac falls and fill_frac rises with
   * larger windows, and the report makes the trade a number per candidate
   * budget instead of folklore.
   *
   * Scale: [[packAssignments]]' distributed prefix sums plus one aggregate
   * to a single row — no extra shuffle beyond the packing itself.
   *
   * @return one row: (n_docs, n_tokens, n_windows, n_straddlers,
   *         straddle_frac, fill_frac) — fractions rounded to 6; the empty
   *         corpus yields zeros
   */
  def packingReport(df: DataFrame, orderCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    packAssignments(df, orderCol, tokenCol, budget).agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col(tokenCol)).cast("long"), lit(0L)).as("n_tokens"),
      coalesce(when(sum(col(tokenCol)) > 0, max(col("bin_last")) + 1),
        lit(0L)).as("n_windows"),
      count(when(col("bin_first") < col("bin_last"), lit(1)))
        .as("n_straddlers"))
      .select(col("n_docs"), col("n_tokens"), col("n_windows"),
        col("n_straddlers"),
        when(col("n_docs") === 0, lit(0.0))
          .otherwise(round(col("n_straddlers") / col("n_docs").cast("double"),
            6)).as("straddle_frac"),
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(round(col("n_tokens") /
            (col("n_windows") * budget).cast("double"), 6)).as("fill_frac"))
  }

  /**
   * Per-stratum sampling rates that hit a global TOKEN budget at target
   * mixture weights — the data-mixing step of a pretraining pipeline (the
   * Pile/Dolma-style source reweighting): stratum `s` with weight `w_s` is
   * allotted `budget * w_s / sum(w)` tokens, and its keep rate is that
   * allotment over the stratum's available tokens, clamped to 1.0 (a
   * stratum smaller than its allotment is taken whole — the shortfall is
   * NOT redistributed, keeping every rate a pure function of (weights,
   * budget, stratum total) so the sample stays re-derivable from the corpus
   * snapshot alone). Strata absent from `weights` (and NULL strata) are
   * excluded.
   *
   * Scale: one aggregation on the stratum key; the result has one row per
   * weighted stratum — a broadcast-sized mixing table.
   *
   * All rate arithmetic is fixed-order IEEE double over EXACT long token
   * sums, so an independent engine (the DuckDB oracle) reproduces the rates
   * — and therefore the sample — bit-identically.
   *
   * @return (stratum, avail_tokens, target_tokens, rate)
   */
  def mixtureRates(df: DataFrame, strataCol: String, tokenCol: String,
      weights: Map[String, Double], budget: Long): DataFrame = {
    require(weights.nonEmpty, "weights must name at least one stratum")
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(budget > 0, s"token budget must be positive, got $budget")
    val wSum = weights.values.sum
    // literal when-chain: the mixing table is config, not data
    val target = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (k, w)) =>
        when(col("stratum") === lit(k), lit(budget * w / wSum)).otherwise(acc)
    }
    df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).as("stratum"))
      .agg(sum(col(tokenCol).cast("long")).as("avail_tokens"))
      .withColumn("target_tokens", target)
      .where(col("target_tokens").isNotNull)
      .withColumn("rate",
        least(lit(1.0), col("target_tokens") / col("avail_tokens").cast("double")))
  }

  /**
   * Deterministic mixture sample: keeps each row iff its stratum's
   * [[mixtureRates]] rate admits the row's md5 selection value — the same
   * by-key threshold device as [[stratifiedSample]], with the rate now
   * DERIVED from the corpus's per-stratum token totals instead of given.
   * The rates frame is broadcast (one row per weighted stratum), so the
   * sample itself is a zero-shuffle filter after one stratum aggregation.
   * `rate >= 1.0` strata keep every row (no threshold edge case at the
   * top of the hash range).
   */
  def mixtureSample(df: DataFrame, keyCol: String, strataCol: String,
      tokenCol: String, weights: Map[String, Double], budget: Long,
      salt: String = "graft"): DataFrame = {
    val rates = mixtureRates(df, strataCol, tokenCol, weights, budget)
      .select(col("stratum"), col("rate"))
    val thr = lower(lpad(hex(least(
      floor(col("rate") * lit(4294967296.0)).cast("long"),
      lit(4294967295L))), 8, "0"))
    df.join(broadcast(rates), df(strataCol) === rates("stratum"))
      .where(col("rate") >= 1.0 || hashHex(col(keyCol), salt) < thr)
      .drop("stratum", "rate")
  }

  /** PII patterns restricted to the regex subset Java (Spark) and RE2
    * (DuckDB, the oracle) evaluate identically: no backreferences, no
    * lookaround — `\b`, `\d`, char classes, and greedy quantifiers agree
    * between the engines, so redaction is reproducible across them. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\+\\d[\\d ]{7,}\\d"

  /**
   * PII redaction — the Dolma/CCNet scrub step every released pretraining
   * corpus runs: emails, IPv4 addresses, and international-format phone
   * numbers are replaced by `<EMAIL>`/`<IP>`/`<PHONE>` tokens, with per-type
   * match counts for the removal-rate report a curation run publishes.
   * Redaction order is fixed (email, then IP, then phone) and each count is
   * taken on the text state its redaction sees, so the output is a pure
   * deterministic function of the input text.
   *
   * Scale shape: a single NARROW projection — chained codegen'd
   * `regexp_replace`/`regexp_count`, no shuffle, no UDF; at 100 TB this is
   * scan-speed work that fuses into whatever stage reads the text.
   *
   * Phone matching requires the leading `+` (international form): a bare
   * 8-digit-run pattern would eat years, ids, and quantities in running
   * text — precision over recall, the same trade Dolma's regex tier makes.
   *
   * @return (idCol, clean_text, n_emails, n_ips, n_phones)
   */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Re, "<IP>")
    docs.select(col(idCol),
      regexp_replace(afterIp, phoneRe, "<PHONE>").as("clean_text"),
      regexp_count(col(textCol), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(afterEmail, lit(ipv4Re)).cast("long").as("n_ips"),
      regexp_count(afterIp, lit(phoneRe)).cast("long").as("n_phones"))
  }

  /**
   * Leak-free train/eval split: the split unit is the near-dup CLUSTER, not
   * the document — every member of a cluster lands on the same side, so no
   * near-duplicate of an eval document can sit in train (the contamination
   * mode [[Dedup.contaminationReport]] measures; this operator prevents it
   * at split time). Docs absent from `assignments` are singletons and split
   * as their own unit. Membership is the [[stratifiedSample]]
   * md5-threshold device on the unit key — reproducible across runs,
   * engines, and partial recomputes, and stable under corpus growth: a
   * cluster's side never changes when unrelated docs arrive.
   *
   * Scale shape: one equi-join on the id (assignments is a 2-narrow-column
   * table — AQE broadcasts it when small, sort-merge otherwise), then a
   * narrow hash filter. Contract: `assignments` has at most one row per id
   * (a dedup output); duplicate ids would fan the corpus out.
   *
   * @param evalFrac expected fraction of CLUSTERS (not docs) in eval
   * @return docs columns + (split_unit, split∈{train,eval})
   */
  def leakFreeSplit(docs: DataFrame, idCol: String, assignments: DataFrame,
      assignIdCol: String, clusterCol: String, evalFrac: Double,
      salt: String = "graft-split"): DataFrame = {
    require(evalFrac >= 0.0 && evalFrac <= 1.0,
      s"evalFrac must be in [0,1], got $evalFrac")
    val a = assignments.select(col(assignIdCol).as(idCol),
      col(clusterCol).as("__cl"))
    docs.join(a, Seq(idCol), "left")
      .withColumn("split_unit", coalesce(col("__cl").cast("string"),
        concat(lit("solo:"), col(idCol).cast("string"))))
      .withColumn("split",
        when(hashHex(col("split_unit"), salt) < lit(thresholdHex(evalFrac)),
          lit("eval")).otherwise(lit("train")))
      .drop("__cl")
  }

  /**
   * Temperature-flattened sampling rates — the multilingual / multi-source
   * mixing knob (the T5/mBERT alpha-sampling shape: target distribution
   * q_i PROPORTIONAL TO p_i^alpha): per stratum, the DOWN-sampling rate
   * r_i = (p_i / p_min-ish)^(alpha-1) normalized so the largest rate is
   * exactly 1 — head strata are sampled down toward the flattened target,
   * the smallest stratum keeps every row, and nothing is ever up-weighted
   * (no duplication, so the output stays a subset — compose with
   * [[stratifiedSample]] for the reproducible row filter).
   * alpha = 1 is a no-op (every rate 1), alpha -> 0 flattens toward
   * uniform. Differs from [[mixtureRates]] in where the target comes from:
   * there the caller names absolute weights + a token budget; here the
   * target is DERIVED from the corpus's own shares by one exponent.
   *
   * Scale shape: one stratum aggregation (map-side combine) + two 1-row
   * broadcast joins (total mass, max raw rate). Strata counts are
   * config-sized; nothing data-sized collects.
   *
   * @param alpha temperature in (0, 1]
   * @return (stratum, n_tokens, share, rate) — share/rate rounded to 6
   */
  def temperatureRates(df: DataFrame, strataCol: String, tokenCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha($alpha) outside (0, 1]")
    val agg = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).as("stratum"))
      .agg(sum(col(tokenCol).cast("long")).as("n_tokens"))
    val tot = agg.agg(sum("n_tokens").as("__t"))
    val withRaw = agg.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast("double") / col("__t").cast("double"))
      .withColumn("__raw", pow(col("share"), lit(alpha - 1)))
    val mx = withRaw.agg(max("__raw").as("__m"))
    withRaw.crossJoin(broadcast(mx))
      .select(col("stratum"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("__raw") / col("__m"), 6).as("rate"))
  }

  /**
   * Repeated-caption spam report — the CROSS-MODAL quality signal of an
   * image+caption corpus: one caption text attached to many DISTINCT images
   * is the SEO-spam / bot-gallery / placeholder-alt-text shape ("click here
   * for more", "image", product boilerplate), and those rows poison both
   * caption-conditioned training and the text-side dedup families (a heavy
   * caption is exactly the degenerate band key the cap/salt device bounds
   * — this report is its measuring instrument on the caption axis, the
   * [[graft.operators.TextScores.heavyNgrams]] analogue at whole-caption
   * granularity). Distinctness of the image side is exact byte identity
   * (xxhash64 of the payload), so a gallery re-posting ONE image under one
   * caption does not flag — only genuinely many-image captions do.
   *
   * Scale shape: one aggregation keyed by the normalized caption hash with
   * map-side partial combine; `n_images` is a distinct-count inside the
   * group (exact — spark expands it to a two-level agg; the group count
   * stays bounded by the group's row count). Output rows are only the
   * flagged captions. No joins, no windows, nothing collects.
   *
   * @param minImages flag captions attached to at least this many distinct
   *                  payloads
   * @return (caption_key, caption = lexicographic min representative,
   *         n_images, n_rows) — one row per flagged caption
   */
  def captionSpam(images: DataFrame, captionCol: String, bytesCol: String,
      minImages: Int): DataFrame = {
    require(minImages >= 2, s"minImages($minImages) below 2 flags everything")
    images.groupBy(graft.functions.content_hash(col(captionCol))
        .as("caption_key"))
      .agg(min(col(captionCol)).as("caption"),
        countDistinct(xxhash64(col(bytesCol))).as("n_images"),
        count(lit(1)).as("n_rows"))
      .where(col("n_images") >= minImages)
  }

  /**
   * One-row dataset card — the summary a pipeline publishes next to every
   * corpus snapshot (the "data card" row of a FineWeb/Dolma-style release):
   * volume (docs, tokens, vocabulary), exact duplicate and empty-doc rates
   * in absolute counts, central length statistics (mean + EXACT median via
   * [[graft.operators.SkewStats.exactQuantiles]] — no single-partition
   * sort), and the English share under the engine's stopword language ID.
   * Every number is re-derivable from the corpus alone, so the card doubles
   * as a cross-engine consistency probe (the oracle recomputes it all).
   *
   * Scale shape: one narrow per-doc projection feeding a single aggregate
   * (stopword ratio projected ONCE — the q14 lesson), one explode+distinct
   * for the vocabulary count, and the value-bucketed quantile machinery for
   * the median; the three 1-row frames meet by broadcast. No windows, no
   * collects.
   *
   * @return (n_docs, n_empty_docs, n_dup_docs, n_tokens, n_token_types,
   *         mean_tokens, p50_tokens, pct_en) — rates rounded to 6
   */
  def dataCard(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{tokens, stopword_ratio, lang_id_from_ratio}
    val perDoc = docs.select(col(textCol).as("__text"),
      size(tokens(col(textCol))).as("tc"),
      stopword_ratio(col(textCol)).as("sr"))
    val base = perDoc.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("tc") === 0, lit(1))).as("n_empty_docs"),
      (count(lit(1)) - countDistinct(col("__text"))).as("n_dup_docs"),
      sum(col("tc")).cast("long").as("n_tokens"),
      round(avg(col("tc")), 6).as("mean_tokens"),
      round(avg(when(lang_id_from_ratio(col("sr")) === "en", 1.0)
        .otherwise(0.0)), 6).as("pct_en"))
    val types = docs.select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("n_token_types"))
    val p50 = SkewStats.exactQuantiles(perDoc.select(col("tc")), "tc",
        Seq(0.5))
      .select(col("value").cast("long").as("p50_tokens"))
    base.crossJoin(broadcast(types)).crossJoin(broadcast(p50))
      .select("n_docs", "n_empty_docs", "n_dup_docs", "n_tokens",
        "n_token_types", "mean_tokens", "p50_tokens", "pct_en")
  }

  /**
   * Corpus-wide REPEATED-SPAN removal — the token-level analogue of
   * [[removeBoilerplateLines]] and the batch shape of Lee et al. 2022's
   * exact substring deduplication ("Deduplicating Training Data Makes
   * Language Models Better"): any token n-gram appearing in ≥ `minDocs`
   * DISTINCT documents marks its n token positions for removal in EVERY
   * document containing it; overlapping heavy grams union their coverage.
   * What survives is each document's unique prose; what goes is the
   * shared boilerplate/quote/template mass that plain doc-level dedup
   * can't touch (the documents are distinct — their SPANS are not).
   *
   * Scale: grams shuffle as 8-byte hashes (one count aggregation,
   * `minDocs` gate); the heavy set joins back by gram hash; coverage
   * positions explode only for heavy grams (boilerplate-sized, not
   * corpus-sized); the token-level anti-join + reassembly runs ONLY over
   * docs with >= 1 covered position (a semi-join on `covered`'s distinct
   * ids) — the untouched majority of a web corpus is emitted as the
   * narrow projection `concat_ws(" ", tk)`, identical output (clean_text
   * is token-rebuilt either way) without the two corpus-token-sized
   * shuffles the all-docs rebuild paid. No windows. The token frame feeds
   * several plan branches, so it is cached (same cache-outlives-plan caveat
   * as the [[graft.operators.Dedup]] family).
   *
   * Tokenization is the RAW whitespace split: surviving text keeps its
   * original casing/punctuation, but documents are REASSEMBLED from their
   * token stream — runs of whitespace collapse to single spaces and
   * leading/trailing whitespace is trimmed, in affected and untouched
   * docs alike (the one normalization this pass performs; per-token
   * content is never rewritten). Docs with fewer than `n` tokens contain
   * no n-gram and pass through (token-rebuilt) untouched.
   *
   * @return every input doc: (id, clean_text, n_removed) — clean_text ''
   *         when everything was shared, n_removed counts tokens dropped
   */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    require(n >= 1, s"n($n) must be >= 1")
    require(minDocs >= 2, s"minDocs($minDocs) must be >= 2 — a span is " +
      "'repeated' only across documents")
    import graft.functions.{rawTokens, shingle_hashes}
    val withToks = docs.select(col(idCol).as("id"),
      rawTokens(col(textCol)).as("tk")).persist()
    // guard short docs: shingle_hashes degrades k to the doc length below
    // k, which would let >= minDocs identical SHORT docs mask each other
    // without containing any n-gram
    val grams = withToks.where(size(col("tk")) >= n)
      .select(col("id"), posexplode(shingle_hashes(col("tk"), n, 42L)))
      .select(col("id"), col("pos"), col("col").as("gram"))
    val heavy = grams.groupBy("gram")
      .agg(countDistinct(col("id")).as("df"))
      .where(col("df") >= minDocs)
      .select("gram")
    val covered = grams.join(heavy, "gram")
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + (n - 1))).as("pos"))
      .distinct()
    // only docs with >= 1 covered position pay the token-level anti-join +
    // reassembly; everything else passes through as a narrow projection
    // (identical output — clean_text is token-rebuilt either way). At web
    // scale the affected set is boilerplate-hit docs, not the corpus.
    val affectedIds = covered.select("id").distinct()
    val tokPos = withToks.join(affectedIds, Seq("id"), "left_semi")
      .select(col("id"), posexplode(col("tk")))
      .select(col("id"), col("pos"), col("col").as("tok"))
    val kept = tokPos.join(covered, Seq("id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val affectedOut = withToks.join(affectedIds, Seq("id"), "left_semi")
      .select(col("id"), size(col("tk")).as("n_toks"))
      // left join: a fully-covered doc has no kept rows and rebuilds to ''
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
    val untouchedOut = withToks.join(affectedIds, Seq("id"), "left_anti")
      .select(col("id"), concat_ws(" ", col("tk")).as("clean_text"),
        lit(0L).as("n_removed"))
    affectedOut.unionByName(untouchedOut)
  }

  /**
   * Deterministic WEIGHTED sampling without replacement (Efraimidis–
   * Spirakis via the exponential race): row i gets priority
   * −ln(u_i)/w_i with u_i a pure function of (salt, key) — the k smallest
   * priorities are the sample, each row's inclusion probability
   * proportional to its weight. The weighted companion of
   * [[stratifiedSample]]: same reproducible-by-construction guarantee
   * (no rand(), no execution-order dependence — the oracle recomputes the
   * identical selection in SQL), but mass-aware, e.g. sample training docs
   * proportional to token count or dedup weight ([[dedupWeights]]'
   * output feeds straight in).
   *
   * Scale: a narrow projection plus a global top-k — Spark plans
   * `orderBy(pri).limit(k)` as TakeOrderedAndProject (per-partition heaps,
   * k rows to the driver), never a full sort. Rows with NULL or
   * non-positive weight are excluded (they have no sampling mass).
   *
   * Precondition: keys must be UNIQUE in `df` (the usual id contract).
   * Duplicate keys share a priority tuple, so which duplicate survives a
   * k-cut between them would depend on partition layout — dedup first
   * ([[dedupWeights]] produces exactly the unique-key, weight-carrying
   * shape this consumes).
   *
   * @return the k sampled rows with `df`'s columns
   */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = "graft"): DataFrame = {
    require(k >= 1, s"k($k) must be >= 1")
    val w = col(weightCol).cast("double")
    val v = conv(hashHex(col(keyCol), salt), 16, 10).cast("long")
    val u = (v.cast("double") + 0.5) / 4294967296.0
    df.where(w > 0.0)
      .withColumn("__pri", -log(u) / w)
      .orderBy(col("__pri"), col(keyCol))
      .limit(k)
      .drop("__pri")
  }

  /**
   * Dedup-weighted canonical export — "keep each document once, remember
   * how often it occurred": exact content groups collapse to their
   * min-id canonical row plus a `weight` column (the group size). The
   * loss-weighted-training alternative to plain dropping (a document seen
   * 10⁴ times carries signal a single survivor row loses; samplers and
   * loss scalers consume the weight downstream). Composes with the
   * near-dup families by running AFTER them: feed the assignments'
   * canonical text through here for the exact layer.
   *
   * Scale: groups shuffle on an 8-byte content hash (xxhash64 of the raw
   * text — equal groups modulo 64-bit collisions, the q12/q106 device),
   * one aggregation; the winning row comes back by joining the (hash,
   * min-id, weight) group table to the input on (hash, id) — an equi-join
   * AQE handles, no wide struct ride-along through the shuffle.
   *
   * @return the canonical rows of `docs` (original schema) plus `weight`
   */
  def dedupWeights(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // the output appends `weight` (and rides a `__k` temp): a caller column
    // by either name would produce ambiguous/duplicate names downstream —
    // fail fast like the other __-prefixed-temp operators
    require(!docs.columns.contains("weight"),
      "dedupWeights: input already has a 'weight' column (the output name)")
    require(!docs.columns.contains("__k"),
      "dedupWeights: input already has a '__k' column (the temp name)")
    val keyed = docs.withColumn("__k", xxhash64(col(textCol)))
    val groups = keyed.groupBy("__k").agg(
      min(col(idCol)).as(idCol),
      count(lit(1)).as("weight"))
    keyed.join(groups, Seq("__k", idCol))
      .select(docs.columns.map(col) :+ col("weight"): _*)
  }
}
