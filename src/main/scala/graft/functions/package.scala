package graft

import graft.config.DedupConfig
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.{functions => F}

/**
 * Column-level API of the engine: signature functions (calls of the
 * codegen'd kernels in [[graft.functions.Kernel.all]]) plus text
 * analysis / normalization helpers built from `org.apache.spark.sql.functions`.
 */
package object functions {

  // --- signature expressions -------------------------------------------

  /** One call of the table kernel `name`: its column arguments, then its
    * literal parameters in table order. */
  private def call(name: String, args: Column*)(params: Any*): Column =
    column(KernelCall(name, args.map(expression), params))

  def shingle_hashes(tokens: Column, k: Int, seed: Long = 42L): Column =
    call("shingle_hashes", tokens)(k, seed)

  def minhash_signature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    call("minhash_signature", shingles)(numHashes, seed)

  /** One-permutation MinHash with optimal densification — same LSH collision
    * law as [[minhash_signature]] at one hash per element instead of
    * numHashes (the web-scale featurization kernel; see HashKernels.ophArray). */
  def oph_signature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    call("oph_signature", shingles)(numHashes, seed)

  /** Fused OPH + LSH banding (the [[minhash_band_keys]] counterpart). */
  def oph_band_keys(shingles: Column, numHashes: Int, bands: Int,
      rowsPerBand: Int, seed: Long = 42L): Column =
    call("oph_band_keys", shingles)(numHashes, bands, rowsPerBand, seed)

  /** The one text-signature shingle set: `cfg.shingleK`-shingle hashes of
    * `text`'s normalized tokens. The text dedup operators (batch,
    * incremental, streaming), the novelty scores and the image caption
    * features all shingle through this, so their sets stay comparable. */
  def text_shingles(text: Column, cfg: DedupConfig): Column =
    shingle_hashes(tokens(text), cfg.shingleK, cfg.seed)

  /** The one way a text shingle set becomes LSH band keys: the fused
    * banding kernel `cfg.oph` selects, under `cfg`'s banding. Every band-key
    * producer (batch operators, pipeline, streaming, incremental) routes
    * through this so the kernel choice cannot silently diverge between
    * them — cross-run compatibility is guarded by `featureConfigId`. */
  def text_band_keys(shingles: Column, cfg: DedupConfig): Column =
    if (cfg.oph)
      oph_band_keys(shingles, cfg.numHashes, cfg.bands, cfg.rowsPerBand, cfg.seed)
    else
      minhash_band_keys(shingles, cfg.numHashes, cfg.bands, cfg.rowsPerBand, cfg.seed)

  def simhash64(tokenHashes: Column, seed: Long = 42L): Column =
    call("simhash64", tokenHashes)(seed)

  def lsh_band_keys(sig: Column, bands: Int, rowsPerBand: Int, seed: Long = 42L): Column =
    call("lsh_band_keys", sig)(bands, rowsPerBand, seed)

  def minhash_band_keys(shingles: Column, numHashes: Int, bands: Int,
      rowsPerBand: Int, seed: Long = 42L): Column =
    call("minhash_band_keys", shingles)(numHashes, bands, rowsPerBand, seed)

  def jaccard_sim(a: Column, b: Column): Column =
    call("jaccard_sim", a, b)()

  /** ICWS weighted-MinHash signature — repeats in the hash array are the
    * weights; per-slot collision probability = weighted Jaccard. */
  def icws_signature(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    call("icws_signature", hashes)(numHashes, seed)

  /** Exact weighted Jaccard (sum-min/sum-max of multiset counts). */
  def weighted_jaccard(a: Column, b: Column): Column =
    call("weighted_jaccard", a, b)()

  def lcs_length(a: Column, b: Column, maxLen: Int = 2000): Column =
    call("lcs_length", a, b)(maxLen)

  def cosine_sim(a: Column, b: Column): Column =
    call("cosine_sim", a, b)()

  def dot_product(a: Column, b: Column): Column =
    call("dot_product", a, b)()

  def vec_sub(a: Column, b: Column): Column =
    call("vec_sub", a, b)()

  def adc_lookup(codes: Column, lut: Column, offsets: Seq[Int]): Column =
    call("adc_lookup", codes, lut)(offsets)

  /** The m PQ codes of a vector against a driver-held codebook. */
  def pq_codes(book: PqBook, vec: Column): Column =
    column(PqCodes(expression(vec), book))

  /** A vector's m*k ADC lookup table, subspace-major (read it with
    * [[adc_lookup]] at `book.offsets`). */
  def pq_lut(book: PqBook, vec: Column): Column =
    column(PqLut(expression(vec), book))

  /** Nearest code of an already-sliced subvector in subspace `sub`. */
  def pq_assign(book: PqBook, sub: Column, slice: Column): Column =
    column(PqAssign(expression(sub), expression(slice), book))

  /** A vector's IVF cell: the cent_id of its nearest centroid. */
  def ivf_assign(book: CentroidBook, vec: Column): Column =
    column(IvfAssign(expression(vec), book))

  /** The cent_ids of a vector's top min(nProbe >= 1, nlist) IVF cells. */
  def ivf_probe(book: CentroidBook, vec: Column, nProbe: Int): Column =
    column(IvfProbe(expression(vec), book, nProbe))

  /** FaST positional alignment score of two token arrays (see
    * [[HashKernels.fastAlignData]]), numerically equivalent to the parity
    * spec's Scala reference with empty df (the df damping joins in upstream
    * when wanted). The two sum match contributions in different
    * hash-iteration orders (Scala Map vs java.util.HashMap of UTF8String),
    * so last-ulp summation-order drift is possible; the parity spec asserts
    * 1e-12 tolerance, not bit equality. */
  def fast_align(a: Column, b: Column, gamma: Double = 1.0, alpha: Double = 0.0): Column =
    call("fast_align", a, b)(gamma, alpha)

  def srp_bucket(vec: Column, bits: Int, seed: Long = 42L): Column =
    call("srp_bucket", vec)(bits, seed)

  /** Shannon entropy (bits/char) of the string's code-point distribution —
    * the cheap junk gate next to the ratio signals: spam runs ≈ 0, English
    * prose ≈ 4, base64/binary noise ≥ 6. */
  def char_entropy(s: Column): Column =
    call("char_entropy", s)()

  def phash_tokens(phash: Column): Column =
    call("phash_tokens", phash)()

  /** Orbit-canonical phash (min over {id, flipH, flipV, rot180}) — mirrored
    * or 180-rotated re-uploads share the canonical. */
  def phash_canonical(phash: Column): Column =
    call("phash_canonical", phash)()

  /** Transpose of the phash's 8x8 bit grid (main-diagonal flip). */
  def phash_transpose(phash: Column): Column =
    call("phash_transpose", phash)()

  /** 90-degree-clockwise-rotation transform of the phash. */
  def phash_rot90(phash: Column): Column =
    call("phash_rot90", phash)()

  /** Full-dihedral orbit-canonical phash (min over all eight D4 grid
    * symmetries) — mirrored AND 90/270-rotated re-uploads share it. */
  def phash_canonical_d4(phash: Column): Column =
    call("phash_canonical_d4", phash)()

  def rolling_fingerprint(s: Column, seed: Long = 42L): Column =
    call("rolling_fingerprint", s)(seed)

  /** Winnowed k-gram anchors: strings sharing an exact run of length
    * >= w + k - 1 chars are guaranteed >= 1 common anchor. */
  def winnow_anchors(s: Column, k: Int, w: Int, seed: Long = 42L): Column =
    call("winnow_anchors", s)(k, w, seed)

  /** Hamming distance between two 64-bit hashes — pure built-ins (codegen'd). */
  def hamming64(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Probe a serialized Bloom sketch with a 64-bit hash column — Spark's own
    * codegen'd `BloomFilterMightContain` (the runtime-row-filter expression)
    * over an inlined literal sketch: the filter deserializes ONCE at plan
    * init, then each row is a few bit tests. Build the sketch with
    * [[graft.operators.Dedup.bloomSketch]] (hash contract: both sides must
    * hash the same way — `xxhash64` here and there). */
  def bloom_might_contain(sketch: Array[Byte], hash: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        sketch, org.apache.spark.sql.types.BinaryType),
      expression(hash)))

  // --- normalization / tokenization (reference parsers/base.py:21-32,
  // preprocess/char_filter.py:4-14 — grafted to caption text) -------------

  /** Lowercase, strip non [a-z0-9 ] chars, collapse whitespace, trim. */
  def normalize_text(c: Column): Column =
    F.trim(F.regexp_replace(
      F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokens of normalized text. normalize_text already collapses
    * runs of spaces and trims, so after the split only the all-empty-input
    * case leaves an empty token; array_remove covers it with a single
    * codegen'd call — no filter() lambda (higher-order functions are
    * interpreted and would knock the whole signature projection out of
    * whole-stage codegen) and a single normalize_text evaluation. */
  def tokens(c: Column): Column =
    F.array_remove(F.split(normalize_text(c), " "), "")

  /** Content-identity hash (reference stack.py:54-57 comma-join-and-hash). */
  def content_hash(c: Column): Column = F.xxhash64(normalize_text(c))

  // --- text analysis (training-data pipeline ops) ------------------------

  /** Token count of the raw string split on SINGLE SPACES (SQL-parity
    * friendly: matches len(string_split(text, ' ')) semantics) — tabs and
    * newlines are NOT separators here; use [[tokens]] (which normalizes all
    * whitespace first) when they must be. Counted as matches of the
    * non-space-run class — the same value as size(array_remove(split))
    * (maximal non-space runs) without materializing the token array
    * (round-6 kernel trim). */
  def token_count(c: Column): Column =
    F.regexp_count(c, F.lit("[^ ]+"))

  /** BPE-ish subword token count: one codegen'd regexp_count of the GPT-2
    * pre-tokenizer's class structure — letter runs, digit runs, and single
    * non-alphanumeric marks each count as one piece (the merges table is the
    * trained half BPE adds; the class split alone already tracks a trained
    * tokenizer's counts far closer than whitespace splitting on punctuation-
    * dense / code / URL text, where token_count undercounts badly).
    * Whitespace is spelled as an explicit class, not \s: Java regex counts
    * vertical tab (\x0B) as \s while RE2 (the DuckDB oracle engine) does
    * not, and an oracle must not diverge from the engine on any input. */
  def subword_count(c: Column): Column =
    F.regexp_count(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"))

  /** Raw-string whitespace tokens with null degrading to the empty doc —
    * the [[graft.operators.TextScores.repetitionSignals]] tokenization.
    * private[graft]: [[graft.operators.Curation.removeRepeatedSpans]]
    * rebuilds documents from exactly this stream. */
  private[graft] def rawTokens(c: Column): Column =
    F.array_remove(F.split(F.coalesce(c, F.lit("")), " "), "")

  /** Distinct-token ratio (Gopher/FineWeb repetition family, Rae et al.
    * 2021 §A1.1), rounded to 4 places; empty/null text -> 1.0. Scalar
    * counterpart of [[graft.operators.TextScores.repetitionSignals]] (which
    * computes both signals off one shared token array — use it for whole-
    * corpus scans; these exist so the SQL surface stays total). */
  def distinct_token_ratio(c: Column): Column =
    call("distinct_token_ratio", F.coalesce(c, F.lit("")))()

  /** Duplicate-bigram fraction (same family), rounded to 4 places;
    * fewer than two tokens -> 0.0. See [[distinct_token_ratio]]. */
  def dup_bigram_frac(c: Column): Column = {
    val toks = rawTokens(c)
    val n = F.size(toks)
    val bigrams = F.when(n < 2, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(F.lit(0), n - 2), i =>
        F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2))))
    F.round(F.when(F.size(bigrams) === 0, 0.0)
      .otherwise(F.lit(1.0) -
        F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams)), 4)
  }

  /** Fraction of tokens that are English stopwords (language-ID heuristic).
    * Counted with one codegen'd regexp_count over the normalized text —
    * \b-bounded alternation on [a-z0-9 ] text matches exactly the tokens
    * that equal a stopword (no interpreted filter() lambda in the hot path). */
  def stopword_ratio(c: Column): Column =
    call("stopword_ratio", c)()

  /** n-gram-free language ID heuristic: 'en' when stopword density clears a
    * threshold, 'other' otherwise. */
  def lang_id(c: Column, threshold: Double = 0.08): Column =
    lang_id_from_ratio(stopword_ratio(c), threshold)

  /** [[lang_id]] over a PRE-COMPUTED stopword ratio column — for plans that
    * project the (expensive) ratio once and derive several outputs from it
    * (q14); keeps the threshold/label contract in exactly one place. */
  def lang_id_from_ratio(ratio: Column, threshold: Double = 0.08): Column =
    F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("other"))

  /** Quality score in [0,1]: mean-word-length band + punctuation sparsity +
    * stopword presence (length/punct/stopword ratios per the brief) —
    * the single-pass kernel ([[HashKernels.qualityScore]]); the expression
    * spelling below is the spec's equivalence oracle. NULL text scores 0.0:
    * the original chain's `when(...).otherwise(0.0)` arms swallow the null
    * at every branch (and the SQL oracles' CASE ELSE arms do the same), so
    * the null-intolerant kernel is coalesced to match. */
  def quality_score(c: Column): Column =
    F.coalesce(call("quality_score", c)(), F.lit(0.0))
}
