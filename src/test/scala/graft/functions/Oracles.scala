package graft.functions

import graft.functions.HashKernels._
import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Reference implementations the kernel specs compare against: scalar
  * helpers over [[HashKernels]] and the expression-chain spellings of the
  * single-pass text kernels. */
object Oracles {

  def hashString(s: String, seed: Long): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  /** 90-degree-counter-clockwise (= 270 cw) transform: flipV after
    * transpose (see [[phashRot90]]). */
  def phashRot270(p: Long): Long = phashFlipV(phashTranspose(p))

  /** Regex/array spelling of [[distinct_token_ratio]] — the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec). */
  private[graft] def distinct_token_ratio_arrays(c: Column): Column = {
    val toks = rawTokens(c)
    val n = F.size(toks)
    F.round(F.when(n === 0, 1.0)
      .otherwise(F.size(F.array_distinct(toks)).cast("double") / n), 4)
  }

  private val StopWords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")

  /** The regex spelling of [[stopword_ratio]] — kept as the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec pins kernel ==
    * regex on generated and edge-case inputs; the kernel is ~12x cheaper
    * on the bench corpus). */
  private[graft] def stopword_ratio_regex(c: Column): Column = {
    val n = normalize_text(c)
    val nToks = F.regexp_count(n, F.lit("[^ ]+"))
    val nStop = F.regexp_count(n, F.lit(StopWords.mkString("\\b(", "|", ")\\b")))
    F.when(nToks === 0, F.lit(0.0)).otherwise(nStop.cast("double") / nToks)
  }

  /** Expression-chain spelling of [[quality_score]] — the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec). */
  private[graft] def quality_score_exprs(c: Column): Column = {
    val nChars = F.length(c).cast("double")
    val nPunct = F.regexp_count(c, F.lit("[.!?,;:]")).cast("double")
    val nToks = token_count(c).cast("double")
    val meanWord = F.when(nToks === 0, F.lit(0.0)).otherwise(nChars / nToks)
    val punctRatio = F.when(nChars === 0, F.lit(1.0)).otherwise(nPunct / nChars)
    val wordScore = F.when(meanWord.between(3.0, 12.0), F.lit(0.4)).otherwise(F.lit(0.0))
    val punctScore = F.when(punctRatio <= 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    val stopScore = F.when(stopword_ratio_regex(c) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    F.round(wordScore + punctScore + stopScore, 2)
  }
}
