package graft

import graft.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column, resolvedExpression}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal

/**
 * SparkSessionExtensions entry point: registers every graft signature kernel
 * as a native SQL function, so the whole engine surface is reachable from
 * plain `spark.sql(...)` (and spark-submit `--conf
 * spark.sql.extensions=graft.GraftExtensions`) — the idiomatic Spark way to
 * ship third-party Catalyst expressions to a cluster.
 *
 * The kernel functions are built from the same table the Column API calls
 * ([[graft.functions.Kernel.all]]), so both surfaces produce one
 * [[graft.functions.KernelCall]]; static parameters (k, bands, seed…)
 * arrive as foldable SQL literals and are evaluated at resolution time.
 * Column-only are the kernels that take a driver-built object, which no SQL
 * literal can spell: `adc_lookup` (PQ subspace offsets) and the PQ and IVF
 * codebook kernels.
 *
 * Reference analogue: the coder/method registry the reference wires by hand in
 * ea/sim/dev/scripts/training/training/common.py:47-74 — here it is one
 * extensions hook instead of an object graph.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Register the same functions into an already-running session (notebooks,
    * tests — anywhere the session predates the library on the classpath). */
  def register(spark: SparkSession): Unit = registrations.foreach {
    case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
  }

  private def intOf(e: Expression, fn: String, what: String): Int = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case l: Long => throw new IllegalArgumentException(
        s"$fn: $what is out of Int range: $l") // no silent wrap (cf. longOf)
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }

  private def longOf(e: Expression, fn: String, what: String): Long = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l // full 64-bit seeds must NOT truncate through Int
      case other   => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }

  private def dblOf(e: Expression, fn: String, what: String): Double = {
    require(e.foldable, s"$fn: $what must be a literal")
    e.eval() match {
      case d: Double     => d
      case f: Float      => f.toDouble
      case dec: Decimal  => dec.toDouble
      case i: Int        => i.toDouble
      case l: Long       => l.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a numeric literal, got $other")
    }
  }

  private def arity(fn: String, args: Seq[Expression], min: Int, max: Int): Unit =
    require(args.size >= min && args.size <= max,
      s"$fn expects $min..$max arguments, got ${args.size}")

  private def desc(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** SQL function `fn` of table kernel `k`: its column arguments, then its
    * literal parameters, the trailing ones optional where the table gives a
    * default. */
  private def kernelCall(k: Kernel, fn: String)(args: Seq[Expression]): Expression = {
    val n = k.args.length
    arity(fn, args, n + k.params.count(_.default.isEmpty), n + k.params.length)
    KernelCall(k.name, args.take(n), k.params.zipWithIndex.map { case (p, i) =>
      if (args.size <= n + i) p.default.get
      else p.lit match {
        case Lit.IntLit => intOf(args(n + i), fn, p.name)
        case Lit.LongLit => longOf(args(n + i), fn, p.name)
        case Lit.DoubleLit => dblOf(args(n + i), fn, p.name)
        case Lit.IntsLit => throw new IllegalArgumentException(
          s"$fn: ${p.name} has no SQL literal form")
      }
    })
  }

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Kernel.all.flatMap(k => k.sql.map { case (fn, doc) =>
      reg(fn, s"$fn(${k.signature}) - $doc")(kernelCall(k, fn))
    }) ++ Seq(
    // --- text-analysis surface: the Column compositions from
    // graft.functions, re-rooted on the SQL argument expressions (same
    // built-in codegen'd trees the Column API produces) ------------------
    reg("graft_normalize", "graft_normalize(s) - lowercase, strip non [a-z0-9 ], collapse spaces") { args =>
      arity("graft_normalize", args, 1, 1)
      resolvedExpression(normalize_text(column(args.head)))
    },
    reg("graft_tokens", "graft_tokens(s) - whitespace tokens of normalized text") { args =>
      arity("graft_tokens", args, 1, 1)
      resolvedExpression(tokens(column(args.head)))
    },
    reg("graft_content_hash", "graft_content_hash(s) - xxhash64 of normalized text") { args =>
      arity("graft_content_hash", args, 1, 1)
      resolvedExpression(content_hash(column(args.head)))
    },
    reg("graft_token_count", "graft_token_count(s) - single-space-separated token count of the raw string") { args =>
      arity("graft_token_count", args, 1, 1)
      resolvedExpression(token_count(column(args.head)))
    },
    reg("graft_subword_count", "graft_subword_count(s) - BPE-ish pre-tokenizer piece count") { args =>
      arity("graft_subword_count", args, 1, 1)
      resolvedExpression(subword_count(column(args.head)))
    },
    reg("graft_lang_id", "graft_lang_id(s[, threshold]) - stopword-density language ID") { args =>
      arity("graft_lang_id", args, 1, 2)
      resolvedExpression(lang_id(column(args.head),
        if (args.size > 1) dblOf(args(1), "graft_lang_id", "threshold") else 0.08))
    },
    reg("graft_quality", "graft_quality(s) - [0,1] length/punct/stopword quality score") { args =>
      arity("graft_quality", args, 1, 1)
      resolvedExpression(quality_score(column(args.head)))
    },
    reg("graft_distinct_token_ratio",
        "graft_distinct_token_ratio(s) - distinct/total whitespace-token ratio (repetition signal)") { args =>
      arity("graft_distinct_token_ratio", args, 1, 1)
      resolvedExpression(distinct_token_ratio(column(args.head)))
    },
    reg("graft_dup_bigram_frac",
        "graft_dup_bigram_frac(s) - duplicated-bigram fraction (repetition signal)") { args =>
      arity("graft_dup_bigram_frac", args, 1, 1)
      resolvedExpression(dup_bigram_frac(column(args.head)))
    },
    reg("graft_hamming64", "graft_hamming64(a, b) - Hamming distance of two 64-bit hashes") { args =>
      arity("graft_hamming64", args, 2, 2)
      resolvedExpression(hamming64(column(args.head), column(args(1))))
    })

  private def reg(name: String, usage: String)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), desc(name, usage), builder)
}
