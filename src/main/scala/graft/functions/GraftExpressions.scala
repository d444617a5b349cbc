package graft.functions

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/**
 * Custom Catalyst expressions for the signature methods (SURVEY.md section 2.10).
 *
 * The static kernels are one expression, [[KernelCall]], over one table,
 * [[Kernel.all]]. Each row names a [[HashKernels]] method, its argument and
 * result types, and its literal parameters with their defaults and valid
 * ranges. The generated code is that method's single static call, so the
 * surrounding whole-stage-codegen span stays intact (no black-box ScalaUDF
 * serialization, no Row boxing); the interpreted path invokes the same
 * method. Adding a kernel means one `HashKernels` method plus one table
 * row: its Column helper in `graft.functions` and its SQL function in
 * [[graft.GraftExtensions]] are one call into the row.
 *
 * The kernels that read a driver-built object keep their own classes: the
 * [[PqBook]]/[[CentroidBook]] kernels.
 */

/** The Java type of a kernel's literal parameter. */
sealed abstract class Lit(val cls: Class[_], val what: String) {
  def is(v: Any): Boolean
  /** `v` as an argument of the generated call. */
  def gen(ctx: CodegenContext, v: Any): String
  /** `v` as an argument of the interpreted call. */
  def arg(v: Any): AnyRef = v.asInstanceOf[AnyRef]
}

object Lit {
  case object IntLit extends Lit(java.lang.Integer.TYPE, "an int") {
    def is(v: Any): Boolean = v.isInstanceOf[Int]
    def gen(ctx: CodegenContext, v: Any): String = v.toString
  }
  case object LongLit extends Lit(java.lang.Long.TYPE, "a long") {
    def is(v: Any): Boolean = v.isInstanceOf[Long]
    def gen(ctx: CodegenContext, v: Any): String = s"${v}L"
  }
  /** Finite values only: `NaND` is no Java literal. */
  case object DoubleLit extends Lit(java.lang.Double.TYPE, "a finite double") {
    def is(v: Any): Boolean = v match {
      case d: Double => java.lang.Double.isFinite(d)
      case _ => false
    }
    def gen(ctx: CodegenContext, v: Any): String = s"${v}D"
  }
  /** A `Seq[Int]`; the kernel reads it as an `int[]` that rides with the plan. */
  case object IntsLit extends Lit(classOf[Array[Int]], "a Seq[Int]") {
    def is(v: Any): Boolean = v match {
      case s: Seq[_] => s.forall(_.isInstanceOf[Int])
      case _ => false
    }
    def gen(ctx: CodegenContext, v: Any): String = ctx.addReferenceObj("ints", arg(v), "int[]")
    override def arg(v: Any): AnyRef = v.asInstanceOf[Seq[Int]].toArray
  }
}

/** A literal parameter of a [[Kernel]]: its name (in the Scala helper, the
  * SQL usage and the error messages), its Java type, its valid range (`ok`,
  * spelled `rule`) and the value the SQL surface fills in when it is left
  * out. */
final case class KernelParam(name: String, lit: Lit, rule: String, ok: Any => Boolean,
    default: Option[Any] = None)

/** One static kernel. `name` is the expression's pretty name; `method` the
  * [[HashKernels]] method called with the column arguments, then the
  * literal parameters; `sql` the SQL function name and its usage text, for
  * the kernels that have a SQL twin; `rule` checks the parameters together. */
final case class Kernel(name: String, method: String, args: Seq[(String, DataType)],
    result: DataType, params: Seq[KernelParam] = Nil,
    sql: Option[(String, String)] = None, rule: Seq[Any] => Option[String] = _ => None) {

  /** The argument list of the SQL usage line, optional parameters bracketed. */
  def signature: String = {
    val (required, optional) = params.partition(_.default.isEmpty)
    (args.map(_._1) ++ required.map(_.name)).mkString(", ") +
      optional.foldRight("")((p, rest) => s"[, ${p.name}$rest]")
  }

  /** Fails, naming this kernel and the parameter, unless `values` are valid. */
  def validate(values: Seq[Any]): Unit = {
    require(values.length == params.length,
      s"$name takes ${params.length} literal parameters, got ${values.length}")
    params.zip(values).foreach { case (p, v) =>
      require(p.lit.is(v), s"$name: ${p.name} must be ${p.lit.what}, got $v")
      require(p.ok(v), s"$name: ${p.name}($v) must be ${p.rule}")
    }
    rule(values).foreach(m => throw new IllegalArgumentException(s"$name: $m"))
  }

  /** The analysis-time check of the argument types (array nullability
    * aside): a wrong type fails resolution instead of every task. */
  def checkTypes(got: Seq[DataType]): TypeCheckResult = {
    def fits(want: DataType, have: DataType): Boolean = (want, have) match {
      case (ArrayType(w, _), ArrayType(h, _)) => fits(w, h)
      case (_: StringType, _: StringType) => true
      case _ => want == have
    }
    if (args.zip(got).forall { case ((_, w), h) => fits(w, h) })
      TypeCheckResult.TypeCheckSuccess
    else {
      val want = args.map(_._2.simpleString)
      val wanted =
        if (want.length == 1) s"${if ("aeiou".contains(want.head.head)) "an" else "a"} " +
          s"${want.head} argument"
        else want.mkString("", " and ", " arguments")
      TypeCheckResult.TypeCheckFailure(
        s"$name requires $wanted, got ${got.map(_.sql).mkString(" and ")}")
    }
  }
}

object Kernel {
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Floats = ArrayType(FloatType, containsNull = false)
  private val Strings = ArrayType(StringType)

  private def atLeast(name: String, min: Int, default: Option[Int] = None) =
    KernelParam(name, Lit.IntLit, s">= $min", _.asInstanceOf[Int] >= min, default)
  private val seed = KernelParam("seed", Lit.LongLit, "a long", _ => true, Some(42L))
  /** `1L << 64` wraps around, so 65 bits would equal 64 silently. */
  private val bits = KernelParam("bits", Lit.IntLit, "in 1..64",
    v => v.asInstanceOf[Int] >= 1 && v.asInstanceOf[Int] <= 64)
  private def real(name: String, default: Double) =
    KernelParam(name, Lit.DoubleLit, "finite", _ => true, Some(default))
  private val bandParams = Seq(atLeast("numHashes", 1), atLeast("bands", 1),
    atLeast("rowsPerBand", 1), seed)
  /** The fused band keys read bands * rowsPerBand signature slots. */
  private val bandsFit: Seq[Any] => Option[String] = {
    case Seq(n: Int, b: Int, r: Int, _) if b.toLong * r > n =>
      Some(s"bands($b) * rowsPerBand($r) must be <= numHashes($n)")
    case _ => None
  }
  private def sql(fn: String, doc: String) = Some((fn, doc))

  val all: Seq[Kernel] = Seq(
    // reference n-gram semantics: ea/sim/main/preprocess/seq_coder.py:69-81
    Kernel("shingle_hashes", "shingleHashes", Seq("tokens" -> Strings), Longs,
      Seq(atLeast("k", 1), seed), sql("graft_shingles", "k-shingle hashes")),
    Kernel("minhash_signature", "minhash", Seq("shingles" -> Longs), Longs,
      Seq(atLeast("numHashes", 1), seed), sql("graft_minhash", "MinHash signature")),
    Kernel("oph_signature", "oph", Seq("shingles" -> Longs), Longs,
      Seq(atLeast("numHashes", 1), seed),
      sql("graft_oph", "one-permutation MinHash signature (optimal densification)")),
    Kernel("oph_band_keys", "ophBandKeys", Seq("shingles" -> Longs), Longs, bandParams,
      sql("graft_oph_band_keys", "fused OPH+LSH"), bandsFit),
    Kernel("simhash64", "simhash64", Seq("tokenHashes" -> Longs), LongType, Seq(seed),
      sql("graft_simhash64", "64-bit SimHash")),
    Kernel("lsh_band_keys", "bandKeys", Seq("sig" -> Longs), Longs,
      Seq(atLeast("bands", 1), atLeast("rowsPerBand", 1), seed),
      sql("graft_band_keys", "LSH band keys")),
    Kernel("minhash_band_keys", "minhashBandKeys", Seq("shingles" -> Longs), Longs,
      bandParams, sql("graft_minhash_band_keys", "fused MinHash+LSH"), bandsFit),
    Kernel("jaccard_sim", "jaccardData", Seq("a" -> Longs, "b" -> Longs), DoubleType,
      sql = sql("graft_jaccard", "exact Jaccard of two hash arrays")),
    Kernel("lcs_length", "lcsLengthData", Seq("a" -> StringType, "b" -> StringType),
      IntegerType, Seq(atLeast("maxLen", 0, Some(2000))),
      sql("graft_lcs_length", "longest-common-substring length")),
    Kernel("cosine_sim", "cosineData", Seq("a" -> Floats, "b" -> Floats), DoubleType,
      sql = sql("graft_cosine", "cosine similarity of two float vectors")),
    Kernel("dot_product", "dotData", Seq("a" -> Floats, "b" -> Floats), DoubleType,
      sql = sql("graft_dot", "inner product of two float vectors")),
    // IVFADC residuals; the zip_with equivalent runs its lambda interpreted
    Kernel("vec_sub", "subData", Seq("a" -> Floats, "b" -> Floats), Floats,
      sql = sql("graft_vec_sub", "elementwise float-vector difference")),
    // PQ/ADC score; the driver-built subspace offsets ride with the plan
    Kernel("adc_lookup", "adcData",
      Seq("codes" -> ArrayType(IntegerType), "lut" -> ArrayType(DoubleType)), DoubleType,
      Seq(KernelParam("offsets", Lit.IntsLit, ">= 0 each",
        _.asInstanceOf[Seq[Int]].forall(_ >= 0)))),
    Kernel("srp_bucket", "srpBucketData", Seq("vec" -> Floats), LongType, Seq(bits, seed),
      sql("graft_srp_bucket", "sign-random-projection bucket")),
    // Schleimer et al. SIGMOD'03, see HashKernels.winnowAnchorsFromChars
    Kernel("winnow_anchors", "winnowAnchors", Seq("s" -> StringType), Longs,
      Seq(atLeast("k", 1), atLeast("w", 1), seed),
      sql("graft_winnow_anchors", "winnowed k-gram anchor hashes")),
    Kernel("phash_tokens", "phashTokensData", Seq("phash" -> LongType), Longs,
      sql = sql("graft_phash_tokens", "positional byte-gram tokens")),
    Kernel("phash_canonical", "phashCanonical", Seq("phash" -> LongType), LongType,
      sql = sql("graft_phash_canonical", "min over the mirror/rotation orbit")),
    Kernel("phash_transpose", "phashTranspose", Seq("phash" -> LongType), LongType,
      sql = sql("graft_phash_transpose", "8x8 bit-grid transpose")),
    Kernel("phash_rot90", "phashRot90", Seq("phash" -> LongType), LongType,
      sql = sql("graft_phash_rot90", "90-degree-clockwise grid rotation")),
    Kernel("phash_canonical_d4", "phashCanonicalD4", Seq("phash" -> LongType), LongType,
      sql = sql("graft_phash_canonical_d4", "min over all eight dihedral grid symmetries")),
    Kernel("fast_align", "fastAlignData", Seq("tokensA" -> Strings, "tokensB" -> Strings),
      DoubleType, Seq(real("gamma", 1.0), real("alpha", 0.0)),
      sql("graft_fast_align", "FaST positional alignment score")),
    Kernel("rolling_fingerprint", "rollingFingerprintData", Seq("s" -> StringType),
      LongType, Seq(seed), sql("graft_fingerprint", "rolling polynomial fingerprint")),
    Kernel("icws_signature", "icws", Seq("hashes" -> Longs), Longs,
      Seq(atLeast("numHashes", 1), seed),
      sql("graft_icws", "ICWS weighted-MinHash signature (repeats = weights)")),
    Kernel("weighted_jaccard", "weightedJaccardData", Seq("a" -> Longs, "b" -> Longs),
      DoubleType,
      sql = sql("graft_weighted_jaccard", "exact weighted Jaccard of two hash multisets")),
    Kernel("char_entropy", "charEntropy", Seq("s" -> StringType), DoubleType,
      sql = sql("graft_char_entropy",
        "Shannon entropy (bits/char) of the code-point distribution")),
    Kernel("stopword_ratio", "stopwordRatio", Seq("s" -> StringType), DoubleType,
      sql = sql("graft_stopword_ratio", "fraction of stopword tokens")),
    // SQL reaches these two through the coalescing Column helpers
    // (graft_quality, graft_distinct_token_ratio)
    Kernel("quality_score", "qualityScore", Seq("s" -> StringType), DoubleType),
    Kernel("distinct_token_ratio", "distinctTokenRatio", Seq("s" -> StringType), DoubleType))

  private val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap

  def named(name: String): Kernel =
    byName.getOrElse(name, throw new IllegalArgumentException(s"no kernel named $name"))
}

/** One call of the kernel `name` ([[Kernel.named]]): `children` are its
  * column arguments and `params` its literal parameters, in table order.
  * Null in, null out. The parameters are checked when the expression is
  * built, the argument types at analysis. Equality is by value, so equal
  * calls can share an exchange. */
case class KernelCall(name: String, children: Seq[Expression], params: Seq[Any])
    extends Expression {
  @transient private lazy val kernel: Kernel = Kernel.named(name)
  require(children.length == kernel.args.length,
    s"$name takes ${kernel.args.length} arguments, got ${children.length}")
  kernel.validate(params)

  override def dataType: DataType = kernel.result
  override def nullable: Boolean = children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  /** Plans print `name(children..., params...)`. */
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params.iterator
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.checkTypes(children.map(_.dataType))

  /** The kernel method, resolved once per instance: eval invokes the very
    * method the generated code calls. */
  @transient private lazy val method: MethodHandle =
    MethodHandles.publicLookup().findStatic(Class.forName(KernelCall.Host), kernel.method,
      MethodType.methodType(CodeGenerator.javaClass(dataType),
        (kernel.args.map(a => CodeGenerator.javaClass(a._2)) ++
          kernel.params.map(_.lit.cls)).toArray))
  @transient private lazy val paramArgs: Array[AnyRef] =
    kernel.params.zip(params).map { case (p, v) => p.lit.arg(v) }.toArray

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + paramArgs.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(paramArgs, 0, args, children.length, paramArgs.length)
    method.invokeWithArguments(args: _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val lits = kernel.params.zip(params).map { case (p, v) => p.lit.gen(ctx, v) }
    val call = s"${ev.value} = ${KernelCall.Host}.${kernel.method}(" +
      (evals.map(_.value.toString) ++ lits).mkString(", ") + ");"
    val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      // each child is evaluated only when the ones before it are not null
      val body = children.zip(evals).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, e), inner) => s"${e.code}\n${ctx.nullSafeExec(c.nullable, e.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $init
        $body""")
    } else
      ev.copy(code = code"""
        ${evals.map(_.code.toString).mkString("\n")}
        $init
        $call""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

object KernelCall {
  /** The class whose static methods the kernels are. */
  private val Host = "graft.functions.HashKernels"
}

/** A trained product-quantization codebook held on the driver:
  * `books(sub)(code)` centroid floats and their ||c||^2/2 terms. The PQ
  * kernels ([[PqCodes]], [[PqLut]], [[PqAssign]]) reach it through
  * `addReferenceObj`, so it ships once with the plan instead of as m*k
  * literal nodes. One measure serves training, encoding and the lookup
  * table: score = x.c - ||c||^2/2 (argmax == nearest centroid by squared
  * L2), summed in double over the min length; the max score wins under
  * Spark's double ordering (NaN largest, -0.0 == 0.0) and ties go to the
  * max code. Equality is by value, so two plans over one codebook stay
  * equal and can share an exchange. */
final class PqBook(val books: Array[Array[Array[Float]]]) extends Serializable {
  require(books.nonEmpty && books.forall(_.nonEmpty),
    "PqBook: every subspace needs at least one centroid")
  val m: Int = books.length
  /** Slice width of [[codes]] and [[lut]]: the first centroid's length. */
  val subDim: Int = books.head.head.length
  private val half: Array[Array[Double]] = books.map(_.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
    s / 2
  })
  /** Start of each subspace's scores in the subspace-major [[lut]]. */
  val offsets: Array[Int] = books.map(_.length).scanLeft(0)(_ + _).init
  private val lutSize = offsets.last + books.last.length

  private def score(v: Array[Float], from: Int, len: Int, sub: Int, code: Int): Double =
    HashKernels.dotAt(v, from, len, books(sub)(code)) - half(sub)(code)

  private def best(v: Array[Float], from: Int, len: Int, sub: Int): Int = {
    var code = 0
    var top = score(v, from, len, sub, 0)
    var c = 1
    while (c < books(sub).length) {
      val s = score(v, from, len, sub, c)
      if (SQLOrderingUtil.compareDoubles(s, top) >= 0) {
        code = c; top = s
      }
      c += 1
    }
    code
  }

  /** Length of Spark's `slice(v, sub * subDim + 1, subDim)` over n floats. */
  private def sliceLen(n: Int, sub: Int): Int =
    math.max(0, math.min(subDim, n - sub * subDim))

  /** m codes, one per subspace; a null vector scores null everywhere, which
    * ties every centroid, so it gets each subspace's last code. */
  def codes(vec: ArrayData): ArrayData = {
    val out = new Array[Int](m)
    if (vec == null) {
      var sub = 0
      while (sub < m) { out(sub) = books(sub).length - 1; sub += 1 }
    } else {
      val v = vec.toFloatArray()
      var sub = 0
      while (sub < m) {
        out(sub) = best(v, sub * subDim, sliceLen(v.length, sub), sub)
        sub += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The m*k per-centroid scores, subspace-major; m*k nulls for a null
    * vector. */
  def lut(vec: ArrayData): ArrayData =
    if (vec == null) {
      val out = UnsafeArrayData.createFreshArray(lutSize, 8)
      var i = 0
      while (i < lutSize) { out.setNullAt(i); i += 1 }
      out
    } else {
      val v = vec.toFloatArray()
      val out = new Array[Double](lutSize)
      var sub = 0
      while (sub < m) {
        val len = sliceLen(v.length, sub)
        var c = 0
        while (c < books(sub).length) {
          out(offsets(sub) + c) = score(v, sub * subDim, len, sub, c)
          c += 1
        }
        sub += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

  def hasSub(sub: Int): Boolean = sub >= 0 && sub < m

  /** Nearest code of one already-sliced subvector (the training E-step);
    * a null slice gets the last code. */
  def assign(sub: Int, slice: ArrayData): Int =
    if (slice == null) books(sub).length - 1
    else {
      val v = slice.toFloatArray()
      best(v, 0, v.length, sub)
    }

  override def equals(o: Any): Boolean = o match {
    case b: PqBook => (b eq this) || java.util.Arrays.deepEquals(
      books.asInstanceOf[Array[AnyRef]], b.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override lazy val hashCode: Int =
    java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])
  /** Plan strings name the shape, never the floats. */
  override def toString: String =
    s"PqBook(m=$m, k=${books.map(_.length).mkString("/")}, subDim=$subDim)"
}

/** array<float> -> array<int>: the m PQ codes of a vector ([[PqBook.codes]]).
  * Never null: a null vector has codes too. */
case class PqCodes(child: Expression, book: PqBook) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"
  override def eval(input: InternalRow): Any =
    book.codes(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BookCall.gen(ctx, ev, this, book, "codes")
  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** array<float> -> array<double>: the vector's m*k ADC lookup table
  * ([[PqBook.lut]]), read by [[adc_lookup]] at `book.offsets`. */
case class PqLut(child: Expression, book: PqBook) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_lut"
  override def eval(input: InternalRow): Any =
    book.lut(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BookCall.gen(ctx, ev, this, book, "lut")
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** (int sub, array<float> slice) -> int nearest code in that subspace
  * ([[PqBook.assign]]); null when `sub` is null or not a subspace. */
case class PqAssign(left: Expression, right: Expression, book: PqBook)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_assign"
  override def eval(input: InternalRow): Any = {
    val sub = left.eval(input)
    if (sub == null || !book.hasSub(sub.asInstanceOf[Int])) null
    else book.assign(sub.asInstanceOf[Int], right.eval(input).asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBook", book, classOf[PqBook].getName)
    val s = left.genCode(ctx)
    val v = right.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      boolean ${ev.isNull} = ${s.isNull} || !$ref.hasSub(${s.value});
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${v.code}
        ${ev.value} = $ref.assign(${s.value}, ${v.isNull} ? null : ${v.value});
      }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAssign =
    copy(left = l, right = r)
}

/** IVF centroids held on the driver: non-null `ids` (Catalyst values of the
  * `cent_id` type, ascending in Spark's order) beside their float vectors,
  * read by [[IvfAssign]] and [[IvfProbe]] through `addReferenceObj`. A
  * centroid's sim is [[HashKernels.cosine]](vec, centroid); centroids rank
  * as `greatest`/`array_sort` order `struct(sim, cent_id)`: sims under
  * Spark's double ordering (NaN largest, -0.0 == 0.0), ties to the larger
  * id, and a null vector's sims are all null, so only the id ranks.
  * Equality is by value, so plans over equal books can share an exchange. */
final class CentroidBook private (val idType: DataType, val ids: Array[Any],
    val vecs: Array[Array[Float]]) extends Serializable {
  require(ids.nonEmpty, "centroids: the centroid table is empty")
  val nlist: Int = ids.length

  /** Index of the top centroid; ids ascend, so the later index wins a tie. */
  private def best(vec: ArrayData): Int =
    if (vec == null) nlist - 1
    else {
      val v = vec.toFloatArray()
      var b = 0; var top = HashKernels.cosine(v, vecs(0)); var c = 1
      while (c < nlist) {
        val s = HashKernels.cosine(v, vecs(c))
        if (SQLOrderingUtil.compareDoubles(s, top) >= 0) { b = c; top = s }
        c += 1
      }
      b
    }

  /** The nearest centroid's id: the vector's cell. */
  def assign(vec: ArrayData): Any = ids(best(vec))

  /** The ids of the top min(nProbe, nlist) centroids, best first. */
  def probe(vec: ArrayData, nProbe: Int): ArrayData = {
    val ranked =
      if (vec == null) Array.range(0, nlist).reverse
      else {
        val v = vec.toFloatArray()
        val sims = vecs.map(HashKernels.cosine(v, _))
        Array.range(0, nlist).sortWith { (a, b) =>
          val c = SQLOrderingUtil.compareDoubles(sims(a), sims(b))
          c > 0 || (c == 0 && a > b)
        }
      }
    new GenericArrayData(ranked.take(nProbe).map(ids(_)))
  }

  private def parts: Array[AnyRef] = Array(idType, ids, vecs)
  override def equals(o: Any): Boolean = o match {
    case b: CentroidBook => java.util.Arrays.deepEquals(parts, b.parts)
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Arrays.deepHashCode(parts)
  /** Plan strings name the shape, never the floats. */
  override def toString: String =
    s"CentroidBook(nlist=$nlist, dim=${vecs.head.length}, cent_id=${idType.simpleString})"
}

object CentroidBook {
  /** A book over collected (cent_id, centv) rows whose cent_id has type
    * `idType`. */
  def apply(idType: DataType, rows: Seq[Row]): CentroidBook = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val byId = InterpretedOrdering.forSchema(Seq(idType))
    val cents = rows.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1), s"centroids: null cent_id or centv in $r")
      (toCatalyst(r.get(0)), r.getSeq[Float](1).toArray)
    }.sortWith((a, b) => byId.compare(InternalRow(a._1), InternalRow(b._1)) < 0)
    new CentroidBook(idType, cents.map(_._1).toArray, cents.map(_._2).toArray)
  }
}

/** array<float> -> the nearest centroid's cent_id ([[CentroidBook.assign]]).
  * Never null: a null vector's cell is the max cent_id. */
case class IvfAssign(child: Expression, book: CentroidBook) extends UnaryExpression {
  override def dataType: DataType = book.idType
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_assign"
  override def eval(input: InternalRow): Any =
    book.assign(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BookCall.gen(ctx, ev, this, book, "assign")
  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}

/** array<float> -> the cent_ids of its top min(nProbe, nlist) cells in
  * `reverse(array_sort(array(struct(sim, cent_id), ...)))` order. */
case class IvfProbe(child: Expression, book: CentroidBook, nProbe: Int)
    extends UnaryExpression {
  require(nProbe >= 1, s"nProbe($nProbe) must be positive")
  override def dataType: DataType = ArrayType(book.idType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_probe"
  override def eval(input: InternalRow): Any =
    book.probe(child.eval(input).asInstanceOf[ArrayData], nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    BookCall.gen(ctx, ev, this, book, "probe", s", $nProbe")
  override protected def withNewChildInternal(newChild: Expression): IvfProbe =
    copy(child = newChild)
}

private[functions] object BookCall {
  /** Generated code of `e`'s never-null `book.<method>(child<args>)` call,
    * which passes a null child through as null. */
  def gen(ctx: CodegenContext, ev: ExprCode, e: UnaryExpression, book: AnyRef,
      method: String, args: String = ""): ExprCode = {
    val ref = ctx.addReferenceObj("book", book, book.getClass.getName)
    val c = e.child.genCode(ctx)
    val t = e.dataType
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(t)} ${ev.value} = (${CodeGenerator.boxedType(t)})
        $ref.$method(${c.isNull} ? null : ${c.value}$args);""",
      isNull = FalseLiteral)
  }
}
