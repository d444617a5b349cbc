package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Expression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, col, concat_ws, lit, split}
import org.apache.spark.sql.graftbridge.Bridge.{column, expression, resolvedExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every kernel of [[Kernel.all]], table-driven (the [[PqKernelSpec]] shape):
  * interpreted eval, generated code and the direct [[HashKernels]] call agree
  * bit for bit on shared inputs (null, empty arrays, non-ASCII strings); the
  * SQL function and the Column helper build the same expression; and a
  * projection over a range source stays inside whole-stage codegen. */
class KernelTableSpec extends SparkSpec {

  /** How the spec calls one kernel: its literal parameters (the table's
    * defaults where it has them), the direct kernel call on non-null
    * Catalyst values, and the Column helper left on its defaults. */
  private case class Case(params: Seq[Any], direct: Seq[Any] => Any,
      helper: Option[Seq[Column] => Column])

  private def a(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  private def u(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  private def l(v: Any): Long = v.asInstanceOf[Long]

  private val cases: Map[String, Case] = Map(
    "shingle_hashes" -> Case(Seq[Any](3, 42L),
      x => HashKernels.shingleHashes(a(x(0)), 3, 42L), Some(c => shingle_hashes(c(0), 3))),
    "minhash_signature" -> Case(Seq[Any](16, 42L),
      x => HashKernels.minhash(a(x(0)), 16, 42L), Some(c => minhash_signature(c(0), 16))),
    "oph_signature" -> Case(Seq[Any](16, 42L),
      x => HashKernels.oph(a(x(0)), 16, 42L), Some(c => oph_signature(c(0), 16))),
    "oph_band_keys" -> Case(Seq[Any](16, 4, 4, 42L),
      x => HashKernels.ophBandKeys(a(x(0)), 16, 4, 4, 42L),
      Some(c => oph_band_keys(c(0), 16, 4, 4))),
    "simhash64" -> Case(Seq[Any](42L),
      x => HashKernels.simhash64(a(x(0)), 42L), Some(c => simhash64(c(0)))),
    "lsh_band_keys" -> Case(Seq[Any](2, 2, 42L),
      x => HashKernels.bandKeys(a(x(0)), 2, 2, 42L), Some(c => lsh_band_keys(c(0), 2, 2))),
    "minhash_band_keys" -> Case(Seq[Any](16, 4, 4, 42L),
      x => HashKernels.minhashBandKeys(a(x(0)), 16, 4, 4, 42L),
      Some(c => minhash_band_keys(c(0), 16, 4, 4))),
    "jaccard_sim" -> Case(Nil,
      x => HashKernels.jaccardData(a(x(0)), a(x(1))), Some(c => jaccard_sim(c(0), c(1)))),
    "lcs_length" -> Case(Seq[Any](2000),
      x => HashKernels.lcsLength(x(0).toString, x(1).toString, 2000),
      Some(c => lcs_length(c(0), c(1)))),
    "cosine_sim" -> Case(Nil,
      x => HashKernels.cosineData(a(x(0)), a(x(1))), Some(c => cosine_sim(c(0), c(1)))),
    "dot_product" -> Case(Nil,
      x => HashKernels.dotData(a(x(0)), a(x(1))), Some(c => dot_product(c(0), c(1)))),
    "vec_sub" -> Case(Nil,
      x => HashKernels.subData(a(x(0)), a(x(1))), Some(c => vec_sub(c(0), c(1)))),
    "adc_lookup" -> Case(Seq[Any](Seq(0, 2, 4)),
      x => HashKernels.adcData(a(x(0)), a(x(1)), Array(0, 2, 4)),
      Some(c => adc_lookup(c(0), c(1), Seq(0, 2, 4)))),
    "srp_bucket" -> Case(Seq[Any](8, 42L),
      x => HashKernels.srpBucketData(a(x(0)), 8, 42L), Some(c => srp_bucket(c(0), 8))),
    "winnow_anchors" -> Case(Seq[Any](4, 3, 42L),
      x => HashKernels.winnowAnchors(u(x(0)), 4, 3, 42L),
      Some(c => winnow_anchors(c(0), 4, 3))),
    "phash_tokens" -> Case(Nil,
      x => UnsafeArrayData.fromPrimitiveArray(HashKernels.phashTokens(l(x(0)))),
      Some(c => phash_tokens(c(0)))),
    "phash_canonical" -> Case(Nil,
      x => HashKernels.phashCanonical(l(x(0))), Some(c => phash_canonical(c(0)))),
    "phash_transpose" -> Case(Nil,
      x => HashKernels.phashTranspose(l(x(0))), Some(c => phash_transpose(c(0)))),
    "phash_rot90" -> Case(Nil,
      x => HashKernels.phashRot90(l(x(0))), Some(c => phash_rot90(c(0)))),
    "phash_canonical_d4" -> Case(Nil,
      x => HashKernels.phashCanonicalD4(l(x(0))), Some(c => phash_canonical_d4(c(0)))),
    "fast_align" -> Case(Seq[Any](1.0, 0.0),
      x => HashKernels.fastAlignData(a(x(0)), a(x(1)), 1.0, 0.0),
      Some(c => fast_align(c(0), c(1)))),
    "rolling_fingerprint" -> Case(Seq[Any](42L),
      x => HashKernels.rollingFingerprint(x(0).toString, 42L),
      Some(c => rolling_fingerprint(c(0)))),
    "icws_signature" -> Case(Seq[Any](16, 42L),
      x => HashKernels.icws(a(x(0)), 16, 42L), Some(c => icws_signature(c(0), 16))),
    "weighted_jaccard" -> Case(Nil,
      x => HashKernels.weightedJaccardData(a(x(0)), a(x(1))),
      Some(c => weighted_jaccard(c(0), c(1)))),
    "char_entropy" -> Case(Nil,
      x => HashKernels.charEntropy(u(x(0))), Some(c => char_entropy(c(0)))),
    "stopword_ratio" -> Case(Nil,
      x => HashKernels.stopwordRatio(u(x(0))), Some(c => stopword_ratio(c(0)))),
    // the Column helpers of these two coalesce around the kernel
    // (ExpressionsSpec pins them against their expression chains)
    "quality_score" -> Case(Nil, x => HashKernels.qualityScore(u(x(0))), None),
    "distinct_token_ratio" -> Case(Nil, x => HashKernels.distinctTokenRatio(u(x(0))), None))

  /** A type with its array nullability dropped: samples and columns are
    * keyed by it. */
  private def key(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(e, containsNull = true)
    case other => other
  }

  private def strings(xs: String*): ArrayData =
    new GenericArrayData(xs.map(x => if (x == null) null else UTF8String.fromString(x)))

  /** Catalyst input values per argument type. The double arrays are ADC
    * lookup tables, long enough for every code sample. */
  private val samples: Map[DataType, Seq[Any]] = Map(
    StringType -> Seq(null, "", "the red fox jumps over the lazy dog",
        "naïve café 日本語 😀 İstanbul")
      .map(s => if (s == null) null else UTF8String.fromString(s)),
    key(ArrayType(StringType)) -> Seq(null, strings(), strings("the", "red", "fox", "the"),
      strings("naïve", "日本", "😀", null)),
    key(ArrayType(LongType)) -> Seq(null, Array.emptyLongArray, (1L to 8L).toArray,
      Array(5L, 5L, 7L, -1L, Long.MinValue, Long.MaxValue, 0L, 3L))
      .map(v => if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v)),
    key(ArrayType(FloatType)) -> Seq(null, Array.emptyFloatArray,
        Array(0.5f, -0.25f, 1f, 2f), Array(-0.0f, 3.5f, Float.NaN, 1e-3f))
      .map(v => if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v)),
    LongType -> Seq(null, 0L, 81985529216486895L, -1L),
    key(ArrayType(IntegerType)) -> Seq(null, Array.emptyIntArray, Array(0, 1, 1))
      .map(v => if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v)),
    key(ArrayType(DoubleType)) -> Seq(null,
      UnsafeArrayData.fromPrimitiveArray(Array(0.5, -1.0, 2.0, 0.25, -3.0, 1.5))))

  /** A value in a form `==` compares bit for bit (NaN included). */
  private def canon(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (arr: ArrayData, ArrayType(e, _)) => arr.toSeq[Any](e).map(canon(_, e))
    case (f: Float, _) => java.lang.Float.floatToRawIntBits(f)
    case (d: Double, _) => java.lang.Double.doubleToRawLongBits(d)
    case (s: UTF8String, _) => s.toString
    case (other, _) => other
  }

  /** The value `f` computes, or the class of what it throws. */
  private def outcome(t: DataType)(f: => Any): Either[Class[_], Any] =
    try Right(canon(f, t)) catch { case e: Exception => Left(e.getClass) }

  test("the spec covers every kernel of the table") {
    assert(cases.keySet == Kernel.all.map(_.name).toSet)
  }

  test("interpreted eval, generated code and the direct kernel call agree") {
    for (k <- Kernel.all) {
      val c = cases(k.name)
      val e = KernelCall(k.name, k.args.zipWithIndex.map { case ((_, t), i) =>
        BoundReference(i, t, nullable = true) }, c.params)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      val inputs = k.args.foldLeft(Seq(Seq.empty[Any])) { case (acc, (_, t)) =>
        for (prefix <- acc; v <- samples(key(t))) yield prefix :+ v }
      val got = inputs.map { in =>
        val row = InternalRow.fromSeq(in)
        val want = outcome(e.dataType)(if (in.contains(null)) null else c.direct(in))
        val interpreted = outcome(e.dataType)(e.eval(row))
        val generated = outcome(e.dataType) {
          val r = proj(row)
          if (r.isNullAt(0)) null else r.get(0, e.dataType)
        }
        assert(interpreted == want && generated == want,
          s"${k.name}(${in.mkString(", ")}): interpreted $interpreted, " +
            s"generated $generated, direct $want")
        want
      }
      assert(got.exists(w => w.isRight && w != Right(null)),
        s"${k.name}: no sample input gave a value")
    }
  }

  /** One column per argument type and position, derived from a range so
    * the projections below are not constant-folded away. */
  private lazy val argFrame = {
    val id = col("id")
    spark.range(16).select(
      concat_ws(" ", lit("tok"), (id % 7).cast("string")).as("s0"),
      concat_ws(" ", lit("naïve"), (id % 3).cast("string")).as("s1"),
      split(concat_ws(" ", lit("a"), (id % 5).cast("string")), " ").as("t0"),
      split(concat_ws(" ", lit("日本"), (id % 3).cast("string")), " ").as("t1"),
      array(id, id * 7, id + 3, id % 5).as("l0"),
      array(id * 31, id + 1, lit(5L), id % 3).as("l1"),
      array(id.cast("float"), (id * 2).cast("float"), lit(0.5f)).as("f0"),
      array(lit(1.0f), (id - 3).cast("float"), lit(-0.25f)).as("f1"),
      (id * 7919).as("p0"),
      array((id % 2).cast("int"), lit(1), lit(0)).as("i0"),
      array((id / 2).cast("double"), lit(1.0), lit(2.0), lit(0.5), lit(-1.0), lit(3.0))
        .as("d0"))
  }

  /** The argFrame columns a kernel's arguments read, in order. */
  private def argColumns(k: Kernel): Seq[String] = {
    val prefix = Map[DataType, String](StringType -> "s", key(ArrayType(StringType)) -> "t",
      key(ArrayType(LongType)) -> "l", key(ArrayType(FloatType)) -> "f", LongType -> "p",
      key(ArrayType(IntegerType)) -> "i", key(ArrayType(DoubleType)) -> "d")
    k.args.indices.map { i =>
      val t = key(k.args(i)._2)
      prefix(t) + k.args.take(i).count(a => key(a._2) == t)
    }
  }

  test("the SQL function resolves to its Column helper's expression") {
    graft.GraftExtensions.register(spark)
    argFrame.createOrReplaceTempView("kernel_args")
    val attrs = spark.table("kernel_args").queryExecution.analyzed.output
      .map(a => a.name -> a).toMap
    for (k <- Kernel.all) {
      val c = cases(k.name)
      val cols = argColumns(k)
      // the SQL function on its required arguments, or the bare call for
      // the Column-only kernels
      val expected: Expression = k.sql match {
        case Some((fn, _)) =>
          val required = k.params.zip(c.params).collect {
            case (p, v: Long) if p.default.isEmpty => s"${v}L"
            case (p, v) if p.default.isEmpty => v.toString
          }
          val q = s"SELECT $fn(${(cols ++ required).mkString(", ")}) AS r FROM kernel_args"
          val viaSql = spark.sql(q).queryExecution.analyzed match {
            case Project(Seq(Alias(e, _)), _) => e
            case other => fail(s"$q analyzed to\n$other")
          }
          assert(viaSql.children.map(_.references.head.name) == cols, q)
          assert(viaSql.semanticEquals(KernelCall(k.name, viaSql.children, c.params)),
            s"$q resolved to $viaSql")
          viaSql
        case None => KernelCall(k.name, cols.map(attrs), c.params)
      }
      c.helper.foreach { helper =>
        val viaColumn = resolvedExpression(helper(expected.children.map(column(_))))
        assert(viaColumn.semanticEquals(expected),
          s"${k.name}: the Column helper built $viaColumn, SQL $expected")
      }
    }
  }

  test("every kernel projection over a range source stays in whole-stage codegen") {
    for (k <- Kernel.all) {
      val call = KernelCall(k.name, argColumns(k).map(n => expression(col(n))),
        cases(k.name).params)
      val plan = argFrame.select(column(call).as("r")).queryExecution.executedPlan
      val line = plan.toString.linesIterator.find(_.contains(k.name + "(")).getOrElse("")
      assert(line.trim.startsWith("*("), s"${k.name} fell out of codegen:\n$plan")
    }
  }
}
