package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The PQ kernels against a driver-side reference of the rule they encode:
  * per-subspace score = x.c - ||c||^2/2 summed in double over the min
  * length, slices cut like Spark's `slice`, the max (score, code) wins with
  * scores ordered like Spark orders doubles (NaN largest, -0.0 == 0.0), and
  * a null vector scores null everywhere, so every centroid ties and the
  * last code wins. Both interpreted eval and generated code are checked. */
class PqKernelSpec extends SparkSpec {

  private val sqlDoubles: Ordering[Double] = (x: Double, y: Double) =>
    SQLOrderingUtil.compareDoubles(x, y)

  private def refScore(v: Array[Float], c: Array[Float]): Double = {
    var dot = 0.0
    for (i <- 0 until math.min(v.length, c.length)) dot += v(i).toDouble * c(i)
    dot - c.map(x => x.toDouble * x).sum / 2
  }

  private def refBest(v: Option[Array[Float]], cents: Array[Array[Float]]): Int =
    v match {
      case None => cents.length - 1
      case Some(s) =>
        cents.indices.map(c => (refScore(s, cents(c)), c))
          .max(Ordering.Tuple2(sqlDoubles, Ordering.Int))._2
    }

  private def refSlice(v: Array[Float], sub: Int, subDim: Int): Array[Float] =
    v.slice(sub * subDim, sub * subDim + subDim)

  private def refCodes(b: PqBook, v: Option[Array[Float]]): Seq[Int] =
    (0 until b.m).map(s => refBest(v.map(refSlice(_, s, b.subDim)), b.books(s)))

  /** None stands for a null LUT entry. */
  private def refLut(b: PqBook, v: Option[Array[Float]]): Seq[Option[Double]] =
    (0 until b.m).flatMap(s => b.books(s).toSeq.map(c =>
      v.map(x => refScore(refSlice(x, s, b.subDim), c))))

  private val vecType = ArrayType(FloatType, containsNull = false)

  /** Each expression's value on one input row, interpreted and generated. */
  private def both(e: Expression, row: InternalRow): Seq[Any] = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val gen = proj(row)
    Seq(e.eval(row), if (gen.isNullAt(0)) null else gen.get(0, e.dataType))
  }

  private def arr(v: Array[Float]): ArrayData =
    if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v)

  private def checkVector(b: PqBook, v: Array[Float]): Unit = {
    val row = InternalRow(arr(v))
    val in = BoundReference(0, vecType, nullable = true)
    val want = refCodes(b, Option(v))
    both(PqCodes(in, b), row).foreach { got =>
      assert(got.asInstanceOf[ArrayData].toIntArray().toSeq == want,
        s"codes of ${Option(v).map(_.mkString(","))}")
    }
    val wantLut = refLut(b, Option(v))
    both(PqLut(in, b), row).foreach { got =>
      val a = got.asInstanceOf[ArrayData]
      val gotLut = (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) None else Some(a.getDouble(i)))
      assert(gotLut.map(_.map(java.lang.Double.doubleToLongBits)) ==
        wantLut.map(_.map(java.lang.Double.doubleToLongBits)),
        s"lut of ${Option(v).map(_.mkString(","))}")
    }
    for (s <- 0 until b.m) {
      val slice = if (v == null) null else refSlice(v, s, b.subDim)
      val got = both(PqAssign(BoundReference(0, IntegerType, nullable = true),
        BoundReference(1, vecType, nullable = true), b), InternalRow(s, arr(slice)))
      assert(got == Seq(want(s), want(s)), s"assign sub $s")
    }
  }

  private val rng = new scala.util.Random(31)
  private def randVec(n: Int) = Array.fill(n)(rng.nextFloat() * 2 - 1)

  /** m = 4, subDim = 2; subspace 2 holds a single centroid. */
  private val book = new PqBook(Array(
    Array.fill(5)(randVec(2)), Array.fill(3)(randVec(2)),
    Array(randVec(2)), Array.fill(4)(randVec(2))))

  test("pq kernels match the reference on random vectors") {
    (0 until 200).foreach(_ => checkVector(book, randVec(8)))
  }

  test("pq kernels match the reference on edge cases") {
    // short vectors truncate the dot; slices past the end are empty
    Seq(randVec(7), randVec(5), randVec(4), randVec(1), Array.empty[Float])
      .foreach(checkVector(book, _))
    // NaN in a slice makes every score of that subspace NaN: a tie, max code
    checkVector(book, Array(Float.NaN, 0.5f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f))
    // null vector: last code per subspace, m*k null LUT entries
    checkVector(book, null)
    // a NaN centroid outscores every finite one
    val nanBook = new PqBook(Array(
      Array(Array(1f, 0f), Array(Float.NaN, 0f), Array(0f, 1f)),
      Array(Array(0f, 0f))))
    checkVector(nanBook, Array(1f, 0f, 2f, 3f))
    // exact ties (mirror-image centroids) under -0.0 and 0.0 inputs go to
    // the max code, and -0.0 encodes like 0.0
    val tieBook = new PqBook(Array(
      Array(Array(1f, 0f), Array(-1f, 0f)),
      Array(Array(0f, 1f), Array(0f, -1f), Array(0f, 0f))))
    Seq(Array(-0.0f, 0.5f, 0.0f, -0.0f), Array(0.0f, 0.5f, -0.0f, 0.0f))
      .foreach(checkVector(tieBook, _))
    assert(tieBook.codes(arr(Array(-0.0f, 0.5f, 0.0f, -0.0f))).toIntArray().toSeq ==
      Seq(1, 2))
  }

  test("pq_assign is null for a null or unknown subspace") {
    val slice = BoundReference(1, vecType, nullable = true)
    for (sub <- Seq[Any](null, -1, book.m)) {
      val got = both(PqAssign(BoundReference(0, IntegerType, nullable = true),
        slice, book), InternalRow(sub, arr(randVec(2))))
      assert(got == Seq(null, null), s"sub $sub")
    }
  }

  test("pq kernels print the codebook shape, not its floats") {
    val in = BoundReference(0, vecType, nullable = true)
    Seq(PqCodes(in, book), PqLut(in, book)).foreach { e =>
      assert(e.toString.contains("PqBook(m=4, k=5/3/1/4, subDim=2)"), e.toString)
      assert(e.toString.length < 80, e.toString)
    }
  }

  test("pq codebooks compare by value") {
    val copy = new PqBook(book.books.map(_.map(_.clone)))
    assert(copy == book && copy.hashCode == book.hashCode)
    assert(PqCodes(BoundReference(0, vecType, nullable = true), copy) ==
      PqCodes(BoundReference(0, vecType, nullable = true), book))
    assert(new PqBook(Array(Array(Array(1f)))) != new PqBook(Array(Array(Array(2f)))))
  }
}
