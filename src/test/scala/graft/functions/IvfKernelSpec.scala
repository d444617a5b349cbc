package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The IVF kernels against a driver-side reference of the struct rule they
  * replace: sim = cosine summed in double over the min length (0.0 when a
  * norm is 0), centroids ranked by (sim, cent_id) descending with sims
  * ordered like Spark orders doubles (NaN largest, -0.0 == 0.0) and ids
  * like Spark orders their type, and a null vector gets null sims
  * everywhere, so only cent_id ranks. Both interpreted eval and generated
  * code are checked, and on a frame the kernels equal the
  * `greatest`/`array_sort` struct expressions themselves. */
class IvfKernelSpec extends SparkSpec {

  private val sqlDoubles: Ordering[Double] = (x: Double, y: Double) =>
    SQLOrderingUtil.compareDoubles(x, y)

  private def refCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Spark's ordering of the external ids used here. */
  private def idOrdering(idType: DataType): Ordering[Any] = idType match {
    case LongType => (x: Any, y: Any) => java.lang.Long.compare(
      x.asInstanceOf[Long], y.asInstanceOf[Long])
    case StringType => (x: Any, y: Any) =>
      UTF8String.fromString(x.toString).compareTo(UTF8String.fromString(y.toString))
  }

  /** cent_ids best first; a None sim is a null sim (smallest). */
  private def refRanked(cents: Seq[(Any, Array[Float])], idType: DataType,
      v: Option[Array[Float]]): Seq[Any] = {
    val key = Ordering.Tuple2(Ordering.Option(sqlDoubles), idOrdering(idType))
    cents.map { case (id, c) => (v.map(refCosine(_, c)), id) }
      .sorted(key.reverse).map(_._2)
  }

  private val vecType = ArrayType(FloatType, containsNull = false)

  /** Each expression's value on one input row, interpreted and generated. */
  private def both(e: Expression, row: InternalRow): Seq[Any] = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val gen = proj(row)
    Seq(e.eval(row), if (gen.isNullAt(0)) null else gen.get(0, e.dataType))
  }

  private def external(x: Any): Any = x match {
    case u: UTF8String => u.toString
    case o => o
  }

  private def bookOf(cents: Seq[(Any, Array[Float])], idType: DataType): CentroidBook =
    CentroidBook(idType, cents.map { case (id, c) => Row(id, c.toSeq) })

  private def check(cents: Seq[(Any, Array[Float])], idType: DataType,
      v: Array[Float]): Unit = {
    val book = bookOf(cents, idType)
    val in = BoundReference(0, vecType, nullable = true)
    val row = InternalRow(if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))
    val want = refRanked(cents, idType, Option(v))
    val what = Option(v).map(_.mkString(","))
    both(IvfAssign(in, book), row).foreach { got =>
      assert(external(got) == want.head, s"assign of $what")
    }
    for (nProbe <- Seq(1, 2, cents.size, cents.size + 3)) {
      both(IvfProbe(in, book, nProbe), row).foreach { got =>
        val a = got.asInstanceOf[ArrayData]
        assert(a.toSeq[Any](idType).map(external) == want.take(nProbe),
          s"probe $nProbe of $what")
      }
    }
  }

  private val rng = new scala.util.Random(37)
  private def randVec(n: Int) = Array.fill(n)(rng.nextFloat() * 2 - 1)

  /** 12 centroids of dim 8 under unsorted, partly negative Long ids. */
  private val longCents: Seq[(Any, Array[Float])] =
    Seq(5L, -3L, 11L, 0L, 7L, 2L, 100L, -40L, 9L, 1L, 4L, 6L).map(i => (i, randVec(8)))

  test("ivf kernels match the reference on random vectors") {
    (0 until 200).foreach(_ => check(longCents, LongType, randVec(8)))
  }

  test("ivf kernels match the reference on edge cases, Long and String ids") {
    val strCents: Seq[(Any, Array[Float])] =
      Seq("c07", "a", "zz", "", "b1", "B").map(s => (s, randVec(4)))
    for ((cents, idType) <- Seq((longCents, LongType), (strCents, StringType))) {
      // zero vector: every sim is 0.0, a tie, so cent_id decides
      check(cents, idType, Array.fill(8)(0f))
      // NaN in the vector: NaN sims tie, largest
      check(cents, idType, Array(Float.NaN, 0.5f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f))
      // short and empty vectors truncate the dot
      check(cents, idType, randVec(3))
      check(cents, idType, Array.empty[Float])
      check(cents, idType, null)
      check(cents.take(1), idType, randVec(8))
      check(cents.take(1), idType, null)
    }
    // a NaN centroid outscores every finite one; a zero centroid sits at 0.0
    val nanCents: Seq[(Any, Array[Float])] = Seq((1L, Array(1f, 0f)),
      (2L, Array(Float.NaN, 0f)), (3L, Array(0f, 1f)), (4L, Array(0f, 0f)))
    Seq(Array(1f, 2f), Array(0f, 0f), Array(-1f, -1f)).foreach(check(nanCents, LongType, _))
    // exact ties: mirror-image centroids, -0.0 and 0.0 inputs
    val tieCents: Seq[(Any, Array[Float])] = Seq((10L, Array(1f, 1f)),
      (20L, Array(-1f, 1f)), (15L, Array(1f, 0f)), (5L, Array(-1f, 0f)))
    Seq(Array(-0.0f, 0.5f), Array(0.0f, 0.5f), Array(0.0f, -0.0f), Array(-0.0f, -0.0f))
      .foreach(check(tieCents, LongType, _))
    val tieBook = bookOf(tieCents, LongType)
    assert(tieBook.assign(UnsafeArrayData.fromPrimitiveArray(Array(-0.0f, 0.5f))) == 20L)
  }

  test("ivf kernels equal the greatest/array_sort struct expressions on a frame") {
    import org.apache.spark.sql.functions._
    val cents = longCents.map { case (id, c) => (id.asInstanceOf[Long], c) }
    val book = bookOf(longCents, LongType)
    val vs: Seq[(Int, Array[Float])] = (Seq(Array.fill(8)(0f), randVec(3), null,
        Array(Float.NaN, 1f, 0f, 0f, 0f, 0f, 0f, 0f), Array(-0.0f, 0.0f, 1f)) ++
      Seq.fill(50)(randVec(8))).zipWithIndex.map(_.swap)
    val df = spark.createDataFrame(vs.map { case (i, v) => Row(i, Option(v).map(_.toSeq).orNull) }
      .asJava, new StructType().add("i", "int").add("v", vecType))
    val structs = cents.map { case (id, c) =>
      struct(cosine_sim(col("v"), typedLit(c.toSeq)).as("sim"), lit(id).as("cent_id"))
    }
    val nProbe = 5
    val got = df.select(col("i"),
        greatest(structs: _*).getField("cent_id").as("ref_cell"),
        ivf_assign(book, col("v")).as("cell"),
        transform(slice(reverse(array_sort(array(structs: _*))), 1, nProbe),
          _.getField("cent_id")).as("ref_probe"),
        ivf_probe(book, col("v"), nProbe).as("probe"))
      .collect()
    assert(got.length == vs.size)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"cell of row ${r.getInt(0)}")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"probe of row ${r.getInt(0)}")
    }
  }

  test("ivf kernels reject nProbe < 1, an empty book and null centroids, and print the book's shape") {
    val in = BoundReference(0, vecType, nullable = true)
    val book = bookOf(longCents, LongType)
    for (np <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](IvfProbe(in, book, np))
      assert(e.getMessage.contains("nProbe"), e.getMessage)
    }
    for (rows <- Seq(Seq.empty[Row], Seq(Row(null, Seq(1f))), Seq(Row(1L, null)))) {
      val e = intercept[IllegalArgumentException](CentroidBook(LongType, rows))
      assert(e.getMessage.contains("centroids"), e.getMessage)
    }
    Seq(IvfAssign(in, book), IvfProbe(in, book, 3)).foreach { x =>
      assert(x.toString.contains("CentroidBook(nlist=12, dim=8, cent_id=bigint)"), x.toString)
      assert(x.toString.length < 100, x.toString)
    }
  }

  test("centroid books compare by value") {
    val copy = bookOf(longCents.map { case (id, c) => (id, c.clone) }.reverse, LongType)
    val book = bookOf(longCents, LongType)
    assert(copy == book && copy.hashCode == book.hashCode)
    val in = BoundReference(0, vecType, nullable = true)
    assert(IvfAssign(in, copy) == IvfAssign(in, book))
    assert(bookOf(Seq((1L, Array(1f))), LongType) != bookOf(Seq((1L, Array(2f))), LongType))
    assert(bookOf(Seq((1L, Array(1f))), LongType) != bookOf(Seq((2L, Array(1f))), LongType))
  }
}
