package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the signature methods (SURVEY.md section 2.10).
 *
 * Each expression generates a single static call into [[HashKernels]] via
 * `defineCodeGen`, so the surrounding whole-stage-codegen span stays intact
 * (no black-box ScalaUDF serialization, no Row boxing).
 */

/** array<string> tokens -> array<long> k-shingle hashes.
  * Reference n-gram semantics: ea/sim/main/preprocess/seq_coder.py:69-81. */
case class ShingleHashes(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.shingleHashes($c, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** array<long> shingles -> array<long> MinHash signature. */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhash(input.asInstanceOf[ArrayData], numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.minhash($c, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** array<long> shingles -> array<long> one-permutation MinHash signature
  * with optimal densification (see HashKernels.ophArray — one hash per
  * element instead of numHashes; same per-bin Jaccard collision law). */
case class OphSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "oph_signature"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.oph(input.asInstanceOf[ArrayData], numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.oph($c, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): OphSignature =
    copy(child = newChild)
}

/** array<long> shingles -> array<long> LSH band keys over the OPH signature,
  * fused (the MinHashBandKeys counterpart for the one-permutation kernel). */
case class OphBandKeys(child: Expression, numHashes: Int, bands: Int,
    rowsPerBand: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "oph_band_keys"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.ophBandKeys(input.asInstanceOf[ArrayData],
      numHashes, bands, rowsPerBand, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.ophBandKeys($c, $numHashes, $bands, $rowsPerBand, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): OphBandKeys =
    copy(child = newChild)
}

/** array<long> token hashes -> long SimHash64. */
case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** array<long> signature -> array<long> LSH band keys (one per band). */
case class LshBandKeys(child: Expression, bands: Int, rowsPerBand: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_band_keys"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.bandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.bandKeys($c, $bands, $rowsPerBand, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

/** array<long> shingles -> array<long> LSH band keys, fused (no materialized
  * signature column — see HashKernels.minhashBandKeys). */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int,
    rowsPerBand: Int, seed: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_band_keys"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minhashBandKeys(input.asInstanceOf[ArrayData],
      numHashes, bands, rowsPerBand, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.minhashBandKeys($c, $numHashes, $bands, $rowsPerBand, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** (array<long>, array<long>) -> double exact Jaccard (verify stage). */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaccard_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.jaccardData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
    copy(left = l, right = r)
}

/** (string, string) -> int longest-common-substring length (clamped). */
case class LcsLength(left: Expression, right: Expression, maxLen: Int)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lcs_length"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.lcsLength(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, maxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.lcsLength($a.toString(), $b.toString(), $maxLen)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LcsLength =
    copy(left = l, right = r)
}

/** (array<float>, array<float>) -> double cosine similarity. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** (array<float>, array<float>) -> array<float> elementwise difference
  * (IVFADC residuals; the zip_with HOF equivalent evaluates its lambda
  * interpreted, outside whole-stage codegen). */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_sub"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.subData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.subData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSub =
    copy(left = l, right = r)
}

/** (array<float>, array<float>) -> double inner product (PQ/ADC measure). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dotData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** (array<int> codes, array<double> lut) -> double PQ/ADC score: sum of
  * lut[offsets(i) + codes(i)] over subspaces — the per-subspace lookup-table
  * offsets ride as a baked constant (FastAlign-style scalar params), keeping
  * the per-candidate cost a tight codegen'd loop. */
case class AdcLookup(left: Expression, right: Expression, offsets: Seq[Int])
    extends BinaryExpression {
  @transient private lazy val offsetArr: Array[Int] = offsets.toArray
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "adc_lookup"
  override protected def nullSafeEval(c: Any, l: Any): Any =
    HashKernels.adcData(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData],
      offsetArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcOffsets", offsetArr, "int[]")
    defineCodeGen(ctx, ev, (c, l) =>
      s"graft.functions.HashKernels.adcData($c, $l, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcLookup =
    copy(left = l, right = r)
}

/** array<float> -> long sign-random-projection LSH bucket. */
case class SrpBucket(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "srp_bucket"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.srpBucketData(input.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.srpBucketData($c, $bits, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

/** string -> array<long> winnowed k-gram anchors (Schleimer et al.
  * SIGMOD'03): any two strings sharing an exact substring of length
  * >= w + k - 1 share at least one anchor — see
  * [[HashKernels.winnowAnchorsFromChars]]. */
case class WinnowAnchors(child: Expression, k: Int, w: Int, seed: Long)
    extends UnaryExpression {
  // construction-time (= SQL resolution-time) validation: the kernel's scan
  // indexes g(end - w + 1 .. end) and would AIOOBE per row on w < 1
  require(k >= 1 && w >= 1,
    s"winnow_anchors: k($k) and w($w) must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_anchors"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.winnowAnchors(input.asInstanceOf[UTF8String], k, w, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.winnowAnchors($c, $k, $w, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): WinnowAnchors =
    copy(child = newChild)
}

/** long phash -> array<long> positional byte-gram tokens (SimHash input). */
case class PhashTokens(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash_tokens"
  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(HashKernels.phashTokens(input.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
      s"graft.functions.HashKernels.phashTokens($c))")
  override protected def withNewChildInternal(newChild: Expression): PhashTokens =
    copy(child = newChild)
}

/** long phash -> orbit-canonical phash (min over {id, flipH, flipV, rot180}
  * — [[graft.functions.HashKernels.phashCanonical]]): mirrored/rotated
  * re-uploads share the canonical, making phash-derived bucketing and
  * verification mirror-invariant. */
case class PhashCanonical(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash_canonical"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.phashCanonical(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.phashCanonical($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashCanonical =
    copy(child = newChild)
}

/** long phash -> transpose of the 8x8 bit grid (flip about the main
  * diagonal — [[graft.functions.HashKernels.phashTranspose]]); generates
  * the D4 rotations together with the byte-level mirrors. */
case class PhashTranspose(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash_transpose"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.phashTranspose(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.phashTranspose($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashTranspose =
    copy(child = newChild)
}

/** long phash -> 90-degree-clockwise-rotation transform
  * ([[graft.functions.HashKernels.phashRot90]]). */
case class PhashRot90(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash_rot90"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.phashRot90(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.phashRot90($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashRot90 =
    copy(child = newChild)
}

/** long phash -> full-dihedral orbit-canonical phash (min over all eight
  * grid symmetries — [[graft.functions.HashKernels.phashCanonicalD4]]):
  * extends the mirror-invariant canonical to 90/270-degree rotations. */
case class PhashCanonicalD4(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash_canonical_d4"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.phashCanonicalD4(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.phashCanonicalD4($c)")
  override protected def withNewChildInternal(newChild: Expression): PhashCanonicalD4 =
    copy(child = newChild)
}

/** (array<string>, array<string>) -> double FaST positional alignment score
  * (was the surface's one Scala UDF; now codegen'd like every other kernel). */
case class FastAlign(left: Expression, right: Expression,
    gamma: Double, alpha: Double) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fast_align"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.fastAlignData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      gamma, alpha)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.fastAlignData($a, $b, ${gamma}D, ${alpha}D)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FastAlign =
    copy(left = l, right = r)
}

/** string -> long rolling polynomial fingerprint. */
case class RollingFingerprint(child: Expression, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.rollingFingerprint(input.asInstanceOf[UTF8String].toString, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.rollingFingerprint($c.toString(), ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** array<long> hash multiset (repeats = weights) -> array<long> ICWS
  * weighted-MinHash signature: per-slot collision probability equals the
  * WEIGHTED Jaccard (sum-min/sum-max of counts). Band with LshBandKeys
  * exactly like the classic signature. Ioffe ICDM 2010. */
case class IcwsSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(numHashes >= 1, s"icws_signature: numHashes($numHashes) must be >= 1")
  // analysis-time type check (the CharEntropy rationale): a non-array
  // argument from the SQL surface must fail resolution, not per-row
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ArrayType(LongType, containsNull = false) ||
        child.dataType == ArrayType(LongType, containsNull = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"icws_signature requires array<bigint>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "icws_signature"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.icws(input.asInstanceOf[ArrayData], numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.icws($c, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): IcwsSignature =
    copy(child = newChild)
}

/** (array<long>, array<long>) hash multisets -> double exact weighted
  * Jaccard (sum-min/sum-max of per-element counts) — the verify metric of
  * the ICWS candidate family. */
case class WeightedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  // analysis-time type check on BOTH sides (the CharEntropy rationale)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean =
      t == ArrayType(LongType, containsNull = false) ||
        t == ArrayType(LongType, containsNull = true)
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "weighted_jaccard requires two array<bigint> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "weighted_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.weightedJaccardData(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.weightedJaccardData($a, $b)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): WeightedJaccard =
    copy(left = l, right = r)
}

/** string -> double Shannon entropy (bits/char) of its code-point
  * distribution — the cheap junk gate (spam runs ≈ 0, prose ≈ 4,
  * base64/binary noise ≥ 6). Order-independent by construction
  * (HashKernels sums in ascending code-point order). */
case class CharEntropy(child: Expression)
    extends UnaryExpression {
  // analysis-time type check: a non-string argument from the SQL surface
  // must fail resolution, not janino/ClassCastException per row
  // (ExpectsInputTypes is closed to third parties in Spark 4 —
  // AbstractDataType is private[sql] — so the check is spelled out)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_entropy requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_entropy"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.charEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** Single-pass stopword-density ratio (see [[HashKernels.stopwordRatio]]) —
  * value-identical to the normalize/regexp_count chain it replaced in
  * `graft.functions.stopword_ratio`, without the two document rewrites and
  * two Pattern scans (ExpressionsSpec pins the equivalence on the edge
  * cases: empty, null, punctuation-only, stopword substrings, unicode). */
case class StopwordRatio(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"stopword_ratio requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "stopword_ratio"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.stopwordRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.stopwordRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): StopwordRatio =
    copy(child = newChild)
}

/** Single-pass quality score (see [[HashKernels.qualityScore]]) —
  * value-identical to the length/punct/stopword expression chain
  * (ExpressionsSpec pins the equivalence). */
case class QualityScore(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quality_score requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quality_score"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.qualityScore(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.qualityScore($c)")
  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** Single-pass distinct-token ratio (see
  * [[HashKernels.distinctTokenRatio]]); callers coalesce NULL to "" so the
  * NULL-text contract (ratio 1.0) is preserved at the column level. */
case class DistinctTokenRatio(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"distinct_token_ratio requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "distinct_token_ratio"
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.distinctTokenRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.distinctTokenRatio($c)")
  override protected def withNewChildInternal(
      newChild: Expression): DistinctTokenRatio =
    copy(child = newChild)
}

/** array<long> hashes -> int count of elements the inlined Bloom sketch
  * might contain. The sketch rides in the expression (serialized with the
  * plan) and deserializes ONCE per task via the lazy field; the per-row
  * work is a few bit tests per element — zero-shuffle membership counting
  * against a persisted corpus artifact (the novelty-scoring hot path).
  * No false negatives: a truly-present element always counts. */
case class BloomCountContained(child: Expression, sketch: Array[Byte])
    extends UnaryExpression {
  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(sketch)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_count_contained"
  /** Shared by interpreted eval and generated code. */
  def count(arr: ArrayData): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (filter.mightContainLong(arr.getLong(i))) c += 1
      i += 1
    }
    c
  }
  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomCounter", this,
      classOf[BloomCountContained].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomCountContained =
    copy(child = newChild)
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
  * ([[PqBook.lut]]), read by [[AdcLookup]] at `book.offsets`. */
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
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
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
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("book", book, book.getClass.getName)
    val c = e.child.genCode(ctx)
    val t = e.dataType
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(t)} ${ev.value} = (${CodeGenerator.boxedType(t)})
        $ref.$method(${c.isNull} ? null : ${c.value}$args);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}
