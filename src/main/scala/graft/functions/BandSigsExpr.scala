package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Banded sign-LSH signature kernel for the embedding near-dup path
  * (ops/VectorSearch.nearDupPairsLsh).
  *
  * Semantics: project the vector onto nPlanes deterministic
  * hyperplanes (the splitmix64-derived matrix shared with
  * VectorSearch — identical on every executor with no RNG state),
  * take the sign bit of each projection, and pack each band's r =
  * nPlanes/nBands consecutive bits into one long. Two vectors share a
  * band signature iff their sign-bit slices are identical — the exact
  * bucket key of the banded self-join.
  *
  * Why an Expression and not the HOF composition it replaces: Catalyst
  * higher-order functions evaluate their lambda per element through
  * the interpreter, so the signature pass cost nPlanes × dim lambda
  * steps per row plus a per-band slice→string→xxhash64 detour. This
  * kernel is one virtual call per row into a primitive double loop
  * (plane matrix cached per (nPlanes, dim)), inside whole-stage
  * codegen. Same (band, sig) partitioning, ~40× less per-row work.
  *
  * Reference ANN analog: be/src/storage/index/ann/faiss_ann_index.h
  * (coarse quantization kernels are native loops there too).
  */
object BandSigs {

  /** splitmix64-style plane component in [-1, 1] — MUST stay
    * bit-identical to VectorSearch.planeComponent (AnnSpec pins the
    * two against each other). */
  def planeComponent(p: Int, j: Int): Double = {
    var z = ((p.toLong << 32) | (j.toLong & 0xffffffffL)) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (Math.floorMod(z, 2001L) - 1000L) / 1000.0
  }

  private val planeCache = new TrieMap[(Int, Int), Array[Array[Double]]]()

  def planes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate((nPlanes, dim),
      Array.tabulate(nPlanes, dim)(planeComponent))

  /** Inner-product kernel (called from generated code). Left-to-right
    * summation — bit-identical to aggregate(zip_with(a, b, *), 0, +)
    * on equal-length inputs (all call sites are same-dim by schema;
    * on a mismatch the shorter length wins, where the HOF spelling
    * would null out). */
  def dot(a: ArrayData, b: ArrayData): Double =
    dot2(a.toDoubleArray(), b.toDoubleArray())

  /** Widening reader: an ARRAY<FLOAT> storage column is consumed
    * directly (float → double is exact), so the vector paths need no
    * transform-cast projection materializing a double copy per row —
    * the L2Squared design generalized to the whole kernel family. */
  def toDoubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) a.toDoubleArray()
    else {
      val n = a.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      out
    }

  /** Mixed-width inner product (either side FLOAT or DOUBLE); same
    * left-to-right summation, bit-identical to casting first. */
  def dotw(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Primitive-array overload (CellTopK / PqCodes kernels) — identical
    * left-to-right summation. */
  def dot2(aa: Array[Double], bb: Array[Double]): Double = {
    val n = math.min(aa.length, bb.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += aa(i) * bb(i); i += 1 }
    acc
  }

  /** Squared-L2 kernel (called from generated code). The float flags
    * select the element reader so an ARRAY<FLOAT> storage column (the
    * embeddings fixture) is consumed directly — no transform-cast
    * projection materializing a double copy per row on the scan path.
    * Floats widen to double BEFORE the subtract, and the summation is
    * left-to-right over (x-y)^2 — the same arithmetic sequence DuckDB
    * computes on CAST(col AS DOUBLE[]) differences. */
  def l2sq(a: ArrayData, b: ArrayData, aIsFloat: Boolean, bIsFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** MinHash band-signature kernel (called from generated code) for
    * Dedup.minhashPairs: nBands*r minhash lanes over the pre-hashed
    * shingle array, each band's r lane-minima folded into one long.
    *
    * Lane values replicate Spark's `xxhash64(x, i)` BIT-EXACTLY
    * (seed 42, then hashLong(x), then hashInt(i) — catalyst XXH64),
    * so the candidate recall of the interpreted spelling is preserved
    * verbatim. The band key folds the r minima with the same XXH64
    * chain instead of hashing the slice's string rendering — band
    * equality is still exactly "all r minima equal" (modulo hash
    * collisions, which only ADD candidates that exact-jaccard verify
    * then filters). */
  def minhashBands(hsh: ArrayData, nBands: Int, r: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val xs = hsh.toLongArray()
    val n = nBands * r
    val mins = Array.fill(n)(Long.MaxValue)
    var s = 0
    while (s < xs.length) {
      val base = XXH64.hashLong(xs(s), 42L)
      var i = 0
      while (i < n) {
        val v = XXH64.hashInt(i, base)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = 42L
      var k = 0
      while (k < r) { h = XXH64.hashLong(mins(b * r + k), h); k += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Ascending sort of a long array (called from generated code) —
    * SortArray is CodegenFallback, so sorting the hashed-shingle
    * checkpoint column through it would break the whole-stage span;
    * this is one primitive Arrays.sort per row. */
  def sortLongs(a: ArrayData): ArrayData = {
    val xs = a.toLongArray()
    java.util.Arrays.sort(xs)
    new GenericArrayData(xs)
  }

  /** Count of DISTINCT common values of two ASCENDING-sorted long
    * arrays (called from generated code) — one merge walk per pair,
    * replacing array_intersect's per-call hash-set build in the
    * minhash verify join. Equal to size(array_intersect(a, b)) on
    * sorted inputs: array_intersect returns the distinct elements of
    * `a` that occur in `b`, and the walk advances past duplicates so
    * each common value counts once. */
  def interSorted(a: ArrayData, b: ArrayData): Int = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    var i = 0
    var j = 0
    var n = 0
    while (i < xs.length && j < ys.length) {
      val x = xs(i)
      val y = ys(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        n += 1
        while (i < xs.length && xs(i) == x) i += 1
        while (j < ys.length && ys(j) == x) j += 1
      }
    }
    n
  }

  /** The per-row kernel (called from generated code). */
  def sigs(v: ArrayData, nPlanes: Int, nBands: Int): ArrayData =
    sigsOf(v.toDoubleArray(), nPlanes, nBands)

  /** Float-storage variant: widen then the identical plane loop. */
  def sigsF(v: ArrayData, nPlanes: Int, nBands: Int, isFloat: Boolean): ArrayData =
    sigsOf(toDoubles(v, isFloat), nPlanes, nBands)

  private def sigsOf(vv: Array[Double], nPlanes: Int, nBands: Int): ArrayData = {
    val pl = planes(nPlanes, vv.length)
    val r = nPlanes / nBands
    val out = new Array[Long](nBands)
    var p = 0
    while (p < nPlanes) {
      val row = pl(p)
      var dot = 0.0
      var j = 0
      while (j < vv.length) { dot += vv(j) * row(j); j += 1 }
      if (dot > 0) out(p / r) |= 1L << (p % r)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_dot(a ARRAY<FLOAT|DOUBLE>, b ARRAY<FLOAT|DOUBLE>) -> DOUBLE —
  * the inner product as one codegen kernel call (primitive loop)
  * instead of the interpreted aggregate(zip_with(...)) cascade. Shared
  * by the LSH / IVF verify stages and the norm pass
  * (norm = sqrt(graft_dot(v, v))). Summation order is left-to-right
  * exactly like the HOF spelling it replaces, and floats widen to
  * double per element (exact), so results are bit-identical — an
  * ARRAY<FLOAT> storage column needs no cast projection (r9, the
  * L2Squared design extended to the dot family). */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects ARRAY<FLOAT|DOUBLE> args, got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BandSigs.dotw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BandSigs.dotw($a, $b, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** graft_l2sq(a, b) -> DOUBLE — squared Euclidean distance as one
  * codegen kernel call. Accepts ARRAY<FLOAT> or ARRAY<DOUBLE> on
  * either side (floats widen per element inside the kernel), so the
  * embeddings scan needs no cast projection. Monotone in true L2, so
  * `ORDER BY graft_l2sq(col, q) LIMIT k` sorts by the distance itself,
  * without the sqrt. */
case class L2Squared(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2sq expects ARRAY<FLOAT|DOUBLE> args, got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BandSigs.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BandSigs.l2sq($a, $b, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}

/** graft_minhash_bands(hsh ARRAY<BIGINT>, nBands, r) -> ARRAY<BIGINT>
  * of length nBands (see BandSigs.minhashBands). */
case class MinhashBands(child: Expression, nBands: Int, r: Int)
    extends UnaryExpression {

  require(nBands > 0 && r > 0, "nBands and r must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_bands expects ARRAY<BIGINT>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    BandSigs.minhashBands(v.asInstanceOf[ArrayData], nBands, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandSigs.minhashBands($c, $nBands, $r)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

/** graft_sort_longs(a ARRAY<BIGINT>) -> ARRAY<BIGINT> ascending — the
  * codegen-friendly long-array sort (see BandSigs.sortLongs). */
case class SortLongs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sort_longs expects ARRAY<BIGINT>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    BandSigs.sortLongs(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BandSigs.sortLongs($c)")

  override protected def withNewChildInternal(newChild: Expression): SortLongs =
    copy(child = newChild)
}

/** graft_inter_sorted(a ARRAY<BIGINT>, b ARRAY<BIGINT>) -> INT — count
  * of distinct common values of two ascending-sorted long arrays (see
  * BandSigs.interSorted). Callers OWN the sortedness precondition
  * (Dedup sorts the hashed-shingle column once at checkpoint build);
  * on unsorted input the count is undefined. */
case class InterSortedCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_inter_sorted expects ARRAY<BIGINT> args, got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BandSigs.interSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.BandSigs.interSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterSortedCount =
    copy(left = newLeft, right = newRight)
}

/** graft_band_sigs(vec ARRAY<DOUBLE>, nPlanes, nBands) -> ARRAY<BIGINT>
  * of length nBands. */
case class BandSignatures(child: Expression, nPlanes: Int, nBands: Int)
    extends UnaryExpression {

  require(nPlanes > 0 && nBands > 0 && nPlanes % nBands == 0,
    s"nPlanes ($nPlanes) must divide into nBands ($nBands)")
  require(nPlanes / nBands <= 63, "band width must fit a long")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_band_sigs expects ARRAY<FLOAT|DOUBLE>, got $t")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    BandSigs.sigsF(v.asInstanceOf[ArrayData], nPlanes, nBands, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandSigs.sigsF($c, $nPlanes, $nBands, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): BandSignatures =
    copy(child = newChild)
}
