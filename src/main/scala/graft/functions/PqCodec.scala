package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** The three PQ kernels — encode, query LUT, ADC score — as fused codegen
  * expressions ([[NearestCentroid]]'s pattern applied to [[PqIndex]]).
  *
  * The previous formulation built each of the M×K per-codeword distances as
  * its own `aggregate(zip_with(slice(emb,...), typedLit(codeword), ...))`
  * column: higher-order functions are CodegenFallback, so every encode and
  * every ADC score ran as interpreted per-row lambda walks with 64 slice +
  * zip_with array allocations per vector, and the 64 inlined codeword
  * literals put ~150 KB of expression tree into every PQ plan (q118, q127,
  * q140, q146, q186) — ~0.4 s of construct/optimize latency per run before
  * a row moved. Here the codebook rides the plan as ONE flat reference
  * object (1 KB of doubles, structural equality preserved via the
  * IndexedSeq constructor arg) and each loop is one kernel method on the
  * expression's companion, called by the interpreted and generated paths.
  *
  * Numeric contract — bit-exact with the old expressions, pinned by PqSpec
  * against [[PqIndex.encodeLocal]]:
  *  - d2 accumulates `(x.toDouble − cw_i)²` in ascending dim order from 0.0
  *    (the [[KMeansTrainer.d2]] / foldSum(zip_with) rounding, identical IEEE
  *    op sequence);
  *  - argmin is strict `<` over ascending codeword index, so ties keep the
  *    LOWEST codeword — same as `array_position(d, array_min(d))`'s first
  *    match;
  *  - ADC sums `lut(s)(code(s))` in ascending subspace order from 0.0 (the
  *    foldSum order).
  *
  * Inputs are array<float> (raw embeddings) or array<double> (residuals) —
  * both call sites of the old `subD2` cast elements to double first, so the
  * arithmetic is identical either way.
  */
private[functions] trait PqBookExpression extends UnaryExpression {
  def books: IndexedSeq[Double] // flat (s, j, i)-major: M × K × subDim
  def m: Int
  def k: Int
  def subDim: Int

  require(m > 0 && k > 0 && subDim > 0 && books.length == m * k * subDim,
    "books must be m x k x subDim, row-major")

  @transient protected lazy val flat: Array[Double] = books.toArray

  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got $other")
  }
}

/** Map-only PQ encode: array<int> of `m` codeword indices per vector. */
case class PqEncode(child: Expression, books: IndexedSeq[Double],
    m: Int, k: Int, subDim: Int)
    extends UnaryExpression with PqBookExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(a: Any): Any =
    PqEncode.kernel(a.asInstanceOf[ArrayData], flat, m, k, subDim, elemIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", flat, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.PqEncode.kernel($a, $booksRef, $m, $k, $subDim, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC lookup table: array (size m) of array (size k) of the
  * squared L2 between the query's subvector and each codeword. */
case class PqLut(child: Expression, books: IndexedSeq[Double],
    m: Int, k: Int, subDim: Int)
    extends UnaryExpression with PqBookExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  override def nullSafeEval(a: Any): Any =
    PqLut.kernel(a.asInstanceOf[ArrayData], flat, m, k, subDim, elemIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", flat, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.PqLut.kernel($a, $booksRef, $m, $k, $subDim, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score: approx squared L2 = Σ_s lut(s)(code(s)) — the per-candidate
  * hot loop of every PQ search (runs once per (vector, query) pair). */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<array<double>>, array<int>), got ($l, $r)")
  }

  override def nullSafeEval(lutAny: Any, codesAny: Any): Any =
    PqAdc.kernel(lutAny.asInstanceOf[ArrayData], codesAny.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lut, codes) => s"graft.functions.PqAdc.kernel($lut, $codes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqEncode {
  /** The kernel both evaluation paths call: the argmin codeword per
    * subspace. `books` is flat (s, j, i)-major. */
  def kernel(x: ArrayData, books: Array[Double], m: Int, k: Int, subDim: Int,
      isFloat: Boolean): ArrayData = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.MaxValue
      var j = 0
      while (j < k) {
        val d = PqCodec.subD2(x, isFloat, s * subDim, books, (s * k + j) * subDim, subDim)
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

object PqLut {
  /** The kernel both evaluation paths call: every subspace × codeword d2. */
  def kernel(x: ArrayData, books: Array[Double], m: Int, k: Int, subDim: Int,
      isFloat: Boolean): ArrayData = {
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val row = new Array[Double](k)
      var j = 0
      while (j < k) {
        row(j) = PqCodec.subD2(x, isFloat, s * subDim, books, (s * k + j) * subDim, subDim)
        j += 1
      }
      rows(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(rows)
  }
}

object PqAdc {
  /** The kernel both evaluation paths call. The sum covers only
    * `min(len(lut), len(codes))` subspaces, where the old `zip_with`
    * padded the shorter operand with nulls. */
  def kernel(lut: ArrayData, codes: ArrayData): Double = {
    val n = math.min(lut.numElements(), codes.numElements())
    var sum = 0.0
    var s = 0
    while (s < n) {
      sum += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    sum
  }
}

object PqCodec {
  /** Squared L2 between the subvector of `x` at `xo` (elements read as
    * double) and the codeword of `books` at `off`, in ascending dim order. */
  private[functions] def subD2(x: ArrayData, isFloat: Boolean, xo: Int,
      books: Array[Double], off: Int, subDim: Int): Double = {
    var d = 0.0; var i = 0
    while (i < subDim) {
      val t = (if (isFloat) x.getFloat(xo + i).toDouble else x.getDouble(xo + i)) - books(off + i)
      d += t * t; i += 1
    }
    d
  }

  def encode(emb: Column, books: IndexedSeq[Double], m: Int, k: Int, subDim: Int): Column =
    GraftShims.column(PqEncode(GraftShims.expression(emb), books, m, k, subDim))

  def lut(emb: Column, books: IndexedSeq[Double], m: Int, k: Int, subDim: Int): Column =
    GraftShims.column(PqLut(GraftShims.expression(emb), books, m, k, subDim))

  def adc(lut: Column, codes: Column): Column =
    GraftShims.column(PqAdc(GraftShims.expression(lut), GraftShims.expression(codes)))
}
