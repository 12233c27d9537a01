package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** `emb − centroid(bucket)` as array<double>, fused and codegen'd — the
  * residual a FAISS-style IVF-PQ index quantizes instead of the raw vector
  * ([[KMeansTrainer.residualTo]]'s kernel). The previous formulation was
  * `zip_with(emb, element_at(typedLit(centroids), bucket+1), x.double − y)`:
  * zip_with is CodegenFallback, so the subtraction ran as an interpreted
  * per-row lambda walk over the corpus in every residual encode build
  * (q140/q146/q186), and the k×dim literal centroid table rode each plan
  * as ~20 KB of expression tree. Here the table is ONE flat reference
  * object (IndexedSeq constructor arg keeps structural equality for plan
  * canonicalization) and the loop is one compiled kernel that both the
  * interpreted and the generated path call.
  *
  * Numeric contract — identical to the old expression element-for-element:
  * out(i) = emb(i).toDouble − cents(bucket·dim + i), the exact IEEE ops of
  * `x.cast("double") − y`. Accepts array<float> (the only production input)
  * and array<double> for symmetry with [[PqEncode]]/[[PqLut]].
  */
case class ResidualTo(left: Expression, right: Expression,
    cents: IndexedSeq[Double], dim: Int) extends BinaryExpression {

  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0,
    "cents must be k x dim, row-major")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_residual_to"

  @transient private lazy val flat: Array[Double] = cents.toArray

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, int), got ($l, $r)")
  }

  override def nullSafeEval(embAny: Any, bucketAny: Any): Any =
    ResidualTo.kernel(embAny.asInstanceOf[ArrayData], bucketAny.asInstanceOf[Int],
      flat, dim, elemIsFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", flat, "double[]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ResidualTo.kernel($a, $b, $centsRef, $dim, $elemIsFloat)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ResidualTo {
  /** The kernel both evaluation paths call; `cents` is k × dim. The result
    * covers only `min(len(emb), dim)` elements, where the old `zip_with`
    * padded the shorter operand with nulls. */
  def kernel(x: ArrayData, bucket: Int, cents: Array[Double], dim: Int,
      isFloat: Boolean): ArrayData = {
    val off = bucket * dim
    val n = math.min(x.numElements(), dim)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = (if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)) - cents(off + i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API entry point: flat row-major centroid matrix. */
  def apply(emb: Column, bucket: Column, cents: IndexedSeq[Double], dim: Int): Column =
    GraftShims.column(ResidualTo(
      GraftShims.expression(emb), GraftShims.expression(bucket), cents, dim))
}
