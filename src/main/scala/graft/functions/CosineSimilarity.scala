package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two float-array columns — the
  * Catalyst-Expression upgrade path the engine prefers over UDFs (SURVEY.md
  * §4.2): one fused loop, primitive float reads from ArrayData, no lambda
  * dispatch, stays inside whole-stage codegen.
  *
  * Numeric contract: accumulates dot and both norms in index order with
  * double precision and combines as dot / (sqrt(nx) * sqrt(ny)) — bit-for-bit
  * identical to the fold-based formulation mirrored in the DuckDB oracles
  * (dsl.dot / dsl.l2norm), so swapping it into oracle-checked queries cannot
  * change results.
  *
  * Zero-length or zero-norm inputs yield NaN (division by zero), matching
  * the fold-based expression's behavior.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarity.kernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The kernel both evaluation paths call. */
  def kernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Column-API entry point: cosine(a, b) as a native expression. */
  def apply(a: Column, b: Column): Column =
    GraftShims.column(
      CosineSimilarity(GraftShims.expression(a), GraftShims.expression(b)))
}
