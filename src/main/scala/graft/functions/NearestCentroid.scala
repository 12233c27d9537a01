package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid assignment as ONE fused codegen loop: the k×dim model
  * rides the plan as a flat literal array and the argmin runs in generated
  * Java — the codegen'd replacement for k separate
  * `aggregate(zip_with(...))` distance columns, which Spark evaluates
  * interpreted (higher-order functions are CodegenFallback) and which made
  * every bucket assignment — the k-means trainer's per-superstep corpus
  * pass included — an interpreted per-row lambda walk.
  *
  * Contract matches [[KMeansTrainer.assignLocal]] exactly: squared L2 in
  * ascending index order (same double rounding as [[KMeansTrainer.d2]] and
  * the litD2s fold), strict `<` so ties keep the LOWEST centroid id.
  * `cents` is row-major (k × dim), an IndexedSeq so the expression
  * compares structurally (plan canonicalization / reuse keep working).
  */
case class NearestCentroid(child: Expression, cents: IndexedSeq[Double], dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0,
    "cents must be k x dim, row-major")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val flat: Array[Double] = cents.toArray

  override def nullSafeEval(a: Any): Any =
    NearestCentroid.kernel(a.asInstanceOf[ArrayData], flat, dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", flat, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.NearestCentroid.kernel($a, $centsRef, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** The kernel both evaluation paths call; `cents` is k × dim. */
  def kernel(x: ArrayData, cents: Array[Double], dim: Int): Int = {
    val n = math.min(x.numElements(), dim)
    val k = cents.length / dim
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < k) {
      var d = 0.0; var i = 0; val off = c * dim
      while (i < n) {
        val t = x.getFloat(i).toDouble - cents(off + i); d += t * t; i += 1
      }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Column-API entry point: flat row-major centroid matrix. */
  def apply(emb: Column, cents: IndexedSeq[Double], dim: Int): Column =
    GraftShims.column(NearestCentroid(GraftShims.expression(emb), cents, dim))
}
