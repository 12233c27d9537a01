package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Random-hyperplane LSH signature: bit p of the result is the sign of the
  * dot product between the embedding and hyperplane p. All planes are
  * evaluated in ONE fused codegen loop over the array — the codegen'd
  * replacement for `nPlanes` separate higher-order-function dot products,
  * which Spark evaluates interpreted (HOFs are CodegenFallback) and which
  * dominated q49's runtime.
  *
  * `planes` is row-major (nPlanes × dim), an IndexedSeq so the expression
  * compares structurally (plan canonicalization / reuse keep working).
  * Cosine-LSH guarantee: P[bit agrees] = 1 - angle(x,y)/π, independent of
  * vector norms, so near-duplicates collide on most bits.
  */
case class HyperplaneSignature(child: Expression, planes: IndexedSeq[Double], dim: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planes.length % dim == 0, "planes must be nPlanes x dim, row-major")
  require(planes.length / dim <= 64, "signature is packed into one long")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  @transient private lazy val flat: Array[Double] = planes.toArray

  override def nullSafeEval(a: Any): Any =
    HyperplaneSignature.kernel(a.asInstanceOf[ArrayData], flat, dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", flat, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.HyperplaneSignature.kernel($a, $planesRef, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {
  /** The kernel both evaluation paths call; `planes` is nPlanes × dim. */
  def kernel(x: ArrayData, planes: Array[Double], dim: Int): Long = {
    val n = math.min(x.numElements(), dim)
    val nPlanes = planes.length / dim
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0; var i = 0; val off = p * dim
      while (i < n) { dot += x.getFloat(i).toDouble * planes(off + i); i += 1 }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Column-API entry point. */
  def apply(emb: Column, planes: IndexedSeq[Double], dim: Int): Column =
    GraftShims.column(HyperplaneSignature(GraftShims.expression(emb), planes, dim))
}
