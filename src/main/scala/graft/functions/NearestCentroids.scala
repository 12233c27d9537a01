package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The `nprobe` nearest centroid ids, ascending by (d2, cid), as ONE fused
  * codegen loop — [[NearestCentroid]]'s multi-probe sibling and the
  * codegen'd replacement for the litD2s → zip_with → array_sort → slice
  * pipeline, which Spark evaluates interpreted end to end (higher-order
  * functions are CodegenFallback) and which costs k×dim interpreted lambda
  * steps plus a k-struct sort PER ROW. With k ∝ √N that pipeline is an
  * N^1.5 interpreted term in every multi-probe serving plan — measured as
  * the dominant term of q220's sf1x warm cost at k = 224.
  *
  * Contract matches the old expression exactly: squared L2 in ascending
  * index order (the [[KMeansTrainer.d2]] rounding), selection ordered by
  * (d2, cid) ascending via a strict-`<` insertion (equal distances keep
  * the lower centroid id first), min(k, nprobe) entries returned. The
  * top-P selection is an insertion into two P-length registers — P is a
  * small constant (2–8), so the per-row cost is k×dim flops + O(k·P).
  */
case class NearestCentroids(
    child: Expression, cents: IndexedSeq[Double], dim: Int, nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0,
    "cents must be k x dim, row-major")
  require(nprobe > 0, "nprobe must be positive")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val flat: Array[Double] = cents.toArray

  override def nullSafeEval(a: Any): Any =
    NearestCentroids.kernel(a.asInstanceOf[ArrayData], flat, dim, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", flat, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.NearestCentroids.kernel($a, $centsRef, $dim, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroids {
  /** The kernel both evaluation paths call; `cents` is k × dim. */
  def kernel(x: ArrayData, cents: Array[Double], dim: Int, nprobe: Int): ArrayData = {
    val n = math.min(x.numElements(), dim)
    val k = cents.length / dim
    val p = math.min(k, nprobe)
    val bd = Array.fill(p)(Double.MaxValue)
    val bi = new Array[Int](p)
    var c = 0
    while (c < k) {
      var d = 0.0; var i = 0; val off = c * dim
      while (i < n) {
        val t = x.getFloat(i).toDouble - cents(off + i); d += t * t; i += 1
      }
      if (d < bd(p - 1)) {
        var j = p - 1
        while (j > 0 && d < bd(j - 1)) { bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1 }
        bd(j) = d; bi(j) = c
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bi)
  }

  /** Column-API entry point: flat row-major centroid matrix. */
  def apply(emb: Column, cents: IndexedSeq[Double], dim: Int, nprobe: Int): Column =
    GraftShims.column(NearestCentroids(GraftShims.expression(emb), cents, dim, nprobe))
}
