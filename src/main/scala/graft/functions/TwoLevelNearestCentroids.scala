package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The `nprobe` nearest FINE cells of a two-level quantizer
  * ([[KMeansTrainer.Trained2]]), as one fused codegen loop — the k ∝ N
  * serving expression the cross-modal family's linear-probe-volume plan
  * needs. A flat [[NearestCentroids]] at k ∝ N would cost F = N/cell
  * distance evals PER ROW (an N²·dim term over a corpus); the two-level
  * form costs k1 + p1·k2 evals with k1 ≈ k2 ≈ √F — ~2√F per row at
  * p1 = 1 and still O(√F) at the small constant p1 the multi-probe knee
  * asks for (cheaper than the flat √N model's k evals once N > cell²).
  *
  * Contract:
  *  - stage 1: squared L2 to every L1 centroid in ascending-id order
  *    ([[KMeansTrainer.d2]]'s fold order), top `p1` cells by (d2, cid)
  *    ascending via strict-`<` insertion — SKIPPING cells whose sub-model
  *    is empty (an empty cell indexes nothing; probing it wastes a slot,
  *    and at p1 = 1 it would leave serving vectors bucketless);
  *  - stage 2: the selected cells are visited in ascending CELL id order,
  *    so stage 3's insertion order is ascending fine id and ties on d2
  *    keep the LOWER fine id — one global (d2, fineId)-ascending rule,
  *    independent of the stage-1 selection order;
  *  - stage 3: squared L2 to each selected cell's sub-centroids; top
  *    `nprobe` GLOBAL fine ids (cell·k2 + child — [[KMeansTrainer
  *    .Trained2]]'s stride encoding) by (d2, fineId) ascending.
  *
  * Returns min(nprobe, reachable fine cells) entries; with p1 = nprobe = 1
  * this is single assignment to the nearest non-empty cell's nearest child
  * (= [[KMeansTrainer.assignLocal2]] whenever the nearest L1 cell is
  * non-empty). Parity twin: [[KMeansTrainer.probeLocal2]]
  * (TwoLevelNearestCentroidsSpec pins interpreted == codegen == local). */
case class TwoLevelNearestCentroids(
    child: Expression,
    l1: IndexedSeq[Double],
    sub: IndexedSeq[Double],
    cellStart: IndexedSeq[Int],
    k2: Int,
    dim: Int,
    p1: Int,
    nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(dim > 0 && l1.nonEmpty && l1.length % dim == 0,
    "l1 must be k1 x dim, row-major")
  require(sub.length % dim == 0, "sub must be rows x dim, row-major")
  require(cellStart.length == l1.length / dim + 1 &&
    cellStart.head == 0 && cellStart.last == sub.length / dim,
    "cellStart must be k1+1 offsets into sub's rows")
  require(p1 > 0 && nprobe > 0, "p1 and nprobe must be positive")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_two_level_nearest_centroids"

  @transient private lazy val l1Flat: Array[Double] = l1.toArray
  @transient private lazy val subFlat: Array[Double] = sub.toArray
  @transient private lazy val startFlat: Array[Int] = cellStart.toArray

  override def nullSafeEval(a: Any): Any =
    TwoLevelNearestCentroids.kernel(a.asInstanceOf[ArrayData],
      l1Flat, subFlat, startFlat, k2, dim, p1, nprobe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l1Ref = ctx.addReferenceObj("l1", l1Flat, "double[]")
    val subRef = ctx.addReferenceObj("sub", subFlat, "double[]")
    val startRef = ctx.addReferenceObj("cellStart", startFlat, "int[]")
    defineCodeGen(ctx, ev, a => "graft.functions.TwoLevelNearestCentroids.kernel(" +
      s"$a, $l1Ref, $subRef, $startRef, $k2, $dim, $p1, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TwoLevelNearestCentroids {
  /** The kernel both evaluation paths call: `l1` is k1 × dim, `sub` holds
    * every cell's sub-centroids row-major, and cell c owns rows
    * [cellStart(c), cellStart(c + 1)). */
  def kernel(x: ArrayData, l1: Array[Double], sub: Array[Double],
      cellStart: Array[Int], k2: Int, dim: Int, p1: Int, nprobe: Int): ArrayData = {
    val k1 = l1.length / dim
    val n = math.min(x.numElements(), dim)
    // Stage 1: top-p1 non-empty L1 cells by (d2, cid) ascending.
    val cd = Array.fill(p1)(Double.MaxValue)
    val ci = Array.fill(p1)(-1)
    var c = 0
    while (c < k1) {
      if (cellStart(c + 1) > cellStart(c)) {
        var d = 0.0; var i = 0; val off = c * dim
        while (i < n) {
          val t = x.getFloat(i).toDouble - l1(off + i); d += t * t; i += 1
        }
        if (d < cd(p1 - 1)) {
          var j = p1 - 1
          while (j > 0 && d < cd(j - 1)) { cd(j) = cd(j - 1); ci(j) = ci(j - 1); j -= 1 }
          cd(j) = d; ci(j) = c
        }
      }
      c += 1
    }
    // Stage 2: visit selected cells in ascending cell id.
    java.util.Arrays.sort(ci)
    // Stage 3: top-nprobe fine ids by (d2, fineId) ascending.
    val bd = Array.fill(nprobe)(Double.MaxValue)
    val bi = Array.fill(nprobe)(-1)
    var s = 0
    while (s < p1) {
      val cc = ci(s)
      if (cc >= 0) {
        var j2 = 0
        val cnt = cellStart(cc + 1) - cellStart(cc)
        while (j2 < cnt) {
          var d = 0.0; var i = 0; val off = (cellStart(cc) + j2) * dim
          while (i < n) {
            val t = x.getFloat(i).toDouble - sub(off + i); d += t * t; i += 1
          }
          if (d < bd(nprobe - 1)) {
            var j = nprobe - 1
            while (j > 0 && d < bd(j - 1)) { bd(j) = bd(j - 1); bi(j) = bi(j - 1); j -= 1 }
            bd(j) = d; bi(j) = cc * k2 + j2
          }
          j2 += 1
        }
      }
      s += 1
    }
    var m = 0
    while (m < nprobe && bi(m) >= 0) m += 1
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(bi, m))
  }

  /** Column-API entry point over a trained two-level model. */
  def apply(emb: Column, m: KMeansTrainer.Trained2, p1: Int, nprobe: Int): Column = {
    val dim = m.l1.centroids.head.length
    GraftShims.column(TwoLevelNearestCentroids(
      GraftShims.expression(emb),
      m.l1.centroids.flatMap(_.toIndexedSeq),
      m.sub.flatMap(_.centroids.flatMap(_.toIndexedSeq)),
      m.sub.scanLeft(0)(_ + _.centroids.length),
      m.k2, dim, p1, nprobe))
  }
}
