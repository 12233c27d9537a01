package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-bucket retrieval kernel for the cross-modal family
  * (q220/q224/q231): scan ONE packed bucket (ids ascending; id-major
  * 256-bit signatures; id-major fixed-`dim` embeddings), admit entries at
  * Hamming ≤ `slack`, score the admitted entries with EXACT cosine against
  * the query embedding, and return the running maximum by
  * (round4(cos) desc, id asc) as a (img_id, cos) struct — null when no
  * entry is admitted.
  *
  * Why fused: the shortlist form of this kernel (round-14 intermediate)
  * made candidate FORMATION cheap — 3.04 G Hamming evals in 2.4 s at
  * sf10x — but still emitted the slack-admitted population (23.3 M rows
  * at sf10x) into two embedding fetch joins + a pair-scale top-1
  * aggregation, which cost ~8.4 s of the 13 s warm. Scoring inside the
  * scan removes the fetch joins entirely: the cosine flops on admitted
  * entries are trivial (23 M × 2·dim ≈ 3 GFLOP), the per-(query, probe)
  * output is ONE 16-byte struct, and the per-query top-1 is an 8-row
  * aggregation. It also RESTORES exact slack-only semantics — a bounded
  * shortlist had to argue an eviction-loss tail; a running max has none.
  *
  * Numeric contract (mirrored by CrossModalSpec/CrossModalIncrementalSpec
  * single-node references): cosine accumulates dot and both norms in index
  * order with double precision and combines as dot/(sqrt·sqrt) — exactly
  * [[CosineSimilarity]]; rounding is Spark's round(x, 4) on doubles
  * (BigDecimal.valueOf → setScale(4, HALF_UP)); comparison is on the
  * ROUNDED value with ascending-id scan order so the strict `>` update
  * keeps the LOWEST id among rounded ties. A cheap `raw > best − 1e-4`
  * guard skips the BigDecimal for candidates that cannot reach the current
  * best after rounding (round4 moves a value by < 5e-5).
  */
case class HammingCosineTop1(
    ids: Expression, sigs: Expression, embs: Expression,
    qsig: Expression, qemb: Expression,
    words: Int, slack: Int, dim: Int)
    extends Expression with ExpectsInputTypes {

  require(words > 0 && slack >= 0 && dim > 0, "words, slack, dim must be positive")

  override def children: Seq[Expression] = Seq(ids, sigs, embs, qsig, qemb)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(FloatType),
      ArrayType(LongType), ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("img_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hamming_cosine_top1"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input).asInstanceOf[ArrayData])
    if (v.contains(null)) null
    else HammingCosineTop1.kernel(v(0), v(1), v(2), v(3), v(4), words, slack, dim)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val anyNull = gens.map(_.isNull).mkString(" || ")
    val args = gens.map(_.value).mkString(", ")
    ev.copy(code =
      code"""
        ${blocksToBlock(gens.map(_.code))}
        boolean ${ev.isNull} = true;
        InternalRow ${ev.value} = null;
        if (!($anyNull)) {
          ${ev.value} = graft.functions.HammingCosineTop1.kernel($args, $words, $slack, $dim);
          ${ev.isNull} = ${ev.value} == null;
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ids = newChildren(0), sigs = newChildren(1), embs = newChildren(2),
      qsig = newChildren(3), qemb = newChildren(4))
}

object HammingCosineTop1 {
  /** The kernel both evaluation paths call; null when no entry is admitted. */
  def kernel(ids: ArrayData, sigs: ArrayData, embs: ArrayData, qsig: ArrayData,
      qemb: ArrayData, words: Int, slack: Int, dim: Int): InternalRow = {
    val n = math.min(ids.numElements(),
      math.min(sigs.numElements() / words, embs.numElements() / dim))
    val qw = new Array[Long](words)
    var w = 0
    while (w < words) { qw(w) = qsig.getLong(w); w += 1 }
    val qd = new Array[Double](dim)
    val qn = math.min(qemb.numElements(), dim)
    var i = 0
    while (i < qn) { qd(i) = qemb.getFloat(i).toDouble; i += 1 }
    var found = false
    var bestId = 0L
    var bestCos = Double.NegativeInfinity
    var eIdx = 0
    while (eIdx < n) {
      if (hamming(sigs, eIdx, qw, words) <= slack) {
        val raw = cosine(embs, eIdx, dim, qd, qn)
        if (!found || raw > bestCos - 1e-4) {
          val r = round4(raw)
          if (!found || r > bestCos) {
            found = true; bestCos = r; bestId = ids.getLong(eIdx)
          }
        }
      }
      eIdx += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestId, bestCos))
  }

  /** Bits that differ between entry `e`'s `words`-long signature and `qw`. */
  private[functions] def hamming(sigs: ArrayData, e: Int, qw: Array[Long], words: Int): Int = {
    var h = 0; var k = 0; val off = e * words
    while (k < words) { h += java.lang.Long.bitCount(sigs.getLong(off + k) ^ qw(k)); k += 1 }
    h
  }

  /** Cosine between entry `e`'s embedding and the query `qd` over its first
    * `qn` dims, accumulated and combined exactly as [[CosineSimilarity]]. */
  private[functions] def cosine(embs: ArrayData, e: Int, dim: Int,
      qd: Array[Double], qn: Int): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var j = 0; val off = e * dim
    while (j < qn) {
      val xv = qd(j)
      val yv = embs.getFloat(off + j).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      j += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Spark's round(x, 4) on doubles. */
  private[functions] def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Column-API entry point. */
  def apply(ids: Column, sigs: Column, embs: Column, qsig: Column,
      qemb: Column, words: Int, slack: Int, dim: Int): Column =
    GraftShims.column(HammingCosineTop1(
      GraftShims.expression(ids), GraftShims.expression(sigs),
      GraftShims.expression(embs), GraftShims.expression(qsig),
      GraftShims.expression(qemb), words, slack, dim))
}
