package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-bucket ingest DECISION kernel for the nightly media family
  * (q221/q225/q226): scan ONE packed bucket (ids ascending; id-major
  * `words`-long signatures; id-major fixed-`dim` embeddings) and return
  * TRUE as soon as any entry with id < `idBound` sits within Hamming
  * `slack` of the query signature AND at exact rounded cosine ≥
  * `threshold` of the query embedding — i.e. "does a neighbor that
  * rejects this arrival exist in this bucket?". FALSE when none does;
  * null only when an input is null (an absent ledger bucket under a left
  * join).
  *
  * `idBound` encodes both sides of the store-or-earlier-member rule in one
  * kernel: the frozen-ledger scan passes Long.MaxValue (ANY ledger member
  * rejects — everything there was processed earlier), the batch-internal
  * scan passes the arrival's own doc_id (only LOWER ids count — q125's
  * earlier-member rule). Because ids are packed ascending, the scan BREAKS
  * at the first id ≥ bound, so the batch-internal pass does half the
  * entries on average — and any pass exits at the first verified hit,
  * which for dup-heavy ingests is the common case.
  *
  * Why fused (the [[HammingCosineTop1]] lesson applied to the ingest
  * family): the join-row form evaluated ledger ⋈ batch Hamming CONDITIONS
  * as join rows — Σ_b |ledger_b|·|batch_b| rows through the join operator
  * (~10⁹ at sf100x) — then shipped the admitted pairs into two embedding
  * fetch joins and a distinct. Here the same arithmetic runs as a
  * primitive-array loop inside one projection, the embeddings live in the
  * packed operand (q231's convention: vectors stay where a production IVF
  * index keeps them), and the ONLY thing that leaves the scan is one
  * boolean per arrival — nothing pair-scale exists at any point.
  *
  * Numeric contract — identical to the join-row form it replaces
  * (mirrored by MediaIncrementalSpec/MediaIncrementalFamilySpec's
  * single-node references): Hamming is bit_count over the XOR of the raw
  * signature words; cosine accumulates dot and both norms in index order
  * with double precision and combines as dot/(sqrt·sqrt) — exactly
  * [[CosineSimilarity]]; the decision compares Spark's round(x, 4)
  * (BigDecimal HALF_UP) against `threshold`. A cheap `raw ≥ threshold −
  * 1e-4` guard skips the BigDecimal for candidates that cannot reach the
  * threshold after rounding (round4 moves a value by < 5e-5).
  */
case class HammingCosineReject(
    ids: Expression, sigs: Expression, embs: Expression,
    qsig: Expression, qemb: Expression, idBound: Expression,
    words: Int, slack: Int, dim: Int, threshold: Double)
    extends Expression with ExpectsInputTypes {

  require(words > 0 && slack >= 0 && dim > 0, "words, slack, dim must be positive")

  override def children: Seq[Expression] = Seq(ids, sigs, embs, qsig, qemb, idBound)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(FloatType),
      ArrayType(LongType), ArrayType(FloatType), LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hamming_cosine_reject"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v.contains(null)) null
    else {
      def arr(i: Int) = v(i).asInstanceOf[ArrayData]
      HammingCosineReject.kernel(arr(0), arr(1), arr(2), arr(3), arr(4),
        v(5).asInstanceOf[Long], words, slack, dim, threshold)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val anyNull = gens.map(_.isNull).mkString(" || ")
    val args = gens.map(_.value).mkString(", ")
    ev.copy(code =
      code"""
        ${blocksToBlock(gens.map(_.code))}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!($anyNull)) {
          ${ev.isNull} = false;
          ${ev.value} = graft.functions.HammingCosineReject.kernel(
            $args, $words, $slack, $dim, ${threshold}D);
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ids = newChildren(0), sigs = newChildren(1), embs = newChildren(2),
      qsig = newChildren(3), qemb = newChildren(4), idBound = newChildren(5))
}

object HammingCosineReject {
  import HammingCosineTop1.{cosine, hamming, round4}

  /** The kernel both evaluation paths call: scans entries with id < `bound`
    * and stops at the first verified hit. */
  def kernel(ids: ArrayData, sigs: ArrayData, embs: ArrayData, qsig: ArrayData,
      qemb: ArrayData, bound: Long, words: Int, slack: Int, dim: Int,
      threshold: Double): Boolean = {
    val n = math.min(ids.numElements(),
      math.min(sigs.numElements() / words, embs.numElements() / dim))
    val qw = new Array[Long](words)
    var w = 0
    while (w < words) { qw(w) = qsig.getLong(w); w += 1 }
    val qd = new Array[Double](dim)
    val qn = math.min(qemb.numElements(), dim)
    var i = 0
    while (i < qn) { qd(i) = qemb.getFloat(i).toDouble; i += 1 }
    var eIdx = 0
    while (eIdx < n && ids.getLong(eIdx) < bound) {
      if (hamming(sigs, eIdx, qw, words) <= slack) {
        val raw = cosine(embs, eIdx, dim, qd, qn)
        if (raw >= threshold - 1e-4 && round4(raw) >= threshold) return true
      }
      eIdx += 1
    }
    false
  }

  /** Column-API entry point. */
  def apply(ids: Column, sigs: Column, embs: Column, qsig: Column,
      qemb: Column, idBound: Column,
      words: Int, slack: Int, dim: Int, threshold: Double): Column =
    GraftShims.column(HammingCosineReject(
      GraftShims.expression(ids), GraftShims.expression(sigs),
      GraftShims.expression(embs), GraftShims.expression(qsig),
      GraftShims.expression(qemb), GraftShims.expression(idBound),
      words, slack, dim, threshold))
}
