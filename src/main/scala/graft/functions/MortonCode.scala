package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) code: bit-interleave the low 32 bits of two longs into
  * one 64-bit sort key. Sorting a table by `morton(a, b)` clusters rows that
  * are close in BOTH dimensions, so parquet row-group min/max statistics
  * stay tight on a AND on b — a range predicate on EITHER column prunes row
  * groups, where a plain `ORDER BY a` layout only ever prunes on `a`. This
  * is the standard lakehouse Z-ORDER clustering, as a codegen'd expression
  * usable in any sort/write (see LayoutWriter.writeZOrdered).
  *
  * Inputs are truncated to their low 32 bits (values are expected to be
  * non-negative surrogate keys; the interleave is only a clustering key, so
  * truncation can never affect correctness — only pruning quality for keys
  * beyond 2³²).
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton"

  override def nullSafeEval(a: Any, b: Any): Any =
    MortonCode.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MortonCode.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MortonCode {

  private def spread(v0: Long): Long = {
    var v = v0 & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** The kernel both evaluation paths call: interleave the low 32 bits,
    * bit i of `a` → bit 2i, bit i of `b` → 2i+1. */
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    GraftShims.column(
      MortonCode(GraftShims.expression(a), GraftShims.expression(b)))
}
