package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** Per-ROW sketch signatures over an already-materialized token/shingle
  * array — the map-only siblings of the SketchAggregators. When the set is
  * a bounded array column (a document's shingles), the signature is a pure
  * function of the row: computing it in one fused codegen loop removes the
  * explode (|corpus|×|set| intermediate rows), the per-element hash
  * projections, AND the groupBy shuffle the aggregator formulation needs.
  * The Aggregators remain the right tool when elements arrive as rows
  * (streaming accumulation, exploded joins); both use the same hash family
  * and are asserted equal in SketchParitySpec.
  */
object SketchExpressions {

  /** Seed of Spark's own xxhash64(col) (see catalyst XxHash64). */
  final val Seed1 = 42L
  /** Independent second seed for the double-hashing family. */
  final val Seed2 = 0x9747B28CL

  @inline private[functions] def h(s: org.apache.spark.unsafe.types.UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
}

/** 64-way MinHash signature of an array<string>: g_i(x) = h1(x) + i·h2(x),
  * min over elements — one fused loop, no explode, no shuffle. */
case class MinHashSignature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinHashSignature.kernel(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.MinHashSignature.kernel($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  final val NumHashes = 64

  /** The kernel both evaluation paths call. */
  def kernel(arr: ArrayData): ArrayData = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      val h1 = SketchExpressions.h(s, SketchExpressions.Seed1)
      val h2 = SketchExpressions.h(s, SketchExpressions.Seed2)
      var k = 0
      while (k < NumHashes) {
        val g = h1 + k.toLong * h2
        if (g < mins(k)) mins(k) = g
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def apply(arr: Column): Column =
    GraftShims.column(MinHashSignature(GraftShims.expression(arr)))
}

/** 64-bit SimHash of an array<string>: per-bit majority vote over element
  * hashes — one fused loop, no explode, no shuffle. */
case class SimHashSignature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig"

  override def nullSafeEval(v: Any): Any =
    SimHashSignature.kernel(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHashSignature.kernel($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSignature {
  /** The kernel both evaluation paths call. */
  def kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val hv = SketchExpressions.h(arr.getUTF8String(i), SketchExpressions.Seed1)
      var b = 0
      while (b < 64) { votes(b) += (if (((hv >>> b) & 1L) == 1L) 1 else -1); b += 1 }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def apply(arr: Column): Column =
    GraftShims.column(SimHashSignature(GraftShims.expression(arr)))
}

/** Probe a serialized `count_min_sketch` (the bytes Spark's aggregate
  * emits) for an item's estimated count — executor-side, so the whole
  * heavy-hitter query runs as ONE job with the sketch riding a broadcast,
  * instead of N driver-side estimateCount calls after a collect. String
  * items hash identically to the aggregate's update path (both hash the
  * UTF-8 bytes), so estimates match the driver-side formulation exactly. */
case class CmsEstimateCount(sketch: Expression, item: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = sketch
  override def right: Expression = item
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  override def nullSafeEval(sk: Any, it: Any): Any =
    CmsEstimateCount.kernel(
      sk.asInstanceOf[Array[Byte]],
      it.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sk, it) => s"graft.functions.CmsEstimateCount.kernel($sk, $it)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(sketch = newLeft, item = newRight)
}

object CmsEstimateCount {
  import org.apache.spark.util.sketch.CountMinSketch

  // Single-entry deserialization cache confirmed by a FULL byte compare:
  // every row at a probe site carries the same sketch bytes (row accessors
  // copy the array, so identity can't key it), and an O(len) Arrays.equals
  // is far cheaper than re-parsing the sketch — while a hash-only key could
  // silently serve estimates from the WRONG sketch on a 32-bit collision.
  // Probe sites are row-bounded (top-k), so even a miss-per-row (two
  // different sketches probed concurrently thrashing the slot) stays
  // correct and acceptably cheap.
  @transient @volatile private var cached: (Array[Byte], CountMinSketch) = null

  /** The kernel both evaluation paths call. */
  def kernel(bytes: Array[Byte], item: org.apache.spark.unsafe.types.UTF8String): Long = {
    var c = cached
    if (c == null || !java.util.Arrays.equals(c._1, bytes)) {
      c = (bytes.clone(),
        CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes)))
      cached = c
    }
    c._2.estimateCount(item.toString)
  }

  def apply(sketch: Column, item: Column): Column =
    GraftShims.column(CmsEstimateCount(GraftShims.expression(sketch), GraftShims.expression(item)))
}
