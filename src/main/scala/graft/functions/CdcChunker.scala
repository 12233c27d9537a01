package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (the FastCDC/gear-hash family — Xia et al., ATC
  * 2016): split a document's bytes at positions where a rolling GEAR hash
  * hits a mask, not at fixed offsets. Because a boundary depends only on the
  * last few bytes of content, an insertion or deletion re-synchronizes
  * within one chunk — the downstream chunk hashes are UNCHANGED, which is
  * what makes CDC the storage/transfer dedup primitive (rsync, borg, data
  * lakes) where fixed-size blocks would shift every subsequent block.
  *
  * One fused per-row loop (map-side, zero exchange): roll
  * `h = (h << 1) + gear(byte)`, cut when `(h & mask) == 0` once the chunk
  * has `minLen` bytes, force a cut at `maxLen` (worst-case bound), and
  * FNV-1a-hash each chunk's bytes as it closes. Returns
  * `array<struct<h: bigint, l: int>>` — the 8-byte chunk digest and its
  * length; downstream dedup shuffles only these, never the text. The gear
  * table derives from a fixed splitmix64 seed, so chunking is deterministic
  * across engines, sessions and partitionings.
  *
  * Codegen: the stage stays whole-stage-generated; the generated code calls
  * the static [[CdcChunks.kernel]] (one call per row — the per-byte loop is
  * flat JVM code, which is where the time goes).
  */
case class CdcChunks(child: Expression, minLen: Int, maskBits: Int, maxLen: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(minLen >= 1 && maxLen > minLen && maskBits >= 1 && maskBits < 32)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("l", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"

  private val mask: Long = (1L << maskBits) - 1

  override def nullSafeEval(a: Any): Any =
    CdcChunks.kernel(a.asInstanceOf[UTF8String], minLen, mask, maxLen)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunks.kernel($c, $minLen, ${mask}L, $maxLen)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunks {
  /** splitmix64 — the standard 64-bit finalizer (public domain, Steele et
    * al.); a fixed seed makes the gear table a deterministic constant. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 256-entry gear table: one fixed 64-bit random per byte value. */
  val Gear: Array[Long] = Array.tabulate(256)(b => splitmix64(b.toLong))

  /** FNV-1a 64-bit over bytes[from, until) — the chunk content digest. */
  def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xFF).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** The kernel both evaluation paths call. */
  def kernel(s: UTF8String, minLen: Int, mask: Long, maxLen: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var start = 0
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h << 1) + Gear(bytes(i) & 0xFF)
      val len = i - start + 1
      if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) {
        out += InternalRow(fnv1a(bytes, start, i + 1), len)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < n)
      out += InternalRow(fnv1a(bytes, start, n), n - start)
    new GenericArrayData(out.toArray[Any])
  }

  /** Column-API entry point. */
  def apply(text: Column, minLen: Int, maskBits: Int, maxLen: Int): Column =
    GraftShims.column(
      CdcChunks(GraftShims.expression(text), minLen, maskBits, maxLen))
}
