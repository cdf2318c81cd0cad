package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `gram_hashes(text, n)`: [[GramHash.hashes]] in a [[TextKernel]]. */
case class GramHashes(length: Int) extends TextKernel.Kernel {
  require(length >= 1, s"gram length must be >= 1, got $length")
  def name: String = "gram_hashes"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def eval(text: UTF8String): Any = GramHash.hashes(text, length)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.GramHash.hashes($c, $length)"
}

/** `gram_rows(text, n)`: [[GramHash.rows]] in a [[TextKernel]]. */
case class GramRows(length: Int) extends TextKernel.Kernel {
  require(length >= 1, s"gram length must be >= 1, got $length")
  def name: String = "gram_rows"
  def dataType: DataType = GramHash.RowsType
  def eval(text: UTF8String): Any = GramHash.rows(text, length)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.GramHash.rows($c, $length)"
}

/** All fixed-length character-gram hashes of a string as ONE compiled
  * pass — the kernel under the exact-substring family's position
  * relations ([[graft.operators.SubstrDedup]] d44/d46/d47; Lee et al.
  * ACL 2022 ExactSubstr).
  *
  * Per row: walk the UTF-8 bytes once to index every code point's byte
  * offset, then emit for each start position `p` (1-based, code-point
  * semantics identical to SQL `substring`) the 64-bit hash of the
  * L-code-point window. The hash is **bit-identical to
  * `xxhash64(substr(text, p, L))`** — XXH64 with Spark's seed 42 over
  * the window's UTF-8 bytes, which is exactly what the built-in
  * computes over the materialized substring — so kernel output joins
  * against any `_gh` relation the HOF formulation ever built (the
  * stored scrub indexes, the folding tiers) with no re-keying.
  *
  * Why an expression and not the HOF chain it replaces: the
  * `transform(sequence(1, n−L+1), p → xxhash64(substr(text, p, L)))`
  * formulation re-scans the string from byte 0 on EVERY position
  * (UTF-8 substring must count code points from the start — O(n²)
  * byte-steps per document) and allocates one UTF8String + one struct
  * per position. This kernel indexes offsets once (O(n)) and hashes
  * each window's bytes in place (O(n·L) total, zero allocation beyond
  * the output array), a static call inside whole-stage codegen (the
  * [[Winnow]]/[[CdcSegment]] precedent).
  *
  * Two faces share the offset walk:
  *
  *  - [[hashes]] ([[GramHashes]]) → `array<long>`: the string-free
  *    probe/count side (hash per position; position = array index + 1);
  *  - [[rows]] ([[GramRows]]) → `array<struct<g: string, h: long>>`: the
  *    index-build side, where downstream grouping needs the REAL gram
  *    string to separate 64-bit collisions — gram strings are
  *    zero-copy views into the row's byte array (the writer copies on
  *    materialization, same as `substring`'s contract).
  */
object GramHash {

  /** Spark's fixed xxhash64 seed (`XxHash64` expression default). */
  private final val Seed = 42L

  private[graft] val RowsType: DataType = ArrayType(
    StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  /** Column API: 64-bit xxhash64-compatible hash of every L-code-point
    * gram; element i covers positions [i+1, i+L] in SQL `substring`
    * terms. Empty array when the text holds fewer than L code points.
    */
  def gramHashes(c: Column, length: Int): Column =
    TextKernel.column(c, GramHashes(length))

  /** Column API: (gram string, hash) per position — the index-build
    * face. */
  def gramRows(c: Column, length: Int): Column =
    TextKernel.column(c, GramRows(length))

  /** Byte offset of each code point start, plus the terminal offset —
    * offs(i) is where code point i begins, offs(n) = numBytes. Returns
    * the code-point count n; `offs` must hold numBytes + 1 ints.
    */
  private def offsets(text: UTF8String, offs: Array[Int]): Int = {
    val nb = text.numBytes
    var n = 0
    var i = 0
    while (i < nb) {
      offs(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(text.getByte(i))
    }
    offs(n) = nb
    n
  }

  /** One-pass kernel, called from generated code. */
  def hashes(text: UTF8String, L: Int): ArrayData = {
    val offs = new Array[Int](text.numBytes + 1)
    val n = offsets(text, offs)
    val cnt = n - L + 1
    if (cnt <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val base = text.getBaseObject
    val bo = text.getBaseOffset
    val out = new Array[Long](cnt)
    var p = 0
    while (p < cnt) {
      out(p) = XXH64.hashUnsafeBytes(
        base, bo + offs(p), offs(p + L) - offs(p), Seed)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Index-build kernel: (gram, hash) per position. Gram strings are
    * zero-copy views into one materialized byte array per row.
    */
  def rows(text: UTF8String, L: Int): ArrayData = {
    val offs = new Array[Int](text.numBytes + 1)
    val n = offsets(text, offs)
    val cnt = n - L + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    // one byte copy per row; every gram is a view into it. getBytes
    // RETURNS THE BACKING ARRAY (no copy) when the string exactly
    // spans it — a buffer the data source may reuse after this row —
    // so force a defensive copy in that case (ADVICE r16): the gram
    // views outlive the call as GenericInternalRow fields, and their
    // safety must not depend on every downstream consumer copying into
    // UnsafeRow before the buffer changes
    val raw = text.getBytes
    val bytes =
      if (raw.asInstanceOf[AnyRef] eq text.getBaseObject) raw.clone()
      else raw
    val out = new Array[Any](cnt)
    var p = 0
    while (p < cnt) {
      val from = offs(p)
      val len = offs(p + L) - from
      out(p) = new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(bytes, from, len),
        XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          len, Seed)))
      p += 1
    }
    new GenericArrayData(out)
  }
}
