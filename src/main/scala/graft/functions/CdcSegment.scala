package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cdc_segments(text, divisor)`: [[CdcSegment.segments]] in a
  * [[TextKernel]]. */
case class CdcSegments(divisor: Int) extends TextKernel.Kernel {
  require(divisor >= 2, s"divisor=$divisor: expected >= 2")
  def name: String = "cdc_segments"
  def dataType: DataType = CdcSegment.OutType
  def eval(text: UTF8String): Any = CdcSegment.segments(text, divisor)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.CdcSegment.segments($c, $divisor)"
}

object CdcSegment {

  private[graft] val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("seg_start", LongType, nullable = false),
      StructField("seg_text", StringType, nullable = false))),
    containsNull = false)

  /** Column API: content-defined segments of a text column. */
  def cdcSegments(c: Column, divisor: Int): Column =
    TextKernel.column(c, CdcSegments(divisor))

  private final val P = 1000000007L

  // Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** Content-defined segmentation as ONE compiled pass — the kernel under
    * [[graft.operators.CdcDedup.segments]] (rsync/LBFS residue-class
    * boundaries; see that scaladoc for the shift-invariance contract).
    *
    * Per row: tokenize on whitespace runs, fold each token's code points
    * through `h = (h·31 + cp) mod 1e9+7` (the d05/d12 cross-engine hash),
    * open a segment at token 1 and at every token whose fold lands in
    * residue class 0 mod `divisor`, and emit
    * `array<struct<seg_start: bigint, seg_text: string>>` with tokens
    * re-joined by single spaces — byte-identical to the
    * `tokens → charFold → boundary → slice → array_join` column pipeline
    * it replaces (CdcSegmentSpec pins the equivalence against an
    * independent Scala reference on hostile inputs, and the d48/d50
    * DuckDB oracles pin it cross-engine).
    *
    * Why an expression and not HOFs: the lambda formulation runs an
    * INTERPRETED `aggregate(transform(filter(split(...))))` per token —
    * measured on d48@sf3 it made fresh-JVM CPU nondeterministic
    * (147–2434 executor-CPU-seconds for the identical plan, JIT-
    * dependent) and allocated per-character. This kernel is a static
    * call inside whole-stage codegen: one pass, no per-character boxing,
    * allocations only for the emitted segments.
    *
    * Tokenization replicates `TextFunctions.tokens` exactly: Java regex
    * `\s` whitespace (space, tab, LF, VT, FF, CR — NOT Unicode spaces),
    * maximal non-whitespace runs, so e.g. a NBSP is token content here
    * and there alike. The fold is over CODE POINTS (astral-plane safe),
    * matching Spark's `ascii()`/`split(c,"")` and DuckDB's `unicode`.
    * Empty/whitespace-only text → empty array.
    */
  def segments(text: UTF8String, divisor: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    // pass 1: token boundaries + per-token boundary-hash flags
    val tokStart = new Array[Int](n / 2 + 1)
    val tokEnd = new Array[Int](n / 2 + 1)
    val opens = new Array[Boolean](n / 2 + 1)
    var nTok = 0
    var i = 0
    while (i < n) {
      if (!isWs(cps(i))) {
        val s = i
        var h = 0L
        while (i < n && !isWs(cps(i))) {
          h = (h * 31L + cps(i)) % P
          i += 1
        }
        tokStart(nTok) = s
        tokEnd(nTok) = i
        opens(nTok) = nTok == 0 || h % divisor == 0L
        nTok += 1
      } else i += 1
    }
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    // pass 2: one struct per segment; tokens re-joined by single space
    var nSeg = 0
    var t = 0
    while (t < nTok) { if (opens(t)) nSeg += 1; t += 1 }
    val out = new Array[Any](nSeg)
    var seg = 0
    t = 0
    while (t < nTok) {
      // t opens a segment; find its token extent [t, u)
      var u = t + 1
      while (u < nTok && !opens(u)) u += 1
      val sb = new java.lang.StringBuilder(
        (tokEnd(u - 1) - tokStart(t)) + (u - t))
      var j = t
      while (j < u) {
        if (j > t) sb.append(' ')
        var p = tokStart(j)
        while (p < tokEnd(j)) { sb.appendCodePoint(cps(p)); p += 1 }
        j += 1
      }
      out(seg) = new GenericInternalRow(Array[Any](
        (t + 1).toLong, UTF8String.fromString(sb.toString)))
      seg += 1
      t = u
    }
    new GenericArrayData(out)
  }

  /** [[segments]] flattened for spec-side comparison:
    * (seg_start, seg_text) pairs. */
  private[graft] def segmentsRef(text: String, divisor: Int)
      : Seq[(Long, String)] = {
    val arr = segments(UTF8String.fromString(text), divisor)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2).asInstanceOf[InternalRow]
      (r.getLong(0), r.getUTF8String(1).toString)
    }
  }
}
