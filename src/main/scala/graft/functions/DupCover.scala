package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `dup_cover(text, n, …)`: [[DupCover.cover]] in a [[TextKernel]]. */
case class DupCover(ns: Seq[Int]) extends TextKernel.Kernel {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"widths $ns: expected >= 1")
  def name: String = "dup_cover"
  def dataType: DataType = DupCover.outType(ns)
  def eval(text: UTF8String): Any = DupCover.cover(text, ns.toArray)
  def call(ctx: CodegenContext): String => String = {
    val nsRef = ctx.addReferenceObj("ns", ns.toArray, "int[]")
    c => s"graft.functions.DupCover.cover($c, $nsRef)"
  }
}

object DupCover {

  private[graft] def outType(ns: Seq[Int]): DataType =
    StructType(ns.flatMap(n => Seq(
      StructField(s"dup${n}_grams", IntegerType, nullable = false),
      StructField(s"dup${n}_words", IntegerType, nullable = false),
      StructField(s"dup${n}_frac", DoubleType, nullable = false))))

  /** Column API: the per-width dup-gram coverage struct. */
  def dupCover(c: Column, ns: Seq[Int]): Column =
    TextKernel.column(c, DupCover(ns))

  // Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** Duplicated-n-gram coverage for ALL requested widths as ONE compiled
    * pass — the kernel under the d53/d55 Gopher battery
    * ([[graft.queries.QualityOps]]; Rae et al. arXiv 2112.11446 A1.1).
    *
    * Per row: tokenize on whitespace runs (replicating
    * `TextFunctions.tokens` exactly, the [[CdcSegment]] contract), intern
    * tokens to dense ids, then for each width n count the word n-grams
    * occurring ≥ 2 times and the token positions covered by at least one
    * such gram (interval-union semantics: a word inside several
    * duplicated grams counts once). Emits one struct with
    * `dup{n}_grams: int, dup{n}_words: int, dup{n}_frac: double` per
    * width — `frac` = covered word characters / total word characters,
    * one IEEE division of two exact integers, 0.0 for empty docs.
    *
    * Why an expression and not the sort+fold HOF chain it replaces: the
    * r14 shape ran an independent `array_sort` + `aggregate` per width —
    * correct and O(m log m)/row, but d55's six widths made it the
    * bench's slowest query (~5 s at sf0.1, six sorts per row re-reading
    * the staged token array). This kernel tokenizes once and hashes each
    * width's grams in O(m·n) with no sort and no per-element boxing, a
    * static call inside whole-stage codegen ([[CdcSegment]]
    * precedent). Gram equality is token-SEQUENCE equality (tokens carry
    * no whitespace, so the space-joined oracle strings collide exactly
    * when the sequences do); keys are fixed-width 2-char encodings of
    * the interned ids — unambiguous for any id < 2^32, no separator a
    * pathological token could forge.
    *
    * Correctness is pinned three ways: `QualityOpsSpec` hand-computed
    * rows + the periodic-doc/short-doc contracts, the generated DuckDB
    * oracle (naive quadratic formulation — an independent expression
    * that cannot inherit a bug here), and `MapSideFloorSpec`'s per-row
    * throughput gate.
    * Empty/whitespace-only text → all-zero fields.
    */
  def cover(text: UTF8String, ns: Array[Int]): GenericInternalRow = {
    val cps = text.toString.codePoints().toArray
    val total = cps.length
    // pass 1: token extents
    val tokStart = new Array[Int](total / 2 + 1)
    val tokEnd = new Array[Int](total / 2 + 1)
    var m = 0
    var i = 0
    while (i < total) {
      if (!isWs(cps(i))) {
        val s = i
        while (i < total && !isWs(cps(i))) i += 1
        tokStart(m) = s
        tokEnd(m) = i
        m += 1
      } else i += 1
    }
    // pass 2: intern tokens to dense ids; lengths in CODE POINTS
    // (matches Spark length() = numChars and DuckDB length())
    val lens = new Array[Int](m)
    val ids = new Array[Int](m)
    var tot = 0L
    if (m > 0) {
      val intern = new java.util.HashMap[String, Integer](m * 2)
      var t = 0
      while (t < m) {
        lens(t) = tokEnd(t) - tokStart(t)
        tot += lens(t)
        val s = new String(cps, tokStart(t), lens(t))
        var id = intern.get(s)
        if (id == null) { id = Integer.valueOf(intern.size()); intern.put(s, id) }
        ids(t) = id.intValue()
        t += 1
      }
    }
    // per width: count grams, mark duplicated coverage
    val out = new Array[Any](3 * ns.length)
    val covered = new Array[Boolean](m)
    var w = 0
    while (w < ns.length) {
      val n = ns(w)
      val L = m - n + 1
      if (L <= 0) {
        out(3 * w) = 0
        out(3 * w + 1) = 0
        out(3 * w + 2) = 0.0
      } else {
        java.util.Arrays.fill(covered, false)
        // gram key: 2 chars per interned id, fixed width — unambiguous
        val keys = new Array[String](L)
        val counts = new java.util.HashMap[String, Integer](L * 2)
        var g = 0
        while (g < L) {
          val sb = new java.lang.StringBuilder(2 * n)
          var j = 0
          while (j < n) {
            val id = ids(g + j)
            sb.append((id >>> 16).toChar).append(id.toChar)
            j += 1
          }
          val k = sb.toString
          keys(g) = k
          val c = counts.get(k)
          counts.put(k, if (c == null) 1 else Integer.valueOf(c.intValue() + 1))
          g += 1
        }
        var dupGrams = 0
        g = 0
        while (g < L) {
          if (counts.get(keys(g)).intValue() >= 2) {
            dupGrams += 1
            var j = g
            while (j < g + n) { covered(j) = true; j += 1 }
          }
          g += 1
        }
        var dupWords = 0
        var covChars = 0L
        var t = 0
        while (t < m) {
          if (covered(t)) { dupWords += 1; covChars += lens(t) }
          t += 1
        }
        out(3 * w) = dupGrams
        out(3 * w + 1) = dupWords
        out(3 * w + 2) =
          if (tot > 0L) covChars.toDouble / tot.toDouble else 0.0
      }
      w += 1
    }
    new GenericInternalRow(out)
  }
}
