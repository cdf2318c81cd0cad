package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `top_grams(text, n, …)`: [[TopGrams.topGrams]] in a [[TextKernel]]. */
case class TopGrams(ns: Seq[Int]) extends TextKernel.Kernel {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"widths $ns: expected >= 1")
  def name: String = "top_grams"
  def dataType: DataType = TopGrams.outType(ns)
  def eval(text: UTF8String): Any = TopGrams.topGrams(text, ns.toArray)
  def call(ctx: CodegenContext): String => String = {
    val nsRef = ctx.addReferenceObj("ns", ns.toArray, "int[]")
    c => s"graft.functions.TopGrams.topGrams($c, $nsRef)"
  }
}

object TopGrams {

  private[graft] def outType(ns: Seq[Int]): DataType =
    StructType(ns.flatMap(n => Seq(
      StructField(s"top${n}_gram", StringType, nullable = false),
      StructField(s"top${n}_cnt", LongType, nullable = false))))

  /** Column API: the per-width (gram, count) mode struct. */
  def topGrams(c: Column, ns: Seq[Int]): Column =
    TextKernel.column(c, TopGrams(ns))

  // Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** Most-frequent word n-gram for ALL requested widths as ONE compiled
    * pass — the kernel under d52's top-n-gram character fraction
    * ([[graft.queries.QualityOps]]; Rae et al. arXiv 2112.11446 A1.1),
    * completing the quality battery's kernel family
    * ([[DupCover]] precedent).
    *
    * Per row: tokenize on whitespace runs (the [[CdcSegment]]
    * tokenization contract), intern tokens to dense ids, then for each
    * width n count the n-grams by interned-id key and emit the
    * (count, gram) of the most frequent, TIES TO THE BYTE-ORDER-SMALLEST
    * gram string — exactly the `array_sort` + strict-`>` fold it
    * replaces (Spark sorts UTF8Strings bytewise, so candidate strings
    * are compared as `UTF8String`s here, never as Java Strings, whose
    * UTF-16 order differs above the BMP). Empty docs and widths longer
    * than the doc emit ('', 0). Tie candidates are materialized lazily:
    * a position whose gram IS the current best (same key) is skipped, so
    * a periodic document costs one string per DISTINCT tied gram, not
    * per position.
    *
    * The r14 HOF formulation ran an independent `array_sort` +
    * `aggregate` per width over the staged shingle arrays; this kernel
    * tokenizes once and hashes — `QualityOpsSpec` pins kernel ≡ HOF on
    * hostile inputs, and d52's DuckDB oracle pins it cross-engine.
    */
  def topGrams(text: UTF8String, ns: Array[Int]): GenericInternalRow = {
    val cps = text.toString.codePoints().toArray
    val total = cps.length
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
    val ids = new Array[Int](m)
    if (m > 0) {
      val intern = new java.util.HashMap[String, Integer](m * 2)
      var t = 0
      while (t < m) {
        val s = new String(cps, tokStart(t), tokEnd(t) - tokStart(t))
        var id = intern.get(s)
        if (id == null) { id = Integer.valueOf(intern.size()); intern.put(s, id) }
        ids(t) = id.intValue()
        t += 1
      }
    }
    def gramString(g: Int, n: Int): UTF8String = {
      val sb = new java.lang.StringBuilder(
        (tokEnd(g + n - 1) - tokStart(g)) + (n - 1))
      var j = g
      while (j < g + n) {
        if (j > g) sb.append(' ')
        var p = tokStart(j)
        while (p < tokEnd(j)) { sb.appendCodePoint(cps(p)); p += 1 }
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
    val out = new Array[Any](2 * ns.length)
    var w = 0
    while (w < ns.length) {
      val n = ns(w)
      val L = m - n + 1
      if (L <= 0) {
        out(2 * w) = UTF8String.fromString("")
        out(2 * w + 1) = 0L
      } else {
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
        var bestCnt = 0
        var bestKey: String = null
        var bestGram: UTF8String = null
        g = 0
        while (g < L) {
          val k = keys(g)
          if (k != bestKey) { // same-gram positions never re-compare
            val c = counts.get(k).intValue()
            if (c > bestCnt) {
              bestCnt = c; bestKey = k; bestGram = gramString(g, n)
            } else if (c == bestCnt) {
              val cand = gramString(g, n)
              if (cand.compareTo(bestGram) < 0) {
                bestKey = k; bestGram = cand
              }
            }
          }
          g += 1
        }
        out(2 * w) = bestGram
        out(2 * w + 1) = bestCnt.toLong
      }
      w += 1
    }
    new GenericInternalRow(out)
  }
}
