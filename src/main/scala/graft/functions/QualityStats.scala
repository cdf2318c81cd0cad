package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `quality_stats(text)`: [[QualityStats.stats]] in a [[TextKernel]]. */
case object QualityStats extends TextKernel.Kernel {
  def name: String = "quality_stats"
  def dataType: DataType = OutType
  def eval(text: UTF8String): Any = stats(text)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.QualityStats.stats($c)"

  private[graft] val OutType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false)))

  /** Column API: `struct(score, n_tokens)` in one compiled pass. */
  def qualityStats(c: Column): Column = TextKernel.column(c, QualityStats)

  // Java regex \s (no UNICODE_CHARACTER_CLASS)
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  // Java regex \p{Punct}: !"#$%&'()*+,-./ : ;<=>?@ [\]^_` {|}~
  private def isPunct(cp: Int): Boolean =
    (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)

  /** The d51 quality gate's per-row text statistics as ONE compiled
    * pass: `struct(score: double, n_tokens: int)` where `score` is
    * bit-identical to [[TextFunctions.qualityScore]] and `n_tokens` to
    * [[TextFunctions.tokenCount]].
    *
    * Why an expression: the column formulation evaluates three
    * `regexp_replace` passes (digit/punct/upper ratios) plus TWO
    * tokenizations (mean token length, token count) per gate
    * evaluation — and the curation funnel re-evaluates its gate subtree
    * once per plan branch (winners, dedup probe, index, eval, clean,
    * mixture), multiplying that cost. This kernel walks the code points
    * once: class counts for the three ratios, token extents for count
    * and mean length.
    *
    * Bit-exactness contract (the funnel's oracle replays the arithmetic
    * in DuckDB): every ratio is `classCount.toDouble / len.toDouble` —
    * the same two exact ints the regexp_replace length-difference
    * produces — and the score combines them in the IDENTICAL operation
    * order as [[TextFunctions.qualityScore]]
    * (`lenOk·0.25 + α·0.35 + calm·0.2 + tokOk·0.2`, clamped). Class
    * sets replicate Java regex on ASCII: `[0-9]`, `[A-Z]`,
    * `[\p{Punct}]` = the 32 ASCII punctuation chars — the classes the
    * DuckDB oracle's RE2 `[[:punct:]]` agrees on. Tokenization is the
    * `\s`-run walk every kernel in this package shares
    * ([[CdcSegment]]/[[DupCover]]/[[WordShingles]]).
    * `QualityStatsSpec`-style pins live in `TextOpsSpec`.
    */
  def stats(text: UTF8String): GenericInternalRow = {
    val cps = text.toString.codePoints().toArray
    val len = cps.length
    var digits = 0
    var puncts = 0
    var uppers = 0
    var nTok = 0
    var tokChars = 0L
    var i = 0
    while (i < len) {
      val cp = cps(i)
      if (cp >= '0' && cp <= '9') digits += 1
      if (cp >= 'A' && cp <= 'Z') uppers += 1
      if (isPunct(cp)) puncts += 1
      if (!isWs(cp)) {
        if (i == 0 || isWs(cps(i - 1))) nTok += 1
        tokChars += 1
      }
      i += 1
    }
    // identical operation ORDER to TextFunctions.qualityScore — the
    // doubles must be bit-equal to the column formulation's
    val digitR = if (len == 0) 0.0 else digits.toDouble / len.toDouble
    val punctR = if (len == 0) 0.0 else puncts.toDouble / len.toDouble
    val upperR = if (len == 0) 0.0 else uppers.toDouble / len.toDouble
    val lenOk = if (len >= 20 && len <= 10000) 1.0 else 0.5
    val alpha = 1.0 - digitR - punctR
    val calm = 1.0 - upperR
    val meanTok =
      if (nTok == 0) 0.0 else tokChars.toDouble / nTok.toDouble
    val tokOk = if (meanTok >= 2.0 && meanTok <= 12.0) 1.0 else 0.5
    val raw = lenOk * 0.25 + alpha * 0.35 + calm * 0.2 + tokOk * 0.2
    val score = math.max(math.min(raw, 1.0), 0.0)
    new GenericInternalRow(Array[Any](score, nTok))
  }
}
