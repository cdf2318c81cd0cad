package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(text, n)`: [[WordShingles.shingles]] in a
  * [[TextKernel]]. */
case class WordShingles(k: Int) extends TextKernel.Kernel {
  require(k >= 1, s"k=$k: expected >= 1")
  def name: String = "word_shingles"
  def dataType: DataType = ArrayType(StringType, containsNull = false)
  def eval(text: UTF8String): Any = WordShingles.shingles(text, k)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.WordShingles.shingles($c, $k)"
}

/** `word_shingle_hashes(text, n)`: [[WordShingles.shingleHashes]] in a
  * [[TextKernel]]. */
case class WordShingleHashes(k: Int) extends TextKernel.Kernel {
  require(k >= 1, s"k=$k: expected >= 1")
  def name: String = "word_shingle_hashes"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def eval(text: UTF8String): Any = WordShingles.shingleHashes(text, k)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.WordShingles.shingleHashes($c, $k)"
}

object WordShingles {

  /** Column API: word k-shingles of a text column, one compiled pass. */
  def wordShingles(c: Column, k: Int): Column =
    TextKernel.column(c, WordShingles(k))

  /** Column API: xxhash64 of each word k-shingle, string-free. */
  def shingleHashes(c: Column, k: Int): Column =
    TextKernel.column(c, WordShingleHashes(k))

  // Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** Word k-shingles as ONE compiled pass — the kernel under
    * [[TextFunctions.wordShingles]] and the `word_shingles` SQL
    * registration (VERDICT r14 Next #5: the raw-text HOF shingle fold —
    * a zip_with chain whose k−1 levels each re-evaluated the tokenize
    * tree per row — must not be reachable from queries or SQL).
    *
    * Per row: tokenize on whitespace runs (replicating
    * `TextFunctions.tokens` exactly — Java regex `\s`, maximal
    * non-whitespace codepoint runs, the [[CdcSegment]] contract), then
    * emit the n−k+1 windows of k consecutive tokens joined by single
    * spaces. k ≤ 1 returns the token array itself; short docs return an
    * empty array; null text propagates null — all byte-identical to the
    * `shinglesOf(tokens(c), k)` column formulation (`TextOpsSpec` pins
    * the equality at every width, hostile inputs included).
    *
    * [[TextFunctions.shinglesOf]] remains the right call for operators
    * that STAGE a token array and shingle several widths from it (the
    * quality battery, MinHash signatures): there the tokenize cost is
    * paid once for all widths. This kernel is for the raw-text
    * single-width surface — diag harnesses, SQL users — where the HOF
    * form cost k tokenizations per row and this costs one.
    */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    val tokStart = new Array[Int](n / 2 + 1)
    val tokEnd = new Array[Int](n / 2 + 1)
    var m = 0
    var i = 0
    while (i < n) {
      if (!isWs(cps(i))) {
        val s = i
        while (i < n && !isWs(cps(i))) i += 1
        tokStart(m) = s
        tokEnd(m) = i
        m += 1
      } else i += 1
    }
    val width = math.max(k, 1)
    val count = if (width == 1) m else m - width + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var g = 0
    while (g < count) {
      val sb = new java.lang.StringBuilder(
        (tokEnd(g + width - 1) - tokStart(g)) + (width - 1))
      var j = g
      while (j < g + width) {
        if (j > g) sb.append(' ')
        var p = tokStart(j)
        while (p < tokEnd(j)) { sb.appendCodePoint(cps(p)); p += 1 }
        j += 1
      }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** [[shingles]]' string-free face: the 64-bit xxhash64 of each
    * word k-shingle, WITHOUT materializing the shingle strings — for
    * consumers that only ever join/dedup on the hash (the decontamination
    * gram index: `transform(word_shingles(text, 8), xxhash64)` allocated
    * one ~50-byte string per window per row just to hash and drop it).
    * Values are bit-identical to `xxhash64(shingle_string)` — XXH64 with
    * Spark's seed 42 over the shingle's UTF-8 bytes, assembled
    * token-by-token in a reused scratch buffer (`TextOpsSpec` pins the
    * equality).
    *
    * String-free kernel: xxhash64 of each k-shingle's UTF-8 bytes.
    * Token extents are found by a BYTE walk — every `\s` class member
    * is a single ASCII byte and UTF-8 continuation/lead bytes of
    * multi-byte code points are all ≥ 0x80, so byte-level whitespace
    * detection is exact — and each window's bytes (tokens joined by
    * single spaces) are assembled into one reused scratch buffer and
    * hashed in place with Spark's seed.
    */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
    import org.apache.spark.unsafe.Platform
    val bytes = text.getBytes
    val n = bytes.length
    def isWsByte(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
        b == '\f' || b == '\r'
    val tokStart = new Array[Int](n / 2 + 1)
    val tokEnd = new Array[Int](n / 2 + 1)
    var m = 0
    var i = 0
    while (i < n) {
      if (!isWsByte(bytes(i))) {
        val s = i
        while (i < n && !isWsByte(bytes(i))) i += 1
        tokStart(m) = s
        tokEnd(m) = i
        m += 1
      } else i += 1
    }
    val width = math.max(k, 1)
    val count = if (width == 1) m else m - width + 1
    if (count <= 0)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](count)
    if (width == 1) {
      // single tokens hash straight out of the row's byte array
      var g = 0
      while (g < count) {
        out(g) = XXH64.hashUnsafeBytes(bytes,
          Platform.BYTE_ARRAY_OFFSET + tokStart(g),
          tokEnd(g) - tokStart(g), 42L)
        g += 1
      }
    } else {
      var maxLen = 0
      var g = 0
      while (g < count) {
        val l = (tokEnd(g + width - 1) - tokStart(g)) + (width - 1)
        if (l > maxLen) maxLen = l
        g += 1
      }
      val buf = new Array[Byte](maxLen)
      g = 0
      while (g < count) {
        var len = 0
        var j = g
        while (j < g + width) {
          if (j > g) { buf(len) = ' '; len += 1 }
          val tl = tokEnd(j) - tokStart(j)
          System.arraycopy(bytes, tokStart(j), buf, len, tl)
          len += tl
          j += 1
        }
        out(g) = XXH64.hashUnsafeBytes(buf,
          Platform.BYTE_ARRAY_OFFSET, len, 42L)
        g += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
