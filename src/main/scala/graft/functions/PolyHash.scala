package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a UTF-8 string: `h = Σ byte_i · B^i mod M`
  * with B = 257 and M = 2^61 − 1 (a Mersenne prime, reduced with the
  * shift-add trick — no BigInt, no division).
  *
  * This is the document-fingerprinting primitive (SURVEY.md §2.b "text
  * analysis" extension): content-defined, byte-stable, cheap. It runs
  * inside whole-stage codegen through [[TextKernel]].
  */
case object PolyHash extends TextKernel.Kernel {
  def name: String = "poly_hash"
  def dataType: DataType = LongType
  def eval(text: UTF8String): Any = hashBytes(text.getBytes)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.PolyHash.hashBytes($c.getBytes())"

  private final val M = (1L << 61) - 1
  private final val B = 257L

  /** mod-Mersenne multiply-accumulate; called from generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < bytes.length) {
      h = modM(h + mulModM(bytes(i) & 0xffL, pow))
      pow = mulModM(pow, B)
      i += 1
    }
    h
  }

  private def modM(x: Long): Long = {
    val r = (x & M) + (x >>> 61)
    if (r >= M) r - M else r
  }

  /** (a*b) mod M for 0 ≤ a,b < M. The 122-bit product is HI·2^64 + LO;
    * 2^64 ≡ 2^3 (mod 2^61−1), so value ≡ HI·8 + LO. HI < 2^58 keeps
    * HI·8 in range; LO is folded as unsigned via shift.
    */
  private def mulModM(a: Long, b: Long): Long = {
    val lo = a * b
    val hi = Math.multiplyHigh(a, b) // operands nonneg → high word exact
    modM(modM((lo & M) + (lo >>> 61)) + modM(hi * 8L))
  }
}

object PolyHashFunctions {

  /** Column API: `poly_hash(col)` → 61-bit stable content fingerprint. */
  def poly_hash(c: Column): Column = TextKernel.column(c, PolyHash)
}
