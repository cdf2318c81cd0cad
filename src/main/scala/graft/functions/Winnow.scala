package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_fingerprints(text, k, w)`: [[Winnow.selectRows]] in a
  * [[TextKernel]]. */
case class WinnowFingerprints(k: Int, w: Int) extends TextKernel.Kernel {
  require(k >= 1, s"gram length k must be >= 1, got $k")
  require(w >= 1, s"window w must be >= 1, got $w")
  def name: String = "winnow_fingerprints"
  def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  def eval(text: UTF8String): Any = Winnow.selectRows(text, k, w)
  def call(ctx: CodegenContext): String => String =
    c => s"graft.functions.Winnow.selectRows($c, $k, $w)"
}

/** Winnowed k-gram fingerprints of a string column (Schleimer, Wilkerson
  * & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003) — the ONE-PASS primitive behind cross-document
  * repeated-substring detection (the exact-substring dedup semantics of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better", ACL 2022, re-expressed for a shuffle-bounded engine).
  *
  * Per row this computes all `n − k + 1` rolling k-gram hashes of the
  * text and SELECTS, for each window of `w` consecutive gram positions,
  * the rightmost position holding the window's minimum hash — emitting
  * each selected position once. The winnowing theorem gives the two
  * properties the distributed join needs:
  *
  *  - **guarantee**: any substring of length ≥ k + w − 1 shared by two
  *    documents yields at least one fingerprint selected by BOTH (the
  *    shared region spans a full window of w gram positions; that
  *    window's rightmost minimum is a function of the shared characters
  *    alone, so both sides select it);
  *  - **density**: in expectation only 2/(w+1) of positions are
  *    selected, so the shuffled fingerprint volume is a tunable
  *    fraction of the corpus rather than a per-position explosion.
  *
  * Why an expression and not a HOF pipeline: the `transform(sequence(…))`
  * formulation materializes every position then re-scans windows — an
  * O(n·w) interpreted lambda per row and an O(n)-element intermediate
  * array. This kernel is one O(n) pass (rolling hash + monotonic deque)
  * inside whole-stage codegen via a static call, emitting only the
  * ~2n/(w+1) survivors.
  *
  * Output: `array<struct<p: int, h: long>>` — `p` counts Unicode CODE
  * POINTS from 1, exactly the positional semantics of SQL `substring`,
  * so a fingerprint's position can be fed straight back into `substr`
  * during pair verification; `h` is the FULL 64-bit mixed gram hash.
  * The hash is a join key, not an identity claim — verification
  * re-compares real substrings, so a collision costs one wasted check,
  * never a wrong answer. The width still matters for VOLUME: the first
  * form packed (pos << 32 | hash32) into one long, and at the 100×
  * corpus the 32-bit key saturated — ~12M fingerprints give ~17M
  * birthday-collision candidate PAIRS (quadratic in corpus; measured
  * as d45's 9.4× shuffle for 3.33× data in the r11 third-decade
  * sweep). At 64 bits the expected collision count at the same scale
  * is ~10⁻⁵ — candidate volume tracks true repetition again.
  */
object Winnow {

  /** Column API: selected fingerprints as `struct<p: int, h: long>`
    * rows (1-based codepoint position, 64-bit mixed hash); empty array
    * when the text holds fewer than k code points.
    */
  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    TextKernel.column(c, WinnowFingerprints(k, w))

  private final val B = 1000003L

  /** murmur3-style 64-bit finalizer: the raw polynomial hash is weak in
    * its low positions (last character only touches the low bits); the
    * avalanche makes the winnowing min-order effectively uniform, which
    * is what keeps the selected density near 2/(w+1).
    */
  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** One-pass kernel. Rolling polynomial k-gram hash over CODE POINTS
    * (mod 2⁶⁴ by natural overflow — both sides of any comparison use
    * the identical map, and the downstream contract verifies real
    * substrings) + a monotonic deque holding candidate minima:
    * back-popping on `≥` makes the front the RIGHTMOST window minimum,
    * the tie rule the winnowing guarantee requires (leftmost ties would
    * let selection depend on context outside the shared region). Each
    * selected position is emitted once. Returns FLAT (pos1based,
    * hash64) long pairs — [[selectRows]] wraps them for SQL.
    */
  def select(text: UTF8String, k: Int, w: Int): Array[Long] = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val hs = new Array[Long](n)
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    hs(0) = mix(h)
    i = 1
    while (i < n) {
      h = (h - cps(i - 1) * bk) * B + cps(i + k - 1)
      hs(i) = mix(h)
      i += 1
    }
    val ww = if (w < n) w else n
    val out = new Array[Long](2 * n)
    var nOut = 0
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // [head, tail) holds positions with increasing hash
    var last = -1
    i = 0
    while (i < n) {
      while (tail > head &&
        java.lang.Long.compareUnsigned(hs(deque(tail - 1)), hs(i)) >= 0)
        tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - ww) head += 1
      if (i >= ww - 1 && deque(head) != last) {
        last = deque(head)
        out(2 * nOut) = (last + 1).toLong
        out(2 * nOut + 1) = hs(last)
        nOut += 1
      }
      i += 1
    }
    if (nOut == n) out else java.util.Arrays.copyOf(out, 2 * nOut)
  }

  /** [[select]] wrapped as `array<struct<p, h>>` rows, called from
    * generated code. */
  def selectRows(text: UTF8String, k: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val flat = select(text, k, w)
    val out = new Array[Any](flat.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(
          Array[Any](flat(2 * i).toInt, flat(2 * i + 1)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
