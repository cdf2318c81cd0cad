package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines
  * (SURVEY.md §2.b extensions): tokenization, shingling, quality ratios,
  * stopword-profile language ID. Everything is built-in column
  * expressions / higher-order functions — no UDFs, so projections stay
  * in whole-stage codegen (scalar fns) or tight HOF loops (array fns),
  * and every metric is computable map-side with zero shuffles.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text; empty text → empty array. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Cross-engine-reproducible document fingerprint: left fold of
    * `h = (h*31 + codepoint) mod 1e9+7` over the text's characters.
    * Stays within BIGINT under ANSI mode (h < 1e9+7, cp ≤ 0x10FFFF, so
    * h*31+cp < 2^35) and matches a DuckDB `list_reduce` fold — unlike
    * [[graft.functions.PolyHashFunctions.poly_hash]], whose wrapping
    * 64-bit arithmetic no oracle can replicate. Empty/null-safe: empty
    * text → 0.
    *
    * UNICODE-exact (verified, `TextOpsSpec` "rollingHashMod is
    * codepoint-exact"): Spark 4's `ascii()` returns the full Unicode
    * codepoint of the first character (not the first byte), and
    * `split(c, "")` iterates CODEPOINTS — an astral-plane emoji comes
    * back as one element, not a surrogate pair. That makes this fold
    * identical to DuckDB's `unicode(substring(s, i, 1))` fold for
    * arbitrary valid-UTF-8 text, so content-hash splits/samples
    * (d12/d14-d16/d19/d23) are cross-engine-stable on real corpora,
    * not just ASCII.
    */
  def rollingHashMod(c: Column, p: Long = 1000000007L): Column = {
    // split-into-chars is one linear pass; the substr(i, 1) formulation
    // would rescan the UTF8String from byte 0 per position (O(n²))
    val codes = transform(filter(split(c, ""), ch => ch =!= ""),
      ch => ascii(ch).cast("long"))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31L + x) % p)
  }

  /** Token-sequence fingerprint: [[rollingHashMod]]'s per-character
    * fold applied to each TOKEN, then folded across the token sequence
    * with a distinct multiplier — the whitespace-NORMALIZING
    * counterpart of the whitespace-sensitive char-level d12 (two docs
    * differing only in runs of spaces fingerprint equal here).
    * Cross-engine exact for the same reasons as [[rollingHashMod]]
    * (codepoint-exact split, all intermediates < 131·(1e9+7) + 1e9+7,
    * far inside BIGINT under ANSI mode).
    */
  def tokenHashMod(c: Column, p: Long = 1000000007L): Column = {
    val tokHashes = transform(tokens(c), t =>
      aggregate(
        transform(filter(split(t, ""), ch => ch =!= ""),
          ch => ascii(ch).cast("long")),
        lit(0L), (acc, x) => (acc * 31L + x) % p))
    aggregate(tokHashes, lit(0L), (acc, x) => (acc * 131L + x) % p)
  }

  /** Character n-grams (the shingle unit for near-dup detection).
    * Guarded: `sequence(1, 0)` would DESCEND in Spark, so short inputs
    * short-circuit to an empty array.
    */
  def charNGrams(c: Column, n: Int): Column = {
    val count = length(c) - (n - 1)
    when(count <= 0, typedLit(Seq.empty[String])).otherwise(
      transform(sequence(lit(1), count), i => c.substr(i, lit(n))))
  }

  /** Word k-shingles joined with a single space — ONE compiled pass
    * ([[WordShingles]], r15). The previous raw-text form delegated
    * to [[shinglesOf]] over the tokenize TREE, whose k−1 zip_with
    * levels each re-evaluated the regex split per row (k
    * tokenizations/row — the cost class VERDICT r14 Next #5 retires
    * from every query- and SQL-reachable surface). Byte-identical
    * output (`TextOpsSpec` equality at every width); callers staging a
    * token attribute for SEVERAL widths keep using [[shinglesOf]].
    */
  def wordShingles(c: Column, k: Int): Column =
    WordShingles.wordShingles(c, k)

  /** [[wordShingles]] over an already-computed token array. When `ts`
    * is a STAGED ATTRIBUTE (a real column, not the tokenize tree),
    * the fold's k references to it are O(1) row-slot reads; passing
    * the raw `tokens(text)` expression instead re-tokenizes the
    * document once per reference under interpreted HOF evaluation —
    * the cost class MapSideFloorSpec polices. Callers computing
    * several widths should tokenize once and shingle each width from
    * the staged array.
    */
  def shinglesOf(ts: Column, k: Int): Column = {
    if (k <= 1) ts
    else {
      val joined = (1 until k).foldLeft(ts) { (acc, j) =>
        val shifted = slice(ts, lit(j + 1), greatest(size(ts) - j, lit(0)))
        zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
      }
      filter(joined, x => x.isNotNull)
    }
  }

  /** Fraction of characters matching a class; exact double (one
    * division of two ints — bit-identical on any engine).
    */
  private def classRatio(c: Column, regex: String): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, regex, ""))).cast("double") /
        length(c).cast("double"))

  def digitRatio(c: Column): Column = classRatio(c, "[0-9]")
  def upperRatio(c: Column): Column = classRatio(c, "[A-Z]")
  def punctRatio(c: Column): Column = classRatio(c, "[\\p{Punct}]")
  def whitespaceRatio(c: Column): Column = classRatio(c, "\\s")

  /** Mean token length (0.0 for empty). */
  def meanTokenLength(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) === 0, lit(0.0)).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(ts).cast("double"))
  }

  /** Count of tokens found in a fixed vocabulary. */
  def vocabHits(c: Column, vocab: Seq[String]): Column =
    size(filter(tokens(c), t => array_contains(typedLit(vocab), t)))

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en"))

  /** Language with the most stopword hits; ties and zero hits →
    * "unknown". Deterministic: languages are compared in sorted order.
    */
  def langId(c: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(vocabHits(c, words).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    val hitsOf = scored.map(s => s.getField("hits"))
    val maxHits = best.getField("hits")
    val tied = hitsOf.map(h => when(h === maxHits, 1).otherwise(0))
      .reduce(_ + _) > 1
    when(maxHits === 0 || tied, "unknown").otherwise(best.getField("lang"))
  }

  /** Composite quality score in [0,1]: penalizes digit/punct-heavy,
    * shouty, or degenerate-token text. Weights are heuristic; the value
    * is deterministic (fixed-order double arithmetic).
    */
  def qualityScore(c: Column): Column = {
    val lenOk = when(length(c).between(20, 10000), lit(1.0)).otherwise(0.5)
    val alpha = lit(1.0) - digitRatio(c) - punctRatio(c)
    val calm = lit(1.0) - upperRatio(c)
    val tokOk = when(meanTokenLength(c).between(2.0, 12.0), lit(1.0))
      .otherwise(lit(0.5))
    greatest(least(lenOk * lit(0.25) + alpha * lit(0.35) +
      calm * lit(0.2) + tokOk * lit(0.2), lit(1.0)), lit(0.0))
  }

  /** PII patterns for the redaction pass. Deliberately conservative
    * RE2-compatible regexes (no backreferences, no lookaround) so the
    * SAME pattern runs identically under Spark (java.util.regex) and
    * the DuckDB oracle (RE2) — the cross-engine discipline the rest of
    * this file follows.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val ipRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII redaction (the compliance pass between dedup and packing in a
    * training pipeline): emails, NANP-style phone numbers, and IPv4
    * literals replaced with typed placeholder tokens. Map-side only —
    * three codegen'd regexp_replace passes, no UDF.
    *
    * Order matters and is fixed: emails first (an email never contains
    * a phone/IP match once redacted), then phones, then IPs.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** Count of matches for `pattern` (the audit metric next to the
    * redacted text).
    */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))
}
