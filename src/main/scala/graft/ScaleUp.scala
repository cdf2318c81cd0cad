package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a ~sf1 dataset from the driver's sf0.1 parquet by unioning
  * k key-shifted copies — the empirical scale-up probe (VERDICT r7 Next #1).
  *
  * Design constraints, in order of importance:
  *
  *  1. '''Same distribution, k× the volume.''' Every copy shifts its keys by
  *     `copy_index × stride` (stride = max key + 1, computed once from the
  *     source), so join fan-outs, group cardinalities, and cluster sizes are
  *     preserved per copy while totals scale linearly. `nation`/`region`
  *     stay unscaled — they are the broadcast dims at any scale, exactly as
  *     TPC-H itself keeps nation/region constant across SFs.
  *  2. '''No cross-copy near-duplicates.''' A verbatim text copy would make
  *     every dup-cluster k× larger → candidate pairs grow k², turning the
  *     dedup family's measurement quadratic BY CONSTRUCTION rather than by
  *     plan defect. Instead each copy's `documents.text` goes through a
  *     bijective character substitution (`translate` under an AFFINE
  *     cipher x → a·x + b per character class — all 26 letters in both
  *     cases mod 26, all 10 digits mod 10, `a` coprime to the modulus):
  *     token boundaries, lengths, case, and intra-copy equality/
  *     similarity are preserved exactly, while any two distinct affine
  *     maps agree on ≤ 2 letters and ≤ 2 digits (a₁≠a₂ ⟹ the agreement
  *     congruence (a₁−a₂)x ≡ b₂−b₁ has ≤ gcd(a₁−a₂, n) = 2 solutions;
  *     a₁=a₂, b₁≠b₂ ⟹ none), so a cross-copy shared word 3-gram would
  *     need every letter AND digit drawn from that ≤4-character
  *     agreement set — copies are disjoint corpora by construction, and
  *     the map family supports 312 letter × 40 digit bijections where
  *     the earlier 10-letter rotation scheme exhausted at k = 10.
  *     Beyond 312 letter maps (the fifth decade, k = 1000) the family
  *     continues with deterministic rejection-sampled permutations
  *     whose pairwise agreement with EVERY other shipped map is
  *     acceptance-tested at ≤ 4 letters ([[letterMaps]]) — the
  *     guarantee becomes a checked finite property rather than an
  *     algebraic one, at the same ≤4-character standard.
  *  3. '''Deterministic.''' No RNG anywhere; re-running produces
  *     byte-identical rows (modulo parquet file split), so scale-bench
  *     numbers are reproducible across sessions.
  *
  * events.ts is parquet TIMESTAMP(NANOS); it is read as raw long
  * (`nanosAsLong`, the Tables.load convention) and written back as long —
  * Tables.load on the output applies the same micros truncation it applies
  * to the driver's own files.
  */
object ScaleUp {
  /** Affine-cipher substitution per copy: copy i maps letter position
    * x → aL·x + bL (mod 26) in both cases and digit position
    * x → aD·x + bD (mod 10), with the multipliers drawn from the units
    * of each modulus so every map is a bijection (identity for copy 0:
    * a = 1, b = 0). Each map preserves string length, token structure,
    * case, and character class; distinct copies' maps agree on ≤ 2
    * letters and ≤ 2 digits (scaladoc proof), so only pure-punctuation
    * shingles can survive across copies. ALL letters are substituted
    * (not a frequency top-10) because the first sf1 build rotated
    * lowercase only and d36 found 55 cross-copy "near-dup" pairs —
    * word-3-grams of unsubstituted characters (STATUS r8 honest note);
    * the digit map varies independently so even all-digit tokens
    * diverge between copies sharing a letter map (none do below
    * k = 312, but the digit guarantee should not lean on that).
    */
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"
  // units mod 26 and mod 10 (coprime multipliers)
  private val A26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private val A10 = Seq(1, 3, 7, 9)
  /** Distinct LETTER bijections with the ALGEBRAIC ≤2-agreement proof:
    * the full affine family over Z26 (12 units × 26 offsets). Any two
    * distinct members agree on ≤ 2 letters (both multipliers are odd,
    * so a₁−a₂ is even and not divisible by 26 ⟹ gcd(a₁−a₂, 26) = 2),
    * so the pairwise-disjoint guarantee holds across the whole family,
    * not just the first 40. Beyond 312 copies the letter family
    * continues with CHECKED permutations — see [[letterMaps]]. */
  private[graft] val MaxCopies = A26.length * Lower.length // 312

  /** Pairwise agreement ceiling for the sampled extension of the
    * letter family (copies ≥ 312): any two maps in the WHOLE family —
    * affine×affine, affine×sampled, sampled×sampled — agree on at most
    * this many letters. 4 matches the previous end-to-end standard
    * (≤ 2 letters + ≤ 2 digits on a digit-bearing corpus); a
    * cross-copy word shingle would need every letter of ≥ 3 words
    * drawn from one ≤ 4-letter agreement set, and the build's
    * distinct-text audit plus the dedup anchors (d24/d36 candidate
    * counts) watch the property on the actual data. */
  private[graft] val MaxAgreement = 4

  /** Hard cap for the rejection-sampled family: acceptance probability
    * per candidate at n kept maps is ≈ P[Poisson(1) ≤ 4]ⁿ ≈ 0.9963ⁿ
    * (two uniform random permutations of 26 letters agree on
    * Poisson(1)-many positions), so 2000 maps cost on the order of
    * 10⁵ driver-side candidate tests — trivial — while 10× more would
    * start to strain the bound. */
  private[graft] val MaxSampledCopies = 2000

  /** splitmix64 output function (Steele, Lea & Flood, "Fast Splittable
    * Pseudorandom Number Generators", OOPSLA 2014) — the deterministic
    * stream driving the sampled permutations. Pure arithmetic, no RNG
    * state: re-running any build reproduces byte-identical maps. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fisher–Yates permutation of 0..25 from the mix64 stream seeded by
    * `seed`. Modulo bias over 26 buckets from 63 random bits is
    * ≤ 2⁻⁵⁷ — irrelevant to an acceptance-tested family. */
  private def sampledPerm(seed: Long): Array[Int] = {
    val p = Array.tabulate(26)(identity)
    var s = mix64(seed)
    var i = 25
    while (i >= 1) {
      s = mix64(s)
      val j = ((s >>> 1) % (i + 1)).toInt
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  private def agreementOf(a: Array[Int], b: Array[Int]): Int = {
    var n = 0; var i = 0
    while (i < 26) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  /** The letter-map family for a k-copy build — the fifth-decade
    * extension. Copies 0 until 312 are the affine family, UNCHANGED
    * (prior builds at every SF rebuild byte-identically). Copies
    * 312 until k are deterministic rejection-sampled permutations:
    * candidate seeds 0, 1, 2, … are tried in order and a candidate is
    * kept iff it agrees with EVERY kept map (affine and sampled) on
    * ≤ [[MaxAgreement]] letters. The disjointness guarantee thus moves
    * from an algebraic proof (exhausted at 312) to a CHECKED finite
    * property: the acceptance test run here at build time IS the
    * proof, for exactly the maps shipped.
    */
  private[graft] def letterMaps(k: Int): IndexedSeq[Array[Int]] = {
    require(k >= 1 && k <= MaxSampledCopies,
      s"k=$k outside [1, $MaxSampledCopies]")
    val affine = (0 until math.min(k, MaxCopies)).map { i =>
      val aL = A26(i % A26.length); val bL = (i / A26.length) % 26
      Array.tabulate(26)(x => (aL * x + bL) % 26)
    }
    if (k <= MaxCopies) affine
    else {
      val kept = scala.collection.mutable.ArrayBuffer(affine: _*)
      var seed = 0L
      while (kept.size < k) {
        require(seed < 100000000L,
          s"letter-map rejection sampling did not converge at " +
            s"${kept.size} maps")
        val cand = sampledPerm(seed)
        if (kept.forall(m => agreementOf(m, cand) <= MaxAgreement))
          kept += cand
        seed += 1
      }
      kept.toIndexedSeq
    }
  }
  /** Distinct DIGIT bijections before (aD, bD) pairs repeat. Beyond
    * this, two copies can share a digit map, so all-digit shingles
    * would collide cross-copy — [[run]] therefore refuses k >
    * MaxDigitCopies unless the source corpus is digit-free (the
    * driver's `documents.text` is strictly [a-z ]; the guard keeps the
    * guarantee honest for any future digit-bearing corpus). */
  private[graft] val MaxDigitCopies = A10.length * Digits.length // 40

  /** Copy i's base embedding transform: rotate by (r mod dim)
    * positions. Orthogonal, identity at r = 0, pairwise distinct for
    * r < dim on any vector with no nontrivial circular period — a
    * source with period p < dim collides at rotations differing by p
    * (such periodic sources are rejected loudly by the build's
    * distinct-vector audit, so the practical guarantee holds on
    * everything that survives the build).
    *
    * The family used to carry a second, negated half (rotate + flip,
    * 2·dim members) — REMOVED after the sf30 build audit caught its
    * structural defect: copies r and dim+r apply the SAME rotation
    * with and without negation, so their images of every source are
    * exactly antipodal (|cos| = 1). Antipodal pairs are invisible to
    * every positive-threshold cosine anchor on the surface, but they
    * violate the family's own |cos| bound and would silently poison
    * any future absolute-similarity or distance-ratio anchor. Halving
    * the class costs one extra QR class per dim copies — nothing. */
  private[graft] def rotate(emb: org.apache.spark.sql.Column, r: Int)
      : org.apache.spark.sql.Column =
    if (r == 0) emb
    else concat(slice(emb, r + 1, 100000), slice(emb, 1, r))

  /** Deterministic orthonormal dim×dim matrix for copy-class g:
    * modified Gram–Schmidt over a splitmix64-filled matrix (the
    * "seeded QR of a fixed pattern matrix" construction). Exactly
    * orthonormal in double precision; deterministic per (g, dim);
    * near-singular fill is guarded (never observed — a random dim×dim
    * is singular with probability ~0).
    *
    * The per-class seed is the splitmix64 FINALIZER of g, not a plain
    * g·γ offset — the build audit caught the plain version leaking
    * structure across classes: with start state g·γ + c and a +γ step,
    * class g+1's fill stream is class g's shifted by ONE draw, so
    * fill_{g+1} ≈ fill_g·P for the cyclic column permutation P
    * (63/64 of each row identical, shifted one slot). Gram–Schmidt
    * commutes with any orthogonal right factor, so Q_{g+1} ≈ Q_g·P —
    * a coordinate rotation — and copy (g+1, r+1) was near-collinear
    * with (g, r) on EVERY source (measured |cos| up to 0.996 at the
    * first 5-class build). Scrambling g through the finalizer puts
    * consecutive classes' streams ~2⁶⁴ apart; overlap within the
    * dim² draws has probability ~k·dim²/2⁶⁴.
    */
  private[graft] def orthoMatrix(g: Int, dim: Int)
      : Array[Array[Double]] = {
    var s = {
      var z = g.toLong * 0x9E3779B97F4A7C15L + 0xD1B54A32D192ED03L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def next(): Double = { // splitmix64 → uniform(-1, 1)
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val m = Array.fill(dim, dim)(next())
    for (r <- 0 until dim) {
      for (p <- 0 until r) {
        val d = (0 until dim).map(c => m(r)(c) * m(p)(c)).sum
        for (c <- 0 until dim) m(r)(c) -= d * m(p)(c)
      }
      val n = math.sqrt((0 until dim).map(c => m(r)(c) * m(r)(c)).sum)
      require(n > 1e-8, s"degenerate Gram-Schmidt row $r for g=$g")
      for (c <- 0 until dim) m(r)(c) /= n
    }
    m
  }

  /** Orthogonal transform for embedding copy i. Copies 0 until dim
    * are the pure-rotation family (byte-identical to the first dim
    * members of every build that existed before); copy i ≥ dim
    * composes the base rotation i mod dim with a DENSE seeded-QR
    * rotation indexed by g = i div dim ([[orthoMatrix]]), applied as one
    * transform-over-sequence dot product against a single nested-array
    * literal — the expression tree stays O(1) nodes per copy (the
    * 32 KB matrix rides in one Literal), unlike a Givens/butterfly
    * expression whose tree grows with dim.
    *
    * Why dense rotations replaced the r12 Givens-pattern extension:
    * any BLOCK-STRUCTURED orthogonal family has fixed agreement
    * subspaces — two copies sharing a base map agree on every
    * coordinate pair whose pattern bits match, so a vector whose mass
    * concentrates there maps to cross-copy cosine ≈ 1 (and the
    * EXPECTED cross-sibling cosine was already ~0.5). A seeded-QR
    * rotation mixes globally: Q_h^T·Q_g is itself a random-like
    * rotation, so for ANY unit v the cross-copy cosine concentrates
    * around 0 with sd ≈ 1/√dim (~0.125 at dim 64) — no concentration
    * attack survives. Isometry is exact in double precision (norms and
    * intra-copy pairwise distances preserved — the property every
    * dedup/ANN anchor needs), then rounded once to float on write.
    *
    * Distinctness: for equal g the base rotations differ; for g₁ ≠ g₂
    * the rotations differ (independent Gram–Schmidt fills). Both facts
    * are CHECKED by the build audit (distinct-vector count = k × source
    * distinct), not trusted.
    *
    * HONEST BOUND (tightened after the sf30 audit failure): same-class
    * pairs (g equal, rotations a ≠ b) have cosine EXACTLY the source's
    * circular autocorrelation at shift a−b (Q_g cancels), so the
    * family's true cross-copy bound is max |autocorr| over the source
    * corpus — measured 0.54 on the sf0.1 embeddings — not the
    * 1/√dim concentration, which only governs cross-CLASS pairs (max
    * ≈ several sd ≈ 0.5–0.7 over millions of samples). The r13 flip
    * half briefly made this bound 1.0 exactly (antipodal partners, see
    * [[rotate]]) — the build's cross-copy cosine audit caught it, and
    * now MEASURES the distribution (max and the fraction above the
    * SemDeDup threshold) and prints it with every build, so an
    * embedding-anchor scale read carries its leakage bound instead of
    * a blanket "text anchors only" exclusion.
    */
  private[graft] def embTransform(emb: org.apache.spark.sql.Column,
      i: Int, dim: Int): org.apache.spark.sql.Column = {
    val base = rotate(emb, i % dim)
    val g = i / dim
    if (g == 0) base
    else {
      val q = orthoMatrix(g, dim)
      val m = typedLit(q.map(_.toSeq).toSeq)
      transform(sequence(lit(0), lit(dim - 1)), j =>
        aggregate(
          zip_with(element_at(m, j + 1), base, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).cast("float"))
    }
  }

  private def affine(alphabet: String, a: Int, b: Int): String =
    alphabet.indices.map(x => alphabet((a * x + b) % alphabet.length))
      .mkString

  private[graft] def substitution(i: Int): (String, String) = {
    val aL = A26(i % A26.length); val bL = (i / A26.length) % 26
    val aD = A10(i % A10.length); val bD = (i / A10.length) % 10
    val from = Lower + Lower.toUpperCase + Digits
    val to = affine(Lower, aL, bL) +
      affine(Lower.toUpperCase, aL, bL) + affine(Digits, aD, bD)
    (from, to)
  }

  /** Copy i's translate pair from an explicit letter map (the
    * [[letterMaps]] family): the map applies to BOTH cases in parallel
    * (case-preserving, like the affine family), digits keep cycling
    * the affine digit family (sound only on digit-free corpora past 40
    * copies — [[run]]'s existing guard). For i < [[MaxCopies]] with
    * the family's affine prefix this reproduces [[substitution]](i)
    * byte-for-byte, so pre-fifth-decade builds are unchanged. */
  private[graft] def substitutionFor(map: Array[Int], i: Int)
      : (String, String) = {
    val aD = A10(i % A10.length); val bD = (i / A10.length) % 10
    val lower = map.map(Lower(_)).mkString
    val from = Lower + Lower.toUpperCase + Digits
    (from, lower + lower.toUpperCase + affine(Digits, aD, bD))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "target/scale/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()
    run(spark, src, dst, k)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    // the letter affine family lasts to 312 distinct maps; the digit
    // family to 40; the embedding family to dim rotations per seeded-QR
    // class (unbounded classes). The digit and embedding constraints are
    // checked against the actual data below — the static cap here is
    // the letter family's.
    require(k >= 1 && k <= MaxSampledCopies,
      s"k=$k outside [1, $MaxSampledCopies]: the checked letter-map " +
        "family (affine + rejection-sampled permutations) is capped " +
        "there — see letterMaps")
    // the whole-family maps, acceptance-tested at construction: affine
    // for the first 312 copies (pre-fifth-decade builds byte-stable),
    // sampled with checked pairwise agreement ≤ MaxAgreement beyond
    val maps = letterMaps(k)
    if (k > MaxCopies)
      println(s"scaleup: letter family extended to $k maps " +
        s"(${k - MaxCopies} sampled, pairwise agreement <= $MaxAgreement)")
    def tbl(name: String): DataFrame = Tables.load(spark, src, name)
    if (k > MaxDigitCopies) {
      // beyond 40 copies two digit maps can coincide; that is only
      // sound when no text contains a digit (then the letter family
      // alone carries the disjointness guarantee). Measured, not
      // assumed: refuse rather than silently build a corpus whose
      // all-digit shingles collide across copies.
      val digitDocs = tbl("documents")
        .filter(col("text").rlike("[0-9]")).count()
      require(digitDocs == 0L,
        s"k=$k > $MaxDigitCopies but $digitDocs documents contain " +
          "digits: the digit affine family is exhausted and cross-copy " +
          "all-digit shingles would collide — cap k at " +
          s"$MaxDigitCopies for this corpus")
    }
    // stride per key family = max + 1, so shifted ranges never collide.
    // One tiny driver-side aggregate per family — bounded metadata, the
    // Sampling.collectSample discipline.
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val ordS = stride(tbl("orders"), "o_orderkey")
    val custS = stride(tbl("customer"), "c_custkey")
    val suppS = stride(tbl("supplier"), "s_suppkey")
    val partS = stride(tbl("part"), "p_partkey")
    val docS = stride(tbl("documents"), "doc_id")
    val vecS = stride(tbl("embeddings"), "vec_id")
    val evS = stride(tbl("events"), "event_id")
    val userS = stride(tbl("events"), "user_id")

    /** Union k copies of `df`, transforming copy i with `shift(df, i)`.
      * Copy 0 is always the identity (shift receives i=0 and must behave
      * as such — the `translate`/`+ 0` forms below do).
      */
    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shift(df, i)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaleup: wrote $name")
    }

    // dims that stay constant across SFs (broadcast side at any scale)
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    write(copies(tbl("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custS))
        .withColumn("c_name",
          when(lit(i) === 0, col("c_name"))
            .otherwise(concat(col("c_name"), lit("#" + "%02d".format(i)))))
    }, "customer")

    write(copies(tbl("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppS))
        .withColumn("s_name",
          when(lit(i) === 0, col("s_name"))
            .otherwise(concat(col("s_name"), lit("#" + "%02d".format(i)))))
    }, "supplier")

    write(copies(tbl("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partS))
    }, "part")

    write(copies(tbl("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custS))
    }, "orders")

    write(copies(tbl("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppS))
    }, "lineitem")

    // events: ts is raw nanos (long) after Tables.load normalization was
    // NOT applied — re-read without the micros cast so the written file
    // round-trips through Tables.load identically to the driver's own.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawEvents = spark.read.parquet(s"$src/events.parquet")
    write(copies(rawEvents) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evS))
        .withColumn("user_id", col("user_id") + lit(i * userS))
    }, "events")

    write(copies(tbl("documents")) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docS))
        .withColumn("text",
          if (i == 0) col("text")
          else {
            val (from, to) = substitutionFor(maps(i), i)
            translate(col("text"), from, to)
          })
    }, "documents")

    // embedding transform family: rotate by (i mod dim) positions,
    // composed past the first class with a per-class seeded-QR dense
    // rotation (embTransform) — orthogonal maps (norms and intra-copy
    // pairwise distances preserved exactly). No sign-flip half: it made
    // copies r and dim+r exactly antipodal (caught by the cosine audit
    // at the first k > 2·dim build — see the rotate scaladoc).
    val dim = tbl("embeddings").select(size(col("embedding")))
      .head().getInt(0)
    // base family dim members per class; the practical guarantee is
    // the audits below: distinct-vector count = k × source distinct,
    // plus the sampled cross-copy cosine bound.
    // embeddings write in CHUNKS of ≤ 125 copies: a single k-branch
    // union ships a task binary ∝ k × per-copy payload (the dim-wide
    // rotation tree plus, past dim, the 32 KB rotation literal) —
    // measured 16.6 MiB at k = 300 and an executor OOM at k = 1000
    // (stage-48 heap exhaustion on this box). Bounded chunks keep the
    // per-task plan constant-size at ANY k — the same reason a real
    // cluster never ships a corpus-proportional closure — at the cost
    // of a handful of
    // sequential append jobs (generation is offline).
    locally {
      val emb = tbl("embeddings")
      val chunks = (0 until k).grouped(125).toSeq
      chunks.zipWithIndex.foreach { case (idxs, ci) =>
        val part = idxs.map { i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i * vecS))
            // orthogonal per-copy transform (pure rotation for
            // i < dim, composed with a seeded-QR dense rotation
            // beyond — embTransform scaladoc): preserves the norm and
            // the pairwise-distance distribution within a copy,
            // decorrelates cross-copy neighbors to the measured
            // autocorrelation bound (HONEST BOUND note).
            .withColumn("embedding", embTransform(col("embedding"), i, dim))
        }.reduce(_ unionAll _)
        part.write
          .mode(if (ci == 0) "overwrite" else "append")
          .parquet(s"$dst/embeddings.parquet")
      }
      println(s"scaleup: wrote embeddings (${chunks.size} chunk(s))")
    }

    // Post-build audit: every copy's substituted texts must be disjoint
    // from every other copy's (the no-cross-copy-duplicates contract
    // this generator exists for). Distinct texts in the output must be
    // exactly k × the source's distinct texts — a collision anywhere
    // (map family exhausted, identity bug, digit leak) shows up as a
    // shortfall. One aggregation over the built corpus; generation is
    // offline so the pass is cheap relative to what it protects.
    val srcDistinct = tbl("documents").select("text").distinct().count()
    val outDistinct = Tables.load(spark, dst, "documents")
      .select("text").distinct().count()
    require(outDistinct == k * srcDistinct,
      s"cross-copy text collision: expected ${k * srcDistinct} distinct " +
        s"texts (k=$k × $srcDistinct), built $outDistinct")
    println(s"scaleup: audit ok — $outDistinct distinct texts = " +
      s"$k x $srcDistinct, zero cross-copy collisions")
    // same audit for the embedding family: distinct vectors must be
    // exactly k × the source's (any transform collision — family
    // exhausted, mask collision, identity bug — shows as a shortfall).
    // This is what lets the Givens extension rest on checked data
    // rather than on the distinctness proof alone.
    val srcVecDistinct = tbl("embeddings")
      .select("embedding").distinct().count()
    val outVecDistinct = Tables.load(spark, dst, "embeddings")
      .select("embedding").distinct().count()
    require(outVecDistinct == k * srcVecDistinct,
      s"cross-copy embedding collision: expected ${k * srcVecDistinct} " +
        s"distinct vectors (k=$k × $srcVecDistinct), built $outVecDistinct")
    println(s"scaleup: audit ok — $outVecDistinct distinct vectors = " +
      s"$k x $srcVecDistinct, zero cross-copy collisions")
    // Cross-copy cosine audit: for a sample of source vectors, pull
    // every copy's image and measure the cosine distribution over
    // same-source cross-copy pairs on a sampled copy subset. This is
    // the leakage bound an embedding-anchor scale read carries
    // (embTransform scaladoc): same-class pairs realize the source's
    // circular autocorrelation (measured max 0.54 on the sf0.1
    // corpus), cross-class pairs a few ×(1/√dim); the fraction above
    // the SemDeDup threshold (0.4) tells how many cross-copy edges a
    // similarity anchor could see. Runs whenever more than one
    // rotation is in play — it is the check that caught the antipodal
    // flip defect, which the k > 2·dim gate of that era let slip at
    // every smaller build.
    val embSrc = tbl("embeddings")
    if (k > 1) {
      val srcIds = embSrc.select(col("vec_id")).limit(40)
        .collect().map(_.getLong(0))
      val copySample = (0 until k).filter(i =>
        i % math.max(1, k / 150) == 0)
      val wantIds = (for (s0 <- srcIds; i <- copySample)
        yield s0 + i * vecS).toSet
      val rows = Tables.load(spark, dst, "embeddings")
        .filter(col("vec_id").isin(wantIds.toSeq: _*))
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray))
        .toMap
      // Same-class and cross-class pairs obey DIFFERENT bounds
      // (embTransform scaladoc): two copies of one rotation class
      // differ by a pure circular shift, so their cosine IS the
      // source's circular autocorrelation at that shift — a property
      // of the corpus, which a near-periodic source can push
      // arbitrarily close to 1 with the family working exactly as
      // designed. Only cross-class pairs carry the seeded-QR
      // decorrelation guarantee (~1/√dim concentration). Track the
      // two kinds separately and, on a trip, name the copy-index pair
      // so the operator can tell corpus periodicity from a genuine
      // family regression.
      var maxSame = 0.0; var sameAt = (0, 0)
      var maxCross = 0.0; var crossAt = (0, 0)
      var above = 0L; var total = 0L
      for (s0 <- srcIds) {
        val vs = copySample.flatMap(i =>
            rows.get(s0 + i * vecS).map(v => (i, v)))
          .map { case (i, v) =>
            val n = math.sqrt(v.map(x => x * x).sum)
            (i, if (n == 0) v else v.map(_ / n))
          }
        for (a <- vs.indices; b <- a + 1 until vs.size) {
          var d = 0.0
          var c = 0
          while (c < dim) { d += vs(a)._2(c) * vs(b)._2(c); c += 1 }
          val ad = math.abs(d)
          val (ia, ib) = (vs(a)._1, vs(b)._1)
          if (ia / dim == ib / dim) {
            if (ad > maxSame) { maxSame = ad; sameAt = (ia, ib) }
          } else if (ad > maxCross) { maxCross = ad; crossAt = (ia, ib) }
          if (ad >= 0.4) above += 1
          total += 1
        }
      }
      println(f"scaleup: cross-copy cosine audit — $total%d sampled " +
        f"pairs, max |cos| same-class = $maxSame%.3f (copies " +
        f"${sameAt._1}%d,${sameAt._2}%d), cross-class = $maxCross%.3f " +
        f"(copies ${crossAt._1}%d,${crossAt._2}%d), " +
        f"${above.toDouble / total}%.2e fraction >= 0.4 " +
        "(SemDeDup threshold)")
      require(maxCross < 0.95,
        f"cross-copy cosine audit failed on a CROSS-CLASS pair: " +
          f"|cos| = $maxCross%.3f at copies ${crossAt._1}%d " +
          f"(class ${crossAt._1 / dim}%d) and ${crossAt._2}%d " +
          f"(class ${crossAt._2 / dim}%d) — the seeded-QR " +
          "decorrelation is broken; this is a rotation-family " +
          "regression")
      require(maxSame < 0.95,
        f"cross-copy cosine audit failed on a SAME-CLASS pair: " +
          f"|cos| = $maxSame%.3f at copies ${sameAt._1}%d and " +
          f"${sameAt._2}%d (class ${sameAt._1 / dim}%d, shift " +
          f"${math.abs(sameAt._1 - sameAt._2) % dim}%d) — same-class " +
          "pure-rotation cosines realize the SOURCE's circular " +
          "autocorrelation at that shift: this is corpus " +
          "near-periodicity, not a family defect; inspect the source " +
          "embeddings (or cap copies per class below the offending " +
          "shift)")
    }
  }
}
