package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for memory-bound ANN search: each vector is
  * split into `m` subvectors; each subspace gets its own `k`-entry
  * codebook (k-means); a vector is stored as `m` small codes instead of
  * `dim` floats. Search uses asymmetric distance computation (ADC): the
  * query stays exact, per-subspace distances to every codeword are
  * computed once per query into a lookup table, and a candidate's
  * approximate distance is the sum of `m` table lookups.
  *
  * Scale shape: the codebook is m·k·(dim/m) doubles — kilobytes — so it
  * trains on a sample, lives broadcast, and encoding is map-side with no
  * shuffle. The encoded corpus is ~dim·4/m× smaller than raw vectors
  * (e.g. 64-dim float → 8 codes = 32× compression), which is what lets a
  * 100 TB embedding corpus fit hot storage. ADC joins the (id, subspace,
  * code) triples against a broadcast per-query table and sums partials —
  * one partial-aggregated shuffle keyed (query, id), never a shuffle of
  * the raw vectors. Compose with [[IvfIndex]] (IVF-PQ) to also prune the
  * candidate set.
  *
  * Determinism: same seeding discipline as [[IvfIndex.fit]] — initial
  * codewords come from the vectors with the k smallest ids, iterations
  * are fixed-count, no RNG anywhere.
  *
  * READ PATH: [[searchRefined]] (ADC shortlist + exact re-rank) is the
  * default serving surface — compressed distances alone lose top-5
  * ordering whenever neighbor margins are smaller than quantization
  * noise (RecallSpec measures 0.28-0.44 recall@5 for the pure tiers vs
  * 1.00 refined, from the SAME codes at k=256). Use plain [[search]]
  * only as a shortlist generator or when the corpus' raw vectors are
  * genuinely unavailable at serving time.
  */
object PqIndex {

  /** Shortlist size for [[searchRefined]] as a function of corpus
    * count — the knob-curve correction from the r15 sf10 recall read
    * (`RecallScale`): a FIXED shortlist of 100 measured recall@5 =
    * 1.00 on the 2k-vector gate corpus but 0.61 on the 200k-vector
    * sf10 scale-up, because ADC noise is corpus-independent while the
    * number of competitors inside the noise band around the true
    * top-5 grows with N — the true neighbors' ranks in the compressed
    * order grow ~linearly, so a constant shortlist truncates them.
    * Policy: shortlist ≈ n/125 with a floor of 100 (gate-SF results
    * bit-unchanged) and a cap of 4096 (re-rank cost stays bounded;
    * beyond that budget prefer IVF-PQ pruning over a longer
    * brute-force shortlist). Measured sweep at sf10 (200k vectors,
    * `bench/recall_r15_sf10.json`): 100 → 0.612, 200 → 0.728,
    * 400 → 0.826, 800 → 0.904, this knob (1600) → 0.956,
    * 3200 → 0.994 — ~linear-in-N shortlist holds the floor with
    * margin.
    */
  def shortlistFor(n: Long, floor: Int = 100, cap: Int = 4096): Int =
    // clamp in Long BEFORE narrowing: n/125 overflows Int past
    // ~2.7e11 vectors, and a wrapped-negative shortlist would
    // silently collapse to the floor — the exact fixed-shortlist
    // recall decay this knob exists to prevent
    math.max(floor.toLong, math.min(cap.toLong, n / 125L)).toInt

  /** Rotated-PQ ("OPQ-lite") preprocessing: apply the deterministic
    * Walsh–Hadamard rotation to the vector column so subspace energy is
    * balanced before codebook training/encoding. Rotation is orthonormal
    * — L2 distances are preserved exactly — so fit/encode/search work
    * unchanged on the rotated frame; queries must pass through the SAME
    * rotation. `dim` must be a power of 2.
    */
  def rotate(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.withColumn(vecCol,
      graft.functions.VectorFunctions.rotateHadamard(col(vecCol), dim))

  /** Train per-subspace codebooks on a bounded, deterministic sample.
    * Returns a small DataFrame (subspace, code, codeword: array<double>)
    * — broadcastable. `dim` must be divisible by `m`.
    *
    * Same training discipline as [[IvfIndex.fit]]: the model is
    * m·k·subDim doubles — kilobytes — so Lloyd runs DRIVER-SIDE over one
    * TakeOrdered sample (the `sampleCap` smallest-id vectors) instead of
    * re-shipping fresh codeword literals (a codegen recompile) plus a
    * scan+shuffle per iteration. One cluster job total; encode/search
    * stay distributed. At 100 TB you train on a sample regardless — only
    * the cap changes.
    *
    * Determinism: every subspace seeds from the k smallest-id vectors'
    * subvectors, the sample is id-ordered, distance ties go to the
    * smallest code, empty codes keep their previous codeword. No RNG.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          m: Int, k: Int, iters: Int = 5,
          sampleCap: Int = 65536): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = Sampling.collectSample(corpus, idCol, vecCol, sampleCap)
    require(sample.nonEmpty, "PqIndex.fit: empty corpus")
    val codebook = lloydPq(sample, m, k, iters)
    (for { s <- 0 until m; c <- codebook(s).indices }
      yield (s, c + 1, codebook(s)(c).toSeq))
      .toDF("subspace", "code", "codeword")
  }

  /** Ragged shorter vector reads as zero-padded (same convention as the
    * distributed distance expressions).
    */
  @inline private[operators] def at(v: Array[Double], i: Int): Double =
    if (i < v.length) v(i) else 0.0

  /** Driver-side per-subspace Lloyd core shared by [[fit]] and
    * [[OpqIndex.fit]]. Returns codebook(s)(c) = codeword c+1 of
    * subspace s. Deterministic: smallest-id seeds (sample order),
    * ties → smallest code, empty codes keep their previous codeword.
    */
  private[operators] def lloydPq(sample: Array[Array[Double]],
                                 m: Int, k: Int, iters: Int)
      : Array[Array[Array[Double]]] = {
    val dim = sample(0).length
    // the dim % m contract is ENFORCED here: a bad m must fail loudly,
    // not silently drop tail dimensions
    require(m > 0 && dim % m == 0,
      s"PqIndex.fit: vector dim $dim not divisible by m=$m")
    val subDim = dim / m

    var codebook: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      sample.take(k).map(v =>
        Array.tabulate(subDim)(i => at(v, s * subDim + i))))

    for (_ <- 1 to iters) {
      codebook = Array.tabulate(m) { s =>
        val cws = codebook(s)
        val sums = Array.fill(cws.length)(new Array[Double](subDim))
        val counts = new Array[Long](cws.length)
        sample.foreach { v =>
          val best = nearestCode(v, s * subDim, subDim, cws)
          val acc = sums(best); var i = 0
          while (i < subDim) { acc(i) += at(v, s * subDim + i); i += 1 }
          counts(best) += 1
        }
        cws.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
      }
    }
    codebook
  }

  /** 0-based index of the nearest codeword for `v[off, off+subDim)`,
    * ties to the smallest code — the same tie-break [[PqEncode]] uses.
    */
  private[operators] def nearestCode(v: Array[Double], off: Int,
                                     subDim: Int,
                                     cws: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cws.length) {
      var d = 0.0; var i = 0
      while (i < subDim) {
        val t = at(v, off + i) - cws(c)(i); d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** (id, subspace, subvector) rows — the unit ADC tables are built on.
    * The dim % m contract is enforced per row via `raise_error` so a bad
    * m fails loudly instead of silently truncating tail dimensions
    * (ADVICE r2).
    */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int): DataFrame = {
    val n = size(col(vecCol))
    val subDim = when(n % m === 0, (n / m).cast("int"))
      .otherwise(raise_error(concat(
        lit("PqIndex: vector dim "), n.cast("string"),
        lit(s" not divisible by m=$m"))))
    val dv = transform(col(vecCol), x => x.cast("double"))
    corpus.select(col(idCol).as("id"), dv.as("v"), subDim.as("sub_dim"))
      .select(col("id"), posexplode(
        array((0 until m).map(s =>
          slice(col("v"), col("sub_dim") * s + 1, col("sub_dim"))): _*))
        .as(Seq("subspace", "sv")))
  }

  /** Encoding expression against a DRIVER-COLLECTED codebook: for each
    * subspace, the code of the nearest codeword, ties to the smallest
    * code. ONE codegen'd expression ([[graft.functions.PqEncode]]) — a
    * composed slice/l2sq/argmin tree of m·k sub-expressions exceeds
    * whole-stage codegen limits and falls back to ~0.5 ms/row
    * interpreted eval; the fused loop stays codegen'd at ~µs/row. The
    * codebook is kilobytes, so inlining it keeps encode a pure per-row
    * projection.
    */
  private def encodeExpr(vec: Column,
                         cb: Map[(Int, Int), Seq[Double]]): Column = {
    val m = cb.keys.map(_._1).max + 1
    val k = cb.keys.map(_._2).max
    val subDim = cb.head._2.size
    val flat = for (s <- 0 until m; c <- 1 to k) yield cb((s, c))
    VectorFunctions.pqEncode(vec, m, subDim, flat)
  }

  /** Encode the corpus: (id, codes array<int> ordered by subspace).
    *
    * ZERO-SHUFFLE: the codebook collapses to plan-time literals (m·k
    * codewords — kilobytes), so encoding is a map-side projection. This
    * is also what makes it run unchanged on an UNBOUNDED stream (see
    * `EventStreamsSpec`): no aggregation, no state — new vectors encode
    * as they arrive, the streaming half of index maintenance.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             codebook: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val cb = codebook.collect().map { r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)
    }.toMap
    // no transform-to-double wrapper: PqEncode reads float elements
    // directly (casting per element — identical values), and a
    // transform expression here would be RE-EVALUATED by every one of
    // the m·k distance terms after projection collapse.
    corpus.select(col(idCol).as("id") +: keep.map(col) :+
      encodeExpr(col(vecCol), cb).as("codes"): _*)
  }

  /** Per-query ADC lookup table (query_id, subspace, code, partial d²):
    * queries × m × k rows — small, broadcastable. Shared by [[search]]
    * and [[IvfPq]].
    */
  def adcTable(queries: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame): DataFrame = {
    val m = codebook.agg(max(col("subspace"))).head().getInt(0) + 1
    subvectors(queries, idCol, vecCol, m)
      .withColumnRenamed("id", "query_id")
      .join(codebook, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        VectorFunctions.l2Sq(col("sv"), col("codeword")).as("pd2"))
  }

  /** Shared ADC scoring tail: candidate (query_id, id, subspace, code)
    * rows joined with the partial-distance table, summed per candidate,
    * top-k per query. Used by [[search]] and [[IvfPq.search]] so the
    * tie-break / distance arithmetic can never diverge between them.
    */
  private[operators] def adcTopK(candidates: DataFrame, table: DataFrame,
                                 k: Int,
                                 joinKeys: Seq[String] =
                                   Seq("query_id", "subspace", "code"))
      : DataFrame = {
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("id"))
    candidates.join(broadcast(table), joinKeys)
      .groupBy(col("query_id"), col("id"))
      .agg(sqrt(sum(col("pd2"))).as("approx_dist"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("approx_dist"), col("rank"))
  }

  /** ADC top-k: approximate L2 distance = Σ_subspaces ‖q_s − cw(code_s)‖².
    * `queries` is small (broadcast); the encoded corpus never re-reads
    * the raw vectors.
    */
  def search(encoded: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebook: DataFrame, k: Int): DataFrame = {
    val table = adcTable(queries, idCol, vecCol, codebook)
    val triples = encoded.select(col("id"),
      posexplode(col("codes")).as(Seq("subspace", "code")))
    adcTopK(triples.crossJoin(
      broadcast(table.select(col("query_id")).distinct())), table, k)
  }

  /** ADC shortlist + EXACT re-rank (the FAISS `IndexRefine` shape, and
    * the standard answer to quantization distortion at serving time):
    * retrieve `shortlist` candidates per query by compressed ADC
    * distance, fetch ONLY those candidates' raw vectors back from the
    * corpus — a candidate-id join, never a full-corpus rescan — and
    * re-rank by exact cosine. Costs one extra shuffle of
    * queries×shortlist rows; recall jumps from code-budget-bound to
    * shortlist-bound (measured 0.20 → 0.92 at shortlist=100 on the
    * sf0.001 embeddings — see RecallSpec).
    */
  def searchRefined(encoded: DataFrame, corpus: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    codebook: DataFrame, k: Int,
                    shortlist: Int = 100): DataFrame = {
    val short = search(encoded, queries, idCol, vecCol, codebook, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cand = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cand_vec"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("query_vec")))
    Similarity.rankByCosine(short.join(cand, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine",
        VectorFunctions.cosineSimilarity(col("query_vec"), col("cand_vec"))),
      k)
  }
}
