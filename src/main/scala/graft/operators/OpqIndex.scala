package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LEARNED OPQ: optimized product quantization with a trained rotation
  * (Ge et al., "Optimized Product Quantization", CVPR 2013 — public
  * method). The structured Walsh–Hadamard rotation ([[PqIndex.rotate]])
  * balances energy blindly; OPQ instead LEARNS the orthogonal matrix by
  * alternating two steps on a driver-side sample:
  *
  *   1. fix R: fit per-subspace codebooks on X·Rᵀ (the shared
  *      [[PqIndex.lloydPq]] core);
  *   2. fix codes: R ← argmin_{orthogonal} ‖X·Rᵀ − B‖_F, the orthogonal
  *      Procrustes problem — SVD(XᵀB) = U·S·Vᵀ gives Rᵀ = U·Vᵀ
  *      (breeze SVD; breeze ships with Spark).
  *
  * Each step monotonically lowers quantization error, so the learned
  * rotation is never worse than identity at the same m·k budget — and
  * on anisotropic/correlated data it beats the structured rotation
  * (spec-asserted).
  *
  * Scale shape: training is driver-side on the bounded deterministic
  * sample (same discipline as [[PqIndex.fit]] — the model is a d×d
  * matrix + codebooks, kilobytes); SERVING is unchanged distributed
  * PQ: rotate with one fused [[graft.functions.MatVec]] projection,
  * then the zero-shuffle encode and broadcast-table ADC search.
  * Determinism: deterministic sample, deterministic Lloyd, SVD of a
  * fixed matrix — no RNG.
  */
object OpqIndex {

  /** Learned rotation (row-major Q, applied as y = Q·x) + codebook
    * trained in the rotated space.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          m: Int, k: Int, lloydIters: Int = 3, opqIters: Int = 4,
          sampleCap: Int = 65536): (Seq[Seq[Double]], DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = Sampling.collectSample(corpus, idCol, vecCol, sampleCap)
    require(sample.nonEmpty, "OpqIndex.fit: empty corpus")
    val d = sample(0).length
    require(m > 0 && d % m == 0,
      s"OpqIndex.fit: vector dim $d not divisible by m=$m")
    val subDim = d / m
    val n = sample.length

    // Init MATTERS: started at identity, the alternation is at a fixed
    // point (Procrustes maps X onto its own axis-aligned quantization
    // ⇒ identity again). Start from the structured Hadamard rotation
    // when the dim allows (power of 2) — already energy-balancing —
    // and let the alternation refine it; identity otherwise.
    var q: Array[Array[Double]] =
      if ((d & (d - 1)) == 0)
        graft.functions.VectorFunctions.hadamardRows(d)
          .map(_.toArray).toArray
      else
        Array.tabulate(d)(i =>
          Array.tabulate(d)(j => if (i == j) 1.0 else 0.0))
    var codebook: Array[Array[Array[Double]]] = null

    def rotateRow(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var r = 0
      while (r < d) {
        val row = q(r); var acc = 0.0; var i = 0
        val len = math.min(d, v.length)
        while (i < len) { acc += row(i) * v(i); i += 1 }
        out(r) = acc; r += 1
      }
      out
    }

    for (_ <- 1 to opqIters) {
      val rotated = sample.map(rotateRow)
      codebook = PqIndex.lloydPq(rotated, m, k, lloydIters)
      // B: per-row reconstruction from codes in the rotated space
      val b = rotated.map { y =>
        val out = new Array[Double](d)
        var s = 0
        while (s < m) {
          val cw = codebook(s)(
            PqIndex.nearestCode(y, s * subDim, subDim, codebook(s)))
          System.arraycopy(cw, 0, out, s * subDim, subDim)
          s += 1
        }
        out
      }
      // Procrustes update: minimize ‖X·Qᵀ − B‖ over orthogonal Q.
      // M = XᵀB (d×d), SVD(M) = U·S·Vᵀ  ⇒  Qᵀ = U·Vᵀ  ⇒  Q = V·Uᵀ.
      val mMat = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var r = 0
      while (r < n) {
        val x = sample(r); val y = b(r)
        val len = math.min(d, x.length)
        var i = 0
        while (i < len) {
          var j = 0
          while (j < d) { mMat(i, j) += x(i) * y(j); j += 1 }
          i += 1
        }
        r += 1
      }
      val svd = breeze.linalg.svd(mMat)
      val qT = svd.U * svd.Vt // d×d, orthogonal
      q = Array.tabulate(d)(i => Array.tabulate(d)(j => qT(j, i)))
    }

    // final codebook against the final rotation
    codebook = PqIndex.lloydPq(sample.map(rotateRow), m, k, lloydIters)
    val cbDf = (for { s <- 0 until m; c <- codebook(s).indices }
      yield (s, c + 1, codebook(s)(c).toSeq))
      .toDF("subspace", "code", "codeword")
    (q.map(_.toSeq).toSeq, cbDf)
  }

  /** Apply the learned rotation distributed (one fused MatVec
    * projection — runs on batch and unbounded streams alike, exactly
    * like the structured rotation).
    */
  def rotate(df: DataFrame, vecCol: String,
             rotation: Seq[Seq[Double]]): DataFrame =
    df.withColumn(vecCol,
      graft.functions.VectorFunctions.matVec(col(vecCol), rotation))
}
