package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `array<float>` / `array<double>`
  * embedding columns (SURVEY.md §2.b similarity-search extension).
  *
  * Built on `zip_with`/`aggregate` higher-order functions: evaluated as a
  * tight loop per row, no UDF serialization, null-safe, and usable inside
  * any projection/join condition. All math is promoted to double so
  * results are partition-order independent (the fold order over one
  * array is fixed left-to-right on every engine).
  */
object VectorFunctions {

  private def asDouble(v: Column): Column =
    transform(v, x => x.cast("double"))

  /** Codegen'd native dot (see [[VectorDot]]); bit-identical to the HOF
    * formulation it replaced (same left-to-right double accumulation).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(VectorDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosineSimilarity(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  def l2Distance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    sqrt(ColumnBridge.column(VectorL2Sq(
      ColumnBridge.expression(a), ColumnBridge.expression(b))))
  }

  /** Squared L2 — additive across subspace slices (what PQ's asymmetric
    * distance computation sums), so no sqrt until the very end.
    */
  def l2Sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(VectorL2Sq(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The `n` nearest centroid ids (1-based, (l2², id)-ascending) in one
    * codegen'd kernel call whose code size is constant in k — see
    * [[NearestCentroids]]. The IVF/SemDeDup "raise k with the corpus"
    * knob depends on this staying O(k·dim) arithmetic, not O(k) plan.
    */
  def nearestCentroids(v: Column, centroids: Seq[Seq[Double]],
                       n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NearestCentroids(
      ColumnBridge.expression(v), centroids, n))
  }

  /** Full PQ code assignment in one codegen'd kernel call — see
    * [[PqEncode]]. `codebook(s*k + c)` = codeword for subspace s, code
    * c+1.
    */
  def pqEncode(v: Column, m: Int, subDim: Int,
               codebook: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(PqEncode(
      ColumnBridge.expression(v), m, subDim, codebook))
  }

  /** Deterministic sign-flipped Walsh–Hadamard rotation — the structured
    * orthonormal transform ("fast JL" rotation) that OPQ-style product
    * quantization applies before splitting into subspaces, spreading
    * energy evenly so no subspace codebook starves. H_ij =
    * (−1)^popcount(i&j), composed with a fixed ±1 diagonal and scaled by
    * 1/√d: exactly orthonormal, no trained rotation matrix to store.
    * The d rows are PLAN-TIME literals → d codegen'd dots per row, only
    * paid at index build/query-encode time. `dim` must be a power of 2.
    */
  /** The signed Walsh–Hadamard rotation matrix rows (orthonormal).
    * Shared by [[rotateHadamard]] and as [[graft.operators.OpqIndex]]'s
    * initialization (OPQ's alternating refinement is stuck at identity
    * if started there — the Procrustes step maps X onto its own
    * axis-aligned quantization).
    */
  def hadamardRows(dim: Int): Seq[Seq[Double]] = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"Hadamard rotation needs a power-of-2 dim, got $dim")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    Seq.tabulate(dim) { i =>
      Seq.tabulate(dim) { j =>
        val h =
          if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        val s =
          if ((((j * 2654435761L) ^ 0x9e3779b97f4a7c15L) >>> 13 & 1) == 0L)
            1.0 else -1.0
        h * s * scale
      }
    }
  }

  def rotateHadamard(v: Column, dim: Int): Column =
    // ONE fused expression, not d separate dots: the d-element array
    // constructor over d VectorDots overflows whole-stage-codegen
    // thresholds at d≥64 and drops the projection to interpreted eval
    matVec(v, hadamardRows(dim))

  /** Dense matrix × vector (`out(r) = rows(r)·v`) as one fused codegen
    * expression — see [[MatVec]]. Carries any plan-time projection/
    * rotation matrix: the structured Hadamard rotation above and
    * [[graft.operators.OpqIndex]]'s learned rotation both serve
    * through this.
    */
  def matVec(v: Column, rows: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(MatVec(ColumnBridge.expression(v), rows))
  }

  /** Supported embedding width for [[srpBucket]] plane literals. */
  private val MaxDim = 4096

  /** Deterministic ±1 plane component from (plane, dim) — computed at
    * PLAN time into a literal array, so executors do one multiply per
    * element instead of a hash per element per row.
    */
  private def planeSign(p: Int, i: Int): Double = {
    val mixed = (p * 1315423911L + i * 2654435761L) * 0x9e3779b97f4a7c15L
    if (((mixed >>> 17) & 1L) == 0L) 1.0 else -1.0
  }

  /** Sign-random-projection bucket for cosine LSH: `planes` hyperplanes
    * with ±1 components — fully deterministic, no stored model,
    * recomputable on any executor. Two vectors with high cosine
    * similarity land in the same bucket with probability (1 − θ/π)^planes.
    */
  def srpBucket(v: Column, planes: Int): Column = {
    val dv = asDouble(v)
    val signs = (0 until planes).map { p =>
      val plane = typedLit(Array.tabulate(MaxDim)(i => planeSign(p, i)))
      val proj = aggregate(
        zip_with(dv, slice(plane, lit(1), size(dv)), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    signs.reduce(_.bitwiseOR(_))
  }

  /** The raw per-plane projections behind [[srpBucket]] as
    * `array<double>` (element p = dot(v, plane_p), SAME deterministic
    * planes) — the margins query-directed multi-probe orders its
    * probes by (|projection| is how far the vector sits from plane p;
    * a small margin means a true neighbor plausibly lands on the
    * other side — Lv et al., Multi-Probe LSH, VLDB 2007). Bucket bit
    * p of [[srpBucket]] is exactly `projections[p] >= 0`, so callers
    * can derive bucket AND margins from ONE evaluation.
    */
  def srpProjections(v: Column, planes: Int): Column = {
    val dv = asDouble(v)
    array((0 until planes).map { p =>
      val plane = typedLit(Array.tabulate(MaxDim)(i => planeSign(p, i)))
      aggregate(
        zip_with(dv, slice(plane, lit(1), size(dv)), (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
  }
}
