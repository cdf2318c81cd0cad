package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed ANN index production vector stores run at
  * billion-vector scale — IVF's coarse quantizer prunes the corpus to
  * each query's `nProbe` inverted lists, and within those lists
  * distances come from PQ codes via the ADC table (no raw vectors
  * touched at query time).
  *
  * Cost shape per query: IVF alone scans corpus·nProbe/k_coarse raw
  * vectors; PQ alone scans every code; IVF-PQ scans
  * corpus·nProbe/k_coarse CODES — both pruning and compression. The
  * whole query side (probe selection + ADC table) is broadcast; the only
  * shuffle is the final (query_id, id) partial-sum aggregation.
  */
object IvfPq {

  /** Build both index parts once (coarse centroids + PQ codebooks). */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          kCoarse: Int, m: Int, kCodes: Int, iters: Int = 3)
      : (DataFrame, DataFrame) =
    (IvfIndex.fit(corpus, idCol, vecCol, kCoarse, iters),
      PqIndex.fit(corpus, idCol, vecCol, m, kCodes, iters))

  /** Corpus prepared for serving: (id, centroid_id, codes). */
  def index(corpus: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, codebook: DataFrame): DataFrame =
    PqIndex.encode(corpus, idCol, vecCol, codebook)
      .join(IvfIndex.assign(corpus, idCol, vecCol, centroids)
        .select(col("id"), col("centroid_id")), Seq("id"))

  /** Top-k via coarse pruning + ADC. `indexed` is [[index]]'s output.
    * The scoring tail (table join, per-candidate sum, top-k tie-break)
    * is [[PqIndex.adcTopK]], shared with plain PQ search.
    */
  def search(indexed: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, centroids: DataFrame, codebook: DataFrame,
             k: Int, nProbe: Int = 2): DataFrame = {
    val probes = IvfIndex.probes(queries, idCol, vecCol, centroids, nProbe)
      .select(col("query_id"), col("centroid_id"))
    val table = PqIndex.adcTable(queries, idCol, vecCol, codebook)
    val triples = indexed.select(col("id"), col("centroid_id"),
      posexplode(col("codes")).as(Seq("subspace", "code")))
    PqIndex.adcTopK(
      triples.join(broadcast(probes), Seq("centroid_id"))
        .select(col("query_id"), col("id"), col("subspace"), col("code")),
      table, k)
  }

  // ---- residual encoding --------------------------------------------------
  //
  // Plain IVF-PQ quantizes ABSOLUTE vectors, so one global codebook has to
  // cover every coarse cell — codewords are spent on describing where the
  // cells sit, which the centroid id already encodes for free. Residual
  // IVF-PQ quantizes (v − centroid(v)) instead: every cell's residuals are
  // re-centered on the origin, the codebook only has to describe the
  // within-cell spread, and the same m·k code budget yields strictly
  // tighter reconstructions whenever cells differ in location (the classic
  // IVFADC layout). Exactness: ‖q − (c + cw(codes))‖ = ‖(q − c) −
  // cw(codes)‖, so searching residual codes with a per-(query, probe)
  // residual ADC table computes the same quantity plain ADC approximates —
  // only with less quantization error.

  /** Centroid lookup as a plan-time literal: ids are 1..k contiguous
    * (the fit contract), so `element_at` on a literal array replaces a
    * broadcast join — residual computation stays a pure map-side
    * projection.
    */
  private def centroidAt(centroids: DataFrame): Column => Column = {
    val lits = typedLit(IvfIndex.centroidLits(centroids))
    cid => element_at(lits, cid)
  }

  /** (id, centroid_id, rv): each vector's residual against its coarse
    * centroid. Map-side (assignment is a literal argmin, the subtraction
    * a zip_with against a literal lookup) — no shuffle, no join.
    */
  def residuals(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val at = centroidAt(centroids)
    IvfIndex.assign(corpus, idCol, vecCol, centroids)
      .select(col("id"), col("centroid_id"),
        zip_with(col("v"), at(col("centroid_id")), (a, b) => a - b)
          .as("rv"))
  }

  /** Train the PQ codebook on residuals (the coarse centroids must
    * already exist — residuals are defined against them).
    */
  def fitResidual(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, m: Int, kCodes: Int,
                  iters: Int = 3): DataFrame =
    PqIndex.fit(residuals(corpus, idCol, vecCol, centroids),
      "id", "rv", m, kCodes, iters)

  /** Corpus prepared for residual serving: (id, centroid_id, codes) where
    * codes quantize the residual. Same shape as [[index]]'s output, same
    * zero-shuffle encode.
    */
  def indexResidual(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, codebook: DataFrame): DataFrame =
    PqIndex.encode(residuals(corpus, idCol, vecCol, centroids),
      "id", "rv", codebook, keep = Seq("centroid_id"))

  /** Top-k over residual codes. The ADC table is built per (query,
    * probed centroid) from the QUERY's residual against that centroid —
    * still queries × nProbe × m × k rows (broadcastable); the scoring
    * tail is the shared [[PqIndex.adcTopK]] with the probe's centroid in
    * the join key, so a candidate is only ever scored against the table
    * of its own cell.
    */
  def searchResidual(indexed: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, centroids: DataFrame,
                     codebook: DataFrame, k: Int, nProbe: Int = 2)
      : DataFrame = {
    val at = centroidAt(centroids)
    val probes = IvfIndex.probes(queries, idCol, vecCol, centroids, nProbe)
    // query residual per probe, keyed by the composite (query, centroid)
    // so PqIndex.adcTable needs no changes — the struct key is unpacked
    // right after.
    val qres = probes.select(
      struct(col("query_id"), col("centroid_id")).as("qc"),
      zip_with(col("qv"), at(col("centroid_id")), (a, b) => a - b)
        .as("rv"))
    val table = PqIndex.adcTable(qres, "qc", "rv", codebook)
      .select(col("query_id").getField("query_id").as("query_id"),
        col("query_id").getField("centroid_id").as("centroid_id"),
        col("subspace"), col("code"), col("pd2"))
    val triples = indexed.select(col("id"), col("centroid_id"),
      posexplode(col("codes")).as(Seq("subspace", "code")))
    PqIndex.adcTopK(
      triples.join(
        broadcast(probes.select(col("query_id"), col("centroid_id"))),
        Seq("centroid_id"))
        .select(col("query_id"), col("centroid_id"), col("id"),
          col("subspace"), col("code")),
      table, k,
      joinKeys = Seq("query_id", "centroid_id", "subspace", "code"))
  }
}
