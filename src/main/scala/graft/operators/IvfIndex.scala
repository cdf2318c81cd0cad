package graft.operators

import graft.functions.VectorFunctions
import graft.streaming.{EventStreams, FoldingIndex, IngestLoop}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** IVF-style approximate nearest neighbor: a coarse k-means quantizer
  * partitions the corpus into inverted lists; a query scores only the
  * lists of its `nProbe` nearest centroids.
  *
  * Scale shape (the reason IVF exists next to SRP-LSH): with k lists and
  * nProbe probes, each query scans ~corpus·nProbe/k instead of the full
  * corpus, and the partitioning adapts to the DATA (centroids live where
  * the vectors are) — unlike data-oblivious hyperplanes, which degrade on
  * clustered embeddings. Training is a few Lloyd iterations on a sample;
  * at 100 TB you train on a 0.1% sample and assign map-side with the
  * centroid table broadcast — exactly the flow below (`fit` is a handful
  * of aggregations, `assign`/`search` never shuffle the corpus by
  * anything other than its centroid id).
  *
  * Determinism: centroids are seeded from the k smallest ids (no RNG),
  * and Lloyd iterations are fixed-count, so the index is reproducible on
  * any cluster — the same property the rest of graft's sketches have.
  */
object IvfIndex {

  /** The scale knob, made automatic: list count for a corpus of `n`
    * vectors so the EXPECTED cell population stays ≈ `targetCell` as the
    * corpus grows (cells, not cell size, absorb growth — the within-cell
    * pair join stays Σ_c O(targetCell²·k) = O(n·targetCell)). Floor of 8
    * keeps every small-SF result byte-identical to the fixed-k era.
    * Measured on the ~sf1 corpus (20k vectors): k=8→80 cuts the
    * SemDeDup pair stage 1.68→0.65 s with max cell imbalance 1.16 —
    * viable only since [[graft.functions.NearestCentroids]] made
    * assignment cost independent of k in everything but arithmetic.
    */
  def kFor(n: Long, targetCell: Int = 250): Int =
    math.max(8, math.ceil(n.toDouble / targetCell).toInt)

  /** The nProbe policy, pinned by measurement the way
    * [[PqIndex.shortlistFor]] is: the sf10 curve
    * (`bench/recall_r16_sf10.json`, 200k vectors, kFor = 800) reads
    * recall@5 = 0.858 / 0.866 / 0.878 / 0.888 at nProbe 1 / 2 / 4 / 8
    * — near-flat, because [[kFor]] holds CELL SIZE constant so the
    * quality loss is coarse pruning of an already-tight cell, not
    * distance distortion. nProbe = 2 buys the knee (the step past a
    * wrong-nearest-centroid assignment) at 2 cells ≈ 500 candidates
    * per query; further probes pay linearly for ~1-point gains. s05
    * and the SemDeDup stage keep 2.
    */
  val DefaultNProbe = 2

  /** Train k centroids with `iters` Lloyd iterations on a bounded,
    * deterministic sample. Returns a small DataFrame (centroid_id,
    * centroid: array<double>) — broadcastable.
    *
    * The model is k·dim doubles — KILOBYTES — so training it with
    * per-iteration cluster jobs is backwards: every round re-ships new
    * centroid literals (a fresh codegen compile) and runs a full
    * scan+shuffle to compute means a single core can produce in
    * microseconds. Instead: ONE cluster job (TakeOrdered of the
    * `sampleCap` smallest-id vectors — bounded driver memory,
    * deterministic membership), then Lloyd runs driver-side over the
    * sample array. This is also the 100 TB flow — a coarse quantizer is
    * always trained on a ~0.1% sample; only `assign`/`search` ever scan
    * the corpus, and they stay distributed (map-side, centroids as
    * plan-time literals).
    *
    * Determinism: seeds are the k smallest-id vectors, the sample is
    * id-ordered (accumulation order fixed), distance ties go to the
    * smallest centroid id, empty clusters keep their previous centroid.
    * No RNG anywhere.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int = 5, sampleCap: Int = 65536,
          sampleByHash: Boolean = false,
          reseedEmpty: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = Sampling.collectSample(
      corpus, idCol, vecCol, sampleCap, sampleByHash)
    require(sample.nonEmpty, "IvfIndex.fit: empty corpus")
    val dim = sample(0).length

    // k is capped at the sample size: callers sizing k from the FULL
    // corpus count (kFor(n) ≈ n/250 exceeds sampleCap=65536 beyond
    // ~16.4M vectors) would otherwise get a silently smaller family
    // from sample.take(k). Cap loudly instead of truncating silently.
    val kEff = math.min(k, sample.length)
    if (kEff < k)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IvfIndex.fit: k=$k exceeds sample size ${sample.length}; " +
          s"training $kEff centroids (raise sampleCap for more)")
    var centroids: Array[Array[Double]] = sample.take(kEff).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      val bestDs =
        if (reseedEmpty) new Array[Double](sample.length) else null
      var vi = 0
      sample.foreach { v =>
        val n = math.min(dim, v.length) // ragged vector: missing tail = 0
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < n) {
            val t = v(i) - centroids(c)(i); d += t * t; i += 1
          }
          while (i < dim) { // centroid tail vs implicit zeros
            d += centroids(c)(i) * centroids(c)(i); i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict: ties → smallest id
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < n) { s(i) += v(i); i += 1 }
        counts(best) += 1
        if (reseedEmpty) bestDs(vi) = bestD
        vi += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
      // Deterministic empty-cluster repair (the classic k-means fix,
      // RNG-free): dead lists re-seed from the sample vectors FARTHEST
      // from their current centroid (ties → smallest sample index), one
      // vector per dead list, so the next iteration repopulates them.
      // Identical seed vectors are how lists die at seed time — see
      // IvfIndexSpec.
      if (reseedEmpty && counts.contains(0L)) {
        val order = bestDs.zipWithIndex
          .sortBy { case (d, i) => (-d, i) }.iterator
        for (c <- centroids.indices if counts(c) == 0) {
          val v = sample(order.next()._2)
          centroids(c) = Array.tabulate(dim)(i => PqIndex.at(v, i))
        }
      }
    }
    centroids.zipWithIndex
      .map { case (cw, i) => (i + 1, cw.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
  }

  /** Centroids as driver-side literals (k·dim doubles — kilobytes),
    * sorted by id. Ids are 1..k contiguous (the fit/seed contract).
    */
  private[operators] def centroidLits(centroids: DataFrame): Seq[Seq[Double]] =
    centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1).map(_._2).toSeq

  /** Nearest-centroid id as a PURE PROJECTION — zero shuffle, zero
    * sort, which is the difference between "assignment is a map stage"
    * and "assignment re-sorts the corpus" at 100 TB. One fused
    * [[graft.functions.NearestCentroids]] expression whose generated
    * code is constant-size in k: k is the scale knob (cell size ≈
    * corpus/k must stay bounded as the corpus grows), and the earlier
    * composed form — `array_min` over k per-centroid l2Sq structs —
    * made plan size, Janino compile time, and the interpreted fallback
    * all O(k), which turned raising the knob into a regression (65 s at
    * k=80 on the ~sf1 corpus vs 2 s fused).
    */
  private def assignTo(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.select(col("id"), col("v"),
      VectorFunctions.nearestCentroids(col("v"), centroidLits(centroids), 1)
        .getItem(0).as("centroid_id"))

  /** Corpus rows tagged with their inverted-list id. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame =
    assignTo(corpus.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v")), centroids)

  /** Each query's `nProbe` nearest inverted lists:
    * (query_id, qv, qnrm, centroid_id) — the coarse-pruning half of IVF,
    * reused by [[IvfPq]]. Map-side: one fused top-nProbe
    * [[graft.functions.NearestCentroids]] evaluation ((cdist,
    * centroid_id) ordering, constant code size in k — see [[assignTo]]),
    * exploded. No crossJoin, no window, no sort.
    */
  def probes(queries: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, nProbe: Int): DataFrame = {
    val cents = centroidLits(centroids)
    val qv = col("qv")
    queries
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .select(col("query_id"), qv,
        VectorFunctions.norm(qv).as("qnrm"),
        explode(VectorFunctions.nearestCentroids(qv, cents, nProbe))
          .as("centroid_id"))
  }

  /** Inverted-list balance diagnostics: per-list population, share of
    * the corpus, and imbalance (population / ideal even split). The
    * operational dial for IVF at scale — probe cost is proportional to
    * the PROBED lists' sizes, so a hot list (imbalance ≫ 1) silently
    * turns nProbe=2 into a near-full scan for the queries that hit it,
    * and empty lists waste the coarse budget. One map-side assignment +
    * one k-row aggregate; centroids enter as plan-time literals.
    * Lists that caught nothing still appear (count 0) via the
    * right-join against the centroid table.
    */
  def listStats(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val k = centroids.count()
    val counts = assign(corpus, idCol, vecCol, centroids)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .join(centroids.select(col("centroid_id")), Seq("centroid_id"),
        "right")
      .select(col("centroid_id"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    val total = broadcast(counts.agg(sum(col("n_vectors")).as("total")))
    counts.crossJoin(total)
      .select(col("centroid_id"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total")).as("share"),
        (col("n_vectors").cast("double") * k / col("total"))
          .as("imbalance"))
  }

  /** Approximate top-k: each query probes its `nProbe` nearest lists. */
  def search(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, centroids: DataFrame, k: Int,
             nProbe: Int = 2): DataFrame = {
    val lists = assign(corpus, idCol, vecCol, centroids)
      .withColumn("nrm", VectorFunctions.norm(col("v")))

    val probes = this.probes(queries, idCol, vecCol, centroids, nProbe)

    Similarity.rankByCosine(lists.join(probes, Seq("centroid_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        Similarity.cosineFromNorms(col("qv"), col("v"), col("qnrm"),
          col("nrm")).as("cosine")), k)
  }

  /** The [[centroidStamp]] of the family an index was assigned under,
    * stamped on `centroid_id` (see [[buildSemanticIndex]]). */
  private val FamilyStamp = IndexStamp("semantic index", "centroid_id",
    "centroid",
    "IvfIndex.buildSemanticIndex or IvfIndex.foldingSemanticIndex",
    "centroid family" -> "graft.ivf.stamp")

  /** Order-stable fingerprint of a centroid family, rounded to 1e-9 —
    * detects a DIFFERENT family (different k, different training data,
    * different iteration count), not float noise. Driver-side over the
    * k·dim-double model, same bounded footprint as [[centroidLits]]. */
  private[graft] def centroidStamp(centroids: DataFrame): Long = {
    val lits = centroidLits(centroids)
    lits.foldLeft(lits.length.toLong) { (h, c) =>
      c.foldLeft(h)((a, x) =>
        a * 1000003L +
          java.lang.Double.hashCode(math.rint(x * 1e9) / 1e9))
    }
  }

  /** Pinned reference index for semantic scrub-on-ingest: the corpus
    * assigned to inverted lists with norms precomputed, the centroid
    * family's fingerprint stamped into `centroid_id`'s metadata. A
    * probe run against an index built from DIFFERENT centroids would
    * probe the wrong lists and silently miss true neighbors — the same
    * silent-divergence mode as a mismatched EdJoin k or CDC divisor,
    * prevented the same way: [[semanticHits]] `require`s the stamp.
    * Callers pin this repartitioned by `centroid_id` so every batch
    * join reuses the partitioning and only the batch side exchanges.
    */
  def buildSemanticIndex(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    assign(corpus, idCol, vecCol, centroids)
      .withColumn("cnrm", VectorFunctions.norm(col("v")))
      .select(
        FamilyStamp.stamp(col("centroid_id"), centroidStamp(centroids)),
        col("id").as("corpus_id"), col("v").as("cv"), col("cnrm"))
  }

  /** Semantic contamination hits of a (micro-)batch against the pinned
    * index: every (new_id, corpus_id, cosine) with cosine ≥ `tau`
    * among the batch vector's `nProbe` nearest lists. EXACT for the
    * probed-lists contract (every corpus vector in a probed list is
    * scored with the true cosine — SemanticStreamSpec pins equality
    * with a brute-force bipartite join restricted to probed cells);
    * recall beyond the probed lists is the standard IVF trade,
    * measured in `RecallSpec` for the same machinery.
    *
    * Scale shape: probes assign map-side (centroids are plan-time
    * literals), the join is hinted shuffle-hash with the BATCH side as
    * build (a corpus-scaled index must never broadcast, and never be
    * the hash build), so the pinned index streams through its own
    * partitioning. Join width is bounded by the probed lists' sizes —
    * the [[listStats]] imbalance dial is the operational guard.
    */
  def semanticHits(index: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, tau: Double,
      nProbe: Int): DataFrame = {
    FamilyStamp.require(index, centroidStamp(centroids))
    hitsByTiers(Seq(index), probes(batch, idCol, vecCol, centroids, nProbe),
      tau)
  }

  /** The one semantic probe: the probed-lists join + exact-cosine
    * verify of a PREBUILT probe frame ([[probes]] output) against an
    * index given as its tiers. [[semanticHits]] (and through it the
    * pinned stream) passes one tier; [[semanticIngestStream]] passes
    * the folding index's current tiers, assigning each micro-batch
    * ONCE so the SAME probe subtree joins every tier (the r18 shape
    * rebuilt the probe pipeline per tier, defeating exchange reuse
    * across the tier joins). A corpus vector lives in one tier, so
    * per-tier hits union to the union relation's. Pair-dedup after
    * the union: if an id's vector sits in two tiers (a re-delivered
    * id), both copies match and the same (new, corpus) pair would emit
    * twice.
    */
  private def hitsByTiers(tiers: Seq[DataFrame], pr: DataFrame,
      tau: Double): DataFrame =
    tiers.map(_.join(pr.hint("shuffle_hash"), Seq("centroid_id"))
        .filter(col("corpus_id") =!= col("query_id"))
        .withColumn("cosine", Similarity.cosineFromNorms(col("qv"),
          col("cv"), col("qnrm"), col("cnrm")))
        .filter(col("cosine") >= tau)
        .select(col("query_id").as("new_id"), col("corpus_id"),
          col("cosine")))
      .reduce(_ unionByName _)
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(first(col("cosine")).as("cosine"))

  /** Streaming face of [[semanticHits]] — semantic decontam-on-ingest,
    * the sixth ingest modality (token near-dup, char-edit, verbatim
    * run, gram scrub, segment scrub, and now embedding space): each
    * micro-batch of (id, embedding) rows is probed against the pinned
    * corpus index and its ≥-tau neighbor pairs emitted through `sink`
    * with the batch id. Stateless per batch; the index is the only
    * cross-batch artifact. Same at-least-once/foreachBatch contract as
    * every other probe: the sink must be idempotent keyed on batchId
    * (delete-then-insert, never blind append) — SemanticStreamSpec's
    * crash-redelivery test verifies the discipline.
    */
  def semanticProbeStream(stream: DataFrame, idCol: String,
      vecCol: String, index: DataFrame, centroids: DataFrame,
      tau: Double, nProbe: Int, checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    FamilyStamp.require(index, centroidStamp(centroids))
    EventStreams.toForeachBatchSink(stream, checkpoint) {
      (batch, batchId) =>
        sink(semanticHits(index, batch, idCol, vecCol, centroids,
          tau, nProbe), batchId)
    }
  }

  /** [[semanticProbeStream]] with INCREMENTAL INDEX MAINTENANCE
    * (VERDICT r14 Next #1, embedding modality): each micro-batch is
    * probed against the CURRENT folding index, hits emitted, and the
    * accepted (non-duplicate) vectors ASSIGNED TO THE SAME PINNED
    * CENTROIDS and folded into the index the next batches probe.
    *
    * The centroid family is deliberately NOT refit on fold-in: the
    * stamp contract ([[buildSemanticIndex]]) makes list assignment a
    * pure function of the pinned centroids, so fold-in is map-side
    * assignment + append — probe-after-fold ≡
    * probe-against-rebuilt-index with the same centroids, which
    * `FoldingIngestSpec` pins. Centroid drift under a shifted arrival
    * distribution is the RESTART-AND-REBUILD path (refit → new stamp →
    * new index), the same contract as retraining any model.
    *
    * `index` must be a [[FoldingIndex]] whose base is
    * [[buildSemanticIndex]] output for these centroids and whose
    * builder assigns with them (see [[foldingSemanticIndex]]).
    *
    * The source is read more than once per batch (probe assignment +
    * the fold's builder pass): [[IngestLoop]]'s source contract. At a
    * few-hundred-vector trigger fixed per-batch jobs, not bytes, are
    * the fold-in tax, so the ONLY batch-scale materialization is the
    * assigned delta, inside `foldIn`.
    */
  def semanticIngestStream(stream: DataFrame, idCol: String,
      vecCol: String, index: FoldingIndex,
      centroids: DataFrame, tau: Double, nProbe: Int,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    FamilyStamp.require(index.current, centroidStamp(centroids))
    IngestLoop.report(stream, checkpoint, sink) { batch =>
      val arrivals = batch.select(col(idCol), col(vecCol))
      // ONE probe-assignment subtree per batch (r19); the start gate
      // above covers every tier, whose shared builder stamps deltas
      // identically
      val hits = hitsByTiers(index.currentTiers,
        probes(arrivals, idCol, vecCol, centroids, nProbe), tau)
      // fold tail (the r16 Next #2/#3 discipline): nothing rejected →
      // fold the arrivals with no accept plan; otherwise fold the
      // lazy accepted projection — foldIn's own count IS the
      // empty-fold fast path, and its checkpoint of the ASSIGNED
      // rows is the batch's only payload materialization
      IngestLoop.Probed(hits, { (batchId, hitIds) =>
        index.foldIn(batchId, hitIds.fold(arrivals)(
          IngestLoop.unhit(arrivals, idCol, _)))
        ()
      })
    }
  }

  private def semanticTier(idCol: String, vecCol: String,
      centroids: DataFrame) =
    FoldingIndex.Tier("ivf-semantic", Seq("centroid_id"),
      df => buildSemanticIndex(df, idCol, vecCol, centroids))

  /** The [[FoldingIndex]] for the semantic modality:
    * base = the corpus assigned to `centroids`, builder = the same
    * assignment for arrivals, bucketed by `centroid_id` so compaction
    * restores the partitioning [[semanticHits]]' shuffle-hash join
    * reuses.
    */
  def foldingSemanticIndex(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, numPartitions: Int,
      compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingIndex =
    FoldingIndex.creating(corpus, numPartitions,
      compactEvery, durablePath)(
      Seq("" -> semanticTier(idCol, vecCol, centroids))).head

  /** Resume a durable semantic index in a fresh session. `centroids`
    * must be the SAME pinned trained family the writer assigned under
    * — the centroid fingerprint stamp rides the parquet footer and
    * [[semanticIngestStream]]'s gate rejects a mismatch (trained
    * artifacts are never folded; drift = refit = new stamp =
    * rebuild, so recovery takes the model from the caller, exactly
    * like construction does). `FoldingRestartSpec` pins the restart.
    */
  def recoverSemanticIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, vecCol: String,
      centroids: DataFrame, numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingIndex =
    FoldingIndex.recovering(spark, durablePath,
      numPartitions, compactEvery, resetWatermark)(
      Seq("" -> semanticTier(idCol, vecCol, centroids))).head
}
