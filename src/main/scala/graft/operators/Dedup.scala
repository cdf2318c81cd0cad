package graft.operators

import graft.functions.TextFunctions
import graft.streaming.{FoldingIndex, IngestLoop}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (SURVEY.md §2.b extensions), each
  * designed for the 100 TB shape:
  *
  *  - exact: one hash-groupBy shuffle on a 16-byte digest (not the
  *    document body — the wide text column is dropped before the
  *    shuffle and survivors are recovered by joining ids back).
  *  - MinHash+LSH: signatures are a fixed-width projection (map-side,
  *    one pass over shingles per row); only (band-hash, id) pairs
  *    shuffle — never shingle sets; candidate verification joins
  *    signatures, not documents.
  *  - SimHash: 64-bit sketch per document map-side; near-dup = small
  *    Hamming distance, bucketed by the sketch's high bits.
  */
object Dedup {

  /** Hash family i derived from two base hashes without arithmetic
    * (ANSI mode forbids wrapping add/multiply): h1 XOR rot(h2, i). */
  private def hashVariant(h1: Column, h2: Column, i: Int): Column = {
    val r = i % 64
    val rotated =
      if (r == 0) h2
      else shiftleft(h2, r).bitwiseOR(shiftrightunsigned(h2, 64 - r))
    h1.bitwiseXOR(rotated)
  }

  /** Exact dedup on a content digest: survivors keep the smallest id.
    * Returns (id, digest, groupSize) for every surviving row.
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol), md5(col(contentCol)).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("group_size"))
      .select(col(idCol), col("digest"), col("group_size"))

  /** MinHash signature: for each of `numHashes` hash families, the min
    * of `xxhash64(seed_i, shingle)` over the document's shingle set.
    * Empty docs get Long.MaxValue components (match nothing).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      coalesce(
        array_min(transform(shingles,
          s => hashVariant(xxhash64(s), xxhash64(lit(-1), s), i))),
        lit(Long.MaxValue))
    }: _*)

  /** Estimated Jaccard similarity from two signatures: fraction of equal
    * components (the MinHash estimator).
    */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) =>
      when(a === b, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
      .cast("double") / size(sigA).cast("double")

  /** MinHash + LSH near-duplicate pairs.
    *
    * numHashes = bands · rowsPerBand; a pair collides in some band with
    * probability 1 − (1 − J^rowsPerBand)^bands. Returned pairs carry the
    * estimated Jaccard and are filtered at `threshold`.
    */
  /** Signatures via explode + hash-aggregate: the shingle array is
    * computed ONCE per row (not once per hash function — an inline
    * 64-element array expression re-evaluates the shingling 64×, which
    * benchmarked 50× slower), then 64 codegen'd `min` aggregates with
    * map-side partial combine produce the signature. Empty docs keep
    * Long.MaxValue components.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame =
    // ONE compiled shingle pass (WordShingles kernel — byte-identical to
    // the staged-token shinglesOf fold, TextOpsSpec): signing is the
    // dominant cost of every minhash batch query AND every streaming
    // probe's per-batch work, so the per-row win multiplies
    df.select(col(idCol).as("id"),
        explode_outer(graft.functions.WordShingles
          .wordShingles(col(textCol), shingleSize)).as("shingle"))
      // double hashing: each shingle costs 2 hashes; the 64 family
      // members are rotate-XOR combinations (cheap, overflow-free).
      .withColumn("h1", when(col("shingle").isNotNull,
        xxhash64(col("shingle"))))
      .withColumn("h2", when(col("shingle").isNotNull,
        xxhash64(lit(-1), col("shingle"))))
      .groupBy(col("id"))
      .agg(array((0 until numHashes).map { i =>
        coalesce(min(hashVariant(col("h1"), col("h2"), i)),
          lit(Long.MaxValue))
      }: _*).as("sig"))

  /** Choose (bands, rowsPerBand) for a target Jaccard threshold: the
    * LSH S-curve crosses 50% collision probability near (1/b)^(1/r).
    * Returns the split of `numHashes` whose crossover is closest to
    * `threshold`.
    */
  def bandsFor(threshold: Double, numHashes: Int = 64): (Int, Int) = {
    val options = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
    options.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, bands: Int = 16,
                      rowsPerBand: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    // persisted VIA THE SESSION CACHE: the signature frame feeds BOTH
    // sides of the self-join, and Spark's ReuseExchange can't unify the
    // aliased subplans — without pinning, the signature aggregation (the
    // dominant cost) runs twice. Routing through FrameCache (instead of
    // a per-call persist) bounds repeated invocations to ONE pinned
    // frame per (session, input) — VERDICT r3 "What's wrong #1".
    val sigs = graft.FrameCache.forInput(df,
      s"minhashsigs:$idCol:$textCol:$shingleSize:$numHashes")(
      minhashSignatures(df, idCol, textCol, shingleSize, numHashes))
    minhashLshPairsFromSigs(sigs, bands, rowsPerBand, threshold)
  }

  /** LSH banding + candidate verification over PRECOMPUTED signatures
    * ([[minhashSignatures]] output, ideally persisted by the caller).
    * Signatures are the dominant cost and are threshold-independent, so
    * building them once and deriving pair sets at several thresholds
    * (e.g. candidate mining at 0.3, dedup decisions at 0.5) costs one
    * corpus pass instead of one per threshold.
    */
  def minhashLshPairsFromSigs(sigs: DataFrame, bands: Int,
                              rowsPerBand: Int,
                              threshold: Double): DataFrame = {
    // ONE banding implementation: both sides of the self-join are views
    // of [[bandedIndex]] — the same bucket rows the streaming probe
    // joins, so batch and stream verdicts can't silently diverge.
    val banded = bandedIndex(sigs, bands, rowsPerBand)

    val a = banded.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))

    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
  }

  /** (band, band_hash, id, sig) bucket rows for a signature frame —
    * the LSH index unit shared by the batch self-join above and the
    * streaming probe below.
    */
  private def bandedIndex(sigs: DataFrame, bands: Int,
                          rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1,
          rowsPerBand))): _*)).as(Seq("band", "band_hash")))

  /** The (bands, rowsPerBand) stamp on a bucket index's `band_hash`:
    * an index banded otherwise intersects probe buckets arbitrarily. */
  private[graft] val BandingStamp = IndexStamp("bucket index", "band_hash",
    "banding", "Dedup.foldingMinhashIndex",
    "bands" -> "graft.minhash.bands",
    "rowsPerBand" -> "graft.minhash.rowsPerBand")

  /** (band, band_hash, id) bucket rows WITHOUT the signature payload —
    * the STORED form of the LSH index for the streaming faces. Keeping
    * the signature out of the bucket rows keeps the stored index at
    * ~24 bytes per (doc, band) instead of duplicating the full
    * signature per band (16× its bytes at 16 bands); the probe fetches
    * signatures by id for CANDIDATE pairs only — the two-relation
    * (buckets + signatures-by-id) shape a production LSH service
    * stores, and the one that scales to a corpus whose signature mass
    * alone is terabytes. */
  private[graft] def bandedBuckets(sigs: DataFrame, bands: Int,
                                   rowsPerBand: Int): DataFrame = {
    bandedIndex(sigs, bands, rowsPerBand)
      .select(col("band"),
        BandingStamp.stamp(col("band_hash"), bands, rowsPerBand), col("id"))
  }

  /** Dedup against a STATIC corpus: the (new_id, corpus_id,
    * est_jaccard) near-dup hits of `arrivals` against the corpus
    * signature index — the incremental complement of
    * [[minhashLshPairs]] (dedup a new crawl against the existing corpus
    * without re-banding the corpus). Only the arrivals are signed (one
    * pass, pinned: the bucket explode and the signature fetch both read
    * it); they join the precomputed corpus buckets and verify on
    * estimated Jaccard. Run per micro-batch inside
    * [[graft.streaming.EventStreams.toForeachBatchSink]] it is the pinned
    * dedup-on-ingest stream: the static index is the only cross-batch
    * artifact, so late documents are probed whenever they arrive. The
    * probe is [[nearDupHits]] over one pinned tier of each relation —
    * the zero-fold case of [[nearDupIngestStream]].
    *
    * `staticSigs` is [[minhashSignatures]] output for the corpus.
    * `shingleSize`/`bands`/`rowsPerBand` must match the parameters the
    * corpus signatures were built with.
    *
    * CONTRACT: hits are pair-distinct, even when `staticSigs` holds
    * more than one row for an id: such a pair is emitted ONCE, with the
    * estimate of one of the copies. `staticSigs` should still hold one
    * row per id (what [[minhashSignatures]] emits for unique-id input).
    */
  def nearDupCorpusHits(arrivals: DataFrame, idCol: String,
      textCol: String, staticSigs: DataFrame, shingleSize: Int,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    // The corpus side is banded, partitioned, and pinned ONCE per
    // (session, corpus) — a lazy banded plan here would be re-executed
    // (full corpus explode + exchange) by EVERY micro-batch's join,
    // because exchange reuse does not span foreachBatch query
    // executions. With the bucket index pinned on (band, band_hash)
    // and the signature relation pinned on id, both corpus-side joins
    // reuse their cached partitioning and the per-batch cost is
    // genuinely the probe side only: sign the batch, explode ITS
    // buckets, fetch corpus signatures for candidate pairs.
    val corpusBuckets = graft.FrameCache.forInput(staticSigs,
      s"nearDupBuckets:$bands:$rowsPerBand") {
      bandedBuckets(staticSigs, bands, rowsPerBand)
        .repartition(col("band"), col("band_hash"))
    }
    val corpusSigs = graft.FrameCache.forInput(staticSigs,
      "nearDupSigsById") {
      staticSigs.select(col("id"), col("sig")).repartition(col("id"))
    }
    val batchSigs = minhashSignatures(
      arrivals.select(col(idCol), col(textCol)), idCol, textCol,
      shingleSize, bands * rowsPerBand).localCheckpoint(true)
    nearDupHits(Seq(corpusBuckets), Seq(corpusSigs), batchSigs, bands,
      rowsPerBand, threshold)
  }

  /** The two-relation folding index for the minhash modality: bucket
    * rows keyed by (band, band_hash) for the candidate join, and
    * signatures keyed by id for the candidate-scaled Jaccard fetch —
    * the stored form [[nearDupCorpusHits]] pins, made incrementally
    * maintainable (the FoldingEdIndex keys+texts pattern). Folded in
    * lockstep per batch from ONE signature pass over the arrivals.
    */
  final case class FoldingMinhashIndex(buckets: FoldingIndex,
      sigs: FoldingIndex)

  /** The minhash tiers, declared once for [[foldingMinhashIndex]] and
    * [[recoverMinhashIndex]]: bucket rows keyed by (band, band_hash)
    * and signatures keyed by id.
    */
  private def minhashTiers(bands: Int, rowsPerBand: Int,
      open: FoldingIndex.Open): FoldingMinhashIndex = {
    val Seq(buckets, sigs) = open(Seq(
      "buckets" -> FoldingIndex.Tier(
        s"minhash-buckets-b${bands}r$rowsPerBand", Seq("band", "band_hash"),
        df => bandedBuckets(df, bands, rowsPerBand)),
      "sigs" -> FoldingIndex.Tier("minhash-sigs",
        Seq("id"), df => df.select(col("id"), col("sig")))))
    FoldingMinhashIndex(buckets, sigs)
  }

  /** @param durablePath when set, both tiers persist under
    *                     `<path>/buckets` and `<path>/sigs` (the
    *                     FoldingIndex durable layout) and
    *                     [[recoverMinhashIndex]] can resume them in a
    *                     fresh session — the restart story at the
    *                     operator surface, not just the index core.
    */
  def foldingMinhashIndex(corpusSigs: DataFrame, bands: Int,
      rowsPerBand: Int, numPartitions: Int,
      compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingMinhashIndex =
    minhashTiers(bands, rowsPerBand,
      FoldingIndex.creating(corpusSigs, numPartitions, compactEvery,
        durablePath))

  /** Resume a durable [[FoldingMinhashIndex]] from disk in a fresh
    * session ([[FoldingIndex.Tier.recover]] per tier): both
    * tiers re-bucket and re-pin, the batchId watermarks resume, and
    * the banding stamp rides the parquet schema footer — so
    * [[nearDupIngestStream]]'s stamp gate passes on the recovered
    * index exactly as on the original (`FoldingDurabilitySpec` pins
    * the end-to-end ingest restart).
    */
  def recoverMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, bands: Int, rowsPerBand: Int,
      numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingMinhashIndex =
    minhashTiers(bands, rowsPerBand,
      FoldingIndex.recovering(spark, durablePath, numPartitions,
        compactEvery, resetWatermark))

  /** The (new_id, corpus_id, est_jaccard) hits of signed arrivals
    * `batchSigs` (id, sig) against a minhash index given as its tiers:
    * `bucketTiers` of (band, band_hash, id) rows ([[bandedBuckets]]
    * output) and `sigTiers` of (id, sig) rows. The one minhash probe:
    * [[nearDupCorpusHits]] runs it over one pinned tier of each,
    * [[nearDupIngestStream]] over the folding index's current tiers,
    * and `RecoverBench` prices it batch-driven. Per-tier candidate
    * join + per-tier signature fetch (the LSM read path): a corpus
    * id's buckets and signature live in the tier it folded at, so the
    * unioned candidate set and the per-tier sig joins partition the
    * hit set exactly.
    */
  private[graft] def nearDupHits(bucketTiers: Seq[DataFrame],
      sigTiers: Seq[DataFrame], batchSigs: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val probes = bandedBuckets(batchSigs, bands, rowsPerBand)
      .select(col("band"), col("band_hash"), col("id").as("new_id"))
    val candPlan = bucketTiers.map { t =>
      t.join(probes.hint("shuffle_hash"), Seq("band", "band_hash"))
        .filter(col("new_id") =!= col("id"))
        .select(col("new_id"), col("id").as("corpus_id"))
    }.reduce(_ unionByName _)
      .distinct()
    val cands = IngestLoop.pinForTiers(candPlan, sigTiers)
    sigTiers.map { t =>
      t.select(col("id").as("corpus_id"), col("sig").as("corpus_sig"))
        .join(cands.hint("shuffle_hash"), Seq("corpus_id"))
    }.reduce(_ unionByName _)
      .join(batchSigs.select(col("id").as("new_id"),
        col("sig").as("new_sig")).hint("shuffle_hash"), Seq("new_id"))
      .select(col("new_id"), col("corpus_id"),
        estimatedJaccard(col("new_sig"), col("corpus_sig"))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // pair-dedup: a source that re-delivers an id in a LATER source
      // batch (self-matches are id-filtered, so the copy is accepted)
      // puts the id's signature in two tiers, and the per-tier sig
      // fetch would emit the pair once per tier (a corpus that repeats
      // an id would do the same inside one tier)
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
  }

  /** [[nearDupCorpusHits]] with INCREMENTAL INDEX MAINTENANCE — the
    * production curation-at-the-door shape (VERDICT r14 Next #1): each
    * micro-batch is signed ONCE, probed against the CURRENT folding
    * index (corpus + everything accepted so far), its hits emitted
    * through `sink`, and its accepted documents' buckets and
    * signatures folded into the index the NEXT batches probe. `index`
    * must be a [[FoldingMinhashIndex]] over signatures built with the
    * same (shingleSize, numHashes) — the SAME builders fold the
    * arrivals, so probe-after-fold and probe-against-rebuilt-index
    * cannot diverge (`FoldingIndexSpec` pins the agreement). Probing
    * is per tier (FoldingIndex.currentTiers): the base bucket and
    * signature tiers keep their Pinned.byKey-reported partitioning, so
    * the per-batch corpus-side cost is a cache scan, never a re-band
    * or re-exchange.
    *
    * Accepted = arrivals with NO near-dup hit (the curation policy:
    * duplicates are reported and not re-indexed). Hit sets are
    * against the index AS OF the batch's start — two near-dups inside
    * ONE micro-batch do not see each other (inherent to any
    * incremental index; the pinned probe dodges it only by never
    * growing). The FOLDED INDEX ITSELF is trigger-invariant: fold-in
    * appends per-row builder output, so any batching of the same
    * arrivals yields the same index rows.
    *
    * The batch sequence (pin hits, sink, count, fold all or the no-hit
    * rest) is [[graft.streaming.IngestLoop.report]]'s. Fold idempotence
    * rides FoldingIndex's batchId skip, so the at-least-once
    * redelivery contract needs no extra care here; the sink keeps its
    * own batchId-keyed discipline.
    */
  def nearDupIngestStream(docStream: DataFrame, idCol: String,
                          textCol: String,
                          index: FoldingMinhashIndex,
                          shingleSize: Int, bands: Int, rowsPerBand: Int,
                          threshold: Double, checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    BandingStamp.require(index.buckets.current, bands, rowsPerBand)
    IngestLoop.report(docStream, checkpoint, sink) { batch =>
      // sign ONCE: the signatures feed the probe AND the fold —
      // checkpointed because a micro-batch plan cannot be lazily
      // re-executed after its batch ends
      val batchSigs = minhashSignatures(
        batch.select(col(idCol), col(textCol)), idCol, textCol,
        shingleSize, bands * rowsPerBand).localCheckpoint(true)
      val hits = nearDupHits(index.buckets.currentTiers,
        index.sigs.currentTiers, batchSigs, bands, rowsPerBand, threshold)
      IngestLoop.Probed(hits, { (batchId, hitIds) =>
        // fold tail (r16 Next #2): with no hit the pinned batchSigs IS
        // the accepted set; otherwise the accept anti-join materializes
        // once (lazy accept deltas were measured and REJECTED: a delta
        // is probed ~compactEvery times before compaction, so deferring
        // the anti-join multiplies it by tier lifetime — r17 winnow
        // fold-in/pinned 0.21 -> 0.15 at trigger 3)
        val accepted = hitIds.fold(batchSigs)(h =>
          IngestLoop.unhit(batchSigs, "id", h).localCheckpoint(true))
        // r19: both deltas are deterministic projections over the
        // pinned `accepted` (foldInPinned's lazy-delta contract) — a
        // narrow select for sigs, a fixed fan-out of exactly `bands`
        // rows per signature for buckets (a literal-length array of
        // never-null hashes, exploded non-outer). So ONE measured count
        // feeds both folds and the bucket count is derived. Never a
        // fold's return value: foldInPinned returns 0 on a redelivery
        // skip too, and a crash between the two folds must leave the
        // second re-foldable with its true count
        val nAcc = accepted.count()
        index.sigs.foldInPinnedCounted(batchId,
          accepted.select(col("id"), col("sig")), nAcc)
        index.buckets.foldInPinnedCounted(batchId,
          bandedBuckets(accepted, bands, rowsPerBand), nAcc * bands)
        ()
      })
    }
  }

  /** Connected components via two-phase star contraction — alternating
    * large-star / small-star edge rewrites (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014, Alg. 2), not label
    * propagation.
    *
    * Why not min-label propagation + pointer jumping (the previous
    * form): propagation moves a component's minimum O(1) hops per round
    * when intermediate labels are LOCAL minima (a node whose label is a
    * local min chases that label to itself — the jump is a no-op), so a
    * duplicate CHAIN with graph-order-uncorrelated ids (a→a′→a″… — how
    * templated spam actually drifts) costs ≈ diameter rounds. Measured
    * on the ~sf1 SemDeDup graph (12.4k nodes, 10.5k edges,
    * chain-heavy): 17 rounds, with chained extra jumps changing
    * nothing. Star contraction rewrites the EDGE SET each round — a
    * node's edges to larger neighbors (large-star) or smaller
    * neighbors-and-self (small-star) all reconnect to the neighborhood
    * minimum — so chains collapse geometrically regardless of id
    * placement: the same graph converges in 3 rounds, and the bound is
    * O(log² n) rounds worst-case with ~log n typical. Rounds are
    * barriers that re-shuffle the edge table; at 100 TB round count is
    * THE cost, which is exactly what contraction bounds.
    *
    * Mechanics per round, all edges kept as (src=child > dst=parent),
    * connectivity preserved by both phases (paper Lemmas 1-2):
    *   large-star: every neighbor v>u reconnects to min(N(u)∪{u});
    *   small-star: every neighbor v≤u plus u reconnect to min(N(u)∪{u}).
    * Fixpoint ⇔ the edge set is a parent-function star forest (each
    * child exactly one parent, no parent has a parent). Roots are then
    * component minima (each phase only ever reconnects toward
    * neighborhood minima, and minima only merge downward), giving the
    * same (id, component=smallest id) contract the label-propagation
    * form had.
    *
    * FROZEN FRONTIER (the at-scale fix for round mass): each round —
    * including a round 0 on the raw pairs — CLOSED STARS are frozen out
    * of the active edge set before the next contraction. A star rooted
    * at r is closed iff r has no parent and every child of r has
    * exactly one parent and no children of its own. Such a star is a
    * complete component of the CURRENT graph (any link to further
    * structure would give some child a second parent or a child of its
    * own, breaking the test), and because the phases preserve
    * connectivity (paper Lemmas 1-2) it is a complete component of the
    * ORIGINAL graph; its root is the component minimum (the minimum is
    * smaller than every neighbor, so it can never appear as a src under
    * the src>dst invariant and never loses its dst edges to a rewrite —
    * it is always a root, and a closed star has exactly one). So frozen
    * labels are final and exact, and frozen nodes can never be touched
    * again (no active edge reaches them). Without this, every round
    * re-shuffles the FULL edge table even though most dedup mass —
    * isolated duplicate pairs, small clusters — is star-shaped after
    * round 0/1 (measured at sf30: the d42 family's bytes grew 4.14× per
    * 3.33× data purely from round count × full-edge re-shuffles).
    * Freezing also subsumes the old two-probe star-forest convergence
    * check: fixpoint ⇔ every component is a closed star ⇔ the active
    * set is empty after the freeze, one isEmpty probe on an
    * already-checkpointed leaf.
    *
    * Each phase output is LINEAGE-TRUNCATED (eager localCheckpoint):
    * phases reference their input twice (the min-aggregate and the
    * rewrite join), so bare persist doubles the LOGICAL plan per phase
    * — execution would read the cache, but optimizer/AQE replanning
    * goes exponential in round count (measured in the propagation era:
    * round 6 of a 323-edge graph spent 221 s replanning a ~2^6-deep
    * plan). Checkpointing resets to a leaf; old rounds' blocks are
    * freed by the ContextCleaner once unreferenced.
    *
    * Hitting `maxIters` without convergence logs a WARN and returns
    * labels off the unconverged edges (components may then carry
    * non-minimal labels) — silent truncation here once produced
    * non-minimal components at 10× scale before round budgets were
    * sized to measured counts.
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) where component
    * is the smallest id in the cluster. Isolated ids don't appear.
    *
    * The closed-star freeze runs after EVERY contraction round: the
    * r14 A/B (FamDiag d42cc, sf10 + sf30) measured sparser cadences
    * byte-equal in CC-phase shuffle, at extra contraction rounds before
    * convergence was detected.
    *
    * `localFinishEdges`: once a freeze leaves at most this many
    * frontier edges, stop contracting and finish the remainder with a
    * driver-side union-find over ONE bounded collect. Frozen stars are
    * complete components, so the frontier subgraph is
    * component-disjoint from everything frozen and its exact labels
    * are its own per-component minima — the local pass computes
    * precisely that, and the randomized union-find reference spec pins
    * equality with the distributed path. Why this is not the banned
    * driver-collect class: the collect is CAPPED at localFinishEdges
    * rows (~16 B each, ≈1 MB at the default 65,536) regardless of
    * corpus size — the cap is the collectSample/centroid "bounded
    * driver metadata" contract, not a corpus-scaled fetch. Why it
    * matters: after the round-0/1 freezes retire the star-shaped dedup
    * mass, the surviving frontier is tiny at EVERY measured decade
    * (2,700 edges at sf10, 8,100 at sf30 for d42) while each further
    * distributed round still costs a fixed ~6 scheduled jobs (stats
    * aggregate, three merge joins, two checkpoints) — pure latency at
    * any SF, the dominant CC cost at bench scale. A frontier that
    * never shrinks below the cap (adversarial long chains at cluster
    * scale) simply keeps the distributed loop — behavior, labels, and
    * the byte-linear freeze story are unchanged. 0 disables.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 15,
                          onRound: (Int, Double) => Unit = (_, _) => (),
                          onFreeze: Option[(Int, Long, Long) => Unit] =
                            None,
                          localFinishEdges: Int = 1 << 16): DataFrame = {
    require(localFinishEdges >= 0,
      s"localFinishEdges must be >= 0, got $localFinishEdges")
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    // the local finish round-trips ids through long; restrict it to
    // integral id types (every production caller — doc_id/vec_id) and
    // silently keep the distributed loop for anything else
    val idType = edges.schema("src").dataType
    val integralIds = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType).contains(idType)

    // (v, min(N(u)∪{u})) for every neighbor v > u. m ≤ u < v keeps the
    // child>parent invariant and forbids self-loops by construction.
    // The emit side is just the reversed edge set (src>dst invariant ⇒
    // the rows of sym with dst>src ARE the reversed rows) — only the
    // min-aggregate needs the full symmetrized adjacency.
    def largeStar(e: DataFrame): DataFrame = {
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val sym = e.unionByName(rev)
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      rev.join(mins, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // (v, min(S(u))) for every smaller neighbor v ≠ min, plus
    // (u, min(S(u))) — edges already point child→parent so S(u) is
    // exactly the dst set under key u; min(S(u)) < u strictly.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
      val withM = e.join(mins, Seq("src"))
      withM.filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(withM.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // Closed-star freeze (scaladoc above): split the active edge set
    // into finished star components — whose (child, root) rows are
    // final labels — and the frontier that still needs contraction.
    // Per-node parent/child counts come from ONE aggregate over the
    // tagged symmetrized edge list; the semi/anti joins are all
    // merge-pinned because every side is corpus-scaled in the worst
    // round (leaves ≈ |V|) — a generated-frame broadcast here is the
    // d41 kill class (BroadcastGateSpec) and the frames' size estimates
    // are aggregate guesses Catalyst cannot be trusted with.
    val frozenLabels = scala.collection.mutable.Buffer.empty[DataFrame]
    // round index for the onFreeze observer (0 = the pre-contraction
    // freeze on the raw pairs); counts run only when observed — they
    // are two extra count jobs on checkpointed leaves
    var freezeRound = 0
    def freezeClosedStars(): Long = {
      val e = edges
      val stats = e.select(col("src").as("n"), lit(1L).as("p"))
        .unionByName(e.select(col("dst").as("n"), lit(0L).as("p")))
        .groupBy("n")
        .agg(sum(col("p")).as("pc"), sum(lit(1L) - col("p")).as("cc"))
      val leaves = stats.filter(col("pc") === 1 && col("cc") === 0)
        .select(col("n").as("src"))
      val roots = stats.filter(col("pc") === 0)
        .select(col("n").as("dst"))
      // edges whose child is a leaf AND whose parent is a root…
      val cand = e.join(leaves.hint("merge"), Seq("src"), "left_semi")
        .join(roots.hint("merge"), Seq("dst"), "left_semi")
      // …minus stars where ANY sibling fails the test (the root is then
      // still connected to unresolved structure through that sibling)
      val dirtyRoots = e.join(cand.hint("merge"), Seq("src", "dst"),
          "left_anti")
        .select(col("dst")).distinct()
      val frozen = cand.join(dirtyRoots.hint("merge"), Seq("dst"),
        "left_anti")
      // labels are final: children → root, root → itself (roots repeat
      // once per child edge, hence the distinct on the root rows)
      val lab = frozen
        .select(col("src").as("id"), col("dst").as("component"))
        .unionByName(frozen
          .select(col("dst").as("id"), col("dst").as("component"))
          .distinct())
        .localCheckpoint(true)
      frozenLabels += lab
      // a frozen star owns ALL edges under its root, so the frontier is
      // exactly the edges whose dst is not a frozen root — read the
      // roots off the CHECKPOINTED labels (id = component rows) so the
      // freeze lineage is not executed a second time
      edges = e.join(
          lab.filter(col("id") === col("component"))
            .select(col("id").as("dst")).hint("merge"),
          Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      // the frontier count doubles as the convergence probe (== 0) and
      // the local-finish gate (<= cap): one in-memory job on the
      // just-checkpointed leaf, same cost class as the old isEmpty
      val remaining = edges.count()
      onFreeze.foreach(f => f(freezeRound, lab.count(), remaining))
      freezeRound += 1
      remaining
    }

    /** Bounded driver-side union-find over the surviving frontier
      * (scaladoc above: capped collect, exact labels, disjoint from
      * every frozen component). Union attaches the larger root under
      * the smaller, so each tree's root IS its minimum — the same
      * label contract as the distributed path.
      */
    def finishLocally(): Unit = {
      val rows = edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // snapshot keys before the find() sweep: path compression mutates
      // the map, and mutation under a live keysIterator is unspecified
      val ks = parent.keys.toArray
      val labels = ks.map(x => (x, find(x))).toSeq
      val sess = edges.sparkSession
      val lab = sess.createDataFrame(labels).toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
      frozenLabels += lab
      edges = edges.limit(0)
      onFreeze.foreach(f => f(freezeRound, labels.size.toLong, 0L))
      freezeRound += 1
    }

    /** Convergence/retirement step. The frontier count is checked
      * BEFORE the freeze: a frontier already within the local-finish
      * cap goes straight to the driver union-find — the freeze's
      * stats aggregate and four joins exist to retire closed stars
      * from a frontier too big to collect, and running them on a
      * sub-cap graph (every gate-SF corpus, round 0 included) is pure
      * overhead for a result the local pass computes in one job. Above
      * the cap: freeze (retiring closed stars), then re-check — the
      * shrunken frontier may now fit. Both counts are single in-memory
      * jobs on checkpointed leaves. */
    def freezeAndMaybeFinish(): Boolean = {
      def tryLocal(n: Long): Boolean =
        if (n == 0L) true
        else if (integralIds && localFinishEdges > 0 &&
            n <= localFinishEdges) {
          finishLocally(); true
        } else false
      tryLocal(edges.count()) || tryLocal(freezeClosedStars())
    }

    // round 0: isolated duplicate pairs and pre-existing stars — the
    // bulk of a real dedup graph — exit before the first contraction
    var converged = freezeAndMaybeFinish()
    var i = 0
    while (!converged && i < maxIters) {
      val roundT0 = System.nanoTime()
      // both phases in one plan, ONE checkpoint per round: each phase
      // references its input twice, so the round's plan holds 4 copies
      // of the input — fine when that input is the previous round's
      // checkpointed leaf (the depth does not compound across rounds).
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      i += 1
      converged = freezeAndMaybeFinish()
      onRound(i, (System.nanoTime() - roundT0) / 1e9)
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents hit maxIters=$maxIters before the star-" +
          "forest fixpoint; components may carry non-minimal labels — " +
          "raise maxIters (rounds needed ~log(n), O(log² n) worst-case)")
    // Converged ⇒ the active set is empty and every label is frozen.
    // On the maxIters-capped path the leftover edges still yield labels
    // the old way: children map to their root, roots to themselves; a
    // child with edges into two roots collapses to the smaller so the
    // contract stays one row per id (labels then may be non-minimal —
    // warned above — but never duplicated, which would row-multiply
    // survivor joins downstream). Frozen and leftover node sets are
    // disjoint by construction, so the union never duplicates an id.
    val leftover = edges
      .select(col("src").as("id"), col("dst").as("component"))
      .unionByName(
        edges.select(col("dst").as("id"), col("dst").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
    frozenLabels.foldLeft(leftover)(_ unionByName _)
  }

  /** Survivors after near-dup clustering: the smallest id per component
    * plus every id not in any pair. Returns (id, component, is_survivor).
    */
  def nearDupSurvivors(df: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
      .withColumn("is_survivor", col("id") === col("component"))
  }

  /** Exact n-gram Jaccard between two text columns (the verification
    * step behind MinHash's estimate; also usable directly for small
    * candidate sets).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(TextFunctions.charNGrams(a, n))
    val sb = array_distinct(TextFunctions.charNGrams(b, n))
    val union = size(array_union(sa, sb))
    when(union === 0, lit(1.0)).otherwise(
      size(array_intersect(sa, sb)).cast("double") / union.cast("double"))
  }

  /** 64-bit SimHash over whitespace tokens: bit b of the sketch is the
    * sign of Σ_tokens (±1 by bit b of xxhash64(token)). Map-side only.
    */
  private val bitMasks = typedLit((0 until 64).map(1L << _))

  def simhash(textCol: Column): Column = {
    val hashes = transform(TextFunctions.tokens(textCol),
      t => xxhash64(t))
    val counts = aggregate(hashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, bitMasks, (c, m) =>
        c + when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    aggregate(
      zip_with(counts, bitMasks, (c, m) =>
        when(c > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs: bucket by the high `prefixBits` bits, then
    * verify Hamming distance within buckets. Rotating the bucketing over
    * several prefixes (as production pipelines do) multiplies recall;
    * one prefix keeps the demo simple.
    */
  /** Sketches via explode + 64 codegen'd sum aggregates (same rationale
    * as [[minhashSignatures]]: tokenize once per row, aggregate per bit).
    * Empty docs sketch to 0.
    */
  def simhashSketches(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      explode_outer(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", when(col("tok").isNotNull, xxhash64(col("tok"))))
      .groupBy(col("id"))
      .agg((0 until 64).map { b =>
        when(coalesce(sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1)
          .otherwise(-1)), lit(0L)) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as("sketch"))

  /** Multi-probe variant: buckets on `rotations` rotations of the
    * sketch, unioning candidates — near-dups whose differing bits fall
    * inside one prefix are still caught by another rotation. Recall
    * multiplies, cost scales linearly with rotations.
    */
  def simhashPairsMultiProbe(df: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 8, prefixBits: Int = 16,
                             rotations: Int = 4): DataFrame = {
    // session-cached (not per-call persisted — see minhashLshPairs);
    // the sketch frame is shared with [[simhashPairs]] over the same
    // input since the key is parameter-free below the bucketing.
    val sketched = cachedSketches(df, idCol, textCol)
    val step = 64 / rotations
    val all = (0 until rotations).map { rot =>
      val shift = rot * step
      val rotated =
        if (shift == 0) col("sketch")
        else shiftleft(col("sketch"), shift)
          .bitwiseOR(shiftrightunsigned(col("sketch"), 64 - shift))
      val bucketed = sketched.withColumn("bucket",
        shiftrightunsigned(rotated, 64 - prefixBits))
      val a = bucketed.select(col("bucket"), col("id").as("id_a"),
        col("sketch").as("sketch_a"))
      val b = bucketed.select(col("bucket"), col("id").as("id_b"),
        col("sketch").as("sketch_b"))
      a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming",
          bit_count(col("sketch_a").bitwiseXOR(col("sketch_b"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }
    all.reduce(_.unionByName(_))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** Sketches via the session cache: one pinned frame per (session,
    * input), shared across simhashPairs / simhashPairsMultiProbe and
    * across prefix-bit settings (bucketing is derived downstream).
    */
  private def cachedSketches(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    graft.FrameCache.forInput(df, s"simhashsk:$idCol:$textCol")(
      simhashSketches(df, idCol, textCol))

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8, prefixBits: Int = 16): DataFrame = {
    val sketched = cachedSketches(df, idCol, textCol)
      .withColumn("bucket", shiftrightunsigned(col("sketch"),
        64 - prefixBits))
    val a = sketched.select(col("bucket"), col("id").as("id_a"),
      col("sketch").as("sketch_a"))
    val b = sketched.select(col("bucket"), col("id").as("id_b"),
      col("sketch").as("sketch_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sketch_a").bitwiseXOR(col("sketch_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
