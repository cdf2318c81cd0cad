package graft.operators

import graft.functions.TextFunctions
import graft.streaming.{FoldingIndex, IngestLoop}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Content-defined segmentation and segment-level deduplication — the
  * "paragraph dedup" modality for corpora without layout structure.
  *
  * C4-style pipelines dedup at the line/paragraph level because
  * boilerplate repeats in LAYOUT units; this corpus (and any
  * whitespace-normalized one) has no newlines, so the unit has to come
  * from content. The rsync/LBFS trick: a token STARTS a new segment
  * when its hash falls in a fixed residue class (here
  * `charFold(token) ≡ 0 (mod divisor)`), so expected segment length is
  * `divisor` tokens and — the property that matters — boundaries are
  * SHIFT-INVARIANT: inserting a word before a shared run moves every
  * offset but not the boundary tokens, so two documents sharing a long
  * token run still produce identical interior segments and dedup
  * against each other. Fixed-width chunking has no such guarantee
  * (one inserted token misaligns every downstream chunk).
  *
  * Scale shape (the 100 TB contract):
  *  - segmentation is FULLY NARROW: boundary detection and segment
  *    assembly are higher-order array expressions over the in-row
  *    token array (see [[segments]]) — zero exchanges, no window, no
  *    object aggregate, no per-token rows anywhere;
  *  - survivor election groups 16-byte MD5 digests (the d01 exactness
  *    convention), never segment text;
  *  - the winner join back is hinted shuffle-hash with the narrow
  *    winners frame as build side, so the text-bearing segment rows
  *    stream through it unsorted (the d24 sort-free discipline);
  *  - reconstruction shuffles each surviving segment's text exactly
  *    once, keyed by doc — that is the OUTPUT being assembled, the
  *    irreducible cost.
  *
  * Keep-first survivorship, globally deterministic: for each distinct
  * segment text the single occurrence with the smallest
  * (doc id, start position) survives; every other occurrence —
  * including later repeats inside the SAME document — is dropped.
  * Oracle-checked character-for-character against DuckDB's windowed
  * `string_agg` reconstruction (d48).
  */
object CdcDedup {

  /** Content-defined segments of every document: one row per segment,
    * `(id, seg_start, seg_text)` with `seg_start` the 1-based token
    * ordinal of the segment's first token.
    *
    * NARROW BY CONSTRUCTION: tokenization, boundary detection, and
    * segment assembly run in ONE compiled pass per row
    * ([[graft.functions.CdcSegments]]) — no token explode, no
    * per-doc window, no object aggregate, ZERO exchanges (plan-pinned
    * in CdcDedupSpec). Two predecessors died at scale, both caught by
    * the r11 sweep's gc_s/cpu_s attribution (which exists because of
    * them): the posexplode → running-sum window → collect_list
    * formulation pushed ~140M per-token structs through the heap at
    * sf3 and went wall-tri-modal on GC (2.6/17.1/57.4 s, identical
    * plan metrics, gc_s 3→187); its HOF replacement
    * (aggregate-in-transform per token) fixed GC but ran interpreted,
    * with JIT-dependent fresh-JVM CPU (147–2434 executor-CPU-s for the
    * same plan). The kernel is deterministic and allocation-light, and
    * segments are ~divisor× fewer rows than tokens, so everything
    * downstream (digest groupBy, scrub join, per-doc rebuild) shuffles
    * ~divisor× less. */
  def segments(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int): DataFrame = {
    require(divisor >= 2, s"divisor=$divisor: expected >= 2")
    docs
      .select(col(idCol).as("_id"),
        explode(graft.functions.CdcSegment
          .cdcSegments(col(textCol), divisor)).as("_s"))
      .select(col("_id"), col("_s.seg_start").as("seg_start"),
        col("_s.seg_text").as("seg_text"))
  }

  /** Segment-level keep-first dedup with document reconstruction:
    * `(id, clean_text, n_segs, n_kept)`. Documents whose every segment
    * was first seen elsewhere come back with `clean_text = ''`. */
  /** Packed (id, seg_start) winner key: ordinals up to 2²⁰ tokens per
    * document (guarded — overflow would elect a wrong winner
    * silently). min over the packed long is lexicographic min over
    * (id, start), and — the reason to pack — a PRIMITIVE min stays a
    * codegen HashAggregate where `min(struct(...))` plans as
    * Sort + SortAggregate on both sides of the exchange (seen in the
    * captured d48 plan; the d47 scrub-index lesson applied here). */
  private val StartBits = 20
  private def packedWinner: Column = {
    val s = when(col("seg_start") < lit(1L << StartBits), col("seg_start"))
      .otherwise(raise_error(lit(
        s"document exceeds 2^$StartBits tokens; widen StartBits"))
        .cast("long"))
    // The id side needs the same loud guard: an id ≥ 2^(63−StartBits)
    // overflows the packed long, and an IntegerType id would make
    // shiftleft wrap at id ≥ 2^11 — both elect a wrong keep-first
    // winner SILENTLY, the exact failure the seg_start guard exists to
    // prevent. Cast to long first so the shift is always 64-bit.
    val id = when(col("_id").cast("long") < lit(1L << (63 - StartBits)),
        col("_id").cast("long"))
      .otherwise(raise_error(lit(
        s"id exceeds 2^${63 - StartBits}; widen the packed-winner key"))
        .cast("long"))
    shiftleft(id, StartBits) + s
  }

  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int): DataFrame = {
    val segs = segments(docs, idCol, textCol, divisor)
      .withColumn("_d", md5(col("seg_text")))
    // one winner per distinct text: the minimal (id, start) occurrence.
    // Digest-keyed groupBy — 16 bytes per row shuffles, never the text.
    val winners = segs
      .groupBy(col("_d"))
      .agg(min(packedWinner).as("_w"))
    // build on the narrow winners frame; text-bearing rows stream
    val flagged = segs.join(winners.hint("shuffle_hash"), "_d")
      .withColumn("_keep", col("_w") === packedWinner)
    rebuild(docs, idCol, flagged)
  }

  /** Shared rebuild of the segment faces: flagged (_id, seg_start,
    * seg_text, _keep) rows re-join into (id, clean_text, n_segs,
    * n_kept) with every id of `docs` present. */
  private def rebuild(docs: DataFrame, idCol: String,
      flagged: DataFrame): DataFrame = {
    val rebuilt = flagged.groupBy(col("_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_keep"), struct(col("seg_start"), col("seg_text"))))),
            s => s.getField("seg_text")), " ").as("clean_text"))
    // rebuilt is CORPUS-SCALED (one row per doc, carrying clean_text):
    // the sf0.01 plan capture showed Catalyst auto-broadcasting it —
    // the d46/d47 driver-kill mode, latent until a larger SF. Pin a
    // distributed build.
    docs.select(col(idCol).as("_id"))
      .join(rebuilt.hint("shuffle_hash"), Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The boundary divisor [[segmentIndex]] stamps on `_d`. */
  private val DivisorStamp = IndexStamp("segment index", "_d", "divisor",
    "CdcDedup.segmentIndex or CdcDedup.foldingSegmentIndex",
    "divisor" -> "graft.cdc.divisor")

  /** Immutable reference index for the bipartite segment scrub: the
    * DISTINCT md5 digests of the reference corpus' content-defined
    * segments, with the boundary divisor stamped into the column
    * metadata so a probe built at a different divisor fails fast
    * instead of silently missing every segment (the EdJoin k-stamp /
    * scrubIndex L-stamp discipline — a mis-parameterized index
    * produces DIFFERENT segment boundaries, zero digest overlap, and
    * no error). One 16-byte digest per distinct segment text: a
    * boilerplate segment occurring millions of times costs the index
    * one row. */
  def segmentIndex(reference: DataFrame, idCol: String, textCol: String,
      divisor: Int): DataFrame = {
    segments(reference, idCol, textCol, divisor)
      .select(md5(col("seg_text")).as("_d"))
      .distinct()
      .select(DivisorStamp.stamp(col("_d"), divisor))
  }

  /** Bipartite segment scrub — the segment-granularity face of the
    * d47 corpus scrub: every content-defined segment of an arrival
    * whose text exists ANYWHERE in the reference corpus is dropped;
    * arrival-to-arrival sharing is untouched (that is [[segmentDedup]]'s
    * keep-first job on the arrival set itself). Output
    * `(id, clean_text, n_segs, n_kept)` for every arrival.
    * [[scrubSegmentsByTiers]] over the one tier `index`. Run per
    * micro-batch inside
    * [[graft.streaming.EventStreams.toForeachBatchSink]] it is
    * segment-scrub-on-ingest against a reference index pinned
    * repartitioned by `_d` (`CdcStreamSpec`).
    */
  def scrubSegments(arrivals: DataFrame, idCol: String, textCol: String,
      index: DataFrame, divisor: Int): DataFrame = {
    DivisorStamp.require(index, divisor)
    scrubSegmentsByTiers(arrivals, idCol, textCol, Seq(index), divisor)
  }

  /** The one segment-scrub probe, against a digest set given as its
    * tiers: the batch face ([[scrubSegments]]) passes one,
    * [[segmentIngestStream]] the folding index's current tiers. Each
    * tier is semi-joined by the batch's distinct digests separately,
    * with the batch digests as the shuffled-hash build: a
    * corpus-scaled digest set is never hash-built nor broadcast (the
    * d47 plan-audit catch — Catalyst underestimates aggregate output
    * and plans a driver-killing BroadcastExchange at larger SFs), a
    * pinned `_d`-partitioned base streams through its own partitioning
    * (joining the union relation would re-exchange it every
    * micro-batch), and only the batch side exchanges. The unioned hit
    * digests, made distinct, drive one keep/rebuild: "digest present
    * in base ∪ deltas" ≡ "present in any tier", and a digest found in
    * two tiers still flags each segment once, so `n_segs` stays exact.
    */
  private def scrubSegmentsByTiers(arrivals: DataFrame, idCol: String,
      textCol: String, tiers: Seq[DataFrame], divisor: Int): DataFrame = {
    // read by every tier's semi-join and by the rebuild: pinned when
    // several tiers would each re-segment the batch
    val segs = IngestLoop.pinForTiers(segments(arrivals, idCol, textCol,
      divisor).withColumn("_d", md5(col("seg_text"))), tiers)
    val segD = segs.select(col("_d")).distinct()
    val hitD = tiers.map(t => t.select(col("_d"))
        .join(segD.hint("shuffle_hash"), Seq("_d"), "left_semi"))
      .reduce(_ unionByName _)
      .distinct()
    val flagged = segs
      .join(hitD.hint("shuffle_hash").withColumn("_hit", lit(1)),
        Seq("_d"), "left")
      .withColumn("_keep", col("_hit").isNull)
    rebuild(arrivals, idCol, flagged)
  }

  /** [[scrubSegments]] with INCREMENTAL INDEX MAINTENANCE
    * (VERDICT r14 Next #1, segment modality): each micro-batch is
    * scrubbed against the CURRENT folding index, the cleaned docs
    * emitted, and the non-empty CLEANED texts' segment digests folded
    * into the index the next batches scrub against — the reference
    * corpus grows with exactly the content that survived the door
    * (the spans removed were already indexed; re-admitting them would
    * be a no-op the anti-join dedup makes literal).
    *
    * The index is a DISTINCT digest set, so the folding index runs
    * with `dedupKeyCols = Seq("_d")` — a digest already present in a
    * lower tier never re-enters, keeping [[scrubSegments]]'s left-join
    * multiplicities (its `n_segs` count) exact. Probe-after-fold ≡
    * scrub-against-rebuilt-index on reference ∪ accepted-cleaned docs
    * (`FoldingIngestSpec`).
    *
    * The source is read more than once per batch
    * ([[scrubSegmentsByTiers]]'s segment pass + rebuild pass):
    * [[IngestLoop]]'s source contract.
    */
  def segmentIngestStream(stream: DataFrame, idCol: String,
      textCol: String, index: FoldingIndex,
      divisor: Int, checkpoint: String)(
      sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    DivisorStamp.require(index.current, divisor)
    IngestLoop.transform(stream, idCol, textCol,
      checkpoint, sink, Seq(index)) { arrivals =>
      scrubSegmentsByTiers(arrivals, idCol, textCol, index.currentTiers,
        divisor)
    } { (batchId, accepted) => index.foldIn(batchId, accepted); () }
  }

  /** The [[FoldingIndex]] for the segment modality:
    * base = the reference corpus's distinct segment digests, builder =
    * [[segmentIndex]] on arrivals, `_d`-bucketed, digest-deduped
    * across tiers.
    */
  private def segmentTier(idCol: String, textCol: String, divisor: Int) =
    FoldingIndex.Tier(s"cdc-segments-d$divisor", Seq("_d"),
      df => segmentIndex(df, idCol, textCol, divisor),
      dedupKeyCols = Seq("_d"))

  def foldingSegmentIndex(reference: DataFrame, idCol: String,
      textCol: String, divisor: Int, numPartitions: Int,
      compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingIndex =
    FoldingIndex.creating(reference, numPartitions,
      compactEvery, durablePath)(
      Seq("" -> segmentTier(idCol, textCol, divisor))).head

  /** Resume a durable segment index in a fresh session
    * ([[FoldingIndex.Tier.recover]]; the divisor stamp
    * rides the parquet footer, so [[segmentIngestStream]]'s gate
    * passes on the recovered index).
    */
  def recoverSegmentIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, textCol: String,
      divisor: Int, numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingIndex =
    FoldingIndex.recovering(spark, durablePath,
      numPartitions, compactEvery, resetWatermark)(
      Seq("" -> segmentTier(idCol, textCol, divisor))).head

  /** Fixed-width overlapping chunks with provenance — the context-window
    * shaping step of a training pipeline: `(id, chunk_idx, start_word,
    * n_words, chunk_text)`, windows of `width` tokens every `stride`
    * tokens (overlap = width − stride). Purely narrow (explode + slice:
    * no shuffle, whole-stage codegen) — the plan a 100 TB chunking pass
    * needs. Empty documents produce one empty chunk 0, so every input
    * id appears in the output. */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      s"width=$width stride=$stride: expected 1 <= stride <= width")
    docs
      .select(col(idCol).as("_id"),
        TextFunctions.tokens(col(textCol)).as("_ts"))
      .select(col("_id"), col("_ts"),
        explode(sequence(lit(0), greatest(size(col("_ts")) - 1, lit(0)),
          lit(stride))).as("_start"))
      .select(
        col("_id").as(idCol),
        (col("_start") / stride).cast("long").as("chunk_idx"),
        col("_start").cast("long").as("start_word"),
        size(slice(col("_ts"), col("_start") + 1, lit(width))).cast("long")
          .as("n_words"),
        array_join(slice(col("_ts"), col("_start") + 1, lit(width)), " ")
          .as("chunk_text"))
  }
}
