package graft.operators

import graft.functions.TextFunctions
import graft.streaming.{EventStreams, FoldingIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Exact-substring decontamination (the d23 operator, extracted so the
  * batch query surface and the streaming probe share one
  * implementation): find eval/test documents appearing VERBATIM inside
  * train documents.
  *
  * Seed-and-extend with a hot-key bound: word-aligned containment
  * implies EVERY eval 8-gram occurs among the containing train doc's
  * 8-grams, so each eval doc probes its MINIMUM-document-frequency
  * gram — the join fan-out is bounded by the rarest posting list the
  * doc has, and a df=0 gram proves non-containment before the join.
  * Candidates are verified with one exact `contains()` on space-padded
  * text, so hash collisions (8-byte xxhash64 keys) can only ADD
  * candidates, never produce a false leak.
  *
  * Scale shape: the index is (train_id, h8) pairs + (id, text) for
  * verification — document bodies never ride the shingle explosion;
  * the probe side shuffles (eval_id, pos, h8) triples only. The index
  * is STATIC relative to the eval feed, which is what makes the
  * streaming form below a pure per-micro-batch join with no streaming
  * state at all.
  */
object Decontam {

  /** Static train-side artifacts: the shingle index, its per-gram
    * document frequencies, and the verification texts.
    */
  final case class Index(trainIdx: DataFrame, gramDf: DataFrame,
                         trainTexts: DataFrame)

  /** Build the train-side index from (idCol, textCol) rows. Pass
    * `cacheKey` to pin the exploded shingle index through
    * [[graft.FrameCache]] — required when the index outlives one query
    * (the streaming probe) or is read more than once (it always is:
    * the DF pass and the candidate join).
    */
  /** The (train_id, h8) gram-index rows for a train frame — the ONE
    * builder behind [[buildIndex]] and the fold-in path
    * ([[FoldingDecontamIndex]]), so batch and incremental indexes
    * cannot diverge. One compiled pass per row
    * ([[graft.functions.WordShingles.shingleHashes]]): the previous
    * staged-token HOF fold still re-read the token array through
    * seven interpreted zip_with levels and materialized every
    * ~50-byte shingle string just to hash and drop it; the kernel
    * tokenizes once and hashes each window's bytes in place —
    * bit-identical hashes (TextOpsSpec), so stored h8 indexes join
    * unchanged.
    */
  private[graft] def gramIndexRows(train: DataFrame, idCol: String,
      textCol: String): DataFrame = train
    .select(col(idCol).as("train_id"),
      explode(array_distinct(
        graft.functions.WordShingles.shingleHashes(col(textCol), 8)))
        .as("h8"))

  /** Per-gram document frequencies of gram-index rows. */
  private def gramDfRows(idxRows: DataFrame): DataFrame =
    idxRows.groupBy(col("h8")).agg(count(lit(1)).as("df"))

  def buildIndex(train: DataFrame, idCol: String, textCol: String,
                 cacheKey: Option[String] = None): Index = {
    def explodeIdx: DataFrame = gramIndexRows(train, idCol, textCol)
    val trainIdx = cacheKey match {
      case Some(key) =>
        graft.FrameCache.cached(train.sparkSession, key)(explodeIdx)
      case None => explodeIdx
    }
    Index(trainIdx, gramDfRows(trainIdx),
      train.select(col(idCol).as("train_id"),
        col(textCol).as("train_text")))
  }

  /** Verified (eval_id, train_id) leak pairs for a (bounded) frame of
    * eval docs against a static index. Works identically on a
    * micro-batch inside [[probeStream]].
    *
    * CONTRACT: eval docs with fewer than 8 tokens are NOT probed (they
    * have no 8-gram to seed from) and are never reported, even if
    * verbatim inside a train doc. The bound is what makes the fan-out
    * finite — a shorter seed would hit boilerplate posting lists, and
    * no seed at all would mean `contains()` against every train doc, a
    * full corpus scan per short eval. Route shorter texts through
    * [[probeShort]] (a broadcast direct check), or use [[probeAll]]
    * for the union.
    *
    * Kept apart from [[probeTiered]]: this oracle-checked batch face
    * merge-pins its train join pre-emptively, while the tiered probe
    * hash-builds on the batch side.
    */
  def probe(index: Index, evalDocs: DataFrame, idCol: String,
            textCol: String): DataFrame = {
    // same kernel as the index side; a sub-8-token doc produces an
    // empty hash array, so the old size(ts) >= 8 gate is the
    // posexplode's own no-rows case
    val evalGrams = evalDocs
      .select(col(idCol).as("eval_id"),
        posexplode(array_distinct(
          graft.functions.WordShingles.shingleHashes(col(textCol), 8))))
      .toDF("eval_id", "pos", "h8")
    val probes = evalGrams.join(index.gramDf, Seq("h8"), "left")
      .groupBy(col("eval_id"))
      .agg(min(struct(coalesce(col("df"), lit(0L)).as("df"),
        col("pos").as("pos"), col("h8").as("h8"))).as("best"))
      .filter(col("best.df") > 0)
      .select(col("eval_id"), col("best.h8").as("h8"))
    // trainIdx is one row per distinct train gram — corpus-scaled and
    // explode-derived, so its Catalyst estimate inherits the compressed
    // text scan's bytes (the d41 kill class: a mid-scale window where
    // the estimate sits under the auto-broadcast line while the true
    // frame is gigabytes through the driver). Pinned sort-merge rather
    // than left to AQE — taken pre-emptively per the r12 adjudication
    // ("if a fifth-decade read shows a d51 stage step, pin probe's
    // trainIdx join"), because at any SF where the broadcast would be
    // correct the join is cheap anyway, and at every SF where it
    // matters the merge shape is the only survivable one.
    val cands = probes.join(index.trainIdx.hint("merge"), Seq("h8"))
      .select(col("eval_id"), col("train_id"))
      .distinct()
    cands
      .join(evalDocs.select(col(idCol).as("eval_id"),
        col(textCol).as("eval_text")), Seq("eval_id"))
      .join(index.trainTexts, Seq("train_id"))
      .filter(contains(
        concat(lit(" "), col("train_text"), lit(" ")),
        concat(lit(" "), col("eval_text"), lit(" "))))
      .select(col("eval_id"), col("train_id"))
  }

  /** Direct verification for eval docs BELOW [[probe]]'s 8-token bound:
    * the short eval texts BROADCAST against one pass over the train
    * texts, with the same space-padded word-aligned `contains()`
    * predicate probe's verification uses. No seed gram exists for
    * these docs, so the honest plan is a broadcast nested-loop — one
    * corpus scan total, with per-row cost proportional to the
    * (broadcast-sized, by definition tiny-string) short-eval set; what
    * must NOT happen at 100 TB is a scan per short eval, and this
    * shape never does that. Empty/whitespace-only eval docs match
    * nothing and are excluded. Returns (eval_id, train_id).
    */
  def probeShort(index: Index, evalDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val nTok = size(TextFunctions.tokens(col(textCol)))
    val shorts = evalDocs
      .filter(nTok >= 1 && nTok < 8)
      .select(col(idCol).as("eval_id"), col(textCol).as("eval_text"))
    index.trainTexts
      .join(broadcast(shorts),
        contains(
          concat(lit(" "), col("train_text"), lit(" ")),
          concat(lit(" "), col("eval_text"), lit(" "))))
      .select(col("eval_id"), col("train_id"))
  }

  /** Complete containment screen regardless of eval length: [[probe]]
    * for ≥ 8-token docs (min-DF-seeded, index-bounded) unioned with
    * [[probeShort]] for the rest (broadcast direct check).
    */
  def probeAll(index: Index, evalDocs: DataFrame, idCol: String,
               textCol: String): DataFrame =
    probe(index, evalDocs, idCol, textCol)
      .unionByName(probeShort(index, evalDocs, idCol, textCol))

  /** Streaming decontamination: probe an UNBOUNDED eval-document stream
    * against the static train index, one `foreachBatch` at a time. Late
    * or out-of-order eval docs need no special handling — the probe is
    * stateless per batch (the index is the only cross-batch artifact),
    * so every doc is probed whenever it arrives. Short eval docs follow
    * [[probe]]'s ≥ 8-token contract.
    *
    * DELIVERY SEMANTICS: foreachBatch is AT-LEAST-ONCE, not exactly
    * once. A batch whose sink ran but whose commit-log entry was not
    * yet written (a crash in that window) is RE-DELIVERED on restart
    * with the SAME `batchId` — so `sink` must be idempotent keyed on
    * `batchId`: delete-then-insert (or upsert) on
    * (batchId, eval_id, train_id), never a blind append. With such a
    * sink the restart replays only uncommitted batches and the landed
    * output is exactly-once-equivalent — the contract
    * DecontamStreamSpec's crash-redelivery test verifies.
    */
  def probeStream(evalStream: DataFrame, index: Index, idCol: String,
                  textCol: String, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    EventStreams.toForeachBatchSink(evalStream, checkpoint) {
      (batch, batchId) => sink(probe(index, batch, idCol, textCol), batchId)
    }

  /** INCREMENTAL TRAIN-SIDE growth for the decontam index (VERDICT
    * r14 Next #1, k=8-gram modality). Decontam's arrival direction is
    * inverted relative to the dedup probes — EVAL docs arrive, the
    * TRAIN index is the corpus — so fold-in here means growing the
    * train set: newly accepted TRAINING documents fold into all three
    * tiers ((train_id, h8) grams via the shared [[gramIndexRows]]
    * builder, per-tier gram document frequencies, verification texts)
    * and every subsequent eval batch probes the grown index.
    *
    * df semantics under tiering: the probe's min-DF seed selection
    * reads PER-TIER dfs (one gramDf row per tier holding the gram), so
    * between compactions it may seed on a gram whose tier-min df
    * understates the global posting list — a fan-out HEURISTIC only,
    * never correctness (the candidate join always runs against the
    * full tiered trainIdx, and `contains()` verification is exact;
    * a df=0 non-containment proof still requires absence from EVERY
    * tier). Compaction re-aggregates dfs to global counts
    * (`sum(df)` compactor), restoring the exact hot-key bound.
    */
  final case class FoldingDecontamIndex(
      trainIdx: FoldingIndex,
      gramDf: FoldingIndex,
      trainTexts: FoldingIndex,
      idCol: String, textCol: String) {

    /** The three tiers as a probe-ready [[Index]] — [[probe]] /
      * [[probeAll]] / [[probeStream]] run on it UNCHANGED. */
    def index: Index = Index(trainIdx.current, gramDf.current,
      trainTexts.current)

    /** Fold new train docs into all three tiers under one batchId
      * (idempotent: a redelivered id skips all three or none — the
      * tiers share the monotonic-id contract). Returns gram rows
      * appended. */
    def foldIn(batchId: Long, newTrain: DataFrame): Long = {
      val rows = gramIndexRows(newTrain, idCol, textCol)
        .localCheckpoint(true)
      // each tier enforces the batchId skip itself, so a redelivery
      // is a no-op on all three without cross-tier coordination;
      // the gram tier folds the pinned frame directly (the r16 Next #2
      // discipline — no second batch-scale materialization)
      val n = trainIdx.foldInPinned(batchId, rows)
      gramDf.foldInRows(batchId, gramDfRows(rows))
      trainTexts.foldIn(batchId, newTrain)
      n
    }

    def compact(): Unit = {
      trainIdx.compact(); gramDf.compact(); trainTexts.compact()
    }
  }

  /** The [[FoldingDecontamIndex]] tiers, declared once: the same
    * builders as [[buildIndex]], each tier bucketed on its probe join
    * key; the df tier re-sums per-tier partial counts at compaction.
    */
  private def decontamTiers(idCol: String, textCol: String,
      open: FoldingIndex.Open): FoldingDecontamIndex = {
    val Seq(trainIdx, gramDf, trainTexts) = open(Seq(
      "idx" -> FoldingIndex.Tier("decontam-idx", Seq("h8"),
        df => gramIndexRows(df, idCol, textCol)),
      "df" -> FoldingIndex.Tier("decontam-df", Seq("h8"),
        df => gramDfRows(gramIndexRows(df, idCol, textCol)),
        compactor = Some(df => df.groupBy(col("h8"))
          .agg(sum(col("df")).as("df")))),
      "texts" -> FoldingIndex.Tier("decontam-texts", Seq("train_id"),
        df => df.select(col(idCol).as("train_id"),
          col(textCol).as("train_text")))))
    FoldingDecontamIndex(trainIdx, gramDf, trainTexts, idCol, textCol)
  }

  /** Build the [[FoldingDecontamIndex]] from the initial train corpus. */
  def foldingIndex(train: DataFrame, idCol: String, textCol: String,
      numPartitions: Int, compactEvery: Int = 16,
      durablePath: Option[String] = None): FoldingDecontamIndex =
    decontamTiers(idCol, textCol, FoldingIndex.creating(train,
      numPartitions, compactEvery, durablePath))

  /** Resume a durable [[FoldingDecontamIndex]] in a fresh session —
    * all three tiers (gram index, per-tier dfs with their sum
    * compactor, verification texts); `FoldingRestartSpec` pins it.
    */
  def recoverFoldingIndex(spark: org.apache.spark.sql.SparkSession,
      durablePath: String, idCol: String, textCol: String,
      numPartitions: Int, compactEvery: Int = 16,
      resetWatermark: Boolean = false): FoldingDecontamIndex =
    decontamTiers(idCol, textCol, FoldingIndex.recovering(spark,
      durablePath, numPartitions, compactEvery, resetWatermark))

  /** [[probe]] over TIER SNAPSHOTS instead of the union relations —
    * the per-tier read path every other folding modality already has
    * (r19; the last surviving instance of the r15 defect class). The
    * union-based [[FoldingDecontamIndex.index]] face put the
    * corpus-scale trainIdx and gramDf bases under a `Union`, which
    * reports no output partitioning — so EVERY eval micro-batch
    * re-exchanged (and, under the merge-pinned candidate join,
    * re-SORTED) the whole train index. Here each corpus tier streams
    * through its Pinned.byKey partitioning with the batch side as the
    * hash build (the shape the minhash/edit/winnow probes use; the
    * r12 d41 adjudication forbids BROADCASTING a mis-estimated corpus
    * frame, which a batch-side shuffle-hash build never does).
    *
    * Semantics are [[probe]]'s, exactly:
    *  - matched seed rows: per-tier inner df joins union to the inner
    *    part of probe's left join (joins distribute over union,
    *    per-tier df rows included — the documented tier-min heuristic);
    *  - the df=0 non-containment proof: a gram in NO tier — recovered
    *    with the dedupAgainstTiers shape (per-tier LEFT SEMI with the
    *    batch keys as build, one batch-scale anti join) instead of the
    *    left join's null rows;
    *  - candidate join and text verification: per-tier inner joins,
    *    unioned. `FoldingIngestSpec` pins result equality against
    *    [[probe]] on the union face at every fold stage.
    */
  private[graft] def probeTiered(idxTiers: Seq[DataFrame],
      dfTiers: Seq[DataFrame], textTiers: Seq[DataFrame],
      evalDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // pinned: the gram explosion feeds the per-tier df joins, the
    // present/absent split, and the seed rows — without the checkpoint
    // each branch re-runs the shingle kernel
    val evalGrams = evalDocs
      .select(col(idCol).as("eval_id"),
        posexplode(array_distinct(
          graft.functions.WordShingles.shingleHashes(col(textCol), 8))))
      .toDF("eval_id", "pos", "h8")
      .localCheckpoint(true)
    val dfRows = dfTiers.map(t =>
        t.join(evalGrams.hint("shuffle_hash"), Seq("h8")))
      .reduce(_ unionByName _)
      .select(col("eval_id"), col("pos"), col("h8"), col("df"))
    val gramKeys = evalGrams.select(col("h8")).distinct()
    val present = dfTiers.map(t => t.select(col("h8"))
        .join(gramKeys.hint("shuffle_hash"), Seq("h8"), "left_semi"))
      .reduce(_ unionByName _)
      .distinct()
    val zeroRows = evalGrams
      .join(present.hint("shuffle_hash"), Seq("h8"), "left_anti")
      .select(col("eval_id"), col("pos"), col("h8"), lit(0L).as("df"))
    val probes = dfRows.unionByName(zeroRows)
      .groupBy(col("eval_id"))
      .agg(min(struct(col("df"), col("pos"), col("h8"))).as("best"))
      .filter(col("best.df") > 0)
      .select(col("eval_id"), col("best.h8").as("h8"))
    val cands = idxTiers.map(t =>
        t.join(probes.hint("shuffle_hash"), Seq("h8")))
      .reduce(_ unionByName _)
      .select(col("eval_id"), col("train_id"))
      .distinct()
    val withEval = cands.join(
      evalDocs.select(col(idCol).as("eval_id"),
        col(textCol).as("eval_text")).hint("shuffle_hash"),
      Seq("eval_id"))
    textTiers.map(t => t.join(withEval.hint("shuffle_hash"),
        Seq("train_id")))
      .reduce(_ unionByName _)
      .filter(contains(
        concat(lit(" "), col("train_text"), lit(" ")),
        concat(lit(" "), col("eval_text"), lit(" "))))
      .select(col("eval_id"), col("train_id"))
  }

  /** [[probeTiered]] over a [[FoldingDecontamIndex]]'s live snapshot. */
  private[graft] def probeTiered(findex: FoldingDecontamIndex,
      evalDocs: DataFrame, idCol: String, textCol: String): DataFrame =
    probeTiered(findex.trainIdx.currentTiers, findex.gramDf.currentTiers,
      findex.trainTexts.currentTiers, evalDocs, idCol, textCol)

  /** [[probeStream]] against a GROWING train index: the folding
    * index's current tiers are resolved per micro-batch, so train docs
    * folded between batches are probe-visible to every later batch.
    * The fold-in itself is the caller's move ([[FoldingDecontamIndex
    * .foldIn]] as train arrivals are accepted); this stream only reads.
    * r19: probes via [[probeTiered]] — the union face re-exchanged the
    * corpus-scale train tiers on every micro-batch.
    */
  def probeFoldingStream(evalStream: DataFrame,
      findex: FoldingDecontamIndex, idCol: String, textCol: String,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    EventStreams.toForeachBatchSink(evalStream, checkpoint) {
      (batch, batchId) =>
        sink(probeTiered(findex, batch, idCol, textCol), batchId)
    }
}
