package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one fold-in ingest loop behind every folding `*IngestStream` —
  * graft's counterpart of the reference's ingest-while-reading loop
  * (`import_fantoir.py:42-102`): probe each micro-batch against the
  * index, hand the verdict to the sink, and fold what was accepted into
  * the index the next batch probes. The loop owns the batch sequence;
  * a modality supplies only its own parts — its stamp gate (checked
  * before the loop starts), its batch signing, its per-tier probe and
  * its per-tier fold calls.
  *
  * Two shapes:
  *  - [[report]] (minhash, edit, repeat, semantic): the batch's hits
  *    are pinned once, sunk, and counted once; a batch with no hit
  *    folds whole, otherwise only its no-hit arrivals fold — duplicates
  *    are reported and not re-indexed.
  *  - [[transform]] (segment, scrub): the cleaned batch is pinned and
  *    sunk; its non-empty cleaned texts fold, and a batch that scrubbed
  *    to nothing only advances every tier's watermark.
  *
  * Every stream runs through [[EventStreams.toForeachBatchSink]], the
  * single `writeStream` site. Delivery is foreachBatch's at-least-once:
  * folds are idempotent on batchId ([[FoldingIndex]]), and the sink
  * must be idempotent keyed on batchId too.
  *
  * SOURCE CONTRACT (ADVICE r17): no stream checkpoints its arrivals up
  * front — the measured r17 win. A modality's probe and fold read the
  * micro-batch source lazily, column-pruned and page-cached, more than
  * once per batch, so the source must re-execute DETERMINISTICALLY
  * within a batch (file sources; Kafka inside its retention window).
  * Front a non-replayable source (a socket, a topic aging past
  * retention mid-batch) with a durable staging sink, or checkpoint
  * arrivals upstream.
  */
object IngestLoop {

  /** One report-modality micro-batch as its probe returns it: the hit
    * plan (its `new_id` column names the arrival hit) and the fold, which
    * the loop calls with None when the batch had no hit (fold it whole)
    * or with the batch's distinct hit `new_id`s (fold the rest — see
    * [[unhit]]).
    */
  final case class Probed(hits: DataFrame,
                          fold: (Long, Option[DataFrame]) => Unit)

  def report(stream: DataFrame, checkpoint: String,
      sink: (DataFrame, Long) => Unit)(
      probe: DataFrame => Probed): DataStreamWriter[Row] =
    EventStreams.toForeachBatchSink(stream, checkpoint) { (batch, batchId) =>
      val p = probe(batch)
      val hits = p.hits.localCheckpoint(true) // sink, count and accept read it
      sink(hits, batchId)
      // ONE count, a near-noop job over the pinned hits: a batch with no
      // hit needs no accept plan at all
      p.fold(batchId,
        if (hits.count() == 0L) None
        else Some(hits.select(col("new_id")).distinct()))
    }

  /** `plan` pinned when more than one of `tiers` joins it: every
    * tier's branch embeds the plan, so without the checkpoint each
    * re-executes it if exchange reuse fails to dedupe the subtrees;
    * with one tier (a pinned corpus, a fresh or just-compacted folding
    * index) the checkpoint is a pure extra materialization. Every
    * per-tier probe pins its shared subplans through this.
    */
  def pinForTiers(plan: DataFrame, tiers: Seq[DataFrame]): DataFrame =
    if (tiers.size > 1) plan.localCheckpoint(true) else plan

  /** `rows` without the arrivals [[report]] named in `hitIds`, matched
    * on `rows`' id column `idCol`. */
  def unhit(rows: DataFrame, idCol: String, hitIds: DataFrame): DataFrame =
    rows.join(hitIds.select(col("new_id").as(idCol)), Seq(idCol), "left_anti")

  /** @param clean (idCol, textCol) arrivals → (idCol, clean_text, …)
    * @param fold  folds the batch's non-empty cleaned texts, as
    *              (idCol, textCol) rows over the pinned cleaned frame
    * @param tiers every tier `fold` writes: a batch with nothing to fold
    *              advances each one's watermark
    */
  def transform(stream: DataFrame, idCol: String, textCol: String,
      checkpoint: String, sink: (DataFrame, Long) => Unit,
      tiers: Seq[FoldingIndex])(clean: DataFrame => DataFrame)(
      fold: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    EventStreams.toForeachBatchSink(stream, checkpoint) { (batch, batchId) =>
      // pinned: the sink, the empty check and the fold all read it
      val cleaned = clean(batch.select(col(idCol), col(textCol)))
        .localCheckpoint(true)
      sink(cleaned, batchId)
      val accepted = cleaned.filter(length(col("clean_text")) > 0)
        .select(col(idCol), col("clean_text").as(textCol))
      // a fully-covered batch — the self-replay steady state — must not
      // pay a builder plan, a delta checkpoint or a per-tier dedup
      if (accepted.isEmpty) tiers.foreach(_.foldInEmpty(batchId))
      else fold(batchId, accepted)
    }
}
