package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** CCNet-style unigram LM quality scoring, as an operator: fit token
  * counts once on a (leak-free) train corpus, score any batch or
  * stream of documents by add-one-smoothed mean negative
  * log-likelihood. One implementation — the d34 oracle query and the
  * streaming quality gate both run THROUGH this code, so batch and
  * stream scores cannot silently diverge.
  *
  * Scale shape: the LM table is vocabulary-sized — it joins on the
  * token (never broadcasts at corpus scale) and is pinned once
  * (`localCheckpoint`); the (n, v) totals are a one-row broadcast.
  * Scoring a batch costs one shuffle join + one per-doc aggregate.
  */
object LmScore {

  /** Fitted model: pinned (tok, c) counts + one-row (n, v) totals. */
  final case class Model(counts: DataFrame, totals: DataFrame)

  /** Fit on the train corpus (caller supplies the already-filtered
    * train split — e.g. the d15 content-hash bucket < 80).
    */
  def fitUnigram(trainDocs: DataFrame, textCol: String): Model = {
    val counts = trainDocs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = broadcast(counts.agg(
      sum(col("c")).as("n"), count(lit(1)).as("v")))
    Model(counts, totals)
  }

  /** Per-doc (idCol, n_tokens, nll): add-one-smoothed mean −ln p,
    * rounded to 6 (libm discipline — see a07). Docs with zero tokens
    * produce no row (no likelihood to take a mean of).
    */
  def score(model: Model, docs: DataFrame, idCol: String,
            textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .join(model.counts, Seq("tok"), "left")
      .crossJoin(model.totals)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        round(-avg(log(
          (coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
            (col("n") + col("v")).cast("double"))), 6).as("nll"))

  /** Quality gate on ingest: score an UNBOUNDED document stream
    * against the STATIC fitted model per micro-batch — the
    * incremental complement of [[score]] (gate a new crawl without
    * refitting). No streaming state: the model is the only
    * cross-batch artifact, so late documents score whenever they
    * arrive.
    *
    * DELIVERY SEMANTICS: foreachBatch is AT-LEAST-ONCE — a batch
    * whose sink ran but whose commit-log entry was not yet written is
    * RE-DELIVERED on restart with the SAME `batchId`, so `sink` must
    * be idempotent keyed on `batchId` (delete-then-insert / upsert on
    * (batchId, id)), never a blind append. Same contract as
    * Decontam.probeStream / Dedup.nearDupProbeStream.
    */
  def scoreStream(model: Model, docStream: DataFrame, idCol: String,
                  textCol: String, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    graft.streaming.EventStreams.toForeachBatchSink(docStream, checkpoint) {
      (batch, batchId) => sink(score(model, batch, idCol, textCol), batchId)
    }
}
