package graft

import graft.operators.Decontam
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming decontamination (VERDICT r5 stretch): an unbounded stream
  * of eval documents probed per micro-batch against a STATIC train
  * shingle index. Late-arriving eval docs are matched when they show
  * up — the probe is stateless per batch, so arrival order can't change
  * the verdicts. The stream is [[Decontam.probe]] run inside
  * `EventStreams.toForeachBatchSink`.
  */
class DecontamStreamSpec extends SparkSpec {
  import spark.implicits._

  private def probeStream(evalStream: DataFrame, index: Decontam.Index,
      checkpoint: String)(sink: (DataFrame, Long) => Unit) =
    EventStreams.toForeachBatchSink(evalStream, checkpoint)(
      (batch, batchId) =>
        sink(Decontam.probe(index, batch, "doc_id", "text"), batchId))

  private val trainDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "all work and no play makes jack a dull boy every single day " +
      "of the long cold winter"),
    (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt"))

  // 8+ tokens, verbatim inside train doc 1 / train doc 2 / nowhere
  private val leak1 = "quick brown fox jumps over the lazy dog"
  private val leak2 = "no play makes jack a dull boy every single day"
  private val clean = "completely novel eval text with eight plus tokens in it"

  test("stream probe matches leaks per batch, late arrivals included") {
    implicit val sqlCtx = spark.sqlContext
    val index = Decontam.buildIndex(
      trainDocs.toDF("doc_id", "text"), "doc_id", "text")

    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_decontam_ckpt").toString
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

    val query = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint) { (leaks, _) =>
      leaks.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      input.addData((100L, leak1), (101L, clean))
      query.processAllAvailable()
      assert(hits.toArray.toSet == Set((100L, 1L)))

      // a LATE eval doc arrives a batch later — still matched, and the
      // earlier batch's verdicts are not re-emitted (no streaming state)
      input.addData((102L, leak2), (103L, "short text"))
      query.processAllAvailable()
      assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
        Set((100L, 1L), (102L, 2L)))
    } finally query.stop()
  }

  test("checkpoint restart resumes without re-emitting processed batches") {
    implicit val sqlCtx = spark.sqlContext
    val index = Decontam.buildIndex(
      trainDocs.toDF("doc_id", "text"), "doc_id", "text")
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_decontam_restart").toString
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (leaks, _) => leaks.collect().foreach(r =>
        hits.add((r.getLong(0), r.getLong(1))))

    val input = MemoryStream[(Long, String)]
    val q1 = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint)(sink).start()
    try {
      input.addData((100L, leak1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
      Set((100L, 1L)))

    // restart from the SAME checkpoint: only the post-restart batch is
    // processed — batch 1's verdict must not be emitted again
    input.addData((102L, leak2))
    val q2 = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint)(sink).start()
    try {
      q2.processAllAvailable()
    } finally q2.stop()
    val all = hits.toArray(Array.empty[(Long, Long)]).toSeq
    assert(all.count(_ == (100L, 1L)) == 1,
      s"batch 1 verdict re-emitted after restart: $all")
    assert(all.toSet == Set((100L, 1L), (102L, 2L)))
  }

  test("probeShort screens sub-8-token eval docs; probeAll is complete") {
    val index = Decontam.buildIndex(
      trainDocs.toDF("doc_id", "text"), "doc_id", "text")
    val shortLeak = "makes jack a dull boy" // 5 tokens, inside train 2
    val shortClean = "zero overlap snippet" // 3 tokens, nowhere
    val evals = Seq((200L, shortLeak), (201L, shortClean),
      (202L, leak1), (203L, ""), (204L, "   "))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the documented contract: probe never reports short docs...
    assert(pairs(Decontam.probe(index, evals, "doc_id", "text")) ==
      Set((202L, 1L)))
    // ...probeShort reports exactly the short containments (word-
    // aligned; empty/whitespace docs match nothing)...
    assert(pairs(Decontam.probeShort(index, evals, "doc_id", "text")) ==
      Set((200L, 2L)))
    // ...and probeAll is the complete screen
    assert(pairs(Decontam.probeAll(index, evals, "doc_id", "text")) ==
      Set((200L, 2L), (202L, 1L)))
    // word alignment still holds on the short path: a substring that
    // splits a word is not a leak
    val midWord = Seq((300L, "ack a dull bo")).toDF("doc_id", "text")
    assert(pairs(Decontam.probeShort(index, midWord, "doc_id", "text"))
      .isEmpty)
  }

  test("crash between sink and commit re-delivers the batch with the " +
      "same batchId; a batchId-keyed sink stays exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val index = Decontam.buildIndex(
      trainDocs.toDF("doc_id", "text"), "doc_id", "text")
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_decontam_crash").toString

    // the at-least-once window: sink side effect lands, then the query
    // dies BEFORE the commit log records the batch (a real crash there
    // behaves identically — foreachBatch completion is what gates the
    // commit). The sink is the documented idempotent shape: an upsert
    // keyed on batchId, not a blind append.
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      Long, Set[(Long, Long)]]()
    val deliveries =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var crashOnce = true
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (leaks, batchId) => {
        val rows = leaks.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        deliveries.add(batchId)
        byBatch.put(batchId, rows) // upsert on batchId = idempotent
        if (crashOnce) {
          crashOnce = false
          throw new RuntimeException("crash before checkpoint commit")
        }
      }

    val input = MemoryStream[(Long, String)]
    input.addData((100L, leak1), (102L, leak2))
    val q1 = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint)(sink).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!q1.isActive, "query must die with the sink")

    // restart from the same checkpoint: the uncommitted batch is
    // re-delivered — at-least-once — carrying the SAME batchId
    val q2 = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint)(sink).start()
    try q2.processAllAvailable() finally q2.stop()

    val ids = deliveries.toArray(Array.empty[java.lang.Long]).toSeq
    assert(ids.size >= 2, s"expected a re-delivery, saw $ids")
    assert(ids.distinct.size < ids.size,
      s"re-delivery must reuse the original batchId, saw $ids")
    // idempotent sink ⇒ landed output equals the batch-mode run exactly
    val landed = byBatch.values().toArray
      .flatMap(_.asInstanceOf[Set[(Long, Long)]]).toSet
    val batchRun = Decontam.probe(index,
      Seq((100L, leak1), (102L, leak2)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(landed == batchRun && landed == Set((100L, 1L), (102L, 2L)))
  }

  test("batch probe and stream probe agree on the same eval set") {
    implicit val sqlCtx = spark.sqlContext
    val index = Decontam.buildIndex(
      trainDocs.toDF("doc_id", "text"), "doc_id", "text")
    val evalDf = Seq((100L, leak1), (101L, clean), (102L, leak2))
      .toDF("doc_id", "text")

    val batchHits = Decontam.probe(index, evalDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_decontam_ckpt2").toString
    val streamHits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val query = probeStream(input.toDF().toDF("doc_id", "text"), index,
      checkpoint) { (leaks, _) =>
      leaks.collect().foreach(r =>
        streamHits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      input.addData((100L, leak1), (101L, clean), (102L, leak2))
      query.processAllAvailable()
      assert(streamHits.toArray(Array.empty[(Long, Long)]).toSet ==
        batchHits)
      assert(batchHits == Set((100L, 1L), (102L, 2L)))
    } finally query.stop()
  }
}
