package graft

import graft.operators.Dedup
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Dedup-on-ingest: a stream of new documents probed per micro-batch
  * against a static corpus signature index ([[Dedup.nearDupCorpusHits]]
  * inside `EventStreams.toForeachBatchSink`) — near-dups of existing
  * corpus docs are flagged on arrival, clean docs pass silently, and
  * batch [[Dedup.minhashLshPairs]] agrees with the streaming verdicts.
  */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  /** The pinned probe stream: the batch face over each micro-batch. */
  private def probeStream(docs: DataFrame, sigs: DataFrame,
      checkpoint: String)(sink: (DataFrame, Long) => Unit) =
    EventStreams.toForeachBatchSink(docs, checkpoint)((batch, batchId) =>
      sink(Dedup.nearDupCorpusHits(batch, "doc_id", "text", sigs,
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5),
        batchId))

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat sleeps in the warm afternoon sun near the barn"
  private val corpusDocs = Seq(
    (1L, base),
    (2L, "completely different text about spark catalyst optimizer " +
      "rules and whole stage code generation pipelines"),
    (3L, "a third unrelated document mentioning streaming watermarks " +
      "and stateful aggregation semantics"))

  // one-word edit of doc 1 → high Jaccard; clean doc shares nothing
  private val nearDup = base.replace("afternoon", "evening")
  private val clean = "novel incoming content with no overlap " +
    "whatsoever against anything already stored in the corpus"

  test("stream probe flags near-dups of the static corpus on arrival") {
    implicit val sqlCtx = spark.sqlContext
    val sigs = Dedup.minhashSignatures(
      corpusDocs.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)

    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_dedup_ckpt").toString
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

    val query = probeStream(input.toDF().toDF("doc_id", "text"), sigs,
      checkpoint) { (batchHits, _) =>
      batchHits.collect().foreach(r =>
        hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      input.addData((100L, nearDup), (101L, clean))
      query.processAllAvailable()
      assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
        Set((100L, 1L)))

      // a late re-post of corpus doc 2's text arrives a batch later
      input.addData((102L, corpusDocs(1)._2))
      query.processAllAvailable()
      assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
        Set((100L, 1L), (102L, 2L)))
    } finally query.stop()
  }

  test("crash between sink and commit re-delivers the batch with the " +
      "same batchId; a batchId-keyed sink stays exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val sigs = Dedup.minhashSignatures(
      corpusDocs.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_dedup_crash").toString

    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      Long, Set[(Long, Long)]]()
    val deliveries =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var crashOnce = true
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (batchHits, batchId) => {
        val rows = batchHits.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        deliveries.add(batchId)
        byBatch.put(batchId, rows) // upsert on batchId = idempotent
        if (crashOnce) {
          crashOnce = false
          throw new RuntimeException("crash before checkpoint commit")
        }
      }

    val input = MemoryStream[(Long, String)]
    input.addData((100L, nearDup), (101L, clean))
    val q1 = probeStream(input.toDF().toDF("doc_id", "text"), sigs,
      checkpoint)(sink).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!q1.isActive, "query must die with the sink")

    val q2 = probeStream(input.toDF().toDF("doc_id", "text"), sigs,
      checkpoint)(sink).start()
    try q2.processAllAvailable() finally q2.stop()

    val ids = deliveries.toArray(Array.empty[java.lang.Long]).toSeq
    assert(ids.size >= 2, s"expected a re-delivery, saw $ids")
    assert(ids.distinct.size < ids.size,
      s"re-delivery must reuse the original batchId, saw $ids")
    val landed = byBatch.values().toArray
      .flatMap(_.asInstanceOf[Set[(Long, Long)]]).toSet
    assert(landed == Set((100L, 1L)),
      s"idempotent sink must land the exactly-once result, got $landed")
  }

  test("hit set is invariant to maxFilesPerTrigger — the throughput " +
      "knob batches the replay, it never changes what joins what") {
    // StreamBench defaults filesPerTrigger to 3 on the measured ~2×
    // throughput win; this pins the safety side of that default: the
    // same file-stream replay at trigger sizes 1 and 3 must produce
    // byte-identical hit sets, differing only in batch count.
    val sigs = Dedup.minhashSignatures(
      corpusDocs.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_trigger_inv").toString
    // six probe docs, one parquet file each (separate append jobs):
    // near-dups of corpus docs 1/2/3 plus three clean arrivals
    val probeDocs = Seq(
      (100L, nearDup), (101L, clean), (102L, corpusDocs(1)._2),
      (103L, base),
      (104L, "another clean arrival concerning entirely fresh topics " +
        "like parquet footers and vectorized readers in modern engines"),
      (105L, corpusDocs(2)._2))
    probeDocs.foreach { d =>
      Seq(d).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    def run(fpt: Int): (Set[(Long, Long)], Int) = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_trigger_inv_ckpt$fpt").toString
      val hits =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val stream = spark.readStream
        .schema(probeDocs.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", fpt)
        .parquet(dir)
      val q = probeStream(stream, sigs, ckpt) { (batchHits, _) =>
        batches.incrementAndGet()
        batchHits.collect().foreach(r =>
          hits.add((r.getLong(0), r.getLong(1))))
      }.start()
      try q.processAllAvailable() finally q.stop()
      (hits.toArray(Array.empty[(Long, Long)]).toSet, batches.get())
    }
    val (hits1, batches1) = run(1)
    val (hits3, batches3) = run(3)
    assert(hits1 == hits3,
      s"trigger size changed the hit set: $hits1 vs $hits3")
    assert(hits1 ==
      Set((100L, 1L), (102L, 2L), (103L, 1L), (105L, 3L)))
    assert(batches1 > batches3,
      s"trigger sizes must actually batch differently " +
        s"($batches1 vs $batches3 batches)")
  }

  test("streaming verdicts agree with the batch pair miner") {
    // union corpus + stream docs and run the batch LSH pass: every
    // (new, corpus) streaming hit must appear among the batch pairs
    val all = (corpusDocs ++ Seq((100L, nearDup), (101L, clean)))
      .toDF("doc_id", "text")
    val batchPairs = Dedup.minhashLshPairs(all, "doc_id", "text",
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.contains((1L, 100L)))
    assert(!batchPairs.exists { case (a, b) => a == 101L || b == 101L })
  }
}
