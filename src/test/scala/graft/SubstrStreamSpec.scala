package graft

import graft.operators.SubstrDedup
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Verbatim-run dedup-on-ingest: a stream of new documents probed per
  * micro-batch against a static winnowed fingerprint index — arrivals
  * sharing a ≥ minLen run with the corpus are flagged, clean arrivals
  * pass silently, verdicts agree with the batch [[SubstrDedup
  * .longRepeatPairs]] miner, and a mis-parameterized index is refused
  * by the batch face instead of silently missing pairs. A pinned
  * stream is the face ([[SubstrDedup.repeatCorpusHits]],
  * [[SubstrDedup.scrubAgainstIndex]]) run inside
  * `EventStreams.toForeachBatchSink`.
  */
class SubstrStreamSpec extends SparkSpec {
  import spark.implicits._

  private val minLen = 30
  private val w = 8
  private val boiler =
    "ALL RIGHTS RESERVED (C) 2026 GRAFT CO" // 37 >= minLen
  private val corpusRows = Seq(
    (1L, "preamble text then " + boiler + " and a tail"),
    (2L, "a fully unrelated document about nothing on earth"),
    (3L, "x" * 40 + boiler))

  private def index = SubstrDedup.fingerprints(
    corpusRows.toDF("id", "text"), "id", "text", minLen, w)

  private def perBatch(stream: DataFrame, checkpoint: String)(
      face: DataFrame => DataFrame)(sink: (DataFrame, Long) => Unit) =
    EventStreams.toForeachBatchSink(stream, checkpoint)((batch, batchId) =>
      sink(face(batch), batchId))

  private def repeatStream(stream: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit) =
    perBatch(stream, checkpoint)(SubstrDedup.repeatCorpusHits(_, "id",
      "text", index, corpusRows.toDF("id", "text"), minLen, w))(sink)

  test("stream probe flags arrivals sharing a >= minLen run") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_sub_ckpt").toString
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long)]()
    val query = repeatStream(input.toDF().toDF("id", "text"), checkpoint) {
      (batchHits, _) =>
        batchHits.collect().foreach(r =>
          hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      // 100: embeds the boiler block (hits corpus 1 AND 3); 101: exact
      // dup of corpus 2; 102: shares only a minLen-1 prefix of the
      // boiler (clean); 103: shorter than minLen (clean by length)
      input.addData(
        (100L, "totally new intro " + boiler + " new outro"),
        (101L, corpusRows(1)._2),
        (102L, "zz-" + boiler.take(minLen - 1) + "#### unshared tail"),
        (103L, boiler.take(minLen - 1)))
      query.processAllAvailable()
      assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
        Set((100L, 1L), (100L, 3L), (101L, 2L)))

      // a second batch: arrival matching a corpus doc via the x-run
      input.addData((104L, "y" * 5 + "x" * (minLen + 3)))
      query.processAllAvailable()
      assert(hits.toArray(Array.empty[(Long, Long)]).toSet ==
        Set((100L, 1L), (100L, 3L), (101L, 2L), (104L, 3L)))
    } finally query.stop()
  }

  test("crash between sink and commit re-delivers the same batchId; " +
      "a batchId-keyed sink stays exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_sub_crash").toString
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
    input.addData(
      (100L, "totally new intro " + boiler + " new outro"),
      (102L, "a clean arrival sharing nothing with anyone at all"))
    def start() =
      repeatStream(input.toDF().toDF("id", "text"), checkpoint)(sink).start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!q1.isActive, "query must die with the sink")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = deliveries.toArray(Array.empty[java.lang.Long]).toSeq
    assert(ids.size >= 2, s"expected a re-delivery, saw $ids")
    assert(ids.distinct.size < ids.size,
      s"re-delivery must reuse the original batchId, saw $ids")
    val landed = byBatch.values().toArray
      .flatMap(_.asInstanceOf[Set[(Long, Long)]]).toSet
    assert(landed == Set((100L, 1L), (100L, 3L)),
      s"idempotent sink must land the exactly-once result, got $landed")
  }

  test("streaming verdicts agree with the batch miner") {
    val streamed = Seq(
      (100L, "totally new intro " + boiler + " new outro"),
      (102L, "zz-" + boiler.take(minLen - 1) + "#### unshared tail"))
    val all = (corpusRows ++ streamed).toDF("id", "text")
    val batchPairs = SubstrDedup
      .longRepeatPairs(all, "id", "text", minLen, w)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs.contains((1L, 100L)))
    assert(batchPairs.contains((3L, 100L)))
    assert(!batchPairs.exists(p => p._1 == 102L || p._2 == 102L))
  }

  test("scrub-on-ingest emits cleaned docs agreeing with the batch scrub") {
    implicit val sqlCtx = spark.sqlContext
    val refDf = corpusRows.toDF("id", "text")
    val refIdx = SubstrDedup.scrubIndex(refDf, "id", "text", minLen)
    val arrivals = Seq(
      (100L, "fresh intro " + boiler + " fresh outro"), // boiler shed
      (101L, "a document sharing nothing with the corpus here"),
      (102L, boiler)) // fully shed
    val expected = SubstrDedup.scrubAgainstCorpus(
      arrivals.toDF("id", "text"), refDf, "id", "text", minLen)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_scrub_ckpt").toString
    val got = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val query = perBatch(input.toDF().toDF("id", "text"), checkpoint)(
      SubstrDedup.scrubAgainstIndex(_, "id", "text", refIdx, refDf,
        minLen)) { (cleaned, _) =>
      cleaned.collect().foreach(r => got.put(r.getLong(0), r.getString(1)))
    }.start()
    try {
      input.addData(arrivals.take(2): _*)
      query.processAllAvailable()
      input.addData(arrivals.drop(2): _*) // second batch
      query.processAllAvailable()
    } finally query.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toMap == expected)
    assert(got.get(102L) == "")
    assert(got.get(101L) == arrivals(1)._2, "clean arrival untouched")
  }

  test("a scrub index built at a different L is refused") {
    val refDf = corpusRows.toDF("id", "text")
    val other = SubstrDedup.scrubIndex(refDf, "id", "text", minLen + 1)
    intercept[IllegalArgumentException] {
      SubstrDedup.scrubAgainstIndex(refDf, "id", "text", other, refDf,
        minLen)
    }
    val stripped = SubstrDedup.scrubIndex(refDf, "id", "text", minLen)
      .select(col("_rid"), col("_rpos"),
        col("_gh").as("_gh", org.apache.spark.sql.types.Metadata.empty))
    intercept[IllegalArgumentException] {
      SubstrDedup.scrubAgainstIndex(refDf, "id", "text", stripped, refDf,
        minLen)
    }
  }

  test("a mis-parameterized or unstamped index is refused") {
    val docs = corpusRows.toDF("id", "text")
    val other = SubstrDedup.fingerprints(docs, "id", "text", minLen, w + 2)
    intercept[IllegalArgumentException] {
      SubstrDedup.repeatCorpusHits(docs, "id", "text", other, docs, minLen, w)
    }
    val stripped = index.select(col("_pos"), col("id"),
      col("_h").as("_h",
        org.apache.spark.sql.types.Metadata.empty)) // drops the stamp
    intercept[IllegalArgumentException] {
      SubstrDedup.repeatCorpusHits(docs, "id", "text", stripped, docs,
        minLen, w)
    }
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
