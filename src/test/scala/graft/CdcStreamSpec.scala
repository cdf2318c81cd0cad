package graft

import graft.operators.CdcDedup
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Segment-scrub-on-ingest: a stream of new documents segmented per
  * micro-batch and scrubbed against a pinned reference segment index
  * ([[CdcDedup.scrubSegments]] inside `EventStreams.toForeachBatchSink`)
  * — cleaned docs agree with the batch scrub by shared code, a crash
  * re-delivers the same batchId (idempotent-sink discipline), and a
  * mis-parameterized index is refused by the face instead of silently
  * passing everything (a divisor
  * mismatch changes every boundary, so overlap would be zero and no
  * error would surface).
  */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private val D = 4
  private val P = 1000000007L
  private def fold(tok: String): Long =
    tok.codePoints.toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)

  // vocabulary with known boundary behaviour under divisor 4, found by
  // search (see CdcDedupSpec) so multi-segment docs are guaranteed
  private val words = {
    val rg = new scala.util.Random(321)
    val pool = (1 to 400).map(_ => rg.alphanumeric.take(4).mkString
      .toLowerCase).distinct
    pool.filter(w => fold(w) % D == 0).take(4) ++
      pool.filter(w => fold(w) % D != 0).take(12)
  }
  private val refText =
    Seq(5, 0, 6, 7, 1, 8, 9, 2, 10, 11).map(words).mkString(" ")
  private val refRows = Seq(
    (1L, refText),
    (2L, Seq(12, 3, 13).map(words).mkString(" ")))
  private def index = CdcDedup.segmentIndex(
    refRows.toDF("id", "text"), "id", "text", D)

  private def segmentStream(stream: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit) =
    EventStreams.toForeachBatchSink(stream, checkpoint)((batch, batchId) =>
      sink(CdcDedup.scrubSegments(batch, "id", "text", index, D), batchId))

  private val arrivals = Seq(
    (100L, refText), // exact copy: every segment known
    (101L, Seq(14, 15).map(words).mkString(" ")), // fresh: untouched
    (102L, words(14) + " " + refText)) // prefix insert: interior shed

  test("stream scrub emits cleaned docs agreeing with the batch scrub") {
    implicit val sqlCtx = spark.sqlContext
    val expected = CdcDedup.scrubSegments(
      arrivals.toDF("id", "text"), "id", "text", index, D)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    // the fixture does real work: the copy is fully scrubbed, the
    // fresh arrival untouched, the shifted one loses interior segments
    assert(expected(100L)._1.isEmpty && expected(100L)._3 == 0L)
    assert(expected(101L)._1 == arrivals(1)._2)
    assert(expected(102L)._3 < expected(102L)._2)

    val input = MemoryStream[(Long, String)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_cdc_ckpt").toString
    val got = new java.util.concurrent.ConcurrentHashMap[
      Long, (String, Long, Long)]()
    val query = segmentStream(input.toDF().toDF("id", "text"),
      checkpoint) { (cleaned, _) =>
      cleaned.collect().foreach(r =>
        got.put(r.getLong(0), (r.getString(1), r.getLong(2),
          r.getLong(3))))
    }.start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      assert(got.size == 3)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toMap === expected)
    } finally query.stop()
  }

  test("crash between sink and commit re-delivers the same batchId") {
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_cdc_crash").toString
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      Long, Map[Long, String]]()
    val deliveries =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var crashOnce = true
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (cleaned, batchId) => {
        val rows = cleaned.collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        deliveries.add(batchId)
        byBatch.put(batchId, rows) // upsert on batchId = idempotent
        if (crashOnce) {
          crashOnce = false
          throw new RuntimeException("crash before checkpoint commit")
        }
      }
    val input = MemoryStream[(Long, String)]
    input.addData(arrivals.take(2): _*)
    def start() =
      segmentStream(input.toDF().toDF("id", "text"), checkpoint)(sink).start()
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
    import scala.jdk.CollectionConverters._
    val landed = byBatch.asScala.values.flatten.toMap
    assert(landed(100L).isEmpty && landed(101L) == arrivals(1)._2)
  }

  test("a mis-parameterized or unstamped index is refused") {
    val arr = arrivals.toDF("id", "text")
    val wrongD = intercept[IllegalArgumentException] {
      CdcDedup.scrubSegments(arr, "id", "text", index, D * 2)
    }
    assert(wrongD.getMessage.contains("divisor"))
    val stripped = index.select(col("_d").as("_d",
      org.apache.spark.sql.types.Metadata.empty)) // drops the stamp
    val noStamp = intercept[IllegalArgumentException] {
      CdcDedup.scrubSegments(arr, "id", "text", stripped, D)
    }
    assert(noStamp.getMessage.contains("stamp"))
  }
}
