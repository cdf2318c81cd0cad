package graft

import graft.operators.IvfIndex
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Semantic decontam-on-ingest ([[IvfIndex.semanticHits]] inside
  * `EventStreams.toForeachBatchSink`): per-batch IVF-probed cosine
  * hits against a pinned corpus index —
  * exact for the probed-lists contract (equality with a brute-force
  * bipartite join restricted to probed cells), crash-redelivery safe
  * under an idempotent sink, and refusing an index built from a
  * different centroid family (the stamp discipline: a mismatched
  * family probes the wrong lists and silently misses neighbors).
  */
class SemanticStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def corpus = Tables.load(spark, dir, "embeddings")
  private lazy val centroids =
    IvfIndex.fit(corpus, "vec_id", "embedding", k = 8, iters = 3)
  private lazy val index = IvfIndex.buildSemanticIndex(
    corpus, "vec_id", "embedding", centroids)
    .repartition(4, col("centroid_id"))
    .persist()

  // the probe feed: a shifted-id copy of a corpus slice, so true
  // cosine-1.0 self-neighbors exist by construction
  private lazy val batchRows: Seq[(Long, Seq[Float])] = corpus
    .filter(col("vec_id") < 40)
    .select(col("vec_id"), col("embedding"))
    .collect()
    .map(r => (r.getLong(0) + 100000L,
      r.getSeq[Float](1).toSeq))
    .toSeq

  private val Tau = 0.8

  private def semanticStream(stream: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit) =
    EventStreams.toForeachBatchSink(stream, checkpoint)((batch, batchId) =>
      sink(IvfIndex.semanticHits(index, batch, "id", "emb", centroids,
        Tau, 2), batchId))

  test("hits equal the brute-force bipartite join over probed cells") {
    val batch = batchRows.toDF("id", "emb")
    val got = IvfIndex.semanticHits(index, batch, "id", "emb",
      centroids, Tau, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: every (query, corpus) pair whose corpus cell is among
    // the query's 2 nearest centroids and whose exact cosine >= tau
    val probed = IvfIndex.probes(batch, "id", "emb", centroids, 2)
      .select(col("query_id"), col("centroid_id"))
    val assigned = IvfIndex.assign(corpus, "vec_id", "embedding",
      centroids)
    val expected = probed.join(assigned, Seq("centroid_id"))
      .join(batch.select(col("id").as("query_id"),
        col("emb").as("qv2")), Seq("query_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot(
          transform(col("qv2"), x => x.cast("double")), col("v")) /
          (graft.functions.VectorFunctions.norm(
            transform(col("qv2"), x => x.cast("double"))) *
            graft.functions.VectorFunctions.norm(col("v"))))
      .filter(col("cos") >= Tau && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // and the fixture does real work: the shifted copies find their
    // originals at cosine 1.0
    assert(got.nonEmpty)
    assert(batchRows.forall { case (id, _) =>
      got.contains((id, id - 100000L)) })
  }

  test("stream emits the same hit set as the direct batch call") {
    implicit val sqlCtx = spark.sqlContext
    val expected = IvfIndex.semanticHits(index,
      batchRows.toDF("id", "emb"), "id", "emb", centroids, Tau, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[(Long, Seq[Float])]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_sem_ckpt").toString
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]()
    val query = semanticStream(input.toDF().toDF("id", "emb"),
      checkpoint) { (hits, _) =>
      hits.collect().foreach(r =>
        got.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      val (a, b) = batchRows.splitAt(batchRows.length / 2)
      input.addData(a: _*)
      query.processAllAvailable()
      input.addData(b: _*)
      query.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == expected)
    } finally query.stop()
  }

  test("crash between sink and commit re-delivers the same batchId") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_sem_crash_ckpt").toString
    // idempotent sink: per-batch overwrite keyed on batchId
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      Long, Set[(Long, Long)]]()
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(crashOnce: Boolean): Unit = {
      val q = semanticStream(input.toDF().toDF("id", "emb"),
        checkpoint) { (hits, batchId) =>
        val rows = hits.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        byBatch.put(batchId, rows) // overwrite = idempotent
        if (crashOnce && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash after sink")
      }.start()
      try q.processAllAvailable()
      catch { case _: Exception => () } finally q.stop()
    }
    input.addData(batchRows.take(10): _*)
    run(crashOnce = true) // sink ran, then the batch failed to commit
    assert(crashed.get)
    val afterCrash = byBatch.get(0L)
    run(crashOnce = false) // restart: batch 0 re-delivered, same id
    assert(byBatch.get(0L) == afterCrash,
      "re-delivered batch must land identically under the keyed sink")
    val expected = IvfIndex.semanticHits(index,
      batchRows.take(10).toDF("id", "emb"), "id", "emb", centroids,
      Tau, 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import scala.jdk.CollectionConverters._
    assert(byBatch.values.asScala.flatten.toSet == expected)
  }

  test("an index from a different centroid family is refused") {
    val other = IvfIndex.fit(
      corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      k = 8, iters = 2)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.semanticHits(index, batchRows.take(2).toDF("id", "emb"),
        "id", "emb", other, Tau, 2)
    }
    assert(e.getMessage.contains("centroid family"))
    // and an UNSTAMPED frame of the right shape is refused too
    val bare = index.select(
      col("centroid_id").cast("int").as("centroid_id"),
      col("corpus_id"), col("cv"), col("cnrm"))
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.semanticHits(bare, batchRows.take(2).toDF("id", "emb"),
        "id", "emb", centroids, Tau, 2)
    }
    assert(e2.getMessage.contains("no centroid stamp"))
  }
}
