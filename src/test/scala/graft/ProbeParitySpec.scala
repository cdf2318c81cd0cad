package graft

import graft.operators.{CdcDedup, Dedup, IvfIndex, SubstrDedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import scala.jdk.CollectionConverters._

/** One probe per modality: for minhash, repeat, scrub, segment and
  * semantic, the pinned `*ProbeStream`, the batch face (where the
  * modality has one) and the fold-in `*IngestStream`'s FIRST batch —
  * probed before anything folds, so the folding index is exactly the
  * corpus — must give the same output on one corpus and one batch.
  * Report modalities compare hit sets; transform modalities compare
  * the cleaned rows one for one.
  */
class ProbeParitySpec extends SparkSpec {
  import spark.implicits._

  private type Stream = (DataFrame, String, (DataFrame, Long) => Unit) =>
    DataStreamWriter[Row]

  /** @param transform the probe emits one cleaned row per arrival
    *                  (compared row for row), not a hit set
    */
  private case class Modality(name: String, transform: Boolean,
      batch: () => DataFrame, pinned: Stream,
      face: Option[DataFrame => DataFrame], foldin: Stream)

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat sleeps in the warm afternoon sun near the old barn"
  private val licence = "permission is hereby granted free of charge " +
    "to any person obtaining a copy of this software and documentation"
  private lazy val corpus = Seq(
    (1L, base),
    (2L, "preface words before the licence " + licence + " then an end"),
    (3L, "completely different text about spark catalyst optimizer " +
      "rules and whole stage code generation pipelines")).toDF("id", "text")
  private lazy val texts = Seq(
    (100L, base.replace("afternoon", "evening")), // near-dup of 1
    (101L, "novel incoming content with no overlap whatsoever against " +
      "anything already stored in the corpus"),
    (102L, "an arrival that embeds " + licence + " inside its body"),
    (103L, corpus.collect()(2).getString(1))) // exact copy of 3
    .toDF("id", "text")

  private val Shingle = 3
  private val Bands = 16
  private val Rows = 4
  private lazy val sigs =
    Dedup.minhashSignatures(corpus, "id", "text", Shingle, Bands * Rows)

  private val MinLen = 30
  private val W = 8
  private val L = 20
  private val Divisor = 4

  private lazy val vectors = Seq(
    (1L, Seq(1.0, 0.05, 0.0)), (2L, Seq(0.0, 1.0, 0.1)),
    (3L, Seq(0.1, 0.0, 1.0)), (4L, Seq(0.7, 0.7, 0.0)))
    .toDF("id", "emb")
  private lazy val queries = Seq(
    (100L, Seq(0.98, 0.1, 0.0)), (101L, Seq(0.0, 0.0, -1.0)),
    (102L, Seq(0.6, 0.8, 0.05))).toDF("id", "emb")
  private lazy val centroids = Seq(
    (0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0))).toDF("centroid_id", "centroid")
  private val Tau = 0.8
  private val NProbe = 2
  private lazy val semanticIndex =
    IvfIndex.buildSemanticIndex(vectors, "id", "emb", centroids)

  private val modalities = Seq(
    Modality("minhash", transform = false, () => texts,
      (st, ck, sink) => Dedup.nearDupProbeStream(st, "id", "text", sigs,
        Shingle, Bands, Rows, 0.5, ck)(sink),
      None,
      (st, ck, sink) => Dedup.nearDupIngestStream(st, "id", "text",
        Dedup.foldingMinhashIndex(sigs, Bands, Rows, numPartitions = 4),
        Shingle, Bands, Rows, 0.5, ck)(sink)),
    Modality("repeat", transform = false, () => texts,
      (st, ck, sink) => SubstrDedup.repeatProbeStream(st, "id", "text",
        SubstrDedup.fingerprints(corpus, "id", "text", MinLen, W), corpus,
        MinLen, W, ck)(sink),
      None,
      (st, ck, sink) => SubstrDedup.repeatIngestStream(st, "id", "text",
        SubstrDedup.foldingRepeatIndex(corpus, "id", "text", MinLen, W,
          numPartitions = 4), MinLen, W, ck)(sink)),
    Modality("scrub", transform = true, () => texts,
      (st, ck, sink) => SubstrDedup.scrubProbeStream(st, "id", "text",
        SubstrDedup.scrubIndex(corpus, "id", "text", L), corpus, L,
        ck)(sink),
      Some(b => SubstrDedup.scrubAgainstCorpus(b, corpus, "id", "text", L)),
      (st, ck, sink) => SubstrDedup.scrubIngestStream(st, "id", "text",
        SubstrDedup.foldingScrubIndex(corpus, "id", "text", L,
          numPartitions = 4), L, ck)(sink)),
    Modality("segment", transform = true, () => texts,
      (st, ck, sink) => CdcDedup.segmentProbeStream(st, "id", "text",
        CdcDedup.segmentIndex(corpus, "id", "text", Divisor), Divisor,
        ck)(sink),
      Some(b => CdcDedup.scrubSegments(b, "id", "text",
        CdcDedup.segmentIndex(corpus, "id", "text", Divisor), Divisor)),
      (st, ck, sink) => CdcDedup.segmentIngestStream(st, "id", "text",
        CdcDedup.foldingSegmentIndex(corpus, "id", "text", Divisor,
          numPartitions = 4), Divisor, ck)(sink)),
    Modality("semantic", transform = false, () => queries,
      (st, ck, sink) => IvfIndex.semanticProbeStream(st, "id", "emb",
        semanticIndex, centroids, Tau, NProbe, ck)(sink),
      Some(b => IvfIndex.semanticHits(semanticIndex, b, "id", "emb",
        centroids, Tau, NProbe)),
      (st, ck, sink) => IvfIndex.semanticIngestStream(st, "id", "emb",
        IvfIndex.foldingSemanticIndex(vectors, "id", "emb", centroids,
          numPartitions = 4), centroids, Tau, NProbe, ck)(sink)))

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_parity_$tag").toString

  /** Every row `stream` sinks for `batch`, replayed as one micro-batch
    * from a parquet file source. */
  private def sunk(stream: Stream, batch: DataFrame, src: String,
      tag: String): Seq[Row] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = stream(spark.readStream.schema(batch.schema).parquet(src),
      tmp(tag), (out, _) => out.collect().foreach(rows.add)).start()
    try q.processAllAvailable() finally q.stop()
    rows.asScala.toSeq
  }

  for (m <- modalities) test(s"${m.name}: pinned stream ≡ batch face ≡ " +
      "fold-in stream's first batch") {
    val batch = m.batch()
    val src = tmp(s"${m.name}_src")
    batch.write.mode("overwrite").parquet(src)
    val outputs = Seq(
      "pinned" -> sunk(m.pinned, batch, src, s"${m.name}_pinned"),
      "fold-in" -> sunk(m.foldin, batch, src, s"${m.name}_foldin")) ++
      m.face.map(f => "batch face" -> f(batch).collect().toSeq)
    val (_, reference) = outputs.head
    if (m.transform) {
      // the fixture does real work: some arrival loses text
      val before = batch.collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
      assert(reference.size == before.size)
      assert(reference.exists(r => r.getString(1) != before(r.getLong(0))),
        s"${m.name}: nothing was scrubbed, the parity is vacuous")
      val byId = (rows: Seq[Row]) => rows.sortBy(_.getLong(0))
      for ((face, rows) <- outputs.tail)
        assert(byId(rows) == byId(reference),
          s"${m.name}: $face rows differ from the pinned stream's")
    } else {
      assert(reference.nonEmpty, s"${m.name}: no hit, the parity is vacuous")
      assert(reference.distinct.size == reference.size,
        s"${m.name}: the pinned stream repeats a hit: $reference")
      for ((face, rows) <- outputs.tail) {
        assert(rows.distinct.size == rows.size,
          s"${m.name}: the $face repeats a hit: $rows")
        assert(rows.toSet == reference.toSet,
          s"${m.name}: $face hits ${rows.toSet} ≠ pinned ${reference.toSet}")
      }
    }
  }
}
