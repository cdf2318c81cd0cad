package graft

import graft.operators.{CdcDedup, Dedup, EdJoin, IvfIndex, SubstrDedup}
import graft.streaming.FoldingIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StringType}

/** The index parameter stamps, one row per stamped builder: each
  * builder writes its parameters into its index column's metadata
  * under frozen keys (durable tiers carry them in their parquet
  * footers, so the exact JSON is pinned), and every gate that checks
  * the stamp refuses an index built with other parameters, one whose
  * stamp was stripped, and a frame without the stamped column. Gates
  * run when a stream is declared, so no stream is started here.
  */
class IndexStampSpec extends SparkSpec {
  import spark.implicits._

  /** One stamped builder: the column it stamps and that column's
    * metadata JSON, the index at the probe's parameters and at other
    * ones, what refusing the other one must name (the index and each
    * parameter's stamped and probe value), the public builders every
    * refusal names, and every gate checking the stamp (each declares
    * its probe or stream over the given index frame).
    */
  private case class Stamped(builder: String, column: String,
      json: () => String,
      index: () => DataFrame, other: () => DataFrame,
      mismatch: () => Seq[String], stampedBy: Seq[String],
      gates: Seq[(String, DataFrame => Any)])

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "an entirely different document about catalyst optimizer rules"),
    (3L, "the quick brown fox jumps over the lazy dog near the old mill"))
    .toDF("id", "text")
  private def vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
    (3L, Seq(0.9f, 0.1f))).toDF("id", "emb")
  private def centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
    .toDF("centroid_id", "centroid")
  private def otherCentroids = Seq((0, Seq(0.6, 0.8)), (1, Seq(0.8, -0.6)))
    .toDF("centroid_id", "centroid")

  private def textStream = {
    implicit val ctx = spark.sqlContext
    MemoryStream[(Long, String)].toDF().toDF("id", "text")
  }
  private def vecStream = {
    implicit val ctx = spark.sqlContext
    MemoryStream[(Long, Seq[Float])].toDF().toDF("id", "emb")
  }
  private def sink(df: DataFrame, batchId: Long): Unit = ()
  private val cp = "/tmp/never"

  /** A folding tier whose base is `df` as given — stamped, mis-stamped
    * or unstamped — so an ingest stream's gate sees exactly it. */
  private def folding(df: DataFrame): FoldingIndex =
    FoldingIndex.Tier("", Seq(df.columns.head), identity)
      .create(df, numPartitions = 2, compactEvery = 16)
  private lazy val texts = folding(docs)
  private lazy val sigs = Dedup.minhashSignatures(docs, "id", "text",
    shingleSize = 3, numHashes = 8)

  private val cases = Seq(
    Stamped("Dedup.bandedBuckets", "band_hash",
      () => """{"graft.minhash.bands":4,"graft.minhash.rowsPerBand":2}""",
      () => Dedup.bandedBuckets(sigs, 4, 2),
      () => Dedup.bandedBuckets(sigs, 2, 4),
      () => Seq("bucket index was built with bands=2, rowsPerBand=4",
        "probe runs bands=4, rowsPerBand=2"),
      Seq("Dedup.foldingMinhashIndex"),
      Seq("nearDupIngestStream" -> (df => Dedup.nearDupIngestStream(
        textStream, "id", "text",
        Dedup.FoldingMinhashIndex(folding(df), folding(sigs)),
        3, 4, 2, 0.5, cp)(sink)))),
    Stamped("SubstrDedup.fingerprints", "_h",
      () => """{"graft.winnow.w":4,"graft.winnow.minlen":20}""",
      () => SubstrDedup.fingerprints(docs, "id", "text", 20, 4),
      () => SubstrDedup.fingerprints(docs, "id", "text", 20, 6),
      () => Seq("fingerprint index was built with minLen=20, w=6",
        "probe runs minLen=20, w=4"),
      Seq("SubstrDedup.fingerprints", "SubstrDedup.foldingRepeatIndex"),
      Seq("repeatProbeStream" -> (df => SubstrDedup.repeatProbeStream(
          textStream, "id", "text", df, docs, 20, 4, cp)(sink)),
        "repeatIngestStream" -> (df => SubstrDedup.repeatIngestStream(
          textStream, "id", "text",
          SubstrDedup.FoldingRepeatIndex(folding(df), texts),
          20, 4, cp)(sink)))),
    Stamped("SubstrDedup.scrubIndex", "_gh",
      () => """{"graft.substr.scrubL":8}""",
      () => SubstrDedup.scrubIndex(docs, "id", "text", 8),
      () => SubstrDedup.scrubIndex(docs, "id", "text", 12),
      () => Seq("scrub index was built with L=12", "probe runs L=8"),
      Seq("SubstrDedup.scrubIndex", "SubstrDedup.foldingScrubIndex"),
      Seq("scrubProbeStream" -> (df => SubstrDedup.scrubProbeStream(
          textStream, "id", "text", df, docs, 8, cp)(sink)),
        "scrubIngestStream" -> (df => SubstrDedup.scrubIngestStream(
          textStream, "id", "text",
          SubstrDedup.FoldingScrubIndex(folding(df), texts),
          8, cp)(sink)))),
    Stamped("EdJoin.deletionKeys", "_key",
      () => """{"graft.edjoin.k":1}""",
      () => EdJoin.deletionKeys(docs, "id", "text", 1),
      () => EdJoin.deletionKeys(docs, "id", "text", 2),
      () => Seq("key index was built with k=2", "probe runs k=1"),
      Seq("EdJoin.deletionKeys", "EdJoin.foldingEdIndex"),
      Seq("editProbeStream" -> (df => EdJoin.editProbeStream(
          textStream, "id", "text", df, 1, cp)(sink)),
        "editIngestStream" -> (df => EdJoin.editIngestStream(
          textStream, "id", "text",
          EdJoin.FoldingEdIndex(folding(df), texts), 1, cp)(sink)))),
    Stamped("CdcDedup.segmentIndex", "_d",
      () => """{"graft.cdc.divisor":4}""",
      () => CdcDedup.segmentIndex(docs, "id", "text", 4),
      () => CdcDedup.segmentIndex(docs, "id", "text", 8),
      () => Seq("segment index was built with divisor=8",
        "probe runs divisor=4"),
      Seq("CdcDedup.segmentIndex", "CdcDedup.foldingSegmentIndex"),
      Seq("scrubSegments" -> (df => CdcDedup.scrubSegments(
          docs, "id", "text", df, 4)),
        "segmentProbeStream" -> (df => CdcDedup.segmentProbeStream(
          textStream, "id", "text", df, 4, cp)(sink)),
        "segmentIngestStream" -> (df => CdcDedup.segmentIngestStream(
          textStream, "id", "text", folding(df), 4, cp)(sink)))),
    Stamped("IvfIndex.buildSemanticIndex", "centroid_id",
      () => s"""{"graft.ivf.stamp":${IvfIndex.centroidStamp(centroids)}}""",
      () => IvfIndex.buildSemanticIndex(vecs, "id", "emb", centroids),
      () => IvfIndex.buildSemanticIndex(vecs, "id", "emb", otherCentroids),
      () => Seq("semantic index was built with centroid family=" +
          IvfIndex.centroidStamp(otherCentroids),
        "probe runs centroid family=" + IvfIndex.centroidStamp(centroids)),
      Seq("IvfIndex.buildSemanticIndex", "IvfIndex.foldingSemanticIndex"),
      Seq("semanticHits" -> (df => IvfIndex.semanticHits(
          df, vecs, "id", "emb", centroids, 0.8, 1)),
        "semanticProbeStream" -> (df => IvfIndex.semanticProbeStream(
          vecStream, "id", "emb", df, centroids, 0.8, 1, cp)(sink)),
        "semanticIngestStream" -> (df => IvfIndex.semanticIngestStream(
          vecStream, "id", "emb", folding(df), centroids, 0.8, 1,
          cp)(sink)))))

  /** `df` with `column` re-derived so its metadata is gone: aliased
    * with empty metadata, or passed through arithmetic (a string
    * column through concatenation). */
  private def stripped(df: DataFrame, column: String): Seq[DataFrame] = {
    def replace(c: org.apache.spark.sql.Column) = df.select(
      df.columns.map(n => if (n == column) c.as(n) else col(n)): _*)
    val derived = df.schema(column).dataType match {
      case StringType => concat(col(column), lit(""))
      case _ => col(column) + 0
    }
    Seq(replace(col(column).as(column, Metadata.empty)), replace(derived))
  }

  private def refused(gate: String)(run: => Any): String =
    intercept[IllegalArgumentException](run).getMessage match {
      case null => fail(s"$gate refused without a message")
      case m => m
    }

  /** The gate's own refusal of an unstamped index, naming the column
    * and the builders that stamp it — never Spark's field lookup. */
  private def assertUnstamped(c: Stamped, gate: String, msg: String) =
    assert(msg.contains(" carries no ") &&
      msg.contains(s" stamp on ${c.column} ") &&
      msg.contains(" build it with ") && c.stampedBy.forall(msg.contains),
      s"$gate: $msg")

  cases.foreach { c =>
    test(s"${c.builder} stamps ${c.column} under the frozen keys") {
      assert(c.index().schema(c.column).metadata.json == c.json())
    }

    test(s"${c.builder}: every gate accepts its own index") {
      c.gates.foreach { case (_, run) => run(c.index()) }
    }

    test(s"${c.builder}: every gate refuses an index built with " +
        "other parameters") {
      c.gates.foreach { case (gate, run) =>
        val msg = refused(gate)(run(c.other()))
        (c.mismatch() ++ c.stampedBy).foreach(m =>
          assert(msg.contains(m), s"$gate: $msg"))
      }
    }

    test(s"${c.builder}: every gate refuses a stripped stamp") {
      stripped(c.index(), c.column).foreach { df =>
        c.gates.foreach { case (gate, run) =>
          assertUnstamped(c, gate, refused(gate)(run(df)))
        }
      }
    }

    test(s"${c.builder}: every gate refuses a frame without ${c.column}") {
      // renamed away, so the stamp itself survives under another name
      val df = c.index().withColumnRenamed(c.column, "_renamed")
      c.gates.foreach { case (gate, run) =>
        assertUnstamped(c, gate, refused(gate)(run(df)))
      }
    }
  }
}
