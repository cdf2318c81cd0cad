package graft

import graft.operators.{CdcDedup, Dedup, EdJoin, IvfIndex, SubstrDedup}
import graft.streaming.{EventStreams, FoldingIndex}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, length}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.storage.StorageLevel

/** The fold-in stream replay harness: the price of incremental index
  * maintenance, per modality, as the fold-in/pinned rate ratio.
  *
  *   sbt "runMain graft.StreamBench [corpusDir] [filesPerTrigger ...]"
  *
  * For each modality and each `maxFilesPerTrigger` the corpus table is
  * replayed as a file stream twice: through the modality's pinned probe
  * (its batch face run per micro-batch inside
  * [[EventStreams.toForeachBatchSink]] against corpus artifacts pinned
  * on their join key, so a batch exchanges only its own side; edit's
  * is `EdJoin.editProbeStream`) and through its fold-in ingest
  * (`*IngestStream` into a fresh folding index over the same corpus,
  * which grows as it folds). Operators, index parameters and sinks (one
  * `count` per batch) are the same on both sides. One JSON line per
  * (modality, trigger) carries both rates and their ratio, each side's
  * counter, the folding index's `meta`, per-batch latencies and each
  * side's host load ([[Calm]]).
  *
  * `corpusDir` defaults to [[Regrain]]'s output; the trigger list to 3
  * (at 90 files per table, 30 batches). SPARK_GRAFT_SWEEP_MODALITIES
  * (comma-separated names) runs a subset; an unknown name fails fast.
  *
  * Self-replay: every arrival probes a corpus that already holds it
  * (self-matches are excluded by id inside the operators). Report
  * modalities re-discover the corpus's near-dup structure and fold the
  * rest, so their index roughly doubles. Transform modalities (scrub,
  * segment) clean almost every arrival to empty, so their fold tiers
  * stay near-empty and the reading prices the probe-plus-fold machinery,
  * not index growth. Decontam's fold-in is caller-driven
  * (`FoldingDecontamIndex.foldIn`), so it is spec-covered, not replayed.
  */
object StreamBench {
  type Sink = (DataFrame, Long) => Unit
  type Start = (DataFrame, String, Sink) => DataStreamWriter[Row]

  /** A fresh folding index: the tier whose `meta` is reported, and the
    * start of the ingest stream that folds into it. */
  final case class Folding(meta: FoldingIndex, ingest: Start)

  /** A modality's two sides: its pinned artifacts (released when the
    * modality is done), the pinned probe's start, and a factory for a
    * fresh folding index per trigger. */
  final case class Sides(pinned: Seq[DataFrame], probe: Start,
                         folding: () => Folding)

  /** One modality, declared once: the replayed table and projection,
    * whether its sinks receive cleaned texts (transform) or hits
    * (report), and how its sides are built from the projected corpus
    * and the partition count every artifact and folding index uses. */
  final case class Modality(name: String, table: String, cols: Seq[Column],
      transform: Boolean)(val sides: (DataFrame, Int) => Sides) {
    def counter: String = if (transform) "fully_scrubbed" else "hits"
    def count(out: DataFrame): Long =
      if (transform) out.filter(length(col("clean_text")) === 0).count()
      else out.count()
  }

  private def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count() // materialize outside the measured window
    p
  }

  private val idText = Seq(col("doc_id"), col("text"))

  /** The pinned probe of a modality with a batch face: the face over
    * each micro-batch, against corpus artifacts it closes over. */
  private def perBatch(face: DataFrame => DataFrame): Start =
    (st, ckpt, sink) => EventStreams.toForeachBatchSink(st, ckpt)(
      (batch, batchId) => sink(face(batch), batchId))

  val modalities: Seq[Modality] = Seq(
    Modality("minhash", "documents", idText,
        transform = false) { (rows, cpus) =>
      val sigs = pin(Dedup.minhashSignatures(rows, "doc_id", "text",
        shingleSize = 3, numHashes = 64))
      Sides(Seq(sigs),
        perBatch(Dedup.nearDupCorpusHits(_, "doc_id", "text", sigs,
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.7)),
        () => {
          val idx = Dedup.foldingMinhashIndex(sigs, bands = 16,
            rowsPerBand = 4, numPartitions = cpus)
          // sig-tier meta: folded_rows counts accepted documents; the
          // bucket tier folds 16 rows per document
          Folding(idx.sigs, (st, ckpt, sink) => Dedup.nearDupIngestStream(
            st, "doc_id", "text", idx, shingleSize = 3, bands = 16,
            rowsPerBand = 4, threshold = 0.7, ckpt)(sink))
        })
    },
    Modality("edit", "documents", Seq(col("doc_id"),
        expr("substring(text, 1, 120)").as("head")),
        transform = false) { (rows, cpus) =>
      val keys = pin(EdJoin.deletionKeys(rows, "doc_id", "head", k = 1)
        .repartition(cpus, col("_key")))
      Sides(Seq(keys),
        (st, ckpt, sink) => EdJoin.editProbeStream(st, "doc_id", "head",
          keys, k = 1, ckpt)(sink),
        () => {
          val idx = EdJoin.foldingEdIndex(rows, "doc_id", "head", k = 1,
            numPartitions = cpus)
          Folding(idx.keys, (st, ckpt, sink) => EdJoin.editIngestStream(
            st, "doc_id", "head", idx, k = 1, ckpt)(sink))
        })
    },
    Modality("repeat", "documents", idText,
        transform = false) { (rows, cpus) =>
      val fps = pin(SubstrDedup.fingerprints(rows, "doc_id", "text",
        minLen = 59, w = 20).repartition(cpus, col("_h")))
      val texts = pin(rows.repartition(cpus, col("doc_id")))
      Sides(Seq(fps, texts),
        perBatch(SubstrDedup.repeatCorpusHits(_, "doc_id", "text", fps,
          texts, minLen = 59, w = 20)),
        () => {
          val idx = SubstrDedup.foldingRepeatIndex(rows, "doc_id", "text",
            minLen = 59, w = 20, numPartitions = cpus)
          Folding(idx.fps, (st, ckpt, sink) => SubstrDedup.repeatIngestStream(
            st, "doc_id", "text", idx, minLen = 59, w = 20, ckpt)(sink))
        })
    },
    Modality("scrub", "documents", idText,
        transform = true) { (rows, cpus) =>
      val grams = pin(SubstrDedup.scrubIndex(rows, "doc_id", "text",
        L = 59).repartition(cpus, col("_gh")))
      val texts = pin(rows.repartition(cpus, col("doc_id")))
      Sides(Seq(grams, texts),
        perBatch(SubstrDedup.scrubAgainstIndex(_, "doc_id", "text", grams,
          texts, L = 59)),
        () => {
          val idx = SubstrDedup.foldingScrubIndex(rows, "doc_id", "text",
            L = 59, numPartitions = cpus)
          Folding(idx.idx, (st, ckpt, sink) => SubstrDedup.scrubIngestStream(
            st, "doc_id", "text", idx, L = 59, ckpt)(sink))
        })
    },
    Modality("segment", "documents", idText,
        transform = true) { (rows, cpus) =>
      val digests = pin(CdcDedup.segmentIndex(rows, "doc_id", "text",
        divisor = 16).repartition(cpus, col("_d")))
      Sides(Seq(digests),
        perBatch(CdcDedup.scrubSegments(_, "doc_id", "text", digests,
          divisor = 16)),
        () => {
          val idx = CdcDedup.foldingSegmentIndex(rows, "doc_id", "text",
            divisor = 16, numPartitions = cpus)
          Folding(idx, (st, ckpt, sink) => CdcDedup.segmentIngestStream(
            st, "doc_id", "text", idx, 16, ckpt)(sink))
        })
    },
    // tau = 0.4, s03's near-dup contract: this corpus has no cosine-0.8
    // pairs, and a zero-hit replay would leave the probe-to-hit path
    // unexercised. Centroids stay fixed while the index folds (drift
    // means refit means rebuild).
    Modality("semantic", "embeddings", Seq(col("vec_id"), col("embedding")),
        transform = false) { (rows, cpus) =>
      val centroids = IvfIndex.fit(rows, "vec_id", "embedding",
        k = IvfIndex.kFor(rows.count()), iters = 3)
      val cells = pin(IvfIndex.buildSemanticIndex(rows, "vec_id",
        "embedding", centroids).repartition(cpus, col("centroid_id")))
      Sides(Seq(cells),
        perBatch(IvfIndex.semanticHits(cells, _, "vec_id", "embedding",
          centroids, tau = 0.4, nProbe = 2)),
        () => {
          val idx = IvfIndex.foldingSemanticIndex(rows, "vec_id",
            "embedding", centroids, numPartitions = cpus)
          Folding(idx, (st, ckpt, sink) => IvfIndex.semanticIngestStream(
            st, "vec_id", "embedding", idx, centroids, tau = 0.4,
            nProbe = 2, ckpt)(sink))
        })
    })

  /** One replayed side: steady-state rate, the load its window started
    * at, its non-empty batch count, the steady batches' durations and
    * its sink's counter. */
  final case class Reading(rate: Double, load: Double, batches: Int,
                           batchMs: Seq[Long], count: Long)

  /** Replays `table` (projected to `m.cols`) at `trigger` files per batch
    * through `start`, after a calm gate. Rate = rows / triggerExecution
    * time over the batches after the first, which absorbs codegen, JIT
    * and the first materialization of the pinned side.
    */
  private def replay(m: Modality, table: DataFrame, path: String,
      trigger: Int)(start: Start): Reading = {
    val spark = table.sparkSession
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_streambench_${m.name}_ckpt").toString
    val stream = spark.readStream.schema(table.schema)
      .option("maxFilesPerTrigger", trigger).parquet(path)
      .select(m.cols: _*)
    val counted = new AtomicLong(0)
    val load = Calm.awaitCalm()
    val q = start(stream, ckpt, (out, _) => counted.addAndGet(m.count(out)))
      .start()
    q.processAllAvailable()
    q.stop()
    // Spark keeps only the last numRecentProgressUpdates entries: a
    // replay with more batches would silently rate its tail
    val progress = q.recentProgress
    progress.headOption.filter(_.batchId != 0).foreach { oldest =>
      throw new IllegalStateException(s"${m.name} replay at trigger " +
        s"$trigger kept progress from batch ${oldest.batchId} on only " +
        s"(${progress.length} retained, " +
        "spark.sql.streaming.numRecentProgressUpdates): its rate would " +
        "read the tail — replay with more files per trigger")
    }
    val ran = progress.filter(_.numInputRows > 0)
    val steady = ran.drop(1)
    val batchMs = steady.toSeq.map(_.durationMs.get("triggerExecution").toLong)
    val rate =
      if (steady.isEmpty) 0.0
      else steady.map(_.numInputRows).sum.toDouble / (batchMs.sum / 1e3)
    Reading(rate, load, ran.length, batchMs, counted.get())
  }

  /** Runs `selected` at each trigger over `corpusDir`, emitting one line
    * per (modality, trigger). */
  private[graft] def run(spark: SparkSession, corpusDir: String,
      triggers: Seq[Int], selected: Seq[Modality])(
      emit: String => Unit): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    for (m <- selected) {
      val table = Tables.load(spark, corpusDir, m.table)
      val path = s"$corpusDir/${m.table}.parquet"
      val rows = table.select(m.cols: _*)
      val corpusRows = rows.count()
      val sides = m.sides(rows, cpus)
      try for (t <- triggers) {
        val pinned = replay(m, table, path, t)(sides.probe)
        val folding = sides.folding()
        val foldin = replay(m, table, path, t)(folding.ingest)
        emit(line(m, t, pinned, foldin, folding.meta.meta, corpusRows,
          corpusDir))
        // the folding index dies with this iteration: let the
        // ContextCleaner reclaim its checkpoint blocks before the next
        System.gc(); Thread.sleep(2000)
      } finally sides.pinned.foreach(_.unpersist(blocking = false))
    }
  }

  private def line(m: Modality, trigger: Int, pinned: Reading,
      foldin: Reading, meta: FoldingIndex#Meta, corpusRows: Long,
      corpusDir: String): String = {
    def f(digits: Int, v: Double): String =
      s"%.${digits}f".formatLocal(java.util.Locale.US, v)
    // nearest-rank percentile, 0 when no steady batch ran
    def pct(ms: Seq[Long], p: Double): Long =
      if (ms.isEmpty) 0L
      else ms.sorted.apply(math.ceil(p * ms.size).toInt.max(1) - 1)
    val unit = if (m.table == "embeddings") "vecs/sec" else "docs/sec"
    val ratio = if (pinned.rate > 0) foldin.rate / pinned.rate else 0.0
    s"""{"metric":"stream_replay","modality":"${m.name}",""" +
      s""""files_per_trigger":$trigger,"unit":"$unit",""" +
      s""""pinned_per_sec":${f(1, pinned.rate)},""" +
      s""""foldin_per_sec":${f(1, foldin.rate)},"ratio":${f(3, ratio)},""" +
      s""""pinned_${m.counter}":${pinned.count},""" +
      s""""foldin_${m.counter}":${foldin.count},""" +
      s""""batches":${foldin.batches},"folds":${meta.folds},""" +
      s""""folded_rows":${meta.foldedRows},""" +
      s""""compactions":${meta.compactions},""" +
      s""""pinned_max_batch_ms":${pct(pinned.batchMs, 1.0)},""" +
      s""""foldin_max_batch_ms":${pct(foldin.batchMs, 1.0)},""" +
      s""""foldin_batch_ms_p50":${pct(foldin.batchMs, 0.50)},""" +
      s""""foldin_batch_ms_p95":${pct(foldin.batchMs, 0.95)},""" +
      Calm.jsonFields("pinned_load" -> pinned.load,
        "foldin_load" -> foldin.load) +
      s""","corpus_rows":$corpusRows,"sf":"$corpusDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("target/scale/sf1_grained")
    // 3, not 1: files-per-trigger 1 -> 3 lifted every modality ~2x
    // (per-batch fixed costs amortize) at identical hit sets
    val triggers =
      if (args.length > 1) args.toSeq.drop(1).map(_.toInt) else Seq(3)
    val known = modalities.map(_.name)
    val wanted = sys.env.get("SPARK_GRAFT_SWEEP_MODALITIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(known.toSet)
    val unknown = wanted -- known
    if (unknown.nonEmpty) {
      System.err.println("[stream_bench] unknown " +
        s"SPARK_GRAFT_SWEEP_MODALITIES names: ${unknown.mkString(",")} " +
        s"(known: ${known.mkString(",")})")
      sys.exit(1)
    }
    val spark = LocalSession()
    run(spark, corpusDir, triggers, modalities.filter(m => wanted(m.name)))(
      println)
    spark.stop()
  }
}
