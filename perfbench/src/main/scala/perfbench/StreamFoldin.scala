package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_foldin`: one operation is one micro-batch of
  * `Dedup.nearDupIngestStream` against a `Dedup.foldingMinhashIndex` of
  * the whole documents table, built during set-up.
  *
  * The stream replays the documents table: the seed assigns its
  * documents to batches of [[perBatch]] (`Gen.batches`). The index, the
  * same for every seed, excludes a document's own id from its hits, so
  * hits are its near-duplicates; accepted documents fold in, as in
  * `graft.StreamBench`'s fold-in reading. The closed-loop client writes
  * batch k as one JSON-lines file into the stream's directory only after
  * batch k − 1 has been committed, so batch membership, and with it the
  * fold-in hit set, is fixed per seed.
  *
  * The index compacts every [[compactEvery]] folds rather than the
  * default 16, so that a run's few timed batches span whole compaction
  * cycles of both tiers.
  *
  * The first [[warmBatches]] batches run in set-up; the first of them is
  * the one every reading excludes, the second still runs ~40 % slow.
  * The timed window runs whole compaction cycles, at least
  * [[minCycles]].
  * Untimed checks per batch: the folded
  * signature rows equal the accepted documents (batch minus distinct hit
  * ids), the bucket tier folded `bands` rows per accepted document, and
  * the batch's hit pairs equal the reference pairs ([[referenceHits]]).
  */
object StreamFoldin {

  val perBatch = 25
  val warmBatches = 2
  val compactEvery = 4
  /** Timed cycles at least: over ten seeds, `op_s_p50` spread 0.245
    * with one cycle and 0.124 with two (`perfbench/README.md`).
    */
  val minCycles = 2
  private val (shingle, bands, rows, threshold) = (3, 16, 4, 0.7)

  final case class Batch(id: Long, seconds: Double, docs: Long, hits: Long,
                         accepted: Long, folded: Long, bucketsFolded: Long,
                         tiers: Int, compactions: Long,
                         pairs: Set[(Long, Long)],
                         durations: Map[String, Long],
                         window: (Double, Double))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val docs = Tables.load(spark, ctx.sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // seeded document-to-file assignment, with the same number of
    // near-duplicated documents in every batch; batch file k is written
    // as JSON lines just before the client hands it to the stream
    val (stageS, (batches, text, reference)) = ctx.timed {
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
      val reference = referenceHits(
        Dedup.minhashSignatures(docs, "doc_id", "text", shingle, bands * rows)
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap)
      (Gen.batches(texts.map(_._1).toSeq,
        reference.collect { case (id, h) if h.nonEmpty => id }.toSet,
        ctx.seed, perBatch), texts.toMap, reference)
    }
    def writeBatch(k: Int, to: Path): Unit =
      Files.writeString(to, batches(k).map(id =>
        s"""{"doc_id":$id,"text":${Json.str(text(id))}}""")
        .mkString("", "\n", "\n"))

    def startIndex() = {
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
        shingle, bands * rows)
      Dedup.foldingMinhashIndex(sigs, bands, rows,
        numPartitions = ctx.cpus, compactEvery = compactEvery)
    }

    /** One running stream over its own index, fed one batch file at a
      * time. A traced stream starts inside a span, which its execution
      * thread inherits, so its batch jobs are charged to
      * `<span>/batch/<id>`.
      */
    final class Feeder(name: String, traced: Boolean) {
      val index: Dedup.FoldingMinhashIndex = startIndex()
      index.sigs.current.count()
      private val in = ctx.work.resolve(s"stream-$name-in")
      Files.createDirectories(in)
      private val hits =
        new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Long)]]()
      private val source = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).json(in.toString)
      ctx.trace.enabled = traced
      private val q: StreamingQuery =
        try ctx.trace.span(s"${ctx.workload}/streaming") {
          Dedup.nearDupIngestStream(source, "doc_id", "text", index, shingle,
            bands, rows, threshold,
            ctx.work.resolve(s"stream-$name-ckpt").toString) { (h, b) =>
            hits.put(b, h.select("new_id", "corpus_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSeq)
          }.start()
        } finally ctx.trace.enabled = false

      /** Hand batch file k to the stream and wait until it is committed. */
      def feed(k: Int): Batch = {
        val start = ctx.trace.now
        val sigsBefore = index.sigs.meta
        val bucketsBefore = index.buckets.meta
        // hidden while written (the file source skips dot files), then
        // renamed into view in one step
        val hidden = in.resolve(f".batch-$k%05d.json")
        writeBatch(k, hidden)
        Files.move(hidden, in.resolve(f"batch-$k%05d.json"),
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        val p = q.recentProgress.find(p => p.batchId == k &&
          p.numInputRows > 0).getOrElse(
          throw new IllegalStateException(s"no progress for batch $k"))
        val pairs = Option(hits.get(k.toLong)).getOrElse(Seq.empty)
        val sigsAfter = index.sigs.meta
        val bucketsAfter = index.buckets.meta
        Batch(k, p.durationMs.get("triggerExecution") / 1e3,
          p.numInputRows, pairs.size,
          batches(k).size - pairs.map(_._1).distinct.size,
          sigsAfter.foldedRows - sigsBefore.foldedRows,
          bucketsAfter.foldedRows - bucketsBefore.foldedRows,
          math.max(index.sigs.currentTiers.size,
            index.buckets.currentTiers.size),
          sigsAfter.compactions - sigsBefore.compactions +
            bucketsAfter.compactions - bucketsBefore.compactions,
          pairs.toSet,
          p.durationMs.asScala.map { case (k2, v) => k2 -> v.toLong }.toMap,
          (start, ctx.trace.now))
      }

      def stop(): Unit = q.stop()
    }

    val (indexS, main) = ctx.timed(new Feeder("main", traced = false))
    // a traced run feeds a second, traced stream over its own index the
    // same batches, interleaved with the untraced one (ABBA order), for
    // the per-layer metrics and the tracing overhead
    val traced = if (ctx.traced) Some(new Feeder("traced", true)) else None
    val all = mutable.ArrayBuffer.empty[Batch]
    val allTraced = mutable.ArrayBuffer.empty[Batch]
    def step(k: Int): Unit = traced match {
      case None => all += main.feed(k)
      case Some(t) if k % 4 == 1 || k % 4 == 2 =>
        allTraced += t.feed(k); all += main.feed(k)
      case Some(t) => all += main.feed(k); allTraced += t.feed(k)
    }
    try {
      // the warm-up batches are the streams' first batches, so the timed
      // window starts at a fixed point of the compaction cycle
      val (warmS, _) = ctx.timed((0 until warmBatches).foreach(step))
      ctx.openWindow()
      var k = warmBatches
      // whole compaction cycles, at least minCycles, so every run times
      // the same phases
      while (k < batches.size && ((k - warmBatches) % compactEvery != 0 ||
             k < warmBatches + minCycles * compactEvery || ctx.timeLeft)) {
        step(k)
        k += 1
      }
      val measured = ctx.elapsed
      val timed = all.drop(warmBatches).toSeq
      val (ops, problems) = checked(timed, all.toSeq, b =>
        batches(b.id.toInt).flatMap(n => reference(n).map(n -> _)).toSet)
      Outcome(Seq("assign_s" -> stageS, "index_build_s" -> indexS,
          "warmup_s" -> warmS), ops, measured,
        checks = Map("problems" -> problems),
        layers = if (ctx.traced) {
          ctx.trace.drain()
          traceLayers(ctx, timed, allTraced.drop(warmBatches).toSeq)
        } else Map.empty,
        info = Map("batches" -> all.map(b => Map("id" -> b.id,
          "s" -> b.seconds, "hits" -> b.hits, "tiers" -> b.tiers,
          "compactions" -> b.compactions, "durations_ms" -> b.durations))))
    } finally {
      main.stop()
      traced.foreach(_.stop())
    }
  }

  /** Expected hits per document id: every other document of the table
    * that shares a band with it and whose signature agrees with its own
    * on at least `threshold` of the components — the index's contract,
    * computed on the driver from the signatures without the index. The
    * stream replays the table the base index holds, so a folded document
    * is already indexed with the same signature and these sets hold for
    * every batch of every seed.
    */
  private def referenceHits(sigs: Map[Long, Array[Long]])
      : Map[Long, Set[Long]] = {
    def band(s: Array[Long], b: Int) =
      (b, s.slice(b * rows, (b + 1) * rows).toSeq)
    def agreement(a: Array[Long], b: Array[Long]) =
      a.indices.count(i => a(i) == b(i)).toDouble / a.length
    val buckets = sigs.toSeq.flatMap { case (id, s) =>
      (0 until bands).map(b => band(s, b) -> id)
    }.groupMap(_._1)(_._2)
    sigs.map { case (id, s) =>
      id -> (0 until bands).flatMap(b => buckets(band(s, b))).toSet
        .filter(c => c != id && agreement(s, sigs(c)) >= threshold)
    }
  }

  /** Per-batch checks. */
  private def checked(timed: Seq[Batch], all: Seq[Batch],
                      expectedPairs: Batch => Set[(Long, Long)])
      : (Seq[Op], Seq[String]) = {
    val problems = mutable.ArrayBuffer.empty[String]
    def problem(b: Batch): Option[String] = {
      val expected = expectedPairs(b)
      val p = Seq(
        Option.when(b.folded != b.accepted)(
          s"batch ${b.id}: folded ${b.folded} sig rows, accepted ${b.accepted}"),
        Option.when(b.bucketsFolded != b.accepted * bands)(
          s"batch ${b.id}: folded ${b.bucketsFolded} bucket rows, " +
            s"expected ${b.accepted * bands}"),
        Option.when(b.pairs != expected)(
          s"batch ${b.id}: ${(expected -- b.pairs).size} reference hit pairs " +
            s"missing, ${(b.pairs -- expected).size} extra"))
        .flatten
      problems ++= p
      p.headOption
    }
    all.take(all.size - timed.size).foreach(problem) // warm-up batches
    val ops = timed.map { b =>
      val err = problem(b)
      Op(b.id, "batch", s"batch-${b.id}", b.seconds, err.isEmpty,
        err.fold("")("check: " + _), extra = Map("docs" -> b.docs, "hits" -> b.hits,
          "accepted" -> b.accepted, "tiers" -> b.tiers,
          "compactions" -> b.compactions))
    }
    (ops, problems.toSeq)
  }

  /** Per-layer metrics of the traced stream's timed batches, and its
    * time against the untraced stream's same batches.
    */
  private def traceLayers(ctx: Ctx, untraced: Seq[Batch],
                          traced: Seq[Batch]): Map[String, Double] = {
    def p50(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    def dur(b: Batch, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
    val aggs = traced.flatMap(b =>
      ctx.trace.aggOption(s"${ctx.workload}/streaming/batch/${b.id}"))
    val withCompaction = traced.filter(_.compactions > 0)
    val docs = traced.map(_.docs).sum.toDouble
    ctx.trace.common(aggs, traced.map(_.window)) ++ Map(
      "streaming.add_batch_ms_p50" -> p50(traced.map(dur(_, "addBatch"))),
      "streaming.planning_ms_p50" -> p50(traced.map(dur(_, "queryPlanning"))),
      "streaming.wal_commit_ms_p50" -> p50(traced.map(dur(_, "walCommit"))),
      "streaming.jobs_per_batch" -> aggs.map(_.jobs.toDouble).sum /
        math.max(1, traced.size),
      "streaming.shuffle_bytes_per_batch" -> p50(aggs.map(a =>
        (a.shuffleWrite + a.shuffleRead).toDouble)),
      "streaming.accepted_share" -> traced.map(_.accepted).sum / docs,
      "streaming.hits" -> traced.map(_.hits).sum.toDouble,
      "streaming.tiers_max" -> traced.map(_.tiers).maxOption.getOrElse(0)
        .toDouble,
      "streaming.compactions" -> traced.map(_.compactions).sum.toDouble,
      "streaming.compaction_batch_ms_max" -> withCompaction
        .map(_.seconds * 1e3).maxOption.getOrElse(0.0),
      "trace.overhead_share" -> (traced.map(_.seconds).sum /
        untraced.take(traced.size).map(_.seconds).sum - 1))
  }
}
