package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Trigger-size sensitivity of the fold-in price (VERDICT r15 Next #5).
  *
  * The r15 all-modality pricing replay measured the winnow (verbatim-
  * run) fold-in at 0.16× of its pinned probe and ATTRIBUTED the gap to
  * per-batch job count at the replay's tiny trigger — an amortization
  * claim with no measurement behind it. This harness runs the SAME
  * replay protocol (file-source self-replay over the grained corpus,
  * steady-state rate = rows / triggerExecution time, first batch
  * dropped) for the pinned probe AND the fold-in ingest of two
  * modalities — winnow (the claim's subject) and char-edit (the cheap
  * control) — at a ladder of `maxFilesPerTrigger` values, printing the
  * fold-in/pinned ratio per trigger size. If the claim is right the
  * ratio rises toward ~1× with batch size (fixed per-batch costs —
  * delta checkpoint, count job, fold bookkeeping — amortize over more
  * rows); if it is wrong the curve is flat and the r15 attribution
  * gets corrected in STATUS.
  *
  * Output: one JSON line per (modality, trigger) →
  * `bench/streambench_r16_trigger.jsonl`.
  */
object TriggerSweep {
  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("target/scale/sf1_grained")
    val triggers =
      if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
      else Seq(3, 10, 30)
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)

    val docs = Tables.load(spark, corpusDir, "documents")
    val corpusN = docs.count()
    val docPath = s"$corpusDir/documents.parquet"
    // modality filter (r18): SPARK_GRAFT_SWEEP_MODALITIES="edit,minhash"
    // runs a subset — a single-modality decomposition should not pay
    // the whole ladder. Unknown names fail fast (a typo must not
    // silently sweep nothing — ADVICE r18), and every modality's
    // ARTIFACT construction below is gated on the same set, so a
    // minhash-only sweep no longer pays the semantic k-means fit or
    // any other family's index build.
    val knownModalities = Set("winnow", "edit", "semantic", "minhash")
    val modalities = sys.env.get("SPARK_GRAFT_SWEEP_MODALITIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(knownModalities)
    val unknownModalities = modalities -- knownModalities
    if (unknownModalities.nonEmpty) {
      System.err.println("[trigger_sweep] unknown " +
        s"SPARK_GRAFT_SWEEP_MODALITIES names: ${
          unknownModalities.mkString(",")} (known: ${
          knownModalities.toSeq.sorted.mkString(",")})")
      spark.stop(); sys.exit(1)
    }

    // each replay is calm-gated (VERDICT r17 Next #2): wait for the
    // 1-min load to drop under the line, record what it actually was —
    // the fold-in/pinned ratio is only honest when BOTH windows ran
    // calm, so the report carries each side's load and a joint flag
    // (rate, load, per-batch triggerExecution ms) — the durations ride
    // the report (r20, VERDICT r19 Next #4) so a compaction tick's
    // latency spike is visible per batch, not averaged away by the rate
    def replayOver(schema: org.apache.spark.sql.types.StructType,
        path: String, cols: Seq[org.apache.spark.sql.Column])(
        filesPerTrigger: Int)(
        start: (DataFrame, String) => StreamingQuery)
        : (Double, Double, Seq[Long]) = {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_trigger_sweep_ckpt").toString
      val st = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(path)
        .select(cols: _*)
      val load = Calm.awaitCalm()
      val q = start(st, ckpt)
      q.processAllAvailable()
      q.stop()
      val steady = q.recentProgress.filter(_.numInputRows > 0).drop(1)
      val durations = steady.toSeq
        .map(_.durationMs.get("triggerExecution").toLong)
      val rate =
        if (steady.isEmpty) 0.0
        else steady.map(_.numInputRows).sum.toDouble /
          (durations.sum / 1e3)
      (rate, load, durations)
    }
    def replay(filesPerTrigger: Int)(
        start: (DataFrame, String) => StreamingQuery)
        : (Double, Double, Seq[Long]) =
      replayOver(docs.schema, docPath,
        Seq(col("doc_id"), col("text")))(filesPerTrigger)(start)
    def f1(v: Double): String =
      "%.1f".formatLocal(java.util.Locale.US, v)
    def f3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.US, v)
    def report(modality: String, trigger: Int,
               pinned: (Double, Double, Seq[Long]),
               foldin: (Double, Double, Seq[Long])): Unit = {
      // joint calm is NULL (unknown), not false, when either side's
      // load was unreadable (ADVICE r18: calm=false must mean
      // measured-loud, or calm-readings-only comparisons silently drop
      // every reading on hosts without /proc/loadavg)
      val calm =
        if (pinned._2.isNaN || foldin._2.isNaN) "null"
        else (pinned._2 < Calm.threshold &&
          foldin._2 < Calm.threshold).toString
      def fl(v: Double): String = if (v.isNaN) "null" else f1(v)
      // nearest-rank percentile of the per-batch durations, 0 when none
      def pct(ms: Seq[Long], p: Double): Long =
        if (ms.isEmpty) 0L
        else ms.sorted.apply(math.ceil(p * ms.size).toInt.max(1) - 1)
      // both sides' max plus the fold side's p50/p95 batch time (r20):
      // the compaction-tick spike evidence — a rate averages the spike
      // away. Summaries, not the per-batch array, so the line's length
      // does not grow with the batch count.
      println(s"""{"metric":"trigger_sweep","modality":"$modality",""" +
        s""""files_per_trigger":$trigger,"pinned_docs_per_sec":${
          f1(pinned._1)},"foldin_docs_per_sec":${f1(foldin._1)},"ratio":${
          f3(if (pinned._1 > 0) foldin._1 / pinned._1 else 0.0)},""" +
        s""""pinned_load":${fl(pinned._2)},"foldin_load":${fl(foldin._2)},""" +
        s""""calm":$calm,""" +
        s""""pinned_max_batch_ms":${
          if (pinned._3.isEmpty) 0L else pinned._3.max},""" +
        s""""foldin_max_batch_ms":${
          if (foldin._3.isEmpty) 0L else foldin._3.max},""" +
        s""""foldin_batch_ms_p50":${pct(foldin._3, 0.50)},""" +
        s""""foldin_batch_ms_p95":${pct(foldin._3, 0.95)},""" +
        s""""corpus_docs":$corpusN,"sf":"$corpusDir"}""")
    }

    // winnow modality (the r15 0.16× subject): pinned artifacts are
    // built once and shared across trigger sizes; each fold-in run
    // gets a FRESH folding index (it grows during the replay).
    // lazy + gated builds (the mhSigs pattern, ADVICE r18): a sweep
    // that skips the modality must not pay its artifacts.
    // REPARTITIONED BY THE PROBE JOIN KEY (r20, VERDICT r19 Next #1):
    // the pinned-probe contract (repeatProbeStream scaladoc, the
    // StreamBench discipline) is that the caller pins the corpus side
    // partitioned on the join key so per-batch joins exchange only the
    // batch side. This harness cached them UNPARTITIONED, so every
    // pinned-probe micro-batch re-exchanged the corpus-scale
    // fingerprint/text relations — the fold side's base tier is
    // Pinned.byKey and never paid that, which is what drove the
    // ladder's fold-in/pinned rungs ABOVE 1.0 (winnow 1.223/1.336,
    // edit 1.329 in r19) at small triggers. Harness fix, not an
    // operator change: hit sets are unaffected.
    lazy val staticFps = FrameCache.cached(spark,
      s"trigger_sweep_fps:$corpusDir") {
      graft.operators.SubstrDedup.fingerprints(docs, "doc_id", "text",
        minLen = 59, w = 20)
        .repartition(cpus, col("_h"))
    }
    lazy val corpusPinned = FrameCache.cached(spark,
      s"trigger_sweep_docs:$corpusDir")(docs.select(col("doc_id"),
      col("text")).repartition(cpus, col("doc_id")))
    if (modalities("winnow")) { staticFps.count(); corpusPinned.count() }
    for (t <- triggers if modalities("winnow")) {
      val pinned = replay(t) { (st, ckpt) =>
        graft.operators.SubstrDedup.repeatProbeStream(
          st, "doc_id", "text", staticFps, corpusPinned,
          minLen = 59, w = 20, ckpt) { (hits, _) =>
          hits.count(); ()
        }.start()
      }
      val fold = {
        val idx = graft.operators.SubstrDedup.foldingRepeatIndex(
          docs, "doc_id", "text", minLen = 59, w = 20,
          numPartitions = cpus)
        replay(t) { (st, ckpt) =>
          graft.operators.SubstrDedup.repeatIngestStream(
            st, "doc_id", "text", idx, minLen = 59, w = 20, ckpt) {
            (hits, _) => hits.count(); ()
          }.start()
        }
      }
      report("winnow", t, pinned, fold)
      System.gc(); Thread.sleep(2000)
    }

    // char-edit modality (the cheap control: per-batch fan-out is
    // len+1 variants of a 120-char head — small fixed work, so the
    // fixed per-batch costs are a LARGER share and the curve should
    // show the same shape more strongly)
    val heads = docs.select(col("doc_id"),
      expr("substring(text, 1, 120)").as("head"))
    // pinned by _key — the editProbeStream scaladoc's own instruction
    // ("pin the index REPARTITIONED by _key, see StreamBench"), which
    // this harness alone didn't follow (r20, VERDICT r19 Next #1)
    lazy val edKeys = FrameCache.cached(spark,
      s"trigger_sweep_edkeys:$corpusDir") {
      graft.operators.EdJoin.deletionKeys(heads, "doc_id", "head", 1)
        .repartition(cpus, col("_key"))
    }
    if (modalities("edit")) edKeys.count()
    for (t <- triggers if modalities("edit")) {
      val pinned = replay(t) { (st, ckpt) =>
        graft.operators.EdJoin.editProbeStream(
          st.select(col("doc_id"),
            expr("substring(text, 1, 120)").as("head")),
          "doc_id", "head", edKeys, k = 1, ckpt) {
          (hits, _) => hits.count(); ()
        }.start()
      }
      val fold = {
        val idx = graft.operators.EdJoin.foldingEdIndex(
          heads, "doc_id", "head", k = 1, numPartitions = cpus)
        replay(t) { (st, ckpt) =>
          graft.operators.EdJoin.editIngestStream(
            st.select(col("doc_id"),
              expr("substring(text, 1, 120)").as("head")),
            "doc_id", "head", idx, k = 1, ckpt) {
            (hits, _) => hits.count(); ()
          }.start()
        }
      }
      report("edit", t, pinned, fold)
      System.gc(); Thread.sleep(2000)
    }

    // semantic modality (r18): the embedding-space rung — per-batch
    // payload is ~1 KB/vector, so FIXED per-batch jobs (not bytes)
    // dominate the fold-in price at small triggers; added when the
    // r18 full replays read fold-in/pinned ~0.3 here and the fold
    // tail shed its eager arrivals + raw-accepted checkpoints
    lazy val emb = Tables.load(spark, corpusDir, "embeddings")
    val embPath = s"$corpusDir/embeddings.parquet"
    lazy val semCent = FrameCache.cached(spark,
      s"trigger_sweep_semcent:$corpusDir", persist = false) {
      graft.operators.IvfIndex.fit(emb, "vec_id", "embedding",
        k = graft.operators.IvfIndex.kFor(emb.count()), iters = 3)
    }
    lazy val semIdx = FrameCache.cached(spark,
      s"trigger_sweep_semidx:$corpusDir") {
      graft.operators.IvfIndex.buildSemanticIndex(
        emb, "vec_id", "embedding", semCent)
        .repartition(cpus, col("centroid_id"))
    }
    if (modalities("semantic")) semIdx.count()
    lazy val semReplay = replayOver(emb.schema, embPath,
      Seq(col("vec_id"), col("embedding"))) _
    for (t <- triggers if modalities("semantic")) {
      val pinned = semReplay(t) { (st, ckpt) =>
        graft.operators.IvfIndex.semanticProbeStream(
          st, "vec_id", "embedding", semIdx, semCent,
          tau = 0.4, nProbe = 2, ckpt) { (hits, _) =>
          hits.count(); ()
        }.start()
      }
      val fold = {
        val idx = graft.operators.IvfIndex.foldingSemanticIndex(
          emb, "vec_id", "embedding", semCent,
          numPartitions = cpus)
        semReplay(t) { (st, ckpt) =>
          graft.operators.IvfIndex.semanticIngestStream(
            st, "vec_id", "embedding", idx, semCent,
            tau = 0.4, nProbe = 2, ckpt) { (hits, _) =>
            hits.count(); ()
          }.start()
        }
      }
      report("semantic", t, pinned, fold)
      System.gc(); Thread.sleep(2000)
    }

    // minhash modality (r18): the flagship near-dup family read
    // fold-in/pinned ~0.33 in all three r18 full replays (trigger 3)
    // with no sweep rung to separate amortization from proportional
    // cost — this gives r19 the decomposition data. The fold path
    // pays a TWO-tier lockstep fold (signatures + 16x banded
    // buckets) per batch.
    lazy val mhSigs = FrameCache.cached(spark,
      s"trigger_sweep_mhsigs:$corpusDir") {
      graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64)
    }
    if (modalities("minhash")) mhSigs.count()
    for (t <- triggers if modalities("minhash")) {
      val pinned = replay(t) { (st, ckpt) =>
        graft.operators.Dedup.nearDupProbeStream(
          st, "doc_id", "text", mhSigs,
          shingleSize = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.7, ckpt) { (hits, _) =>
          hits.count(); ()
        }.start()
      }
      val fold = {
        val idx = graft.operators.Dedup.foldingMinhashIndex(mhSigs,
          bands = 16, rowsPerBand = 4, numPartitions = cpus)
        replay(t) { (st, ckpt) =>
          graft.operators.Dedup.nearDupIngestStream(
            st, "doc_id", "text", idx,
            shingleSize = 3, bands = 16, rowsPerBand = 4,
            threshold = 0.7, ckpt) { (hits, _) =>
            hits.count(); ()
          }.start()
        }
      }
      report("minhash", t, pinned, fold)
      System.gc(); Thread.sleep(2000)
    }
    spark.stop()
  }
}
