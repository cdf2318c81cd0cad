package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Recovery cost at corpus scale (VERDICT r17 stretch #8): `recover()`
  * re-pins the base tier with one exchange and recounts every delta —
  * priced at gate SF by FoldingDurabilitySpec, unmeasured at corpus
  * scale until this. One reading: build a durable minhash folding
  * index over the sf10 corpus, fold two micro-batch-sized deltas,
  * then time (a) an in-session one-batch probe, (b) the recovery
  * itself in a fresh session view, (c) the first probe after
  * recovery. The honest comparison is (b)+(c) vs (a): what a restart
  * costs before the pipeline is back at steady state.
  *
  * The probe is `nearDupIngestStream`'s own (`Dedup.nearDupHits`: per-tier
  * bucket join, candidate pinning, per-tier sig fetch, jaccard filter,
  * pair dedup), driven batch-style so the reading isolates index cost
  * from stream machinery. Calm-gated like every r18 streaming reading.
  */
object RecoverBench {
  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("target/scale/sf10")
    val probeN = if (args.length > 1) args(1).toInt else 3000
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)

    val docs = Tables.load(spark, corpusDir, "documents")
    val corpusN = docs.count()
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val durable = java.nio.file.Files
      .createTempDirectory("graft_recover_bench").toString

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // build the durable index (base write outside every timed window)
    // and fold two micro-batch deltas so recovery has tiers to recount
    val buildLoad = Calm.awaitCalm()
    val idx = Dedup.foldingMinhashIndex(sigs, bands = 16,
      rowsPerBand = 4, numPartitions = cpus,
      durablePath = Some(durable))
    val foldBatch1 = sigs.filter(col("id") % 97 === 0)
      .withColumn("id", col("id") + corpusN * 10)
      .localCheckpoint(true)
    val foldBatch2 = sigs.filter(col("id") % 97 === 1)
      .withColumn("id", col("id") + corpusN * 20)
      .localCheckpoint(true)
    idx.sigs.foldInPinned(0L, foldBatch1)
    idx.buckets.foldIn(0L, foldBatch1)
    idx.sigs.foldInPinned(1L, foldBatch2)
    idx.buckets.foldIn(1L, foldBatch2)

    val probeBatch = sigs.filter(col("id") < probeN)
      .localCheckpoint(true)
    probeBatch.count()
    def probe(index: Dedup.FoldingMinhashIndex) = Dedup.nearDupHits(
      index.buckets.currentTiers, index.sigs.currentTiers, probeBatch,
      bands = 16, rowsPerBand = 4, threshold = 0.7)

    // (a) in-session probe — the steady-state cost
    val inLoad = Calm.awaitCalm()
    val (hitsIn, inSec) = timed(
      probe(idx).count())

    // (b) recovery in a fresh session view: disk is the only shared
    // state (the FoldingDurabilitySpec restart contract; same JVM, so
    // OS page cache behaves as a warm restart on the same host)
    val recLoad = Calm.awaitCalm()
    val (recovered, recSec) = timed(
      Dedup.recoverMinhashIndex(spark.newSession(), durable,
        bands = 16, rowsPerBand = 4, numPartitions = cpus))
    // (c) first probe after recovery
    val (hitsRec, firstSec) = timed(
      probe(recovered).count())

    def f(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.US, v)
    println(s"""{"metric":"recover_bench","corpus_docs":$corpusN,""" +
      s""""probe_docs":$probeN,"tiers":${idx.sigs.meta.tiers},""" +
      s""""in_session_probe_sec":${f(inSec)},""" +
      s""""recover_sec":${f(recSec)},""" +
      s""""first_probe_after_recover_sec":${f(firstSec)},""" +
      s""""hits_in_session":$hitsIn,"hits_after_recover":$hitsRec,""" +
      // the build is outside every timed window: its load is context,
      // not part of the calm flag
      s""""build_load":${Calm.loadJson(buildLoad)},""" +
      Calm.jsonFields("probe_load" -> inLoad, "recover_load" -> recLoad) +
      s""","sf":"$corpusDir"}""")
    spark.stop()
  }
}
