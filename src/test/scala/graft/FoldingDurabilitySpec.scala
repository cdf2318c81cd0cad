package graft

import graft.operators.Dedup
import graft.streaming.FoldingIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.nio.file.Files

/** Durable fold-in (VERDICT r15 Next #3): a FoldingIndex built with
  * `durablePath` persists its tiers (base parquet at construction,
  * one delta parquet per fold, compacted base on compaction) plus a
  * batchId-keyed meta sidecar — and [[FoldingIndex.Tier.recover]] resumes
  * from DISK ONLY: the recovered index references no in-session state
  * of the writer, which is exactly a process restart's view. The
  * contract pinned here: fold N batches, recover, fold more — the
  * final relation ≡ a never-restarted run's, the batchId watermark
  * survives (re-delivered batches skip), compaction state survives,
  * and column-metadata stamps ride the parquet schema so probe
  * `require`s still pass.
  */
class FoldingDurabilitySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-durable-$tag").toString

  private val builder: DataFrame => DataFrame =
    df => df.select(col("k"), col("v"))

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private def kvTier(tag: String = "", bucketCols: Seq[String] = Seq("k"),
      dedupKeyCols: Seq[String] = Nil): FoldingIndex.Tier =
    FoldingIndex.Tier(tag, bucketCols, builder, dedupKeyCols)

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("kill-and-restart: fold, recover from disk, fold more — " +
      "final relation ≡ never-restarted run; watermark survives") {
    val dir = tmpDir("restart")
    val writer = kvTier().create(
      kv(1L -> "a", 2L -> "b").repartition(2, col("k"))
        .localCheckpoint(true),
      numPartitions = 2, compactEvery = 100, durablePath = Some(dir))
    writer.foldIn(0L, kv(3L -> "c"))
    writer.foldIn(1L, kv(4L -> "d"))

    // "restart": a second instance built from the directory alone
    val recovered = kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 100)
    assert(recovered.meta.folds == 2L && recovered.meta.foldedRows == 2L)
    assert(recovered.meta.tiers == 3)
    assert(rowsOf(recovered.current) == rowsOf(writer.current))

    // re-delivery of an already-landed batch skips (watermark restored)
    assert(recovered.foldIn(1L, kv(99L -> "zz")) == 0L)
    // new batches keep folding
    assert(recovered.foldIn(2L, kv(5L -> "e")) == 1L)

    // a NEW-checkpoint consumer restarts batchIds at 0 — the default
    // watermark reads those as redeliveries (documented contract);
    // resetWatermark = true is the new-stream escape hatch
    val freshStream = kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 100, resetWatermark = true)
    assert(freshStream.foldIn(0L, kv(6L -> "f")) == 1L)

    // ≡ a never-restarted run over the same batches
    val straight = kvTier().create(
      kv(1L -> "a", 2L -> "b").repartition(2, col("k"))
        .localCheckpoint(true),
      numPartitions = 2, compactEvery = 100)
    straight.foldIn(0L, kv(3L -> "c"))
    straight.foldIn(1L, kv(4L -> "d"))
    straight.foldIn(2L, kv(5L -> "e"))
    assert(rowsOf(recovered.current) == rowsOf(straight.current))
  }

  test("compaction state survives: recover after compact sees one " +
      "compacted base; superseded tier dirs are dropped") {
    val dir = tmpDir("compact")
    val writer = kvTier().create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 2, durablePath = Some(dir))
    writer.foldIn(0L, kv(2L -> "b"))
    writer.foldIn(1L, kv(3L -> "c")) // trips compactEvery = 2
    assert(writer.meta.compactions == 1L && writer.meta.tiers == 1)

    val recovered = kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 2)
    assert(recovered.meta.compactions == 1L && recovered.meta.tiers == 1)
    assert(rowsOf(recovered.current) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // compaction replaced base-0 and the delta dirs on disk
    assert(!Files.exists(java.nio.file.Paths.get(dir, "base-0")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "delta-0")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "base-1")))
    // and the next compaction generation keeps counting from there
    recovered.foldIn(2L, kv(4L -> "d"))
    recovered.foldIn(3L, kv(5L -> "e"))
    assert(recovered.meta.compactions == 2L)
    assert(Files.exists(java.nio.file.Paths.get(dir, "base-2")))
  }

  test("dedupKeyCols semantics survive recovery: a key present in a " +
      "persisted tier is not re-admitted") {
    val dir = tmpDir("dedup")
    val kTier = FoldingIndex.Tier("", Seq("k"),
      df => df.select(col("k")), dedupKeyCols = Seq("k"))
    val writer = kTier.create(
      Seq(1L, 2L).toDF("k").repartition(2, col("k"))
        .localCheckpoint(true),
      numPartitions = 2, compactEvery = 100, durablePath = Some(dir))
    assert(writer.foldIn(0L, Seq(2L, 3L).toDF("k")) == 1L)

    val recovered = kTier.recover(spark, dir, numPartitions = 2,
      compactEvery = 100)
    assert(recovered.foldIn(1L, Seq(3L, 4L).toDF("k")) == 1L)
    assert(recovered.current.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    assert(recovered.current.count() == 4L)
  }

  test("end-to-end ingest restart: nearDupIngestStream folds into a " +
      "durable index, a FRESH session-view recovers it, and a NEW " +
      "stream catches a dup of the pre-restart accepted arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("ingest-restart")
    val base = "the quick brown fox jumps over the lazy dog while " +
      "the cat sleeps in the warm afternoon sun near the barn"
    val novel = "a brand new arrival describing bloom filter pruning " +
      "strategies for sort merge joins on clustered tables"
    val corpusSigs = Dedup.minhashSignatures(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val writer = Dedup.foldingMinhashIndex(corpusSigs, bands = 16,
      rowsPerBand = 4, numPartitions = 2, durablePath = Some(dir))

    def runBatch(idx: Dedup.FoldingMinhashIndex,
                 docs: Seq[(Long, String)]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_ingest_restart").toString
      val hits =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = Dedup.nearDupIngestStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        ckpt) { (h, _) =>
        h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
      }.start()
      try { input.addData(docs: _*); q.processAllAvailable() }
      finally q.stop()
      hits.toArray(Array.empty[(Long, Long)]).toSet
    }

    // pre-restart: the novel doc is accepted and folds in (durably)
    assert(runBatch(writer, Seq((10L, novel))) == Set.empty)
    assert(writer.sigs.meta.foldedRows == 1L)

    // "restart": recover from the directory alone, run a NEW stream;
    // a near-dup of the PRE-RESTART arrival must hit — the exact
    // state a non-durable index loses
    val recovered = Dedup.recoverMinhashIndex(spark, dir, bands = 16,
      rowsPerBand = 4, numPartitions = 2)
    val got = runBatch(recovered,
      Seq((20L, novel.replace("clustered", "bucketed"))))
    assert(got == Set((20L, 10L)),
      s"recovered index must carry the pre-restart fold, got $got")
  }

  test("segment modality restart: the dedup-keyed digest set recovers " +
      "and a post-restart batch sheds segments folded BEFORE the " +
      "restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CdcDedup
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("segment-restart")
    val reference = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val writer = CdcDedup.foldingSegmentIndex(reference, "doc_id",
      "text", divisor = 2, numPartitions = 2,
      durablePath = Some(dir))

    def runBatch(idx: graft.streaming.FoldingIndex,
                 docs: Seq[(Long, String)]): Map[Long, String] = {
      val input = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_seg_restart").toString
      val out = new java.util.concurrent.ConcurrentHashMap[Long, String]()
      val q = CdcDedup.segmentIngestStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        divisor = 2, ckpt) { (cleaned, _) =>
        cleaned.collect().foreach(r =>
          out.put(r.getLong(0), r.getString(1)))
      }.start()
      try { input.addData(docs: _*); q.processAllAvailable() }
      finally q.stop()
      import scala.jdk.CollectionConverters._
      out.asScala.toMap
    }

    // pre-restart batch: some novel content survives and folds durably
    val batch1 = Seq((10L, "totally novel wording plus alpha beta"))
    val first = runBatch(writer, batch1)
    assert(first.contains(10L))
    val accepted1 = first.toSeq.filter(_._2.nonEmpty)

    // restart, then scrub a second batch against the RECOVERED set
    val recovered = CdcDedup.recoverSegmentIndex(spark, dir,
      "doc_id", "text", divisor = 2, numPartitions = 2)
    val batch2 = Seq(
      (20L, "totally novel wording plus something fresh entirely"))
    val second = runBatch(recovered, batch2)

    // ≡ the batch operator against the REBUILT reference
    // (reference ∪ batch-1 accepted cleaned) — the FoldingIngestSpec
    // agreement contract, across a restart
    val rebuiltRef = reference.unionByName(
      accepted1.map { case (id, t) => (id, t) }.toDF("doc_id", "text"))
    val expected = CdcDedup.scrubSegments(
        batch2.toDF("doc_id", "text"), "doc_id", "text",
        CdcDedup.segmentIndex(rebuiltRef, "doc_id", "text", divisor = 2),
        divisor = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(second == expected,
      s"recovered scrub diverged from rebuilt-reference: $second " +
        s"vs $expected")
    // and the pre-restart fold is actually load-bearing: batch 2
    // shares its head with batch 1's accepted content, so SOMETHING
    // must have been shed relative to the base-only reference
    assert(second(20L) != batch2.head._2,
      "batch 2 must shed spans folded before the restart")
  }

  test("durable I/O rides the Hadoop FileSystem: a file: URI " +
      "durablePath works end-to-end (the java.nio layout could not " +
      "resolve a URI at all)") {
    val local = tmpDir("hadoop-uri")
    val uri = s"file://$local" // nio Paths.get(uri, name) would have
    // produced a literal './file:' relative path, never this directory
    val writer = kvTier().create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 2, durablePath = Some(uri))
    writer.foldIn(0L, kv(2L -> "b"))
    writer.foldIn(1L, kv(3L -> "c")) // trips a compaction through the
    // Hadoop dropDir path too
    assert(writer.meta.compactions == 1L)
    // the layout landed where the Hadoop FS resolves the URI — the
    // plain local directory — and recovery reads it back via the URI
    assert(Files.exists(java.nio.file.Paths.get(local, "_meta")))
    assert(Files.exists(java.nio.file.Paths.get(local, "base-1")))
    assert(!Files.exists(java.nio.file.Paths.get(local, "base-0")))
    val recovered = kvTier().recover(spark, uri, numPartitions = 2,
      compactEvery = 2)
    assert(rowsOf(recovered.current) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(recovered.foldIn(1L, kv(9L -> "x")) == 0L,
      "watermark must survive the URI round-trip")
  }

  test("apply() fails fast on a durablePath that already holds " +
      "recoverable state; overwriteDurable discards the WHOLE layout " +
      "(ADVICE r16)") {
    val dir = tmpDir("clobber")
    val first = kvTier().create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 100, durablePath = Some(dir))
    first.foldIn(0L, kv(2L -> "b"))
    assert(Files.exists(java.nio.file.Paths.get(dir, "delta-0")))
    // the constructor must not silently reset the watermark and
    // orphan delta-0 — recover() is the restart path
    val ex = intercept[IllegalArgumentException] {
      kvTier().create(
        kv(9L -> "z").repartition(2, col("k")).localCheckpoint(true),
        numPartitions = 2, compactEvery = 100, durablePath = Some(dir))
    }
    assert(ex.getMessage.contains("recover"))
    // deliberate overwrite: prior tiers are gone, not orphaned
    val fresh = kvTier().create(
      kv(9L -> "z").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 100, durablePath = Some(dir),
      overwriteDurable = true)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "delta-0")),
      "overwrite must discard prior tiers, not orphan them")
    assert(fresh.meta.folds == 0L)
    assert(rowsOf(kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 100).current) ==
      Set(9L -> "z"))
  }

  test("empty folds write NO delta dir but their watermark survives " +
      "recovery (VERDICT r16 Next #3, durable view)") {
    val dir = tmpDir("empty-folds")
    val writer = kvTier().create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 2, durablePath = Some(dir))
    // two empty folds: with the pre-r17 shape these would have written
    // two delta dirs AND tripped compactEvery = 2 — a corpus-scale
    // compaction bought by zero rows
    assert(writer.foldIn(0L, kv()) == 0L)
    assert(writer.foldIn(1L, kv()) == 0L)
    assert(writer.meta.folds == 2L && writer.meta.compactions == 0L)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "delta-0")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "delta-1")))
    val recovered = kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 2)
    assert(recovered.meta.folds == 2L && recovered.meta.tiers == 1)
    // the empty folds' batchIds are WATERMARKED: redelivery skips
    assert(recovered.foldIn(1L, kv(9L -> "x")) == 0L)
    assert(recovered.foldIn(2L, kv(3L -> "c")) == 1L)
  }

  test("mergedFront end-to-end (VERDICT r16 stretch): two sources " +
      "through ONE durable folding ingest, restart, two NEW sources — " +
      "a post-restart arrival on source B hits source A's pre-restart " +
      "fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("merged-restart")
    val base = "the quick brown fox jumps over the lazy dog while " +
      "the cat sleeps in the warm afternoon sun near the barn"
    val novel = "a brand new arrival describing bloom filter pruning " +
      "strategies for sort merge joins on clustered tables"
    val corpusSigs = Dedup.minhashSignatures(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val writer = Dedup.foldingMinhashIndex(corpusSigs, bands = 16,
      rowsPerBand = 4, numPartitions = 2, durablePath = Some(dir))

    def runMerged(idx: Dedup.FoldingMinhashIndex,
                  a: Seq[(Long, String)], b: Seq[(Long, String)])
        : Set[(Long, Long)] = {
      val srcA = MemoryStream[(Long, String)]
      val srcB = MemoryStream[(Long, String)]
      val merged = FoldingIndex.mergedFront(Seq(
        srcA.toDF().toDF("doc_id", "text"),
        srcB.toDF().toDF("doc_id", "text")))
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_merged_restart").toString
      val hits =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = Dedup.nearDupIngestStream(merged, "doc_id", "text", idx,
        shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
        ckpt) { (h, _) =>
        h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
      }.start()
      try {
        if (a.nonEmpty) { srcA.addData(a: _*); q.processAllAvailable() }
        if (b.nonEmpty) { srcB.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      hits.toArray(Array.empty[(Long, Long)]).toSet
    }

    // pre-restart: source A's novel arrival is accepted, folds durably
    assert(runMerged(writer, Seq((10L, novel)), Seq.empty) == Set.empty)
    assert(writer.sigs.meta.foldedRows == 1L)

    // restart: recover from disk alone; a NEW merged stream (fresh
    // checkpoint, fresh sources) delivers a near-dup on source B —
    // the single-watermark contract must survive merge + recovery
    val recovered = Dedup.recoverMinhashIndex(spark, dir, bands = 16,
      rowsPerBand = 4, numPartitions = 2)
    val got = runMerged(recovered, Seq.empty,
      Seq((20L, novel.replace("clustered", "bucketed"))))
    assert(got == Set((20L, 10L)),
      s"source B must see source A's pre-restart fold, got $got")
  }

  test("writer identity is stamped in the durable meta: recover() " +
      "refuses a mismatched builder tag or knob set, naming both " +
      "sides (VERDICT r17 Next #5)") {
    val dir = tmpDir("identity")
    val writer = kvTier("kv-spec-v1").create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 4, durablePath = Some(dir))
    writer.foldIn(0L, kv(2L -> "b"))
    // the matching recovery works
    assert(rowsOf(kvTier("kv-spec-v1").recover(spark, dir,
      numPartitions = 2, compactEvery = 4).current) ==
      Set(1L -> "a", 2L -> "b"))
    // a wrong TAG fails fast, naming writer and caller — the check a
    // builder lambda itself cannot provide
    val tagEx = intercept[IllegalArgumentException] {
      kvTier("kv-spec-v2").recover(spark, dir, numPartitions = 2,
        compactEvery = 4)
    }
    assert(tagEx.getMessage.contains("kv-spec-v1") &&
      tagEx.getMessage.contains("kv-spec-v2"))
    // and so does every stored knob: bucketCols, numPartitions,
    // compactEvery, dedupKeyCols
    assert(intercept[IllegalArgumentException] {
      kvTier("kv-spec-v1", bucketCols = Seq("v")).recover(spark, dir,
        numPartitions = 2, compactEvery = 4)
    }.getMessage.contains("bucketCols"))
    assert(intercept[IllegalArgumentException] {
      kvTier("kv-spec-v1").recover(spark, dir, numPartitions = 3,
        compactEvery = 4)
    }.getMessage.contains("numPartitions"))
    assert(intercept[IllegalArgumentException] {
      kvTier("kv-spec-v1").recover(spark, dir, numPartitions = 2,
        compactEvery = 5)
    }.getMessage.contains("compactEvery"))
    assert(intercept[IllegalArgumentException] {
      kvTier("kv-spec-v1", dedupKeyCols = Seq("k")).recover(spark, dir,
        numPartitions = 2, compactEvery = 4)
    }.getMessage.contains("dedupKeyCols"))
  }

  test("staggered compaction tick (VERDICT r19 Next #4): the offset " +
      "tier compacts compactOffset folds early, then at the full " +
      "period — and a mixed-tick recovery resumes the SAME schedule " +
      "with identical content") {
    val dir = tmpDir("stagger")
    // a two-tier declaration at compactEvery = 4: the first-declared
    // tier ticks half a period early, at folds 2, 6, 10, … (the phase
    // foldingMinhashIndex's bucket tier gets); the second at 4, 8, …
    val decl = Seq("early" -> kvTier("kv-stagger-early"),
      "late" -> kvTier("kv-stagger-late"))
    val Seq(writer, writerLate) = FoldingIndex.creating(kv(1L -> "a"),
      numPartitions = 2, compactEvery = 4, durablePath = Some(dir))(decl)
    def fold(tiers: FoldingIndex*)(batchId: Long, rows: DataFrame): Unit =
      tiers.foreach(_.foldIn(batchId, rows))
    fold(writer, writerLate)(0L, kv(2L -> "b"))
    assert(writer.meta.compactions == 0L)
    fold(writer, writerLate)(1L, kv(3L -> "c")) // fold 2: the EARLY first tick
    assert(writer.meta.compactions == 1L && writer.meta.tiers == 1)
    assert(writerLate.meta.compactions == 0L)
    fold(writer, writerLate)(2L, kv(4L -> "d"))
    assert(writer.meta.compactions == 1L,
      "after the first tick the period is compactEvery, not offset")

    // MIXED-TICK RECOVERY: one compaction behind us, one delta live —
    // the recovered index must resume the same phase (next tick after
    // 4 MORE deltas, i.e. at fold 6, not 4)
    val Seq(recovered, recoveredLate) = FoldingIndex.recovering(spark, dir,
      numPartitions = 2, compactEvery = 4, resetWatermark = false)(decl)
    assert(recovered.meta.compactions == 1L &&
      recovered.meta.tiers == 2 && recovered.meta.folds == 3L)
    assert(rowsOf(recovered.current) == rowsOf(writer.current))
    fold(recovered, recoveredLate)(3L, kv(5L -> "e"))
    assert(recoveredLate.meta.compactions == 1L,
      "the late tier's first tick lands at fold 4, off the early tier's")
    fold(recovered, recoveredLate)(4L, kv(6L -> "f"))
    assert(recovered.meta.compactions == 1L,
      "recovery must not reset the tick phase")
    fold(recovered, recoveredLate)(5L, kv(7L -> "g")) // fold 6: the second tick
    assert(recovered.meta.compactions == 2L && recovered.meta.tiers == 1)
    assert(recoveredLate.meta.compactions == 1L)
    assert(rowsOf(recovered.current) == Set(1L -> "a", 2L -> "b",
      3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f", 7L -> "g"))
  }

  test("minhash tier pair staggers its ticks: buckets and sigs never " +
      "compact on the same fold, at unchanged probe results") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while " +
      "the cat sleeps in the warm afternoon sun near the barn"
    val novel = "a brand new arrival describing bloom filter pruning " +
      "strategies for sort merge joins on clustered tables"
    val corpusSigs = Dedup.minhashSignatures(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    // compactEvery = 2 → buckets offset 1: buckets tick at folds 1, 3;
    // sigs at fold 2 — never the same fold
    val idx = Dedup.foldingMinhashIndex(corpusSigs, bands = 16,
      rowsPerBand = 4, numPartitions = 2, compactEvery = 2)
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stagger_minhash").toString
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Dedup.nearDupIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      ckpt) { (h, _) =>
      h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      // three accepted folds, one per micro-batch; after each, the two
      // tiers' compaction counts must never have ticked together
      val arrivals = Seq(
        (10L, novel),
        (20L, "completely separate text about adaptive query " +
          "execution and partition coalescing at runtime"),
        (30L, "yet another unrelated arrival mentioning broadcast " +
          "thresholds and sort merge join selection heuristics"))
      for (d <- arrivals) {
        input.addData(d); q.processAllAvailable()
        assert(idx.buckets.meta.folds == idx.sigs.meta.folds,
          "lockstep folds")
      }
      // schedule: buckets ticked at folds 1 and 3, sigs at fold 2
      assert(idx.buckets.meta.compactions == 2L,
        s"buckets ticks: ${idx.buckets.meta}")
      assert(idx.sigs.meta.compactions == 1L,
        s"sigs ticks: ${idx.sigs.meta}")
      // and the staggered index still catches a near-dup folded two
      // compactions ago — content is tick-schedule-invariant
      input.addData((40L, novel.replace("clustered", "bucketed")))
      q.processAllAvailable()
      val got = hits.toArray(Array.empty[(Long, Long)]).toSet
      assert(got == Set((40L, 10L)), s"staggered index hit set: $got")
    } finally q.stop()
  }

  test("compaction schedule table: no two tiers of a multi-tier index " +
      "(minhash, edit, repeat, scrub, decontam) compact on the same " +
      "fold over two periods; minhash keeps its half-period stagger") {
    import graft.operators.{Decontam, EdJoin, SubstrDedup}
    val every = 4 // >= the largest tier count (decontam's three)
    // batch b: two fresh docs, long enough for every builder (winnow
    // minLen 30, scrub L 30, decontam's 8-word shingles) to emit rows,
    // so every tier gets a non-empty delta on every fold
    def docs(b: Int): DataFrame = Seq(
      (100L * b + 1, s"batch $b opens with alpha beta gamma delta " +
        "epsilon zeta eta theta iota kappa"),
      (100L * b + 2, s"batch $b closes on lambda mu nu xi omicron pi " +
        "rho sigma tau upsilon"))
      .toDF("id", "text")
    def sigsOf(d: DataFrame): DataFrame = Dedup.minhashSignatures(d, "id",
      "text", shingleSize = 3, numHashes = 16)
    def each(tiers: FoldingIndex*)(b: Long, d: DataFrame): Unit =
      tiers.foreach(_.foldIn(b, d))
    // (modality, its tiers in declaration order, one fold of a batch)
    val table: Seq[(String, Seq[FoldingIndex], (Long, DataFrame) => Unit)] =
      Seq({
        val i = Dedup.foldingMinhashIndex(sigsOf(docs(0)), bands = 8,
          rowsPerBand = 2, numPartitions = 2, compactEvery = every)
        ("minhash", Seq(i.buckets, i.sigs),
          (b, d) => each(i.buckets, i.sigs)(b, sigsOf(d)))
      }, {
        val i = EdJoin.foldingEdIndex(docs(0), "id", "text", k = 1,
          numPartitions = 2, compactEvery = every)
        ("edit", Seq(i.keys, i.texts), each(i.keys, i.texts))
      }, {
        val i = SubstrDedup.foldingRepeatIndex(docs(0), "id", "text",
          minLen = 30, w = 8, numPartitions = 2, compactEvery = every)
        ("repeat", Seq(i.fps, i.texts), each(i.fps, i.texts))
      }, {
        val i = SubstrDedup.foldingScrubIndex(docs(0), "id", "text",
          L = 30, numPartitions = 2, compactEvery = every)
        ("scrub", Seq(i.idx, i.texts), each(i.idx, i.texts))
      }, {
        val i = Decontam.foldingIndex(docs(0), "id", "text",
          numPartitions = 2, compactEvery = every)
        ("decontam", Seq(i.trainIdx, i.gramDf, i.trainTexts),
          (b, d) => { i.foldIn(b, d); () })
      })
    // per modality: the folds at which each tier compacted
    val ticks = table.map { case (name, tiers, fold) =>
      val at = Array.fill(tiers.size)(Vector.empty[Int])
      for (f <- 1 to 2 * every) {
        val before = tiers.map(_.meta)
        fold(f.toLong, docs(f))
        tiers.zip(before).zipWithIndex.foreach { case ((t, m), i) =>
          assert(t.meta.foldedRows > m.foldedRows,
            s"$name tier $i folded an empty delta at fold $f")
          if (t.meta.compactions > m.compactions) at(i) :+= f
        }
      }
      assert(at.forall(_.size == 2),
        s"$name: every tier ticks once per period, got ${at.toSeq}")
      name -> at.toSeq
    }.toMap
    assert(ticks("minhash") == Seq(Seq(2, 6), Seq(4, 8)),
      s"minhash schedule moved: ${ticks("minhash")}")
    val clashes = ticks.collect {
      case (name, at) if at.flatten.distinct.size < at.flatten.size =>
        s"$name ${at.mkString(" ")}"
    }
    assert(clashes.isEmpty,
      s"tiers compacting on the same fold: ${clashes.mkString("; ")}")
  }

  test("a pre-stamp meta (no builderTag key) is REFUSED when recover() " +
      "supplies a non-empty tag: a schema-changed builder family must " +
      "fail at recovery, not at the next compaction (ADVICE r18)") {
    val dir = tmpDir("pretag")
    val writer = kvTier().create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 4, durablePath = Some(dir))
    writer.foldIn(0L, kv(2L -> "b"))
    // strip the writer-identity keys, simulating a meta written before
    // the stamps existed
    val metaPath = java.nio.file.Paths.get(dir, "_meta")
    val props = new java.util.Properties()
    val in = java.nio.file.Files.newInputStream(metaPath)
    try props.load(in) finally in.close()
    Seq("builderTag", "bucketCols", "numPartitions", "compactEvery",
      "dedupKeyCols").foreach(props.remove)
    val buf = new java.io.ByteArrayOutputStream()
    props.store(buf, "pre-stamp meta (spec-forged)")
    buf.write("#graft-meta-complete\n".getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1))
    java.nio.file.Files.write(metaPath, buf.toByteArray)
    // the raw rewrite bypassed the Hadoop checksummed FS — drop the
    // stale .crc sidecar so the recovery read isn't a ChecksumException
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._meta.crc"))
    // a non-empty caller tag refuses the unstamped state, naming it
    val ex = intercept[IllegalArgumentException] {
      kvTier("kv-spec-v9").recover(spark, dir, numPartitions = 2,
        compactEvery = 4)
    }
    assert(ex.getMessage.contains("builderTag") &&
      ex.getMessage.contains("kv-spec-v9"))
    // an EMPTY caller tag still accepts legacy state deliberately
    assert(rowsOf(kvTier().recover(spark, dir, numPartitions = 2,
      compactEvery = 4).current) == Set(1L -> "a", 2L -> "b"))
  }

  test("column-metadata stamps ride the parquet round-trip: a " +
      "recovered minhash bucket index still satisfies the probe gate") {
    val dir = tmpDir("stamps")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (2L, "an entirely different document about catalyst rules"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 8)
    val fidx = Dedup.foldingMinhashIndex(sigs, bands = 4,
      rowsPerBand = 2, numPartitions = 2)
    // persist just the bucket tier through a durable index
    val bucketTier = FoldingIndex.Tier("", Seq("band", "band_hash"),
      df => df)
    val durable = bucketTier.create(
      fidx.buckets.current.repartition(2, col("band"), col("band_hash"))
        .localCheckpoint(true),
      numPartitions = 2, compactEvery = 16, durablePath = Some(dir))
    durable.foldIn(0L, fidx.buckets.current.limit(0))
    val recovered = bucketTier.recover(spark, dir, numPartitions = 2,
      compactEvery = 16)
    // the banding stamp must have survived parquet + repartition
    assert(graft.operators.Dedup.BandingStamp
      .read(recovered.current).contains(Seq(4L, 2L)),
      "banding stamp lost in the durable round-trip")
  }
}
