package graft

import graft.operators.Dedup
import graft.streaming.{EventStreams, FoldingIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Incremental index maintenance (VERDICT r14 Next #1): the LSM-style
  * fold-in core, plus the MinHash modality's agreement contract —
  * probe-after-fold ≡ probe-against-rebuilt-index on the same
  * arrivals, and the ingest stream catching a near-dup of an EARLIER
  * ARRIVAL (the hit class the pinned-index probes are blind to).
  */
class FoldingIndexSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(docs: Seq[(Long, String)]): DataFrame =
    Dedup.minhashSignatures(docs.toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 3, numHashes = 64)

  private val builder: DataFrame => DataFrame = df =>
    Dedup.minhashSignatures(df, "doc_id", "text",
      shingleSize = 3, numHashes = 64)

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat sleeps in the warm afternoon sun near the barn"
  private val corpusDocs = Seq(
    (1L, base),
    (2L, "completely different text about spark catalyst optimizer " +
      "rules and whole stage code generation pipelines"))
  private val novel = "a brand new arrival describing bloom filter " +
    "pruning strategies for sort merge joins on clustered tables"
  // one-word edits → high Jaccard against their originals
  private val dupOfCorpus = base.replace("afternoon", "evening")
  private val dupOfNovel = novel.replace("clustered", "bucketed")
  private val clean = "yet another fully unrelated document on parquet " +
    "footer statistics and vectorized reader batch sizes"

  private def rows(df: DataFrame): Set[(Long, Seq[Long])] =
    df.collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1))).toSet

  test("fold-in: tiers accumulate, compaction collapses, counters bump," +
      " re-delivered batchIds are skipped") {
    val fidx = FoldingIndex.Tier("", Seq("id"), builder)
      .create(sigsOf(corpusDocs), numPartitions = 4, compactEvery = 2)
    assert(fidx.meta == fidx.Meta(0L, 0L, 0L, 0L, 1))

    val n1 = fidx.foldIn(0L, Seq((10L, novel)).toDF("doc_id", "text"))
    assert(n1 == 1L)
    assert(fidx.meta.tiers == 2 && fidx.meta.folds == 1L)

    // at-least-once redelivery of batch 0: must be a no-op
    val n1b = fidx.foldIn(0L, Seq((10L, novel)).toDF("doc_id", "text"))
    assert(n1b == 0L && fidx.meta.folds == 1L && fidx.meta.tiers == 2)

    // second fold trips compactEvery = 2: tiers collapse to 1
    val n2 = fidx.foldIn(1L, Seq((11L, clean)).toDF("doc_id", "text"))
    assert(n2 == 1L)
    val m = fidx.meta
    assert(m.tiers == 1 && m.compactions == 1L && m.foldedRows == 2L)
    assert(m.generation == 3L) // two folds + one compaction

    // content across fold+compaction ≡ one batch build over the union
    val rebuilt = sigsOf(corpusDocs ++ Seq((10L, novel), (11L, clean)))
    assert(rows(fidx.current) == rows(rebuilt))
  }

  test("foldInPinnedCounted: the caller-derived count feeds foldedRows " +
      "and the empty-fold fast path; redeliveries skip; tier content " +
      "is the lazy delta's") {
    val fidx = FoldingIndex.Tier("", Seq("id"), builder)
      .create(sigsOf(corpusDocs), numPartitions = 4, compactEvery = 100)
    // a lazy delta: a projection over a pinned frame, its count known
    // to the caller (here trivially — two signature rows)
    val pinned = sigsOf(Seq((10L, novel), (11L, clean)))
      .localCheckpoint(true)
    assert(fidx.foldInPinnedCounted(0L, pinned.select(col("id"),
      col("sig")), 2L) == 2L)
    assert(fidx.meta.foldedRows == 2L && fidx.meta.tiers == 2)
    assert(rows(fidx.current) ==
      rows(sigsOf(corpusDocs ++ Seq((10L, novel), (11L, clean)))))
    // at-least-once redelivery: no-op
    assert(fidx.foldInPinnedCounted(0L, pinned, 2L) == 0L)
    assert(fidx.meta.folds == 1L && fidx.meta.tiers == 2)
    // a zero count rides the empty-fold fast path: watermark advances,
    // NO tier appends
    assert(fidx.foldInPinnedCounted(1L, pinned.limit(0), 0L) == 0L)
    assert(fidx.meta.folds == 2L && fidx.meta.tiers == 2)
  }

  test("dedupKeyCols: a distinct-set index never re-admits a row " +
      "already present in a lower tier") {
    val b: DataFrame => DataFrame = df => df.select(col("k")).distinct()
    val fidx = FoldingIndex.Tier("", Seq("k"), b, dedupKeyCols = Seq("k"))
      .create(Seq(1L, 2L).toDF("k"), numPartitions = 2, compactEvery = 100)
    assert(fidx.foldIn(0L, Seq(2L, 3L).toDF("k")) == 1L) // 2 is in base
    assert(fidx.foldIn(1L, Seq(3L, 4L).toDF("k")) == 1L) // 3 in a delta
    assert(fidx.current.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    assert(fidx.current.count() == 4L) // no duplicate rows across tiers
  }

  test("fold-path dedup never shuffles the base tier " +
      "(per-tier semi-probe + batch-scale anti, not a Union anti-join)") {
    // the base carries a marker column so its scan is identifiable
    // inside the physical plan; dedup runs on k only
    val b: DataFrame => DataFrame = df => df
    val base = Pinned.byKey(
      Seq((1L, "base"), (2L, "base"), (3L, "base")).toDF("k", "tag"),
      4, "k")
    val fidx = FoldingIndex.Tier("", Seq("k"), b, dedupKeyCols = Seq("k"))
      .create(base, numPartitions = 4, compactEvery = 100)
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the base tier is an RDD-backed scan with a stable RDD id — the
    // unambiguous way to find ITS scan inside a composed plan (delta
    // tiers are RDD scans too, and THEY legitimately exchange)
    val baseRddId = fidx.currentTiers.head.queryExecution.sparkPlan
      .collect { case r: RDDScanExec => r.rdd.id }.head
    def assertBaseUnshuffled(df: DataFrame): Unit = {
      // AQE off for the walk: the adaptive wrapper hides the exchange
      // tree from collect(); restored below
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = df.queryExecution.executedPlan
        def hasBase(p: org.apache.spark.sql.execution.SparkPlan) =
          p.collect { case r: RDDScanExec if r.rdd.id == baseRddId => r }
            .nonEmpty
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.nonEmpty, "expected batch-side exchanges")
        shuffles.foreach(e => assert(!hasBase(e.child),
          "the corpus-scale base tier must not sit under an Exchange " +
            "on the fold path:\n" + plan.treeString.take(2000)))
        assert(hasBase(plan), "the base tier must be probed at all")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    // base only — the r15 §11b defect class would re-exchange base∪Δ
    val rows0 = Seq((3L, "b"), (4L, "b")).toDF("k", "tag")
    assertBaseUnshuffled(fidx.dedupAgainstTiers(rows0))
    // with deltas: still no base-tier shuffle (tiers probed separately)
    assert(fidx.foldIn(0L, Seq((4L, "d")).toDF("k", "tag")) == 1L)
    assert(fidx.foldIn(1L, Seq((5L, "d")).toDF("k", "tag")) == 1L)
    val plan2 = fidx.dedupAgainstTiers(
      Seq((5L, "b"), (6L, "b")).toDF("k", "tag"))
    assertBaseUnshuffled(plan2)
    // semantics unchanged: only genuinely-new keys survive
    assert(plan2.collect().map(_.getLong(0)).toSet == Set(6L))
  }

  test("currentTiers: base always present, empty folds append NO tier " +
      "(fast path) but still advance the watermark; per-tier union ≡ " +
      "current") {
    val b: DataFrame => DataFrame = df => df.select(col("k"))
    val fidx = FoldingIndex.Tier("", Seq("k"), b)
      .create(Seq(1L, 2L).toDF("k"), numPartitions = 2, compactEvery = 100)
    assert(fidx.currentTiers.size == 1)

    // an empty fold takes the fast path (VERDICT r16 Next #3): counted
    // as a fold (the batchId idempotence contract — redelivery of
    // batch 0 must still skip) but NO tier is appended, no compaction
    // tick is consumed, and the probe snapshot is untouched
    assert(fidx.foldIn(0L, Seq.empty[Long].toDF("k")) == 0L)
    assert(fidx.meta.folds == 1L && fidx.meta.tiers == 1)
    assert(fidx.currentTiers.size == 1, "empty fold must append no tier")
    // watermark advanced: redelivery of batch 0 is a no-op even with
    // non-empty content
    assert(fidx.foldIn(0L, Seq(9L).toDF("k")) == 0L)
    assert(fidx.meta.folds == 1L)

    assert(fidx.foldIn(1L, Seq(3L).toDF("k")) == 1L)
    assert(fidx.currentTiers.size == 2)
    // the LSM read-path contract: union of per-tier rows ≡ current
    val perTier = fidx.currentTiers.map(_.collect().map(_.getLong(0)))
      .reduce(_ ++ _).toSeq.sorted
    val viaCurrent =
      fidx.current.collect().map(_.getLong(0)).toSeq.sorted
    assert(perTier == viaCurrent && perTier == Seq(1L, 2L, 3L))
  }

  test("minhash agreement: probe-after-fold ≡ probe-against-rebuilt " +
      "on the same arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val fidx = FoldingIndex.Tier("", Seq("id"), builder)
      .create(sigsOf(corpusDocs), numPartitions = 4, compactEvery = 2)
    fidx.foldIn(0L, Seq((10L, novel)).toDF("doc_id", "text"))
    fidx.foldIn(1L, Seq((11L, clean)).toDF("doc_id", "text"))
    val rebuilt =
      sigsOf(corpusDocs ++ Seq((10L, novel), (11L, clean)))

    // the probe set hits the base corpus, a FOLDED arrival, and nothing
    def probeHits(staticSigs: DataFrame): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_fold_agree").toString
      val hits =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = EventStreams.toForeachBatchSink(
          input.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
        Dedup.nearDupCorpusHits(batch, "doc_id", "text", staticSigs,
            shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
      }.start()
      try {
        input.addData((100L, dupOfCorpus), (101L, dupOfNovel),
          (102L, clean.replace("batch", "page")))
        q.processAllAvailable()
      } finally q.stop()
      hits.toArray(Array.empty[(Long, Long)]).toSet
    }

    val afterFold = probeHits(fidx.current)
    val againstRebuilt = probeHits(rebuilt)
    assert(afterFold == againstRebuilt,
      s"fold-in diverged from rebuild: $afterFold vs $againstRebuilt")
    assert(afterFold.contains((100L, 1L)), "corpus hit must survive")
    assert(afterFold.contains((101L, 10L)),
      "the folded arrival must be probe-visible")
    // 102 is a near-dup of the FOLDED 11L (one-word edit of clean)
    assert(afterFold.contains((102L, 11L)))
  }

  test("ingest stream: a near-dup of an earlier batch's arrival is " +
      "caught (the hit the pinned probe is blind to), duplicates are " +
      "not re-indexed, final index ≡ rebuild on corpus + accepted") {
    implicit val sqlCtx = spark.sqlContext
    val fidx = Dedup.foldingMinhashIndex(sigsOf(corpusDocs),
      bands = 16, rowsPerBand = 4, numPartitions = 4, compactEvery = 2)
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Dedup.nearDupIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", fidx,
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      ckpt) { (h, _) =>
      h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      // batch 1: a dup of the corpus (rejected) + a novel doc (accepted)
      input.addData((10L, dupOfCorpus), (11L, novel))
      q.processAllAvailable()
      // batch 2: a dup of batch 1's ACCEPTED arrival + a clean doc
      input.addData((12L, dupOfNovel), (13L, clean))
      q.processAllAvailable()
    } finally q.stop()

    val got = hits.toArray(Array.empty[(Long, Long)]).toSet
    assert(got == Set((10L, 1L), (12L, 11L)),
      s"expected corpus hit + earlier-arrival hit, got $got")
    // accepted = {11, 13}; the rejected 10 and 12 never entered
    val rebuilt = sigsOf(corpusDocs ++ Seq((11L, novel), (13L, clean)))
    assert(rows(fidx.sigs.current) == rows(rebuilt))
    assert(fidx.sigs.meta.folds == 2L && fidx.sigs.meta.foldedRows == 2L)
    // the bucket tier folds in lockstep: 16 bands per accepted doc —
    // since r19 a LAZY fan-out delta with a DERIVED count, so pin both
    // the bookkeeping and the materialized tier content (≡ banding the
    // rebuilt signature relation)
    assert(fidx.buckets.meta.folds == 2L &&
      fidx.buckets.meta.foldedRows == 32L)
    def bucketRows(df: DataFrame): Set[(Int, Long, Long)] =
      df.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketRows(fidx.buckets.current) ==
      bucketRows(Dedup.bandedBuckets(rebuilt, 16, 4)))
  }

  test("mergedFront: two sources through ONE folding stream — an " +
      "arrival from source B sees source A's folded history, and the " +
      "final index ≡ rebuild on corpus + all accepted arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val fidx = Dedup.foldingMinhashIndex(sigsOf(corpusDocs),
      bands = 16, rowsPerBand = 4, numPartitions = 4, compactEvery = 100)
    val srcA = MemoryStream[(Long, String)]
    val srcB = MemoryStream[(Long, String)]
    val merged = FoldingIndex.mergedFront(Seq(
      srcA.toDF().toDF("doc_id", "text"),
      srcB.toDF().toDF("doc_id", "text")))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_merged_front").toString
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Dedup.nearDupIngestStream(
      merged, "doc_id", "text", fidx,
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      ckpt) { (h, _) =>
      h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      // source A delivers a novel doc; it folds in
      srcA.addData((10L, novel))
      q.processAllAvailable()
      // source B delivers a near-dup of A's arrival + a clean doc:
      // the hit proves cross-SOURCE fold visibility — exactly what
      // two independent writer streams would silently lose
      srcB.addData((12L, dupOfNovel), (13L, clean))
      q.processAllAvailable()
    } finally q.stop()
    val got = hits.toArray(Array.empty[(Long, Long)]).toSet
    assert(got == Set((12L, 10L)),
      s"expected the cross-source earlier-arrival hit, got $got")
    val rebuilt = sigsOf(corpusDocs ++ Seq((10L, novel), (13L, clean)))
    assert(rows(fidx.sigs.current) == rows(rebuilt))
  }
}
