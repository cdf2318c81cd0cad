package graft

import graft.operators.{CdcDedup, Decontam, EdJoin, IvfIndex, SubstrDedup}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Fold-in agreement per modality (VERDICT r14 Next #1): for each
  * remaining ingest family — character-edit, verbatim-run, gram scrub,
  * segment scrub, semantic, decontam — probe-after-fold must equal
  * probe-against-an-index-rebuilt-from-scratch on the same arrivals,
  * and the ingest stream must catch dups of EARLIER ARRIVALS (the hit
  * class the pinned probes are blind to). MinHash is covered in
  * [[FoldingIndexSpec]].
  */
class FoldingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ckpt(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_fold_$tag").toString

  // ---------------------------------------------------------- edit

  test("edit: ingest stream catches earlier-arrival dups; " +
      "probe-after-fold ≡ probe-against-rebuilt") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "Customer#000000042"),
      (2L, "Supplier#000000777")).toDF("id", "name")
    val fidx = EdJoin.foldingEdIndex(corpus, "id", "name", k = 1,
      numPartitions = 4, compactEvery = 2)

    val input = MemoryStream[(Long, String)]
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Int)]()
    val q = EdJoin.editIngestStream(
      input.toDF().toDF("id", "name"), "id", "name", fidx, k = 1,
      ckpt("ed")) { (h, _) =>
      h.collect().foreach(r =>
        hits.add((r.getLong(0), r.getLong(1), r.getInt(2))))
    }.start()
    try {
      // batch 1: one substitution off corpus 1 (rejected) + novel
      input.addData((10L, "Customer#000000043"),
        (11L, "Widget#00000000001"))
      q.processAllAvailable()
      // batch 2: one substitution off the ACCEPTED 11 + clean
      input.addData((12L, "Widget#00000000002"),
        (13L, "Gadget#99999999999"))
      q.processAllAvailable()
    } finally q.stop()
    val got = hits.toArray(Array.empty[(Long, Long, Int)]).toSet
    assert(got == Set((10L, 1L, 1), (12L, 11L, 1)),
      s"expected corpus + earlier-arrival hits, got $got")

    // fold-state ≡ rebuilt-state, tier by tier (stronger than one
    // probe's hit equality, and the r18 string-free keys tier makes
    // the keys check exact set equality of 16-byte rows): the texts
    // tier must hold corpus ∪ accepted arrivals, and the keys tier
    // must equal the string-free deletion keys of EXACTLY that
    // relation — every probe result equality follows
    val acceptedCorpus = Set(
      (1L, "Customer#000000042"), (2L, "Supplier#000000777"),
      (11L, "Widget#00000000001"), (13L, "Gadget#99999999999"))
    val foldedTexts = fidx.texts.current
    assert(foldedTexts.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == acceptedCorpus,
      "texts tier must be corpus + accepted arrivals")
    val rebuiltKeys = EdJoin.deletionKeys(
        acceptedCorpus.toSeq.toDF("id", "name"), "id", "name", k = 1)
      .select(col("_key"), col("_id"))
    assert(fidx.keys.current.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      rebuiltKeys.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      "keys tier must equal the rebuilt string-free deletion keys")

    // and the probe machinery sees the folded arrival through a
    // rebuilt FULL index (the pinned probe's shape) — with the tier
    // equality above this transfers to the folding index
    val rebuilt = EdJoin.deletionKeys(
      acceptedCorpus.toSeq.toDF("id", "name"), "id", "name", k = 1)
    val in = MemoryStream[(Long, String)]
    val hs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Int)]()
    val pq = EdJoin.editProbeStream(in.toDF().toDF("id", "name"),
      "id", "name", rebuilt, k = 1, ckpt("ed_r")) { (h, _) =>
      h.collect().foreach(r =>
        hs.add((r.getLong(0), r.getLong(1), r.getInt(2))))
    }.start()
    try {
      in.addData((100L, "Supplier#000000771"),
        (101L, "Gadget#99999999998"), (102L, "NoMatchAtAll#12345"))
      pq.processAllAvailable()
    } finally pq.stop()
    val vsRebuilt = hs.toArray(Array.empty[(Long, Long, Int)]).toSet
    assert(vsRebuilt == Set((100L, 2L, 1), (101L, 13L, 1)),
      s"the folded arrival must be probe-visible, got $vsRebuilt")
  }

  // ------------------------------------------------------- repeat

  private val minLen = 30
  private val w = 8
  private val boiler = "ALL RIGHTS RESERVED (C) 2026 GRAFT CO"
  private val novelRun = "NOVEL LICENSE BLOCK ALPHA BETA GAMMA DELTA"

  test("repeat: ingest stream catches earlier-arrival runs; " +
      "probe-after-fold ≡ probe-against-rebuilt") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "preamble text then " + boiler + " and a tail"),
      (2L, "a fully unrelated document about nothing on earth"))
      .toDF("id", "text")
    val fidx = SubstrDedup.foldingRepeatIndex(corpus, "id", "text",
      minLen, w, numPartitions = 4, compactEvery = 2)

    val input = MemoryStream[(Long, String)]
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = SubstrDedup.repeatIngestStream(
      input.toDF().toDF("id", "text"), "id", "text", fidx, minLen, w,
      ckpt("rp")) { (h, _) =>
      h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    val novelDoc = "fresh content leading into " + novelRun + " closing"
    try {
      // batch 1: embeds the corpus boiler (rejected) + a novel run doc
      input.addData((10L, "stolen header " + boiler + " stolen tail"),
        (11L, novelDoc))
      q.processAllAvailable()
      // batch 2: embeds the ACCEPTED 11's run + clean
      input.addData((12L, "plagiarized " + novelRun + " epilogue"),
        (13L, "completely clean arrival speaking of other matters"))
      q.processAllAvailable()
    } finally q.stop()
    val got = hits.toArray(Array.empty[(Long, Long)]).toSet
    assert(got == Set((10L, 1L), (12L, 11L)),
      s"expected corpus + earlier-arrival hits, got $got")

    val acceptedDocs = Seq((11L, novelDoc),
      (13L, "completely clean arrival speaking of other matters"))
    val allDocs = corpus.unionByName(acceptedDocs.toDF("id", "text"))
    def probeHits(fps: DataFrame, texts: DataFrame, tag: String)
        : Set[(Long, Long)] = {
      val in = MemoryStream[(Long, String)]
      val hs =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val pq = EventStreams.toForeachBatchSink(
          in.toDF().toDF("id", "text"), ckpt(tag)) { (batch, _) =>
        SubstrDedup.repeatCorpusHits(batch, "id", "text", fps, texts,
            minLen, w)
          .collect().foreach(r => hs.add((r.getLong(0), r.getLong(1))))
      }.start()
      try {
        in.addData((100L, "echoing " + novelRun + " here too"),
          (101L, "still nothing shared with anyone at all okay"))
        pq.processAllAvailable()
      } finally pq.stop()
      hs.toArray(Array.empty[(Long, Long)]).toSet
    }
    val afterFold =
      probeHits(fidx.fps.current, fidx.texts.current, "rp_f")
    val vsRebuilt = probeHits(
      SubstrDedup.fingerprints(allDocs, "id", "text", minLen, w),
      allDocs, "rp_r")
    assert(afterFold == vsRebuilt,
      s"fold diverged from rebuild: $afterFold vs $vsRebuilt")
    assert(afterFold.contains((100L, 11L)))
  }

  // -------------------------------------------------------- scrub

  test("scrub: cleaned output after fold ≡ scrub against the rebuilt " +
      "reference; folded content is scrubbed from later batches") {
    implicit val sqlCtx = spark.sqlContext
    val L = 30
    val reference = Seq(
      (1L, "preamble text then " + boiler + " and a tail"))
      .toDF("id", "text")
    val fidx = SubstrDedup.foldingScrubIndex(reference, "id", "text",
      L, numPartitions = 4, compactEvery = 2)

    val input = MemoryStream[(Long, String)]
    val cleanedByBatch = new java.util.concurrent.ConcurrentHashMap[
      Long, String]()
    val q = SubstrDedup.scrubIngestStream(
      input.toDF().toDF("id", "text"), "id", "text", fidx, L,
      ckpt("sc")) { (cleaned, _) =>
      cleaned.collect().foreach(r =>
        cleanedByBatch.put(r.getLong(0), r.getString(1)))
    }.start()
    val novelTail = " " + novelRun + " WITH EXTRA UNIQUE PADDING"
    try {
      // batch 1: boiler (cut against the reference) + a novel tail
      // that survives and folds in as new reference content
      input.addData((10L, boiler + novelTail))
      q.processAllAvailable()
      // batch 2: repeats batch 1's SURVIVING content — must be cut now
      input.addData((11L, "lead-in" + novelTail))
      q.processAllAvailable()
    } finally q.stop()
    val c10 = cleanedByBatch.get(10L)
    assert(!c10.contains(boiler) && c10.contains(novelRun),
      s"batch-1 arrival must lose the boiler, keep the novel run: $c10")
    val c11 = cleanedByBatch.get(11L)
    assert(!c11.contains(novelRun),
      s"batch-2 arrival must lose the FOLDED batch-1 content: $c11")

    // probe-after-fold ≡ scrub against reference ∪ accepted-cleaned
    val rebuiltRef = reference.unionByName(
      Seq((10L, c10), (11L, c11)).filter(_._2.nonEmpty)
        .toDF("id", "text"))
    val probeSet = Seq(
      (100L, "prefix " + boiler + " then " + novelRun + " suffix"),
      (101L, "wholly untouched arrival text of reasonable length"))
      .toDF("id", "text")
    val afterFold = {
      val in = MemoryStream[(Long, String)]
      val out = new java.util.concurrent.ConcurrentHashMap[
        Long, String]()
      val pq = EventStreams.toForeachBatchSink(
          in.toDF().toDF("id", "text"), ckpt("sc_f")) { (batch, _) =>
        SubstrDedup.scrubAgainstIndex(batch, "id", "text",
            fidx.idx.current, fidx.texts.current, L)
          .collect().foreach(r => out.put(r.getLong(0), r.getString(1)))
      }.start()
      try {
        in.addData((100L, "prefix " + boiler + " then " + novelRun +
          " suffix"), (101L,
          "wholly untouched arrival text of reasonable length"))
        pq.processAllAvailable()
      } finally pq.stop()
      Map(100L -> out.get(100L), 101L -> out.get(101L))
    }
    val vsRebuilt = SubstrDedup.scrubAgainstCorpus(
      probeSet, rebuiltRef, "id", "text", L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterFold == vsRebuilt,
      s"fold diverged from rebuild: $afterFold vs $vsRebuilt")
  }

  // ------------------------------------------------------ segment

  test("segment: cleaned output after fold ≡ scrub against the " +
      "rebuilt digest set; folded segments are dropped from later " +
      "batches") {
    implicit val sqlCtx = spark.sqlContext
    val divisor = 2
    val refText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val novelText = "unique one unique two unique three unique four " +
      "unique five unique six unique seven unique eight unique nine"
    val reference = Seq((1L, refText)).toDF("id", "text")
    val fidx = CdcDedup.foldingSegmentIndex(reference, "id", "text",
      divisor, numPartitions = 4, compactEvery = 2)

    val input = MemoryStream[(Long, String)]
    val cleaned = new java.util.concurrent.ConcurrentHashMap[
      Long, (String, Long, Long)]()
    val q = CdcDedup.segmentIngestStream(
      input.toDF().toDF("id", "text"), "id", "text", fidx, divisor,
      ckpt("sg")) { (c, _) =>
      c.collect().foreach(r => cleaned.put(r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3))))
    }.start()
    try {
      input.addData((10L, novelText))   // all segments novel: accepted
      q.processAllAvailable()
      input.addData((11L, novelText))   // verbatim repeat of FOLDED 10
      q.processAllAvailable()
    } finally q.stop()
    val (c10, n10, k10) = cleaned.get(10L)
    assert(c10 == novelText && n10 == k10,
      s"batch-1 novel arrival must survive whole: $c10")
    val (c11, _, k11) = cleaned.get(11L)
    assert(c11 == "" && k11 == 0L,
      s"batch-2 repeat of folded content must be fully scrubbed: $c11")

    // probe-after-fold ≡ scrub against segmentIndex(reference ∪
    // accepted-cleaned) — batch-side, the same scrubSegments code
    val rebuiltIdx = CdcDedup.segmentIndex(
      reference.unionByName(Seq((10L, c10)).toDF("id", "text")),
      "id", "text", divisor)
    val probeSet = Seq(
      (100L, refText + " " + novelText),
      (101L, "strange brand new words unseen anywhere before now"))
      .toDF("id", "text")
    def rowsOf(df: DataFrame): Set[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    val afterFold = rowsOf(CdcDedup.scrubSegments(
      probeSet, "id", "text", fidx.current, divisor))
    val vsRebuilt = rowsOf(CdcDedup.scrubSegments(
      probeSet, "id", "text", rebuiltIdx, divisor))
    assert(afterFold == vsRebuilt,
      s"fold diverged from rebuild: $afterFold vs $vsRebuilt")
  }

  // ----------------------------------------------------- semantic

  test("semantic: ingest stream folds accepted vectors under the " +
      "pinned centroids; probe-after-fold ≡ probe-against-rebuilt") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val centroids = IvfIndex.fit(corpus, "vec_id", "embedding",
      k = 8, iters = 3)
    val fidx = IvfIndex.foldingSemanticIndex(corpus, "vec_id",
      "embedding", centroids, numPartitions = 4, compactEvery = 2)
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    // a deterministic novel direction: a one-hot spike is (almost
    // surely) < tau against every corpus vector at tau = 0.95
    val novel: Seq[Float] =
      Seq.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val novelScaled = novel.map(_ * 2.0f) // same direction, cos = 1
    val corpusCopy = corpus.filter(col("vec_id") === 5L)
      .select(col("embedding")).head().getSeq[Float](0).toSeq
    val tau = 0.95

    val input = MemoryStream[(Long, Seq[Float])]
    val hits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = IvfIndex.semanticIngestStream(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      fidx, centroids, tau, nProbe = 2, ckpt("sem")) { (h, _) =>
      h.collect().foreach(r => hits.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      // batch 1: exact copy of corpus vec 5 (rejected) + novel spike
      input.addData((200000L, corpusCopy), (200001L, novel))
      q.processAllAvailable()
      // batch 2: same direction as the ACCEPTED novel spike
      input.addData((200002L, novelScaled))
      q.processAllAvailable()
    } finally q.stop()
    val got = hits.toArray(Array.empty[(Long, Long)]).toSet
    assert(got.contains((200000L, 5L)), s"corpus hit missing: $got")
    assert(got.contains((200002L, 200001L)),
      s"earlier-arrival hit missing: $got")
    assert(!got.exists(_._1 == 200001L),
      s"the novel spike must be accepted silently: $got")

    // probe-after-fold ≡ probe-against-rebuilt with the SAME centroids
    val accepted = Seq((200001L, novel))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("float"))
          .as("embedding"))
    val rebuilt = IvfIndex.buildSemanticIndex(
      corpus.select(col("vec_id"), col("embedding"))
        .unionByName(accepted), "vec_id", "embedding", centroids)
    val probeSet = Seq((300000L, novelScaled), (300001L, corpusCopy))
      .toDF("vec_id", "embedding")
    def hitsOf(idx: DataFrame): Set[(Long, Long)] =
      IvfIndex.semanticHits(idx, probeSet, "vec_id", "embedding",
        centroids, tau, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val afterFold = hitsOf(fidx.current)
    val vsRebuilt = hitsOf(rebuilt)
    assert(afterFold == vsRebuilt,
      s"fold diverged from rebuild: $afterFold vs $vsRebuilt")
    assert(afterFold.contains((300000L, 200001L)))
  }

  // ----------------------------------------------------- decontam

  test("decontam: train-side fold-in grows the index probes see; " +
      "probe-after-fold ≡ probe-against-rebuilt") {
    implicit val sqlCtx = spark.sqlContext
    val mk = (s: String) => s.split(" ").length
    val t0Doc = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima"
    val t1Doc = "mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray"
    assert(mk(t0Doc) >= 8 && mk(t1Doc) >= 8)
    val t0 = Seq((1L, t0Doc)).toDF("doc_id", "text")
    val t1 = Seq((2L, t1Doc)).toDF("doc_id", "text")
    val findex = Decontam.foldingIndex(t0, "doc_id", "text",
      numPartitions = 4, compactEvery = 2)

    // eval docs: inside t0, inside t1 (invisible until the fold), clean
    val evalInT0 = t0Doc.split(" ").slice(1, 10).mkString(" ")
    val evalInT1 = t1Doc.split(" ").slice(2, 11).mkString(" ")
    val evalClean = "zulu yankee whiskey victor uniform tango sierra " +
      "romeo quebec papa oscar"
    val evals = Seq((100L, evalInT0), (101L, evalInT1),
      (102L, evalClean)).toDF("doc_id", "text")

    val before = Decontam.probe(findex.index, evals, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((100L, 1L)),
      s"pre-fold, only the t0 leak is visible: $before")

    val n = findex.foldIn(0L, t1)
    assert(n > 0L)
    // redelivery: all three tiers skip
    assert(findex.foldIn(0L, t1) == 0L)

    val after = Decontam.probe(findex.index, evals, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Decontam.probe(
      Decontam.buildIndex(t0.unionByName(t1), "doc_id", "text"),
      evals, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == rebuilt, s"fold diverged: $after vs $rebuilt")
    assert(after == Set((100L, 1L), (101L, 2L)))

    // compaction re-aggregates per-tier dfs and changes nothing
    findex.compact()
    val compacted = Decontam
      .probe(findex.index, evals, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted == after)

    // the streaming face sees the growth: probeFoldingStream resolves
    // the tiers per batch
    val in = MemoryStream[(Long, String)]
    val hs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = Decontam.probeFoldingStream(
      in.toDF().toDF("doc_id", "text"), findex, "doc_id", "text",
      ckpt("dc")) { (h, _) =>
      h.collect().foreach(r => hs.add((r.getLong(0), r.getLong(1))))
    }.start()
    try {
      in.addData((200L, evalInT1))
      q.processAllAvailable()
      val t2Doc = "one two three four five six seven eight nine ten " +
        "eleven twelve"
      findex.foldIn(1L, Seq((3L, t2Doc)).toDF("doc_id", "text"))
      in.addData((201L, t2Doc.split(" ").slice(0, 9).mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = hs.toArray(Array.empty[(Long, Long)]).toSet
    assert(streamed == Set((200L, 2L), (201L, 3L)),
      s"stream must see both folds: $streamed")

    // r19 per-tier read path: with a live delta tier (t2 folded after
    // the compaction), probeTiered ≡ the union-face probe on the same
    // snapshot — including the df=0 non-containment proof (evalClean)
    // and the best-seed selection across per-tier dfs
    assert(findex.trainIdx.currentTiers.size == 2,
      "fixture must exercise the multi-tier path")
    val evals2 = Seq((100L, evalInT0), (101L, evalInT1),
      (102L, evalClean),
      (103L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val tiered = Decontam.probeTiered(findex, evals2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaUnion = Decontam.probe(findex.index, evals2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiered == viaUnion && tiered ==
      Set((100L, 1L), (101L, 2L), (103L, 3L)),
      s"tiered $tiered vs union $viaUnion")

    // and the corpus-scale tiers never CROSS an Exchange (the union
    // face re-exchanged them every batch): an exchange offends only
    // when corpus-tier ROWS are its input — the base scan reachable
    // through narrow ops alone; anything below a join/aggregate is a
    // batch-derived result and may exchange freely
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val baseIds = Seq(findex.trainIdx, findex.gramDf, findex.trainTexts)
      .map(_.currentTiers.head.queryExecution.sparkPlan
        .collect { case r: RDDScanExec => r.rdd.id }.head).toSet
    def movesBaseRows(p: SparkPlan): Boolean = p match {
      case r: RDDScanExec => baseIds(r.rdd.id)
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case _: org.apache.spark.sql.execution.aggregate
        .BaseAggregateExec => false
      case other => other.children.exists(movesBaseRows)
    }
    def offenders(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if movesBaseRows(e.child) => e }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(offenders(
          Decontam.probeTiered(findex, evals2, "doc_id", "text")).isEmpty,
        "corpus tiers must not be exchanged on the tiered probe path")
      // positive control: the union face DOES move corpus rows through
      // an exchange — the defect the tiered path exists to remove
      assert(offenders(
          Decontam.probe(findex.index, evals2, "doc_id", "text"))
        .nonEmpty,
        "control: the union-face probe should re-exchange corpus tiers")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
