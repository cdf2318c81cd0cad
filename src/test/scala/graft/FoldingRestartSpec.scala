package graft

import graft.operators.{Decontam, EdJoin, IvfIndex, SubstrDedup}
import graft.streaming.FoldingIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Operator-level restart for the modalities whose `recover*Index` no
  * other spec exercises: edit, repeat, scrub, semantic and decontam
  * (minhash and segment restarts live in [[FoldingDurabilitySpec]]).
  *
  * Per modality: a durable index and a never-restarted twin are built
  * from the same corpus and fold ingest batch 0 through the modality's
  * stream; the durable one is recovered in `spark.newSession()` and
  * every tier's rows and meta must match the twin's. Batch 1 then runs
  * on both — the recovered index through a stream resumed from the
  * SAME checkpoint, so its batchId continues past the restored
  * watermark — and must pass the stamp gate, give the twin's hits and
  * leave both indexes' tiers equal again.
  */
class FoldingRestartSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-restart-$tag").toString

  private val idText = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def json(id: Long, text: String): String =
    s"""{"id":$id,"text":"$text"}"""

  /** One modality under restart. `batch(k)` is ingest batch k as JSON
    * lines of `schema`; `run` wires the modality's stream over `index`
    * (decontam folds its train batch k from the sink, so `session`
    * builds that frame).
    */
  private abstract class Modality(val name: String, val schema: StructType) {
    type I
    def build(durablePath: Option[String]): I
    def recover(session: SparkSession, durablePath: String): I
    def tiers(index: I): Seq[FoldingIndex]
    def batch(k: Int): Seq[String]
    def run(session: SparkSession, index: I, source: DataFrame,
            checkpoint: String)(
        sink: (DataFrame, Long) => Unit): DataStreamWriter[Row]
  }

  private val edit = new Modality("edit", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))) {
    type I = EdJoin.FoldingEdIndex
    private val corpus = Seq((1L, "Customer#000000042"),
      (2L, "Supplier#000000777")).toDF("id", "name")
    def build(p: Option[String]) = EdJoin.foldingEdIndex(corpus, "id",
      "name", k = 1, numPartitions = 2, durablePath = p)
    def recover(s: SparkSession, p: String) =
      EdJoin.recoverEdIndex(s, p, "id", "name", k = 1, numPartitions = 2)
    def tiers(i: I) = Seq(i.keys, i.texts)
    // batch 1's 12 is one substitution off batch 0's accepted 11
    def batch(k: Int) = Seq(
      Seq("""{"id":10,"name":"Customer#000000043"}""",
        """{"id":11,"name":"Widget#00000000001"}"""),
      Seq("""{"id":12,"name":"Widget#00000000002"}""",
        """{"id":13,"name":"Gadget#99999999999"}"""))(k)
    def run(s: SparkSession, i: I, src: DataFrame, ckpt: String)(
        sink: (DataFrame, Long) => Unit) =
      EdJoin.editIngestStream(src, "id", "name", i, k = 1, ckpt)(sink)
  }

  private val (minLen, w) = (30, 8)
  private val boiler = "ALL RIGHTS RESERVED (C) 2026 GRAFT CO"
  private val novelRun = "NOVEL LICENSE BLOCK ALPHA BETA GAMMA DELTA"

  private val repeat = new Modality("repeat", idText) {
    type I = SubstrDedup.FoldingRepeatIndex
    private val corpus = Seq(
      (1L, "preamble text then " + boiler + " and a tail"),
      (2L, "a fully unrelated document about nothing on earth"))
      .toDF("id", "text")
    def build(p: Option[String]) = SubstrDedup.foldingRepeatIndex(corpus,
      "id", "text", minLen, w, numPartitions = 2, durablePath = p)
    def recover(s: SparkSession, p: String) = SubstrDedup
      .recoverRepeatIndex(s, p, "id", "text", minLen, w, numPartitions = 2)
    def tiers(i: I) = Seq(i.fps, i.texts)
    def batch(k: Int) = Seq(
      Seq(json(10L, "stolen header " + boiler + " stolen tail"),
        json(11L, "fresh content leading into " + novelRun + " closing")),
      Seq(json(12L, "plagiarized " + novelRun + " epilogue"),
        json(13L, "completely clean arrival speaking of other matters")))(k)
    def run(s: SparkSession, i: I, src: DataFrame, ckpt: String)(
        sink: (DataFrame, Long) => Unit) =
      SubstrDedup.repeatIngestStream(src, "id", "text", i, minLen, w,
        ckpt)(sink)
  }

  private val scrub = new Modality("scrub", idText) {
    type I = SubstrDedup.FoldingScrubIndex
    private val L = 30
    private val reference = Seq(
      (1L, "preamble text then " + boiler + " and a tail"))
      .toDF("id", "text")
    private val novelTail = " " + novelRun + " WITH EXTRA UNIQUE PADDING"
    def build(p: Option[String]) = SubstrDedup.foldingScrubIndex(
      reference, "id", "text", L, numPartitions = 2, durablePath = p)
    def recover(s: SparkSession, p: String) = SubstrDedup
      .recoverScrubIndex(s, p, "id", "text", L, numPartitions = 2)
    def tiers(i: I) = Seq(i.idx, i.texts)
    // batch 1 repeats batch 0's surviving tail: cut only if it folded
    def batch(k: Int) = Seq(Seq(json(10L, boiler + novelTail)),
      Seq(json(11L, "lead-in" + novelTail)))(k)
    def run(s: SparkSession, i: I, src: DataFrame, ckpt: String)(
        sink: (DataFrame, Long) => Unit) =
      SubstrDedup.scrubIngestStream(src, "id", "text", i, L, ckpt)(sink)
  }

  private val semantic = new Modality("semantic", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))) {
    type I = FoldingIndex
    private val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0.9f, 0.1f, 0f, 0f)),
      (5L, Seq(0f, 0.9f, 0.1f, 0f)), (6L, Seq(0f, 0f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    private lazy val centroids =
      IvfIndex.fit(corpus, "vec_id", "embedding", k = 2, iters = 2)
    def build(p: Option[String]) = IvfIndex.foldingSemanticIndex(corpus,
      "vec_id", "embedding", centroids, numPartitions = 2,
      durablePath = p)
    def recover(s: SparkSession, p: String) = IvfIndex
      .recoverSemanticIndex(s, p, "vec_id", "embedding", centroids,
        numPartitions = 2)
    def tiers(i: I) = Seq(i)
    // 10 copies corpus 2; 11 is a novel direction that 12 repeats
    def batch(k: Int) = Seq(
      Seq("""{"vec_id":10,"embedding":[0,1,0,0]}""",
        """{"vec_id":11,"embedding":[1,-1,1,-1]}"""),
      Seq("""{"vec_id":12,"embedding":[2,-2,2,-2]}""",
        """{"vec_id":13,"embedding":[0,0,1,0.05]}"""))(k)
    def run(s: SparkSession, i: I, src: DataFrame, ckpt: String)(
        sink: (DataFrame, Long) => Unit) =
      IvfIndex.semanticIngestStream(src, "vec_id", "embedding", i,
        centroids, tau = 0.95, nProbe = 2, ckpt)(sink)
  }

  private val decontam = new Modality("decontam", idText) {
    type I = Decontam.FoldingDecontamIndex
    private val t0 = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima"
    // train docs folded after eval batch k
    private val train = Seq(
      "mike november oscar papa quebec romeo sierra tango uniform " +
        "victor whiskey xray",
      "one two three four five six seven eight nine ten eleven twelve")
    private def inside(doc: String, from: Int) =
      doc.split(" ").slice(from, from + 9).mkString(" ")
    def build(p: Option[String]) = Decontam.foldingIndex(
      Seq((1L, t0)).toDF("id", "text"), "id", "text", numPartitions = 2,
      durablePath = p)
    def recover(s: SparkSession, p: String) =
      Decontam.recoverFoldingIndex(s, p, "id", "text", numPartitions = 2)
    def tiers(i: I) = Seq(i.trainIdx, i.gramDf, i.trainTexts)
    // eval batch 1 leaks train doc 2, folded before the restart
    def batch(k: Int) = Seq(
      Seq(json(100L, inside(t0, 1)), json(101L, inside(train(0), 2))),
      Seq(json(102L, inside(train(0), 2)), json(103L, inside(train(1), 0))))(k)
    def run(s: SparkSession, i: I, src: DataFrame, ckpt: String)(
        sink: (DataFrame, Long) => Unit) =
      Decontam.probeFoldingStream(src, i, "id", "text", ckpt) {
        (hits, batchId) =>
          sink(hits, batchId)
          i.foldIn(batchId, s.createDataFrame(
            Seq((2L + batchId, train(batchId.toInt)))).toDF("id", "text"))
          ()
      }
  }

  /** Writes batch `k` into `dir` as one file, in view in one step. */
  private def feed(m: Modality, dir: String, k: Int): Unit = {
    val hidden = Paths.get(dir, s".batch-$k.json")
    Files.write(hidden, m.batch(k).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(hidden, Paths.get(dir, s"batch-$k.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Runs `m`'s stream over `dir` until every fed file is processed and
    * returns the rows its sink received.
    */
  private def runStream(m: Modality, session: SparkSession)(index: m.I,
      dir: String, checkpoint: String): Set[String] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val source = session.readStream.schema(m.schema)
      .option("maxFilesPerTrigger", 1).json(dir)
    val q = m.run(session, index, source, checkpoint) { (rows, _) =>
      rows.collect().foreach(r => out.add(r.toString))
    }.start()
    try q.processAllAvailable() finally q.stop()
    out.toArray(Array.empty[String]).toSet
  }

  private def assertSameTiers(m: Modality)(a: m.I, b: m.I,
                                           when: String): Unit =
    m.tiers(a).zip(m.tiers(b)).zipWithIndex.foreach { case ((x, y), t) =>
      assert(x.meta == y.meta, s"${m.name} tier $t meta $when")
      assert(x.current.collect().map(_.toString).sorted.toSeq ==
        y.current.collect().map(_.toString).sorted.toSeq,
        s"${m.name} tier $t rows $when")
    }

  Seq(edit, repeat, scrub, semantic, decontam).foreach { m =>
    test(s"${m.name}: the recovered index equals the never-restarted " +
        "one, and a resumed stream folds on it with the same hits") {
      val durableDir = tmp(s"${m.name}-index")
      val straight = m.build(None)
      val durable = m.build(Some(durableDir))
      val (srcS, srcD) = (tmp(s"${m.name}-src"), tmp(s"${m.name}-src"))
      val (ckptS, ckptD) = (tmp(s"${m.name}-ckpt"), tmp(s"${m.name}-ckpt"))
      feed(m, srcS, 0)
      feed(m, srcD, 0)
      assert(runStream(m, spark)(straight, srcS, ckptS) ==
        runStream(m, spark)(durable, srcD, ckptD))

      val restarted = spark.newSession()
      val recovered = m.recover(restarted, durableDir)
      assertSameTiers(m)(recovered, straight, "after recovery")

      feed(m, srcS, 1)
      feed(m, srcD, 1)
      val foldsBefore = m.tiers(recovered).map(_.meta.folds)
      val expected = runStream(m, spark)(straight, srcS, ckptS)
      val got = runStream(m, restarted)(recovered, srcD, ckptD)
      assert(expected.nonEmpty, s"${m.name}: batch 1 must emit rows")
      assert(got == expected,
        s"${m.name}: recovered $got vs never-restarted $expected")
      assert(m.tiers(recovered).map(_.meta.folds) ==
        foldsBefore.map(_ + 1),
        s"${m.name}: batch 1 must fold past the restored watermark")
      assertSameTiers(m)(recovered, straight, "after batch 1")
    }
  }
}
