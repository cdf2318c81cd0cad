package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.net.URI
import java.nio.file.Files

/** A local filesystem under a scheme with NO AbstractFileSystem
  * binding: `FileContext.getFileContext` throws
  * UnsupportedFileSystemException for it, so `FoldingIndex`'s meta
  * commit must take the delete+rename fallback — exactly the path an
  * s3a deployment takes (VERDICT r17 Next #3: that branch had never
  * run under any spec).
  */
class NoFcLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftnofc"
  override def getUri: URI = URI.create("graftnofc:///")
}

/** [[NoFcLocalFileSystem]] whose rename always REFUSES — drives the
  * fallback's rename-failure IOException path. */
class RenameFailLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftrfail"
  override def getUri: URI = URI.create("graftrfail:///")
  override def rename(src: HadoopPath, dst: HadoopPath): Boolean = false
}

/** The meta-commit fallback and crash-window recovery contracts
  * (VERDICT r17 Next #3 + the r17 medium ADVICE):
  *
  *  - on a store with no FileContext binding the commit degrades to
  *    delete+rename and the WHOLE durable lifecycle (base write, fold
  *    deltas, compaction cleanup, recovery) still round-trips;
  *  - a rename refusal in that fallback surfaces as IOException, not
  *    silence;
  *  - a crash BETWEEN the delete and the rename (no `_meta`, complete
  *    `_meta.tmp`) recovers from the tmp and re-commits it;
  *  - a tmp truncated mid-write (no completeness trailer) is refused
  *    with a clear error instead of being half-loaded.
  */
class FoldingMetaCommitSpec extends graft.SparkSpec {
  import spark.implicits._

  private def hconf: Configuration =
    spark.sparkContext.hadoopConfiguration

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private val builder: DataFrame => DataFrame =
    df => df.select(col("k"), col("v"))

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("delete+rename fallback: the full durable lifecycle round-trips " +
      "over a scheme with no AbstractFileSystem binding") {
    hconf.set("fs.graftnofc.impl", classOf[NoFcLocalFileSystem].getName)
    val local = Files.createTempDirectory("graft-nofc").toString
    val uri = s"graftnofc:$local"
    // precondition: this scheme REALLY takes the fallback — a
    // FileContext binding appearing later would silently turn this
    // spec back into a test of the atomic path
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException] {
      org.apache.hadoop.fs.FileContext.getFileContext(
        URI.create(uri), hconf)
    }
    val tier = FoldingIndex.Tier("nofc-spec", Seq("k"), builder)
    val writer = tier.create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 2, durablePath = Some(uri))
    writer.foldIn(0L, kv(2L -> "b"))
    writer.foldIn(1L, kv(3L -> "c")) // trips compaction → cleanup too
    assert(writer.meta.compactions == 1L)
    // the layout landed on the local directory the scheme wraps, the
    // meta committed (via delete+rename), superseded tiers dropped
    assert(Files.exists(java.nio.file.Paths.get(local, "_meta")))
    assert(Files.exists(java.nio.file.Paths.get(local, "base-1")))
    assert(!Files.exists(java.nio.file.Paths.get(local, "base-0")))
    assert(!Files.exists(java.nio.file.Paths.get(local, "_meta.tmp")),
      "a committed meta must not leave its tmp behind")
    val recovered = tier.recover(spark, uri, numPartitions = 2,
      compactEvery = 2)
    assert(rowsOf(recovered.current) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(recovered.foldIn(1L, kv(9L -> "x")) == 0L,
      "watermark must survive the fallback-scheme round-trip")
    assert(recovered.foldIn(2L, kv(4L -> "d")) == 1L)
  }

  test("a refused rename in the fallback surfaces as IOException") {
    hconf.set("fs.graftrfail.impl",
      classOf[RenameFailLocalFileSystem].getName)
    val local = Files.createTempDirectory("graft-rfail").toString
    val root = new HadoopPath(s"graftrfail:$local")
    val fs = root.getFileSystem(hconf)
    val tmp = fs.makeQualified(new HadoopPath(root, "_meta.tmp"))
    val dst = fs.makeQualified(new HadoopPath(root, "_meta"))
    val out = fs.create(tmp, true)
    try out.write("#stub\n".getBytes("UTF-8")) finally out.close()
    val ex = intercept[java.io.IOException] {
      FoldingIndex.commitRename(fs, hconf, tmp, dst)
    }
    assert(ex.getMessage.contains("meta commit failed"))
  }

  test("crash window: no _meta + COMPLETE _meta.tmp recovers from the " +
      "tmp and re-commits it (ADVICE r17 medium)") {
    val dir = Files.createTempDirectory("graft-crashwin").toString
    val tier = FoldingIndex.Tier("crash-spec", Seq("k"), builder)
    val writer = tier.create(
      kv(1L -> "a").repartition(2, col("k")).localCheckpoint(true),
      numPartitions = 2, compactEvery = 100, durablePath = Some(dir))
    writer.foldIn(0L, kv(2L -> "b"))
    // simulate the delete+rename crash: the fully written tmp exists
    // (writeMeta closes it before any delete), the dst does not
    val meta = java.nio.file.Paths.get(dir, "_meta")
    val tmp = java.nio.file.Paths.get(dir, "_meta.tmp")
    Files.move(meta, tmp)
    assert(!Files.exists(meta))
    val recovered = tier.recover(spark, dir, numPartitions = 2,
      compactEvery = 100)
    assert(rowsOf(recovered.current) == Set(1L -> "a", 2L -> "b"))
    assert(recovered.meta.folds == 1L)
    // the recovery healed the window: _meta is committed again
    assert(Files.exists(meta), "recover must re-commit the tmp")
    assert(recovered.foldIn(0L, kv(9L -> "x")) == 0L,
      "watermark must ride the tmp fallback")
  }

  test("end-to-end: an ingest stream folding durably over the " +
      "delete+rename fallback scheme crashes in the commit window; a " +
      "fresh recovery heals the meta and a RESTARTED stream sees the " +
      "pre-crash fold (VERDICT r18 stretch #7)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    hconf.set("fs.graftnofc.impl", classOf[NoFcLocalFileSystem].getName)
    val local = Files.createTempDirectory("graft-nofc-e2e").toString
    val uri = s"graftnofc:$local"
    val base = "the quick brown fox jumps over the lazy dog while " +
      "the cat sleeps in the warm afternoon sun near the barn"
    val novel = "a brand new arrival describing bloom filter pruning " +
      "strategies for sort merge joins on clustered tables"
    val corpusSigs = Dedup.minhashSignatures(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numHashes = 64)
    val writer = Dedup.foldingMinhashIndex(corpusSigs, bands = 16,
      rowsPerBand = 4, numPartitions = 2, durablePath = Some(uri))

    def runBatch(idx: Dedup.FoldingMinhashIndex,
                 docs: Seq[(Long, String)]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      val ckpt = Files.createTempDirectory("graft_nofc_e2e_ckpt").toString
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

    // pre-crash: the novel doc is accepted and both tiers fold,
    // committing their metas through the delete+rename fallback
    assert(runBatch(writer, Seq((10L, novel))) == Set.empty)
    assert(writer.sigs.meta.foldedRows == 1L)

    // the crash window on the SIGS tier's meta commit: the delete
    // happened, the rename didn't — no _meta, a COMPLETE _meta.tmp
    // (the writer closes the tmp before any delete starts)
    val sigsMeta = java.nio.file.Paths.get(local, "sigs", "_meta")
    Files.move(sigsMeta,
      java.nio.file.Paths.get(local, "sigs", "_meta.tmp"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(!Files.exists(sigsMeta))

    // restart: recovery heals the window (re-commits the tmp) and a
    // NEW stream catches a near-dup of the PRE-CRASH accepted arrival
    val recovered = Dedup.recoverMinhashIndex(spark, uri, bands = 16,
      rowsPerBand = 4, numPartitions = 2)
    assert(Files.exists(sigsMeta),
      "recovery must re-commit the healed meta")
    val got = runBatch(recovered,
      Seq((20L, novel.replace("clustered", "bucketed"))))
    assert(got == Set((20L, 10L)),
      s"the healed recovery must carry the pre-crash fold, got $got")
  }

  test("a truncated _meta.tmp (no completeness trailer) with no _meta " +
      "is refused — Properties.load must not half-load it") {
    val dir = Files.createTempDirectory("graft-truncated").toString
    // a prefix of a real meta, cut mid-write: valid properties lines,
    // no trailer — the dangerous case (a parse succeeds, state lies)
    Files.write(java.nio.file.Paths.get(dir, "_meta.tmp"),
      "lastBatchId=0\nbaseDir=base-0\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      FoldingIndex.Tier("", Seq("k"), builder).recover(spark, dir,
        numPartitions = 2, compactEvery = 16)
    }
    assert(ex.getMessage.contains("truncated"))
  }
}
