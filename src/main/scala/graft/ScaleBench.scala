package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.util.control.NonFatal

/** Scale-trend probe: wall time PLUS stage/shuffle attribution for the
  * heavy anchor queries across scale decades (VERDICT r10 Next #1 —
  * turn the single measured decade behind the 100 TB claims into a
  * trend line). The bench UI is disabled, so the physical evidence
  * comes from a [[SparkListener]] aggregating per-stage task counts,
  * shuffle read/write bytes, and disk spill over each query's
  * execution window — the numbers that distinguish "wall grew because
  * data grew" from "wall grew because the PLAN degenerated" (a
  * super-linear shuffle-bytes trend at linear data growth is the
  * candidate-explosion signature; spill appearing at a new SF is the
  * partition-sizing signature).
  *
  * Usage: runMain graft.ScaleBench <sfDir>
  *          [--min-of N] [--calm-below L] [query ...]
  * Defaults to the six anchors the r10 verdict names. One warmup run
  * absorbs JIT/codegen/FrameCache builds, then the metered run(s) (the
  * trend verdict compares ratios ACROSS SFs, where plan-shape effects
  * dominate single-run noise; Bench.scala remains the estimator for
  * absolute per-query cost). Output: one JSON line per query plus a
  * summary line, Bench.scala format.
  *
  * Calm mode (VERDICT r11 Next #3): sf10 wall readings are episodically
  * contaminated by ambient vCPU contention on the shared host —
  * documented 20× walls at byte-identical stages — and calm-window
  * re-reads were previously opportunistic. `--min-of N` takes N metered
  * samples per query and reports the fastest; `--calm-below L` gates
  * each sample on host load: before a sample starts, /proc/loadavg
  * (1-min field — HOST-wide, so it sees both other tenants and the
  * decaying contribution of our own previous sample) is polled every
  * 10 s until it drops below L, bailing out after 240 s so a loaded
  * host degrades to a labeled reading instead of a hang. Every sample
  * records (wall, load-at-start, calm?); the reported row is the
  * fastest CALM sample when one exists (`"calm":true`), else the
  * fastest overall (`"calm":false` — treat the wall as an upper
  * bound). All samples ride the JSON (`"samples"`) so a scale claim
  * can show its evidence instead of asking to be believed. Stage/
  * shuffle/spill metrics come from the reported sample's own window —
  * they are plan-determined and identical across samples (the r11
  * tri-modal d50 readings had byte-identical metrics); wall and gc are
  * the contention-sensitive fields.
  */
object ScaleBench {

  private final class StageAgg extends SparkListener {
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufReadB = new java.util.concurrent.atomic.AtomicLong
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong
    val spillB = new java.util.concurrent.atomic.AtomicLong
    val inputB = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.diskBytesSpilled)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
    def snapshot: Seq[Long] = Seq(stages.get, tasks.get, shufReadB.get,
      shufWriteB.get, spillB.get, inputB.get, gcMs.get, cpuNs.get)
  }

  private val DefaultAnchors = Seq("d24_exact_dedup_survivors",
    "d40_edit_nn", "d41_edit_pairs", "d42_edit_dedup_survivors",
    "d11_dedup_survivors", "d36_decontam_exact_pairs")

  private val Usage =
    "usage: ScaleBench <sfDir> [--min-of N] [--calm-below L] [query ...]"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale/sf1")
    // a flag in the sfDir position would be silently consumed as the
    // directory and its value run as a query name — reject it here
    require(!sfDir.startsWith("--"), s"first argument must be the sf " +
      s"directory, got flag '$sfDir'\n$Usage")
    var minOf = 1
    var calmBelow = Double.PositiveInfinity
    val rest = scala.collection.mutable.Buffer.empty[String]
    def flagValue(i: Int, flag: String): String = {
      require(i + 1 < args.length, s"$flag needs a value\n$Usage")
      args(i + 1)
    }
    var i = 1
    while (i < args.length) {
      args(i) match {
        case f @ "--min-of" => minOf = flagValue(i, f).toInt; i += 2
        case f @ "--calm-below" =>
          calmBelow = flagValue(i, f).toDouble; i += 2
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag $f\n$Usage")
        case q => rest += q; i += 1
      }
    }
    require(minOf >= 1, s"--min-of must be >= 1, got $minOf")
    val names = if (rest.nonEmpty) rest.toSeq else DefaultAnchors
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = LocalSession.cpus
    // at a real cluster SF the shuffle width scales with the data (AQE
    // sizes post-shuffle partitions by bytes); local[32] pins it to the
    // core count, so a 100× corpus quietly pushes per-partition shuffle
    // blocks past memory and into spill. The override lets a scale run
    // reproduce the cluster's width and show the spill is a WIDTH
    // artifact, not a plan defect (d24 at sf3: 2 GB spill at 32
    // partitions, see STATUS r11).
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString)
    // Footprint controls for the fifth-decade reads (VERDICT r14 Next
    // #4 — d11/d24 sf100 shuffle footprints exceeded the box's free
    // disk and the r14 read was honestly skipped):
    //  - blocking shuffle cleanup + an explicit System.gc() between
    //    runs lets the ContextCleaner reclaim the WARMUP run's shuffle
    //    files before the metered sample starts — halving peak disk;
    //  - SPARK_GRAFT_CODEC=zstd opts shuffle/spill blocks into zstd
    //    (default stays lz4 so existing decade readings stay
    //    comparable); the disk floor below records what it bought.
    // Both are core confs: LocalSession sets them before the context
    // starts.
    val spark = LocalSession(cpus, Seq(
      "spark.sql.shuffle.partitions" -> shuffleParts,
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true") ++
      sys.env.get("SPARK_GRAFT_CODEC").map("spark.io.compression.codec" -> _))
    // Disk-floor sampler + safe-abort watchdog: peak shuffle usage is
    // the evidence a fits/doesn't-fit claim needs, and an sf100 read
    // that would fill the disk must die as a CANCELLED job group, not
    // a wedged box. Abort threshold via SPARK_GRAFT_ABORT_GB (GiB of
    // free space on the shuffle dir's filesystem; 0 disables).
    val abortBelowGb =
      sys.env.getOrElse("SPARK_GRAFT_ABORT_GB", "4").toDouble
    // spark.local.dir / SPARK_LOCAL_DIRS may be a comma-separated
    // list; the floor is the tightest disk among them. A nonexistent
    // path reports 0 usable bytes, which would permanently trip the
    // abort floor — filter to dirs that exist.
    val localDirs = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse("/tmp")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map(new java.io.File(_)).filter(_.isDirectory) match {
        case Array() =>
          // the fallback can sit on a DIFFERENT filesystem than the
          // dirs Spark will actually create — say so, or the floor
          // silently monitors the wrong disk (ADVICE r15)
          val tmp = System.getProperty("java.io.tmpdir", "/tmp")
          System.err.println("[scalebench] WARNING: none of the " +
            "configured shuffle dirs exist; disk-floor watchdog " +
            s"falls back to java.io.tmpdir=$tmp, which may be a " +
            "different filesystem than the real shuffle dirs")
          Array(new java.io.File(tmp))
        case ds => ds
      }
    val minFreeB = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    @volatile var aborted = false
    val sampler = new Thread(() => {
      while (!spark.sparkContext.isStopped) {
        val free = localDirs.map(_.getUsableSpace).min
        minFreeB.getAndUpdate(m => math.min(m, free))
        if (abortBelowGb > 0 && free < (abortBelowGb * 1e9).toLong) {
          aborted = true
          System.err.println(f"[scalebench] free disk ${free / 1e9}%.1f" +
            " GB under the abort floor — cancelling the running query")
          spark.sparkContext.cancelJobGroup("scalebench")
        }
        Thread.sleep(2000)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val agg = new StageAgg
    spark.sparkContext.addSparkListener(agg)
    def f1(v: Double): String =
      "%.1f".formatLocal(java.util.Locale.US, v)
    val rows = names.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup("scalebench",
          s"$name @ $sfDir", interruptOnCancel = true)
        try SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        finally spark.sparkContext.clearJobGroup()
        (System.nanoTime() - t0) / 1e9
      }
      // reclaim the previous run's shuffle files before the next one:
      // the cleaner acts on GC'd dependencies (blocking.shuffle makes
      // removal synchronous), and free space is POLLED until it stops
      // recovering — a fixed sleep let a big query's warmup start on
      // top of the previous query's still-live files and trip the
      // abort floor (the d24@sf30 calibration failure, r15)
      def reclaimShuffles(): Unit = {
        System.gc()
        var last = -1L
        var stable = 0
        val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(2000)
          val free = localDirs.map(_.getUsableSpace).min
          if (free > last) { last = free; stable = 0 } else stable += 1
        }
      }
      try {
        aborted = false
        minFreeB.set(localDirs.map(_.getUsableSpace).min)
        once() // warmup: JIT, codegen cache, FrameCache index builds
        reclaimShuffles()
        // --min-of N samples, each gated on host calm when requested;
        // sample = (wall, deltas, loadAtStart, calm?)
        val samples = (1 to minOf).map { _ =>
          // our own previous sample's loadavg contribution decays here too
          val load = Calm.awaitCalm(calmBelow)
          val calm = load.isNaN || !calmBelow.isFinite || load < calmBelow
          val before = agg.snapshot
          val wall = once()
          // the listener bus is async; give in-flight stage events a
          // moment to drain before reading the counters
          Thread.sleep(500)
          val d = agg.snapshot.zip(before).map { case (a, b) => a - b }
          reclaimShuffles()
          (wall, d, load, calm)
        }
        // report the fastest CALM sample when one exists; a loaded host
        // degrades to a labeled upper bound, never a silent lie
        val calmOnes = samples.filter(_._4)
        val best = (if (calmOnes.nonEmpty) calmOnes else samples)
          .minBy(_._1)
        val (wall, d, load, _) = best
        // gc_s / cpu_s split a wall anomaly into its mechanism: same
        // stages+bytes with wall >> cpu_s/32 and gc_s ~ wall is a heap
        // artifact (measured tri-modal on d50@sf3: 2.6/17.1/57.4 s
        // with IDENTICAL plan metrics); wall tracking cpu_s/32 is
        // honest compute growth.
        val sampleJson = samples.map { case (w, _, l, c) =>
          s"""[${f1(w)},${if (l.isNaN) "null" else f1(l)},$c]"""
        }.mkString("[", ",", "]")
        val json = s"""{"query":"$name","sf":"$sfDir","wall_s":${
          f1(wall)},"stages":${d(0)},"tasks":${d(1)},"shuffle_read_mb":${
          f1(d(2) / 1e6)},"shuffle_write_mb":${f1(d(3) / 1e6)
          },"spilled_mb":${f1(d(4) / 1e6)},"input_mb":${f1(d(5) / 1e6)
          },"gc_s":${f1(d(6) / 1e3)},"cpu_s":${f1(d(7) / 1e9)
          },"load":${if (load.isNaN) "null" else f1(load)
          },"calm":${calmOnes.nonEmpty},"min_free_gb":${
          f1(minFreeB.get / 1e9)},"aborted":$aborted,"samples":$sampleJson}"""
        println(json)
        (name, wall, json)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[scalebench] $name failed: ${e.getMessage}")
          (name, -1.0, s"""{"query":"$name","failed":true}""")
      }
    }
    val ok = rows.filter(_._2 >= 0)
    println(s"""{"metric":"scalebench_total","value":${
      f1(ok.map(_._2).sum)},"unit":"sec","n_queries":${ok.size},"sf":"$sfDir"}""")
    val outPath = java.nio.file.Paths.get(
      s"target/scalebench_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}.json")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.writeString(outPath,
      rows.map(_._3).mkString("[", ",\n", "]"))
    spark.stop()
  }
}
