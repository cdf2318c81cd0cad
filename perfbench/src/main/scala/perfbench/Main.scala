package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: `seconds` is its wall time, `ok` whether it
  * completed and passed its output check. Untraced and traced operations
  * alternate in a traced run; `traced` tells them apart.
  */
final case class Op(id: Long, kind: String, name: String, seconds: Double,
                    ok: Boolean, error: String = "", traced: Boolean = false,
                    extra: Map[String, Any] = Map.empty)

/** What a workload hands back: set-up phases, the timed operations, the
  * measured window, check details and (traced run) per-layer metrics.
  */
final case class Outcome(setup: Seq[(String, Double)], ops: Seq[Op],
                         measuredS: Double,
                         checks: Map[String, Any] = Map.empty,
                         layers: Map[String, Double] = Map.empty,
                         info: Map[String, Any] = Map.empty)

/** Shared run context; `openWindow` starts the timed window. */
final class Ctx(val spark: SparkSession, val workload: String,
                val seed: Long, val seconds: Double, val traced: Boolean,
                val work: Path, val sfDir: String, val cpus: Int,
                val trace: Trace) {
  private var windowStart = 0L
  /** JVM uptime when the timed window opened: boot, session, inputs,
    * warm-up and index build.
    */
  var setupS = 0.0
  def openWindow(): Unit = {
    setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    windowStart = System.nanoTime()
  }
  def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
  def timeLeft: Boolean = elapsed < seconds

  /** Wall seconds of `f`, with its result. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
}

/** Benchmark JVM: runs one workload and writes `result.json`
  * (and, traced, `spans.json`) into the work directory given by `--out`.
  * `perfbench/run.py` launches it and turns the file into the reported
  * metrics.
  *
  * {{{
  * perfbench.Main --workload ingest --seed 1 --seconds 5 --trace 0 \
  *   --out <dir> --sf <parquet dir>
  * }}}
  */
object Main {

  val workloads: Map[String, Ctx => Outcome] = Map(
    "ingest" -> Ingest.run,
    "query_relational" -> (c => Queries.run(c, Queries.relational)),
    "query_curation" -> (c => Queries.run(c, Queries.curation)),
    "stream_foldin" -> StreamFoldin.run)

  def main(argv: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = args("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val work = Paths.get(args("out")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val load1 = ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

    val (sessionS, spark) = {
      val t0 = System.nanoTime()
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir",
          work.resolve("warehouse").toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val trace = new Trace(spark)
    val traced = args.getOrElse("trace", "0") == "1"
    if (traced) trace.install()
    val ctx = new Ctx(spark, workload, args("seed").toLong,
      args("seconds").toDouble, traced, work,
      args("sf"), cpus, trace)

    val outcome = workloads(workload)(ctx)
    if (traced) trace.drain()

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val setup = Seq("jvm_boot_s" -> bootS, "session_s" -> sessionS) ++
      outcome.setup :+ ("total_s" -> ctx.setupS)
    val machine = Map(
      "nproc" -> cpus,
      "load1_start" -> load1,
      "master" -> s"local[$cpus]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
      "seconds" -> ctx.seconds, "machine" -> machine,
      "setup" -> mutable.LinkedHashMap(setup: _*),
      "measured_s" -> outcome.measuredS,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb),
      "checks" -> outcome.checks, "info" -> outcome.info,
      "layers" -> outcome.layers,
      "ops" -> outcome.ops.map { o =>
        Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
          "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error,
          "traced" -> o.traced) ++ o.extra
      })
    Files.writeString(work.resolve("result.json"), Json(result))
    if (traced) {
      val spans = trace.allSpans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end,
          "error" -> s.error)
      }
      // stage and task totals per span name
      val totals = trace.aggregates.map { case (name, a) =>
        name -> Map("jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
          "peak_exec_memory_b" -> a.peakMem, "input_b" -> a.inputBytes,
          "shuffle_write_b" -> a.shuffleWrite,
          "shuffle_read_b" -> a.shuffleRead, "spill_b" -> a.spill)
      }
      Files.writeString(work.resolve("spans.json"),
        Json(Map("spans" -> spans, "totals" -> totals)))
    }
    spark.stop()
  }
}
