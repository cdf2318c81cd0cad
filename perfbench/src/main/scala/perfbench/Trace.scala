package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run, built only on Spark's public
  * listener APIs.
  *
  * Before each call into a layer the benchmark opens a span, which sets
  * the `perfbench.span` local property on the calling thread. Jobs and
  * stages submitted from that thread carry the property, so one
  * [[SparkListener]] charges stage and task metrics to the innermost open
  * span. A [[QueryExecutionListener]] records the analysis, optimization
  * and planning phases of every execution, which are charged to spans by
  * time (the benchmark runs one operation at a time). Micro-batch jobs
  * also carry Spark's own `streaming.sql.batchId` property and are
  * charged to `<span>/batch/<id>`; batch phases come from the query's
  * own progress reports (`StreamingQueryProgress.durationMs`).
  *
  * Spans are kept in memory and written out when the run ends. When
  * `enabled` is false, spans are not recorded and no property is set,
  * so untraced and traced operations can alternate within one run.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile var enabled: Boolean = false

  private val t0Ns = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  private val wallOffsetMs = System.currentTimeMillis() - nowMs

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  /** Stage and task totals per span name. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, peakMem = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill = 0L
    // per stage: (longest task ms, summed task ms)
    val stageBusy = mutable.Map.empty[Int, (Long, Long)]
    // (launch, finish) per task, for the concurrency actually used
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Longest task over the busy time of the busiest stage. */
    def maxTaskShare: Double =
      if (stageBusy.isEmpty) 0.0
      else {
        val (mx, sum) = stageBusy.values.maxBy(_._2)
        if (sum > 0) mx.toDouble / sum else 1.0
      }
    def maxConcurrent: Int = {
      val ev = intervals.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
        .sortBy(e => (e._1, e._2))
      ev.scanLeft(0)(_ + _._2).max
    }
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** (phase start in trace ms, analysis+optimization+planning ms). */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  def agg(span: String): Agg = aggs.computeIfAbsent(span, _ => new Agg)
  def aggregates: Map[String, Agg] = aggs.asScala.toMap
  def aggOption(span: String): Option[Agg] = Option(aggs.get(span))

  /** Run `f` inside span `name` of operation `op`, if tracing is on. */
  def span[A](name: String, op: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      val s = Span(nextId.getAndIncrement(), name,
        stack.headOption.map(_.id).getOrElse(0L),
        if (op >= 0) op else stack.headOption.map(_.op).getOrElse(-1L),
        nowMs)
      synchronized(spans += s)
      stack.push(s)
      sc.setLocalProperty(Key, name)
      try f
      catch {
        case e: Throwable =>
          s.error = s"${e.getClass.getName}: ${e.getMessage}".take(300)
          throw e
      } finally {
        s.end = nowMs
        stack.pop()
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Record a span whose bounds were measured elsewhere (trace ms). */
  def record(name: String, op: Long, start: Double, end: Double): Unit =
    if (enabled) synchronized {
      spans += Span(nextId.getAndIncrement(), name,
        stack.headOption.map(_.id).getOrElse(0L), op, start, end)
    }

  def now: Double = nowMs

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Planning time of executions that started inside [start, end]. */
  def planningMs(start: Double, end: Double): Double =
    planning.asScala.collect {
      case (t, ms) if t >= start && t <= end => ms
    }.sum

  /** The layers every workload crosses, per traced operation: Catalyst
    * planning (`QueryExecutionListener`), jobs, stages and tasks
    * (`SparkListener`), executor CPU, bytes read and shuffled, and the
    * peak execution memory and longest-task share over `spans`, the
    * aggregates of the operations whose bounds (trace ms) are `windows`.
    */
  def common(spans: Seq[Agg], windows: Seq[(Double, Double)])
      : Map[String, Double] = {
    val n = math.max(1, windows.size).toDouble
    def per(f: Agg => Double): Double = spans.map(f).sum / n
    val busiest = spans.flatMap(_.stageBusy.values).maxByOption(_._2)
    Map(
      "spark.plan_ms" -> windows.map { case (a, b) => planningMs(a, b) }
        .sum / n,
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.input_bytes" -> per(_.inputBytes.toDouble),
      "spark.shuffle_bytes" -> per(a => (a.shuffleWrite + a.shuffleRead)
        .toDouble),
      "spark.peak_exec_memory_mb" -> spans.map(_.peakMem / 1048576.0)
        .maxOption.getOrElse(0.0),
      "spark.max_task_share" -> busiest.fold(0.0) { case (mx, sum) =>
        if (sum > 0) mx.toDouble / sum else 1.0
      })
  }

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  private val sparkListener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[String] =
      Option(props).flatMap { p =>
        // only traced work carries the span property; a stream's
        // execution thread inherits it from the thread that started it
        Option(p.getProperty(Key)).map { s =>
          Option(p.getProperty(BatchKey)).fold(s)(b => s"$s/batch/$b")
        }
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      spanOf(e.properties).foreach { s =>
        val a = agg(s)
        a.synchronized(a.jobs += 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      touch()
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) {
        val a = agg(s)
        val m = e.taskMetrics
        a.synchronized {
          val (mx, sum) = a.stageBusy.getOrElse(e.stageId, (0L, 0L))
          a.stageBusy(e.stageId) =
            (math.max(mx, m.executorRunTime), sum + m.executorRunTime)
          a.stages = a.stageBusy.size.toLong
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = {
      touch()
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min - wallOffsetMs
        planning.add((start, phases.values.map(_.durationMs).sum.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      note(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit =
      note(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener buses have gone quiet. */
  def drain(quietMs: Long = 500, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get() < quietMs * 1000000L &&
           System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

object Trace {
  /** One span: bounds in ms since the trace started, the enclosing
    * span's id (0 at top level) and the operation it belongs to.
    */
  final case class Span(id: Long, name: String, parent: Long, op: Long,
                        start: Double, var end: Double = Double.NaN,
                        var error: String = "")

  val Key = "perfbench.span"
  /** Local property Spark's micro-batch execution sets on its jobs. */
  val BatchKey = "streaming.sql.batchId"
}
