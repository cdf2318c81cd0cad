package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import graft.SparkEntry

/** `query_relational` and `query_curation`: one operation builds one
  * query with `SparkEntry.queries(name)(spark, sfDir)` and executes it
  * into the noop sink, as `graft.Bench` does.
  *
  * A warm pass over all 187 queries takes minutes on a 4-core machine,
  * more than a run can spend, so each workload times a fixed panel: a
  * systematic sample of its families (see `perfbench/README.md`). The
  * seed sets the order in which the closed-loop client cycles through
  * the panel; membership never changes, so runs of different seeds time
  * the same work.
  *
  * Set-up runs a first pass that writes each panel query's result to
  * parquet (the untimed output check, compared with DuckDB by `run.py`)
  * and a second, warm-up pass into noop. The timed window then runs
  * whole passes until `--seconds` have gone.
  */
object Queries {

  final case class Panel(names: Seq[String])

  /** Timed queries `run.py` needs for a `query_s_tail` reading. */
  val TailSamples = 22

  /** One timed query: wall and build seconds, bounds in trace ms. */
  private final case class Timing(q: String, traced: Boolean, s: Double,
                                  buildS: Double, start: Double, end: Double)

  /** Every 16th query of the name-sorted family members. */
  val relational: Panel = Panel(Seq(
    "a01_max_by", "e10_next_purchase_latency", "f12_variant_json",
    "q07_topk_per_group", "q23_theta_band_join", "r01_fixed_width_slice",
    "t12_promo_revenue"))

  /** Every 10th query of the name-sorted family members. */
  val curation: Panel = Panel(Seq(
    "d01_dedup_exact", "d11_dedup_survivors", "d21_pii_redact",
    "d31_mixture_entropy", "d41_edit_pairs", "d51_curation_pipeline",
    "s04_except_all", "s14_semdedup_survivors"))

  def run(ctx: Ctx, panel: Panel): Outcome = {
    val spark = ctx.spark
    val sf = ctx.sfDir
    val queries = SparkEntry.queries
    val missing = panel.names.filterNot(queries.contains)
    require(missing.isEmpty, s"panel names unknown: ${missing.mkString(",")}")
    val order = new Random(ctx.seed).shuffle(panel.names.sorted)

    // the check pass, which is also the warm-up: each panel query once,
    // its result written to parquet
    val checkDir = ctx.work.resolve("check")
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val (checkS, _) = ctx.timed(order.foreach { q =>
      try queries(q)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve(q).toString)
      catch { case NonFatal(e) => checkErrors(q) = e.toString.take(300) }
    })
    val oracle = SparkEntry.oracleSql.filter(kv => panel.names.contains(kv._1))
    java.nio.file.Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json(oracle))
    // two more warm-up passes: the first noop pass still runs 10–40 %
    // slower than the ones after it, the second up to ~15 %
    val (warmS, _) = ctx.timed(for (_ <- 1 to 2; q <- order) {
      try noop(queries(q)(spark, sf)) catch { case NonFatal(_) => () }
    })

    val tr = ctx.trace
    val ops = mutable.ArrayBuffer.empty[Op]
    val timings = mutable.ArrayBuffer.empty[Timing]
    ctx.openWindow()
    var i = 0
    // whole passes, so every run times each panel query equally often;
    // an untraced run at least five (35 samples; `query_s_tail` in
    // perfbench/run.py needs 22), a traced run at least four, alternating traced
    // and untraced passes in ABBA order, so warming favours neither
    val minPasses =
      if (ctx.traced) 4
      else math.max(5, (TailSamples + order.size - 1) / order.size)
    while (i % order.size != 0 || ctx.timeLeft ||
           i < minPasses * order.size) {
      val q = order(i % order.size)
      val pass = i / order.size
      val traced = ctx.traced && (pass % 4 == 0 || pass % 4 == 3)
      tr.enabled = traced
      val w = ctx.workload
      val start = tr.now
      var buildEnd = start
      val t0 = System.nanoTime()
      val res =
        try {
          tr.span(s"$w/queries/$q", i) {
            val df = tr.span(s"$w/queries.build/$q")(queries(q)(spark, sf))
            buildEnd = tr.now
            tr.span(s"$w/queries.exec/$q")(noop(df))
          }
          None
        } catch { case NonFatal(e) => Some(e.toString.take(300)) }
        finally tr.enabled = false
      val s = (System.nanoTime() - t0) / 1e9
      val end = tr.now
      timings += Timing(q, traced, s, (buildEnd - start) / 1e3, start, end)
      ops += Op(i, "query", q, s, res.isEmpty && !checkErrors.contains(q),
        res.orElse(checkErrors.get(q).map("check: " + _)).getOrElse(""),
        traced, Map("family" -> q.take(1)))
      i += 1
    }
    val measured = ctx.elapsed
    Outcome(Seq("check_pass_s" -> checkS, "warmup_s" -> warmS), ops.toSeq,
      measured,
      checks = Map("check_dir" -> checkDir.toString,
        "panel" -> panel.names, "spark_errors" -> checkErrors),
      layers = if (ctx.traced) {
        tr.drain()
        layerMetrics(ctx, timings.toSeq) ++ tr.common(
          tr.aggregates.values.toSeq,
          timings.filter(_.traced).map(t => (t.start, t.end)).toSeq)
      } else Map.empty,
      info = Map("order" -> order))
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def layerMetrics(ctx: Ctx, timings: Seq[Timing])
      : Map[String, Double] = {
    val tr = ctx.trace
    val w = ctx.workload
    val traced = timings.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    // span aggregates are per query name, summed over its traced ops
    val names = traced.map(_.q).distinct
    def sum(prefix: String)(f: Trace#Agg => Double): Double =
      names.flatMap(q => tr.aggOption(s"$w/$prefix/$q")).map(f).sum / n
    val buildS = traced.map(_.buildS).sum / n
    val planS = traced.map(t => tr.planningMs(t.start, t.end)).sum / 1e3 / n
    val totalS = traced.map(_.s).sum / n
    val both = Seq("queries.build", "queries.exec")
    def all(f: Trace#Agg => Double): Double = both.map(p => sum(p)(f)).sum
    val families = traced.groupBy(_.q.take(1)).map { case (fam, xs) =>
      s"queries.$fam.s" -> xs.map(_.s).sum / xs.size
    }
    Map(
      "queries.build_s" -> buildS,
      "queries.eager_jobs" -> sum("queries.build")(_.jobs.toDouble),
      "queries.plan_s" -> planS,
      "queries.exec_s" -> (totalS - buildS),
      "queries.stages" -> all(_.stages.toDouble),
      "queries.tasks" -> all(_.tasks.toDouble),
      "queries.executor_cpu_s" -> all(_.cpuNs / 1e9),
      "queries.gc_s" -> all(_.gcMs / 1e3),
      "queries.peak_exec_memory_mb" -> names.flatMap(q => both.flatMap(p =>
        tr.aggOption(s"$w/$p/$q"))).map(_.peakMem / 1048576.0)
        .maxOption.getOrElse(0.0),
      "queries.input_bytes" -> all(_.inputBytes.toDouble),
      "queries.shuffle_write_bytes" -> all(_.shuffleWrite.toDouble),
      "queries.shuffle_read_bytes" -> all(_.shuffleRead.toDouble),
      "queries.spill_bytes" -> all(_.spill.toDouble)) ++ families
  }
}
