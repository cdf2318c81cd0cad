package graft
import scala.util.control.NonFatal
object Bench {
  private def f3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.US, v)
  private def jesc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def entry(name: String, sec: Double): String =
    "\"" + jesc(name) + "\":" + f3(sec)

  /** The `bench_queries` companion lines' `queries` maps: the
    * successful (name, seconds) entries in the given order, chunked so
    * each part's entries plus separators fit `budget` chars. Failed
    * queries (seconds < 0) are left out: they are named on the metric
    * line's `failed` list, and a -1 here would read as a timing. */
  private[graft] def queryParts(timings: Seq[(String, Double)],
                                budget: Int = 1500): Seq[Seq[String]] =
    timings.collect { case (k, v) if v >= 0 => entry(k, v) }
      .foldLeft(Vector(Vector.empty[String])) { case (acc, e) =>
        val curLen = acc.last.map(_.length + 1).sum
        if (acc.last.nonEmpty && curLen + e.length + 1 > budget)
          acc :+ Vector(e)
        else acc.init :+ (acc.last :+ e)
      }.filter(_.nonEmpty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // warm up the JVM/codegen/FS paths so the first measured query
    // doesn't absorb session startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    // optional comma-separated query filter for local iteration; unknown
    // names fail fast — a typo must not report a 0-query "perfect" run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(
          s"[bench] unknown SPARK_GRAFT_ONLY names: ${unknown.mkString(",")}")
        spark.stop(); sys.exit(1)
      }
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // per-query: one warmup execution (absorbs JIT, codegen cache,
    // FrameCache index builds), then MIN of 3 timed runs — identical
    // code benched in r4/r5 swung ±6x per query on single cold runs,
    // and r8 measured the same query at 21 s and 3.3 s minutes apart
    // (d11@sf1) under co-tenant CPU interference the JVM cannot see.
    // The min is the principled estimator for that noise model: every
    // source of interference ADDS time, never removes it, so the
    // fastest warm run is the closest observation of the plan's true
    // cost — and it cannot be gamed, since a plan can't run faster
    // than it is. Medians spent three rounds (r6 a06/q27, r7 t02/w02,
    // r8 d11) sending judge and builder chasing phantom regressions.
    // Queries whose warmup already costs >20 s get TWO timed runs
    // (min): one extra corpus pass is cheap insurance against a single
    // interference spike landing on the only sample.
    // execute in sorted-name order: Map iteration order shifts whenever a
    // key is added, and a different neighbor ordering changes each query's
    // JVM/GC/page-cache context enough to fake ±2-4x per-query regressions
    // (r6 a06/q27, r7 t02/w02 — all adjudicated as noise). Stable order
    // makes per-query numbers comparable across rounds.
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink, NOT count(): count() rewrites the plan to a bare
      // Aggregate(count(1)) and Catalyst prunes every deterministic
      // projection that doesn't affect cardinality — pure-select
      // queries (token stats, quality ratios, langId, media decode)
      // then "benchmark" a parquet row count. The noop writer forces
      // every output column to be computed (measured: d04_langid
      // 0.149 s via count vs 0.442 s real).
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // (min seconds, timed-run count, raw warm samples): the run count
      // behind each estimate is recorded in bench_full.json so a query
      // drifting across the 20 s boundary between rounds is visible as
      // a methodology change, not a silent apples-to-oranges
      val timing =
        try {
          val warm = once()
          if (warm > 20.0) {
            val samples = Seq(once(), once())
            (samples.min, 2, samples)
          } else {
            val samples = Seq(once(), once(), once())
            (samples.min, 3, samples)
          }
        } catch {
          case NonFatal(e) =>
            System.err.println(
              s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
            (-1.0, 0, Seq.empty[Double])
        }
      (name, timing._1, timing._2, timing._3)
    }
    // keep the JSON line SHORT: the driver captures a bounded 2000-char
    // tail of stdout, and a longer line gets front-truncated → unparseable.
    // Emit 3-decimal seconds, and cap the per-query map to the SLOWEST
    // entries that fit a fixed budget (total always covers every query):
    // stop at the FIRST entry that doesn't fit, so the kept set is a
    // true slowest-first prefix (skipping past a long name would let a
    // faster short-named query displace a slower one).
    val bySlowest = results.sortBy(-_._2)
    val entries = bySlowest.map { case (k, v, _, _) => entry(k, v) }
    val budget = 1500
    val kept = entries
      .scanLeft(("", 0)) { case ((_, used), e) => (e, used + e.length + 1) }
      .drop(1)
      .takeWhile(_._2 <= budget)
      .map(_._1)
    val qs = kept.mkString("{", ",", "}")
    // a failed query reports sec = -1.0; summing that into the total
    // would make a crashing regression read as a SPEEDUP. The total
    // covers successful queries only, and failures are listed by name.
    val failed = results.collect { case (k, v, _, _) if v < 0 => k }
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":[${failed.map(k => "\"" + jesc(k) + "\"").mkString(",")}]"""
    // the COMPLETE per-query map (stdout is tail-budgeted, so fast-query
    // regressions would be invisible there): min-of-warm seconds, the
    // run count behind each estimate, and the raw warm samples
    val full = bySlowest.map { case (k, v, runs, samples) =>
      s""""${jesc(k)}":{"sec":${f3(v)},"runs":$runs,"samples":[${
        samples.map(f3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val fullPath = java.nio.file.Paths.get("target/bench_full.json")
    java.nio.file.Files.createDirectories(fullPath.getParent)
    // harness tag: r8 switched execution from count() (which let
    // Catalyst prune all projection-only work — see the `once` comment)
    // to the noop sink. Totals across that boundary are NOT comparable
    // (~47 s → ~90 s at sf0.1, all of it real work the old harness
    // skipped); the tag makes the boundary visible inside the artifact
    // itself, not only in STATUS_r8.md.
    val harness = """"harness":"noop_sink_v2""""
    java.nio.file.Files.writeString(fullPath,
      s"""{"total":${f3(total)},"n_queries":${results.size},$harness,"sf":"${jesc(sfDir)}"$failedJson,"queries":$full}""")
    // ALL per-query timings on stdout (VERDICT r19 Next #2: the driver's
    // round-over-round PERF table was 100% null because the metric line
    // is budgeted to the slowest ~53 of 187). The full map cannot ride
    // the metric line itself — the driver captures a bounded ~2000-char
    // stdout TAIL, and a ~5 KB line would be front-truncated into
    // unparseability — so it is emitted as CHUNKED companion lines
    // BEFORE the metric line (same sorted slowest-first order, same
    // 3-decimal seconds; a consumer concatenates the `queries` maps of
    // parts 1..of). The metric line stays last, unchanged in shape and
    // under the tail budget, so existing ingestion is untouched —
    // additive only, disclosed in OPTIMIZATION_r20.md.
    val parts = queryParts(bySlowest.map(r => (r._1, r._2)))
    parts.zipWithIndex.foreach { case (p, i) =>
      println(s"""{"metric":"bench_queries","part":${i + 1},"of":${
        parts.size},"n_queries":${results.size},"queries":${
        p.mkString("{", ",", "}")}}""")
    }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},$harness,"queries":$qs$failedJson,"sf":"${jesc(sfDir)}"}""")
    spark.stop()
  }
}
