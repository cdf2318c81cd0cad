package graft.cli

import graft.pipelines.Pipelines
import org.apache.spark.sql.SparkSession

/** CLI entry point (X4 in SURVEY.md §2.a) — the argparse surface of the
  * reference's `dg_tools_script.py` re-expressed:
  *
  *   graft.cli.Main -s sirene|fantoir|deces -r pg|mariadb|sqlite \
  *     -p <path> [--jdbc-url <url>]
  *
  * Without `--jdbc-url` the run is a dry run: the full SQL transcript is
  * printed instead of executed (the reference's FakeConnection behavior).
  *
  * The LLM-curation funnel has the same face (VERDICT r17 Next #6):
  *
  *   graft.cli.Main -s curate -p <docs parquet> -o <out dir> \
  *     [--min-words N] [--max-words N] [--min-mean-word-len X] \
  *     [--max-mean-word-len X] [--min-stopword-hits N] \
  *     [--min-alpha-frac X] [--train-pct N] [--val-pct N]
  *
  * quality gate → exact dedup → leak-free split → decontamination →
  * parquet partitioned by split ([[graft.pipelines.Curate]]); the
  * printed transcript is the per-stage count report.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-import")
      .config("spark.sql.shuffle.partitions",
        graft.LocalSession.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }

  /** The CLI body minus session lifecycle (so an embedding application
    * — or a spec — can drive the exact arg-parse → import → transcript
    * path on its own session). Returns the per-table transcripts it
    * also prints.
    */
  def run(spark: SparkSession,
          args: Array[String]): Map[String, Seq[String]] = {
    val opts = parseArgs(args.toList, Map.empty)
    val source = opts.getOrElse("source",
      fail("missing -s sirene|fantoir|deces"))
    val rdbms = opts.getOrElse("rdbms", "pg")
    val path = opts.getOrElse("path", fail("missing -p <path>"))
    val jdbcUrl = opts.get("jdbcUrl")

    // X3: one progress line per 500k input rows (import_fantoir.py:196-200)
    spark.sparkContext.addSparkListener(new graft.pipelines.ProgressMeter())
    val transcripts: Map[String, Seq[String]] = source match {
      case "sirene" => Pipelines.importSirene(spark, path, rdbms, jdbcUrl)
      case "fantoir" => Pipelines.importFantoir(spark, path, rdbms, jdbcUrl)
      case "deces" =>
        Map("deces" -> Pipelines.importDeces(spark, path, rdbms, jdbcUrl))
      case "curate" =>
        val out = opts.getOrElse("out",
          fail("missing -o <outDir> for curate"))
        import graft.queries.QualityOps.QualityGateConfig
        val defaults = QualityGateConfig()
        val cfg = QualityGateConfig(
          minWords = opts.get("minWords").map(_.toLong)
            .getOrElse(defaults.minWords),
          maxWords = opts.get("maxWords").map(_.toLong)
            .getOrElse(defaults.maxWords),
          minMeanWordLen = opts.get("minMeanWordLen").map(_.toDouble)
            .getOrElse(defaults.minMeanWordLen),
          maxMeanWordLen = opts.get("maxMeanWordLen").map(_.toDouble)
            .getOrElse(defaults.maxMeanWordLen),
          minStopwordHits = opts.get("minStopwordHits").map(_.toLong)
            .getOrElse(defaults.minStopwordHits),
          minAlphaFrac = opts.get("minAlphaFrac").map(_.toDouble)
            .getOrElse(defaults.minAlphaFrac))
        val report = graft.pipelines.Curate.run(spark, path, out, cfg,
          trainPct = opts.get("trainPct").map(_.toInt).getOrElse(80),
          valPct = opts.get("valPct").map(_.toInt).getOrElse(10))
        Map("curate" -> report.lines)
      case other => fail(s"unknown source: $other")
    }
    transcripts.toSeq.sortBy(_._1).foreach { case (table, statements) =>
      println(s"-- $table")
      statements.foreach(println)
    }
    transcripts
  }

  @annotation.tailrec
  private def parseArgs(args: List[String],
                        acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case ("-s" | "--source") :: v :: rest =>
        parseArgs(rest, acc + ("source" -> v))
      case ("-r" | "--rdbms") :: v :: rest =>
        parseArgs(rest, acc + ("rdbms" -> v))
      case ("-p" | "--path") :: v :: rest =>
        parseArgs(rest, acc + ("path" -> v))
      case "--jdbc-url" :: v :: rest =>
        parseArgs(rest, acc + ("jdbcUrl" -> v))
      case ("-o" | "--out") :: v :: rest =>
        parseArgs(rest, acc + ("out" -> v))
      case "--min-words" :: v :: rest =>
        parseArgs(rest, acc + ("minWords" -> v))
      case "--max-words" :: v :: rest =>
        parseArgs(rest, acc + ("maxWords" -> v))
      case "--min-mean-word-len" :: v :: rest =>
        parseArgs(rest, acc + ("minMeanWordLen" -> v))
      case "--max-mean-word-len" :: v :: rest =>
        parseArgs(rest, acc + ("maxMeanWordLen" -> v))
      case "--min-stopword-hits" :: v :: rest =>
        parseArgs(rest, acc + ("minStopwordHits" -> v))
      case "--min-alpha-frac" :: v :: rest =>
        parseArgs(rest, acc + ("minAlphaFrac" -> v))
      case "--train-pct" :: v :: rest =>
        parseArgs(rest, acc + ("trainPct" -> v))
      case "--val-pct" :: v :: rest =>
        parseArgs(rest, acc + ("valPct" -> v))
      case other :: _ => fail(s"unknown argument: $other")
    }

  private def fail(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println("usage: graft.cli.Main " +
      "-s sirene|fantoir|deces|curate " +
      "-r pg|mariadb|sqlite -p <path> [--jdbc-url <url>] " +
      "[-o <outDir> --min-words N --max-words N ... for curate]")
    sys.exit(2)
  }
}
