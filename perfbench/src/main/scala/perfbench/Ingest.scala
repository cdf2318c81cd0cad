package perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.pipelines.Pipelines
import graft.schema._
import graft.sinks.{DerbyDialect, JdbcSink}
import graft.sources.{Fantoir, InseeDeces, Sirene, ZipCsv}
import org.apache.spark.sql.DataFrame

/** `ingest`: one operation is one `Pipelines.import*` call into a fresh
  * in-memory Derby database, cycling FANTOIR → SIRENE → deaths. Inputs
  * are generated from the seed ([[Gen]]). After each call, untimed, the
  * Derby row count of every table must equal the generator's count and
  * every declared index must exist in the catalog.
  *
  * The traced run composes the same `sources.*` readers, table
  * definitions and `JdbcSink` lifecycle that `Pipelines` composes, with
  * a span around each layer and the sink's statement callback marking
  * the DDL → write → index boundaries. Traced and untraced cycles
  * alternate over that composition.
  */
object Ingest {

  val fantoirVoies = 20000
  val sireneRows = 4000
  val decesRows = 20000

  private val formats = Seq("fantoir", "sirene", "deces")

  final case class Inputs(fantoir: Path, sirene: Path, deces: Path,
                          rows: Map[String, Map[String, Long]],
                          lines: Map[String, Long])

  def generate(dir: Path, seed: Long): Inputs = {
    Files.createDirectories(dir)
    val f = dir.resolve("fantoir.txt")
    val s = dir.resolve("sirene")
    val d = dir.resolve("deces.txt")
    val fr = Gen.fantoir(f, seed, fantoirVoies)
    val sr = Gen.sirene(s, seed + 1, sireneRows)
    val dr = Gen.deces(d, seed + 2, decesRows)
    Inputs(f, s, d,
      Map("fantoir" -> fr, "sirene" -> sr, "deces" -> dr),
      // source lines: FANTOIR counts its header and trailer, SIRENE its
      // CSV header rows
      Map("fantoir" -> (fr.values.sum + 2),
        "sirene" -> (sr.values.sum + sr.size),
        "deces" -> dr.values.sum))
  }

  /** Declared indices per table, as `Pipelines` declares them. */
  private def declaredIndices(spark: org.apache.spark.sql.SparkSession,
                              in: Inputs, format: String)
      : Map[String, Seq[String]] = format match {
    case "sirene" =>
      Sirene.dataSources(in.sirene).map { case (t, _, dessin) =>
        val table = Sirene.tableDef(t, spark.read.option("header", "true")
          .csv(dessin.toString))
        table.name -> table.indices.map(_.name)
      }.toMap
    case "deces" => Map("deces" -> Seq(decesTable(Seq("nom")).indices.head.name))
    case _ => Map.empty
  }

  private def decesTable(fields: Seq[String], types: Seq[SqlTypeDef] = Nil)
      : SqlTableDef =
    SqlTableDef("deces",
      fields.zipWithIndex.map { case (f, i) =>
        SqlFieldDef("deces", f, types.lift(i).getOrElse(SqlTypes.TEXT),
          rank = i)
      },
      Seq(SqlIndexDef("deces", "nom", SqlIndexType.Hash)))

  private def url(db: String) = s"jdbc:derby:memory:$db"

  private def createDb(db: String): Unit =
    DriverManager.getConnection(url(db) + ";create=true").close()

  private def dropDb(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case _: SQLException => () } // a successful drop throws 08006

  /** Dropping an in-memory Derby database takes ~0.5 s, most of it
    * waiting; the run's databases are dropped together once the timed
    * window has closed, so that wait stays out of the window.
    */
  private def dropAll(dbs: Seq[String]): Unit =
    dbs.map(db => new Thread(() => dropDb(db)))
      .map { t => t.start(); t }.foreach(_.join())

  private def query[A](db: String, sql: String)(f: java.sql.ResultSet => A)
      : A = {
    val c = DriverManager.getConnection(url(db))
    try {
      val rs = c.createStatement().executeQuery(sql)
      try f(rs) finally rs.close()
    } finally c.close()
  }

  private def tableRows(db: String, table: String): Option[Long] =
    try Some(query(db, s"SELECT COUNT(*) FROM $table") { rs =>
      rs.next(); rs.getLong(1)
    })
    catch { case _: SQLException => None }

  /** The untimed output check: row counts and declared indices. */
  def check(db: String, expected: Map[String, Long],
            indices: Map[String, Seq[String]]): Option[String] = {
    val counts = expected.toSeq.sorted.flatMap { case (t, n) =>
      tableRows(db, t) match {
        case Some(got) if got == n => None
        case got => Some(s"$t: ${got.getOrElse("missing")} rows, expected $n")
      }
    }
    val present = query(db,
      "SELECT t.TABLENAME, c.CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES c " +
        "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID WHERE c.ISINDEX") {
      rs =>
        val b = mutable.Set.empty[(String, String)]
        while (rs.next()) b += ((rs.getString(1), rs.getString(2)))
        b.toSet
    }
    val missing = for {
      (t, names) <- indices.toSeq.sortBy(_._1); n <- names
      if !present((t.toUpperCase, n.toUpperCase))
    } yield s"index $n on $t missing"
    val problems = counts ++ missing
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  private def importVia(spark: org.apache.spark.sql.SparkSession,
                        in: Inputs, format: String, db: String): Unit =
    format match {
      case "fantoir" =>
        Pipelines.importFantoir(spark, in.fantoir.toString, "derby",
          Some(url(db)))
      case "sirene" =>
        Pipelines.importSirene(spark, in.sirene.toString, "derby",
          Some(url(db)))
      case "deces" =>
        Pipelines.importDeces(spark, in.deces.toString, "derby",
          Some(url(db)))
    }

  /** Per-operation layer readings of one traced (or alternate untraced)
    * composed import.
    */
  final class Layers {
    var sourceS, schemaS, ddlS, writeS, indexS = 0.0
    var sourceRows, loadedRows, sourceFrames = 0L
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The composition `Pipelines` runs for `format`, one span per layer:
    * `sources.<f>` (source frame into noop), `schema.*` (SIRENE table
    * definition), `sinks.write/<f>` around the JDBC lifecycle, whose
    * statement callback splits off `sinks.ddl/<f>` and `sinks.index/<f>`.
    */
  def composed(ctx: Ctx, in: Inputs, format: String, db: String, op: Long)
      : (Layers, Option[Throwable]) = {
    val spark = ctx.spark
    val tr = ctx.trace
    val l = new Layers
    def sink(df: DataFrame, table: SqlTableDef): Unit = {
      val events = mutable.ArrayBuffer.empty[(Double, String)]
      val s = new JdbcSink(url(db), new java.util.Properties, DerbyDialect,
        stmt => events += ((tr.now, stmt)))
      val t0 = tr.now
      var failure: Option[Throwable] = None
      try tr.span(s"${ctx.workload}/sinks.write/$format", op)(
        s.writeTable(df, table))
      catch { case NonFatal(e) => failure = Some(e) }
      val t1 = tr.now
      val insert = events.find(_._2.startsWith("INSERT")).map(_._1)
        .getOrElse(t1)
      val firstIndex = events.find(_._2.startsWith("CREATE INDEX"))
        .map(_._1).getOrElse(t1)
      tr.record(s"${ctx.workload}/sinks.ddl/$format", op, t0, insert)
      tr.record(s"${ctx.workload}/sinks.index/$format", op, firstIndex, t1)
      l.ddlS += (insert - t0) / 1e3
      l.writeS += (firstIndex - insert) / 1e3
      l.indexS += (t1 - firstIndex) / 1e3
      l.loadedRows += tableRows(db, table.name).getOrElse(0L)
      failure.foreach(throw _)
    }
    def source(dfs: => Seq[DataFrame]): Unit = {
      val (s, n) = ctx.timed(tr.span(
        s"${ctx.workload}/sources/$format", op)(dfs.map(noop).size))
      l.sourceS += s
      l.sourceFrames += n
    }
    def composeFormat(): Unit = format match {
      case "fantoir" =>
        val probe = Fantoir.dispatch(spark, in.fantoir.toString)
        source(Fantoir.formats.filterNot(_.name == "header")
          .map(f => probe(f.name)))
        probe("_classified").unpersist()
        l.sourceRows = in.rows("fantoir").values.sum
        val parts = Fantoir.dispatch(spark, in.fantoir.toString)
        try Fantoir.formats.filterNot(_.name == "header").foreach { fmt =>
          sink(parts(fmt.name), SqlTableDef(fmt.name,
            fmt.fields.zipWithIndex.map { case (f, i) =>
              SqlFieldDef(fmt.name, f.name, SqlTypes.TEXT, rank = i)
            }, Seq.empty))
        } finally parts("_classified").unpersist()
      case "sirene" =>
        Sirene.dataSources(in.sirene).foreach { case (t, zip, dessin) =>
          val (s, table) = ctx.timed(tr.span(
            s"${ctx.workload}/schema.sirene_table_def", op) {
            val fs = Sirene.parseDessin(t,
              spark.read.option("header", "true").csv(dessin.toString))
            SqlTableDef(t, fs, Sirene.indices(t, fs))
              .process(graft.functions.NameUtil.toSnake)
          })
          l.schemaS += s
          def data = Sirene.castTo(ZipCsv.readCsv(spark, zip.toString), table)
          source(Seq(data))
          l.sourceRows += in.rows("sirene")(table.name)
          sink(data, table)
        }
      case "deces" =>
        def df = InseeDeces.read(spark, in.deces.toString)
        source(Seq(df))
        l.sourceRows = in.rows("deces").values.sum
        val d = df
        sink(d, decesTable(d.schema.fieldNames.toSeq, d.schema.fields.map {
          f => f.dataType match {
            case org.apache.spark.sql.types.DateType => SqlTypes.DATE
            case _ => SqlTypes.TEXT
          }
        }.toSeq))
    }
    val failure = try { composeFormat(); None }
      catch { case NonFatal(e) => Some(e) }
    (l, failure)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    Pipelines.registerDialect("derby", DerbyDialect)
    val (genS, in) = ctx.timed(
      generate(ctx.work.resolve(s"inputs-${ctx.seed}"), ctx.seed))
    val indices = formats.map(f => f -> declaredIndices(spark, in, f)).toMap
    var nextOp = 0L
    val dbs = mutable.ArrayBuffer.empty[String]
    var made = 0
    val ops = mutable.ArrayBuffer.empty[Op]
    val layers = mutable.ArrayBuffer.empty[(String, Boolean, Layers)]
    // bounds (trace ms) of the traced operations
    val windows = mutable.ArrayBuffer.empty[(Double, Double)]

    /** One operation: fresh database, timed call, untimed check. */
    def once(format: String, traced: Boolean): Op = {
      val id = nextOp; nextOp += 1
      val db = s"pb$made"
      made += 1
      dbs += db
      createDb(db)
      ctx.trace.enabled = traced
      val start = ctx.trace.now
      val t0 = System.nanoTime()
      val failure =
        try {
          if (ctx.traced) {
            val (l, failure) = composed(ctx, in, format, db, id)
            layers += ((format, traced, l))
            failure
          } else { importVia(spark, in, format, db); None }
        } catch {
          case NonFatal(e) => Some(e)
        } finally ctx.trace.enabled = false
      val s = (System.nanoTime() - t0) / 1e9
      if (traced) windows += ((start, ctx.trace.now))
      failure match {
        case Some(e) =>
          Op(id, "import", format, s, ok = false, rootMessage(e), traced)
        case None =>
          check(db, in.rows(format), indices(format)) match {
            case None => Op(id, "import", format, s, ok = true,
              traced = traced, extra = Map("lines" -> in.lines(format)))
            case Some(err) =>
              Op(id, "import", format, s, ok = false, "check: " + err, traced)
          }
      }
    }

    // warm-up: three untimed cycles (JIT, codegen, Derby classes); after
    // one, the next FANTOIR import still runs ~20 % slower, after two ~10 %
    val (warmS, _) = ctx.timed {
      for (_ <- 1 to 3; f <- formats) once(f, traced = false)
      dropAll(dbs.toSeq)
    }
    dbs.clear()
    nextOp = 0L
    layers.clear()
    windows.clear()
    ctx.openWindow()
    var cycle = 0
    // at least six cycles, so slow and fast runs take their median over
    // as many imports; a traced run alternates traced and untraced
    // cycles in ABBA order over at least four, so warming favours neither
    while (ctx.timeLeft || cycle < (if (ctx.traced) 4 else 6)) {
      val traced = ctx.traced && (cycle % 4 == 0 || cycle % 4 == 3)
      // whole cycles, so every run attempts each format equally often
      formats.foreach(f => ops += once(f, traced))
      cycle += 1
    }
    val measured = ctx.elapsed
    dropAll(dbs.toSeq)
    Outcome(Seq("inputs_s" -> genS, "warmup_s" -> warmS), ops.toSeq,
      measured,
      checks = Map("expected_rows" -> in.rows, "declared_indices" -> indices),
      layers = if (ctx.traced) {
        ctx.trace.drain()
        layerMetrics(ctx, layers.toSeq) ++
          ctx.trace.common(ctx.trace.aggregates.values.toSeq, windows.toSeq)
      } else Map.empty,
      info = Map("source_lines" -> in.lines))
  }

  private def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${e.getClass.getSimpleName} <- ${c.getClass.getName}: ${c.getMessage}"
      .take(400)
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Per-layer metrics from the traced operations' spans. */
  private def layerMetrics(ctx: Ctx, ls: Seq[(String, Boolean, Layers)])
      : Map[String, Double] = {
    val w = ctx.workload
    formats.flatMap { f =>
      val mine = ls.collect { case (`f`, true, l) => l }
      val src = ctx.trace.aggOption(s"$w/sources/$f")
      val wr = ctx.trace.aggOption(s"$w/sinks.write/$f")
      val n = math.max(1, mine.size).toDouble
      Seq(
        s"sources.$f.s" -> mean(mine.map(_.sourceS)),
        s"sources.$f.rows" -> mean(mine.map(_.sourceRows.toDouble)),
        s"sources.$f.input_bytes" -> src.map(_.inputBytes / n).getOrElse(0.0),
        // per source frame: FANTOIR runs three projections, SIRENE
        // one frame per table
        s"sources.$f.tasks" -> src.map(_.tasks /
          math.max(1L, mine.map(_.sourceFrames).sum).toDouble).getOrElse(0.0),
        s"sources.$f.max_task_share" -> src.map(_.maxTaskShare)
          .getOrElse(0.0),
        s"sinks.$f.ddl_s" -> mean(mine.map(_.ddlS)),
        s"sinks.$f.write_s" -> mean(mine.map(l => l.writeS - l.sourceS)),
        s"sinks.$f.index_s" -> mean(mine.map(_.indexS)),
        s"sinks.$f.write_tasks" -> wr.map(_.maxConcurrent.toDouble)
          .getOrElse(0.0),
        s"sinks.$f.rows_loaded_share" -> mean(mine.map(l =>
          l.loadedRows.toDouble / math.max(1L, l.sourceRows))))
    }.toMap ++ Map("schema.sirene_table_def_s" ->
      mean(ls.collect { case ("sirene", true, l) => l.schemaS }))
  }
}
