package graft.pipelines

import graft.schema._
import graft.sinks._
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's three entry-point lifecycles (SURVEY.md §3),
  * re-composed on DataFrames. Each pipeline: discover → build schema →
  * read/transform (executors) → sink lifecycle (DDL + bulk write +
  * ANALYZE + indexes over JDBC).
  *
  * Dialect registry mirrors the reference's rdbms-alias map
  * (`/root/reference/datagouv_tools/import_sirene.py:396-408`).
  */
object Pipelines {

  val dialects: Map[String, SinkDialect] = {
    val pg = Seq("pg", "postgres", "postgresql") -> PostgresDialect
    val maria = Seq("maria", "mariadb", "mysql") -> MariaDbDialect
    val lite = Seq("sqlite", "sqlite3") -> SqliteDialect
    (for ((aliases, d) <- Seq(pg, maria, lite); a <- aliases)
      yield a -> (d: SinkDialect)).toMap
  }

  /** User-registered dialects (the extension point the reference's
    * fixed alias map lacks): a library user targeting an engine beyond
    * pg/mariadb/sqlite registers its [[SinkDialect]] under a name and
    * every pipeline + the CLI accept it. Registered engines take the
    * batched-INSERT sink path unless they also appear in
    * [[channelFor]]'s native-bulk mapping.
    */
  private val extraDialects =
    scala.collection.concurrent.TrieMap.empty[String, SinkDialect]

  def registerDialect(name: String, d: SinkDialect): Unit =
    extraDialects.put(name.toLowerCase, d)

  def dialect(rdbms: String): SinkDialect = {
    val key = rdbms.toLowerCase
    extraDialects.get(key).orElse(dialects.get(key)).getOrElse(
      throw new IllegalArgumentException(s"unknown rdbms: $rdbms"))
  }

  /** SIRENE (§3.1): per discovered source — dessin → table def →
    * zip CSV → cast → sink. Returns the transcripts (dry run) or writes
    * (live) per table.
    */
  def importSirene(spark: SparkSession, sireneDir: String, rdbms: String,
                   jdbcUrl: Option[String] = None,
                   bulkCopy: Boolean = true)
      : Map[String, Seq[String]] = {
    val d = dialect(rdbms)
    Sirene.dataSources(java.nio.file.Paths.get(sireneDir)).map {
      case (tableName, zip, dessin) =>
        val table = Sirene.tableDef(tableName,
          spark.read.option("header", "true").csv(dessin.toString))
        val data = Sirene.castTo(
          ZipCsv.readCsv(spark, zip.toString), table)
        tableName -> sinkOrDryRun(data, table, d, jdbcUrl, bulkCopy)
    }.toMap
  }

  /** FANTOIR (§3.2/3.3): one classified pass, 4 typed projections, all
    * tables TEXT, no indices (matching the reference's observable
    * behavior — its index provider is dead code).
    */
  def importFantoir(spark: SparkSession, fantoirPath: String, rdbms: String,
                    jdbcUrl: Option[String] = None)
      : Map[String, Seq[String]] = {
    val d = dialect(rdbms)
    val parts = Fantoir.dispatch(spark, fantoirPath)
    val out = Fantoir.formats.filterNot(_.name == "header").map { fmt =>
      val df = parts(fmt.name)
      val table = SqlTableDef(fmt.name,
        fmt.fields.zipWithIndex.map { case (f, i) =>
          SqlFieldDef(fmt.name, f.name, SqlTypes.TEXT, rank = i)
        }, Seq.empty)
      fmt.name -> sinkOrDryRun(df, table, d, jdbcUrl)
    }.toMap
    parts("_classified").unpersist()
    out
  }

  /** Deceased persons (runner-up entry point): parse → typed table with
    * a hash index on nom.
    */
  def importDeces(spark: SparkSession, path: String, rdbms: String,
                  jdbcUrl: Option[String] = None): Seq[String] = {
    val d = dialect(rdbms)
    val df = InseeDeces.read(spark, path)
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val sqlType = f.dataType match {
        case org.apache.spark.sql.types.DateType => SqlTypes.DATE
        case _ => SqlTypes.TEXT
      }
      SqlFieldDef("deces", f.name, sqlType, rank = i)
    }.toSeq
    val table = SqlTableDef("deces", fields,
      Seq(SqlIndexDef("deces", "nom", SqlIndexType.Hash)))
    sinkOrDryRun(df, table, d, jdbcUrl)
  }

  /** The native bulk channel per dialect — PG COPY / MariaDB LOAD DATA;
    * engines without a bulk command (SQLite) fall back to batched
    * INSERT, matching `sqlite.py:58-68`.
    */
  private def channelFor(d: SinkDialect): Option[CopyChannel] = d match {
    case PostgresDialect => Some(PgCopyChannel())
    case MariaDbDialect => Some(MariaDbLoadChannel())
    case _ => None
  }

  /** `bulkCopy = true` mirrors the reference's default
    * (`import_sirene.py:411-413`): PG/MariaDB go through their native
    * bulk path; dry runs render the bulk statement in the transcript.
    */
  private def sinkOrDryRun(df: DataFrame, table: SqlTableDef,
                           d: SinkDialect, jdbcUrl: Option[String],
                           bulkCopy: Boolean = true): Seq[String] = {
    val channel = if (bulkCopy) channelFor(d) else None
    jdbcUrl match {
      case Some(url) =>
        val sink = new JdbcSink(url, new java.util.Properties, d)
        channel match {
          case Some(ch) => sink.writeTableBulk(df, table, ch)
          case None => sink.writeTable(df, table)
        }
        Seq(s"written: ${table.name}")
      case None => // dry run (reference X1): transcript only
        new JdbcSink("jdbc:dry", new java.util.Properties, d)
          .dryRunTranscript(table, channel)
    }
  }
}
