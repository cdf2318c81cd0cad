package graft.sinks

import java.sql.{Connection, DriverManager}

import graft.schema.{CsvDialect, SqlTableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_csv}

/** JDBC table-load lifecycle (SURVEY.md §3): DROP/CREATE → prepare →
  * bulk write → finalize (ANALYZE) → indexes.
  *
  * Two write paths, matching the reference's `bulk_copy` switch
  * (`import_sirene.py:408-413`, default true):
  *
  *  - [[writeTableBulk]] — the DBMS's NATIVE bulk command per partition
  *    through a [[CopyChannel]] (PG `COPY FROM STDIN` via CopyManager,
  *    MariaDB `LOAD DATA` via the temp-file bridge). ~10× the insert
  *    path on real servers; sink parallelism = `numPartitions`.
  *  - [[writeTable]] — `df.write.jdbc` batched inserts (K4), the
  *    fallback for engines with no bulk command (SQLite, Derby). MySQL
  *    family URLs get `rewriteBatchedStatements=true` injected (turns
  *    driver-side batches into real multi-row INSERTs — reference K3's
  *    performance note).
  *
  * DDL and index statements run on a single driver-side connection,
  * exactly like the reference's cursor calls; `listener` sees every
  * statement in execution order (the reference's logger.debug stream,
  * used by the transcript specs).
  */
final class JdbcSink(url: String, props: java.util.Properties,
                     dialect: SinkDialect,
                     listener: String => Unit = _ => ()) {

  private def withConnection[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def runAll(conn: Connection, statements: Seq[String]): Unit = {
    val st = conn.createStatement()
    try statements.foreach { q => listener(q); st.execute(q) }
    finally st.close()
  }

  /** The one table-load lifecycle both write paths share: DROP →
    * CREATE → prepare on one connection, then `write`, then finalize →
    * indexes on another. */
  private def load(table: SqlTableDef)(write: => Unit): Unit = {
    withConnection { conn =>
      runAll(conn, dialect.dropTable(table))
      runAll(conn, dialect.createTable(table))
      runAll(conn, dialect.prepareCopy(table))
    }
    write
    withConnection { conn =>
      runAll(conn, dialect.finalizeCopy(table))
      table.indices.foreach(ix => runAll(conn, dialect.createIndex(table, ix)))
    }
  }

  /** Batched-INSERT lifecycle for one table. `numPartitions` bounds
    * concurrent sink connections; size it to what the DBMS tolerates,
    * not the cluster.
    */
  def writeTable(df: DataFrame, table: SqlTableDef,
                 numPartitions: Int = 4): Unit = load(table) {
    listener(dialect.insertAll(table))
    df.coalesce(numPartitions)
      .write.mode("append")
      .option("truncate", "false")
      .jdbc(url, table.name, JdbcSink.effectiveProps(url, props))
  }

  /** Native-bulk lifecycle: DROP → CREATE → prepare (TRUNCATE) → one
    * `channel.copyIn` per partition → finalize (ANALYZE) → indexes —
    * the order `tests/test_import_fantoir.py:63-155` asserts on the
    * reference.
    *
    * Rows are rendered to CSV lines by Spark's codegen'd `to_csv` (no
    * UDF, no driver collect); each partition prepends the header line
    * its bulk statement's HEADER/IGNORE clause expects.
    */
  def writeTableBulk(df: DataFrame, table: SqlTableDef,
                     channel: CopyChannel,
                     csv: CsvDialect = CsvDialect.unix,
                     numPartitions: Int = 4): Unit =
    load(table)(bulkCopy(df, table, channel, csv, numPartitions))

  /** Append-only native bulk load: the per-partition copy WITHOUT the
    * DDL lifecycle — what a `foreachBatch` streaming sink calls per
    * micro-batch (create once — first batch via [[writeTableBulk]] or
    * DDL upfront — then COPY-only appends; re-ANALYZE on your own
    * cadence). See `StreamingSinkSpec`.
    */
  def appendBulk(df: DataFrame, table: SqlTableDef, channel: CopyChannel,
                 csv: CsvDialect = CsvDialect.unix,
                 numPartitions: Int = 4): Unit =
    bulkCopy(df, table, channel, csv, numPartitions)

  private def bulkCopy(df: DataFrame, table: SqlTableDef,
                       channel: CopyChannel, csv: CsvDialect,
                       numPartitions: Int): Unit = {
    listener(channel.describe(table))
    val opts = new java.util.HashMap[String, String]
    opts.put("sep", csv.delimiter.toString)
    opts.put("quote", csv.quoteChar.toString)
    opts.put("escape",
      (if (csv.doubleQuote) csv.quoteChar else csv.escapeChar).toString)
    // render in the TABLE's declared column order (the order COPY/LOAD
    // binds by position), not the DataFrame's — and fail loudly on a
    // missing column instead of loading values into the wrong fields
    val missing = table.fields.map(_.fieldName)
      .filterNot(df.columns.toSet)
    require(missing.isEmpty,
      s"bulk load: DataFrame lacks columns ${missing.mkString(", ")}" +
        s" declared by table ${table.name}")
    val header = table.fields.map(_.fieldName)
      .mkString(csv.delimiter.toString)
    val lines = df.select(to_csv(
      struct(table.fields.map(f => col(f.fieldName)): _*), opts).as("line"))
    // locals only — the closure must not capture the (non-serializable)
    // sink; the channel itself is Serializable by contract
    val (u, p, t, ch, hdr) = (url, props, table, channel, header)
    lines.coalesce(numPartitions)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          ch.copyIn(u, p, t, Iterator(hdr) ++ it.map(_.getString(0)))
          ()
        }
      }
  }

  /** Dry-run variant: render the full statement transcript without a
    * database (reference X1, `generic.py:286-324`). `channel`, when
    * given, logs its bulk statement in place of the batched INSERT.
    */
  def dryRunTranscript(table: SqlTableDef,
                       channel: Option[CopyChannel] = None): Seq[String] = {
    val exec = new DryRunExecutor
    exec.execute(dialect.dropTable(table))
    exec.execute(dialect.createTable(table))
    exec.execute(dialect.prepareCopy(table))
    exec.execute(Seq(channel.map(_.describe(table))
      .getOrElse(dialect.insertAll(table))))
    exec.execute(dialect.finalizeCopy(table))
    table.indices.foreach(ix => exec.execute(dialect.createIndex(table, ix)))
    exec.statements
  }
}

object JdbcSink {
  /** MySQL-family connections get `rewriteBatchedStatements=true` unless
    * the caller set it: without it the driver sends batched inserts one
    * statement at a time and the K4 path crawls (SURVEY K3).
    */
  private[graft] def effectiveProps(
      url: String, props: java.util.Properties): java.util.Properties =
    if ((url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:"))
        && !props.containsKey("rewriteBatchedStatements")) {
      val p = new java.util.Properties()
      p.putAll(props)
      p.setProperty("rewriteBatchedStatements", "true")
      p
    } else props
}
