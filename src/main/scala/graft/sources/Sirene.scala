package graft.sources

import graft.functions.NameUtil
import graft.schema._
import org.apache.spark.sql.DataFrame

/** SIRENE schema-driven CSV ingestion (S1/S2/T2/P3/F3 in SURVEY.md §2.a).
  *
  * Schemas are external: each data zip `<Table>_utf8.zip` pairs with a
  * "dessin" metadata CSV `dessin<table>.csv` whose French-headed rows
  * declare name/length/comment/type/rank per column (behavior from
  * `/root/reference/datagouv_tools/import_sirene.py:101-184`). The dessin
  * is tiny → parsed on the driver into the sink-side [[SqlTableDef]] and
  * the engine-side `StructType`; the data zip is read by executors.
  */
object Sirene {

  /** One parsed dessin row. */
  final case class SchemaRow(name: String, length: Int, comment: String,
                             typeName: String, rank: Int)

  /** Source-domain type → SQL type (`import_sirene.py:227-232`). */
  def baseType(typeName: String): SqlTypeDef = typeName match {
    case "Liste de codes" => SqlTypes.TEXT
    case "Date" => SqlTypes.DATE
    case "Texte" => SqlTypes.TEXT
    case "Numérique" => SqlTypes.NUMERIC
    case _ => SqlTypes.TEXT
  }

  /** Data-driven type patches (`import_sirene.py:235-262`): a declared
    * Date whose length ≠ 10 can't be `yyyy-MM-dd` → degrade to TEXT; and
    * `StockEtablissement.numeroVoieEtablissement` holds values like "5bis"
    * → forced TEXT.
    */
  def patchedType(tableName: String, row: SchemaRow): SqlTypeDef = {
    val base = baseType(row.typeName)
    if (base == SqlTypes.DATE && row.length != 10) SqlTypes.TEXT
    else if (tableName == "StockEtablissement" &&
      row.name == "numeroVoieEtablissement") SqlTypes.TEXT
    else base
  }

  /** Parse a dessin CSV (already loaded as a DataFrame with a header row;
    * columns Nom/Longueur/Libellé/Type/Ordre) into rank-sorted fields.
    */
  def parseDessin(tableName: String, dessin: DataFrame): Seq[SqlFieldDef] = {
    val rows = dessin.collect() // schema metadata: tiny, driver-side by design
    val idx = dessin.columns.zipWithIndex.toMap
    def str(r: org.apache.spark.sql.Row, c: String): String =
      Option(r.get(idx(c))).map(_.toString).getOrElse("")
    rows.toSeq.flatMap { r =>
      val name = str(r, "Nom")
      if (name.isEmpty) None
      else {
        val row = SchemaRow(name,
          str(r, "Longueur").toIntOption.getOrElse(0),
          str(r, "Libellé"), str(r, "Type"),
          str(r, "Ordre").toIntOption.getOrElse(0))
        Some(SqlFieldDef(tableName, row.name, patchedType(tableName, row),
          row.rank, row.comment, row.length))
      }
    }.sortBy(_.rank) // P3: columns are order-significant
  }

  /** Index selection rules (`import_sirene.py:203-224,366-368`): hash on
    * every `siren*` / `siret*` column; btree on configured extras
    * (`codePostalEtablissement` by default).
    */
  def indices(tableName: String, fields: Seq[SqlFieldDef],
              btreeExtras: Set[String] = Set("codePostalEtablissement"))
      : Seq[SqlIndexDef] =
    fields.flatMap { f =>
      val n = f.fieldName
      if (n.startsWith("siren") || n.startsWith("siret"))
        Some(SqlIndexDef(tableName, n, SqlIndexType.Hash))
      else if (btreeExtras.contains(n))
        Some(SqlIndexDef(tableName, n, SqlIndexType.BTree))
      else None
    }

  /** Build the full table definition, snake_cased (P2). */
  def tableDef(tableName: String, dessin: DataFrame): SqlTableDef = {
    val fs = parseDessin(tableName, dessin)
    SqlTableDef(tableName, fs, indices(tableName, fs))
      .process(NameUtil.toSnake)
  }

  /** Lenient boolean per the reference's `type_boolean`
    * (`sql_type.py:77-83`): case-folded, trimmed, accepts
    * true/yes/on/1 and false/no/off/0. Spark's cast accepts
    * true/yes/1 but NOT on/off, so booleans get this `when`-chain
    * instead; unrecognized tokens degrade to null (the try_cast
    * discipline — the reference raises, but its bulk path delegates
    * malformed-value policy to the DBMS).
    */
  def lenientBoolean(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lower, trim, when}
    val tok = lower(trim(c))
    when(tok.isin("true", "yes", "on", "1"), true)
      .when(tok.isin("false", "no", "off", "0"), false)
      .otherwise(org.apache.spark.sql.functions.lit(null)
        .cast(org.apache.spark.sql.types.BooleanType))
  }

  /** Rename positionally to the table's processed names and cast each
    * column to its declared Spark type (T1).
    */
  def castTo(raw: DataFrame, table: SqlTableDef): DataFrame = {
    import org.apache.spark.sql.functions.col
    val renamed = raw.toDF(table.fields.map(_.fieldName): _*)
    // try_cast: malformed source values degrade to null instead of failing
    // the job under ANSI mode — the lenient behavior the reference's
    // bulk-copy path delegates to the DBMS.
    renamed.select(table.fields.map(f =>
      (f.sqlType.sparkType match {
        case org.apache.spark.sql.types.BooleanType =>
          lenientBoolean(col(f.fieldName))
        case t => col(f.fieldName).try_cast(t)
      }).as(f.fieldName)): _*)
  }

  /** Discover `(tableName, dataZip, dessinCsv)` triples in a directory
    * (S1): `*_utf8.zip` stems pair with `dessin<table>.csv`; a missing
    * dessin skips the source, as in the reference
    * (`import_sirene.py:296-301`).
    */
  def dataSources(dir: java.nio.file.Path)
      : Seq[(String, java.nio.file.Path, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(dir).iterator().asScala.toSeq
    files.filter(_.getFileName.toString.endsWith("_utf8.zip")).flatMap { zip =>
      val table = zip.getFileName.toString.stripSuffix("_utf8.zip")
      val dessin = dir.resolve(s"dessin${table.toLowerCase}.csv")
      val alt = dir.resolve(s"dessin$table.csv")
      if (java.nio.file.Files.exists(dessin)) Some((table, zip, dessin))
      else if (java.nio.file.Files.exists(alt)) Some((table, zip, alt))
      else None
    }.sortBy(_._1)
  }
}
