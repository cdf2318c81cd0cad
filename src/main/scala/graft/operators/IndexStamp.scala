package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.MetadataBuilder

/** An index's build parameters, stamped as `Long`s into one column's
  * metadata — declared once per stamped index. The builder aliases the
  * column through [[stamp]], and every probe of the index runs
  * [[require]] before it starts: an index built with other parameters
  * meets the probe on an arbitrary subset of its keys, silently
  * missing true pairs instead of erroring, so a missing or different
  * stamp is refused. The stamp rides the schema through projections
  * that keep the column, checkpoints and the parquet footers of durable
  * tiers; the metadata keys are frozen for that reason (state written
  * earlier must still pass the gate).
  *
  * @param index    the index's name in the refusal messages
  * @param column   the stamped column
  * @param what     the stamp's name in the "carries no … stamp" message
  * @param builders the public builders that stamp the index
  * @param params   (name, metadata key) per parameter, in the order
  *                 [[stamp]] and [[require]] take their values
  */
private[graft] final case class IndexStamp(index: String, column: String,
    what: String, builders: String, params: (String, String)*) {

  private def keys = params.map(_._2)

  /** `c` aliased as the stamped column, carrying `values`. */
  def stamp(c: Column, values: Long*): Column = {
    val meta = new MetadataBuilder()
    keys.zip(values).foreach { case (k, v) => meta.putLong(k, v) }
    c.as(column, meta.build())
  }

  /** The stamped values, or None when the column or any key is
    * missing. */
  def read(df: DataFrame): Option[Seq[Long]] =
    df.schema.find(_.name == column).map(_.metadata)
      .filter(m => keys.forall(m.contains)).map(m => keys.map(m.getLong))

  /** The gate: refuses `df` unless it carries this stamp with
    * `values`. */
  def require(df: DataFrame, values: Long*): Unit = {
    def show(vs: Seq[Long]) = params.map(_._1).zip(vs)
      .map { case (name, v) => s"$name=$v" }.mkString(", ")
    read(df) match {
      case Some(stamped) => Predef.require(stamped == values,
        s"$index was built with ${show(stamped)} but the probe runs " +
          s"${show(values)} — rebuild it via $builders with the probe's " +
          "parameters")
      case None => throw new IllegalArgumentException(
        s"$index carries no $what stamp on $column (metadata '" +
          keys.mkString("', '") + s"') — build it with $builders, " +
          "which stamp it")
    }
  }
}
