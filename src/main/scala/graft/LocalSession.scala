package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder behind every bench, verify and
  * data-prep main and the test harness: `local[cpus]` with as many
  * shuffle partitions, the UTC session time zone (`Tables.load`'s
  * NTZ→TZ cast and every day-bucket derivation depend on it, so a
  * non-UTC host must not compute different groupings), UI off, WARN
  * logging. `cli.Main` keeps its own builder: its master is a
  * deployment setting (`SPARK_MASTER`).
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set, else the JVM's available processors. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(env: Option[String]): Int =
    env.map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private[graft] def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `extra` confs override the defaults and, like them, are set
    * before the context starts (core confs such as the shuffle codec
    * only take effect then). */
  def apply(cpus: Int = LocalSession.cpus,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    (confs(cpus) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
