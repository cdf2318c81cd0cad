package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{round, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** A named group of driver-checkable queries.
  *
  * Each entry in `queries` is matched against `oracleSql` (ANSI SQL run by
  * DuckDB over the same parquet tables). Column names MUST match between the
  * Spark result and the oracle result — the driver sorts columns by name
  * before hashing values.
  *
  * Float discipline: anything that aggregates doubles goes through
  * DECIMAL(38,4) so the result is exact and independent of partitioning /
  * summation order, then is rounded and cast back to double identically on
  * both sides: [[dec]] is the cast, [[money]] the rounded exact sum.
  */
trait QueryPack {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Table `name` of the scale-factor dir `dir`, through [[Tables.load]]. */
  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact money arithmetic: double → DECIMAL(38,4) before summing. */
  protected def dec(c: Column): Column = c.cast(DecimalType(38, 4))

  /** Sum of `c` through [[dec]], rounded to cents, back to double. */
  protected def money(c: Column): Column =
    round(sum(dec(c)), 2).cast(DoubleType)

  def queries: Map[String, QueryFn]
  /** DuckDB-runnable SQL per query; omit a key for rows-only checks. */
  def oracleSql: Map[String, String]
}
