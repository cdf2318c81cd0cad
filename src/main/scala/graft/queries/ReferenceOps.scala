package graft.queries

import graft.QueryPack
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** The reference's own operator repertoire (SURVEY.md §2.a), exercised
  * over the driver test data so the DuckDB oracle can check it: fixed-
  * width slicing (S4), offset+regex parsing (S5), dictionary lookup with
  * pass-through (L1), list→fixed-columns pivot (V1), plus the as-of join
  * from §2.b's join inventory.
  */
object ReferenceOps extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    // S4: fixed-offset slices, trimmed — the FANTOIR row codec applied to
    // an arbitrary text column.
    "r01_fixed_width_slice" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        trim(substring(col("text"), 1, 10)).as("f1"),
        trim(substring(col("text"), 11, 10)).as("f2"),
        trim(substring(col("text"), 21, 20)).as("f3"))
    },
    // S5: regex field extraction (the INSEE nom*prenoms split pattern).
    "r02_regex_parse" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "^(\\w+)\\s+(\\w+)", 1).as("w1"),
        regexp_extract(col("text"), "^(\\w+)\\s+(\\w+)", 2).as("w2"))
    },
    // L1: literal-map dictionary lookup with pass-through for unknown
    // codes — the nature_voie pattern; map ships inside the expression,
    // no join, no shuffle.
    "r03_dict_lookup" -> { (s, dir) =>
      val m = typedLit(Map(
        "click" -> "CLICK EVENT", "view" -> "PAGE VIEW",
        "purchase" -> "PURCHASE"))
      t(s, dir, "events")
        .select(col("event_id"),
          coalesce(element_at(m, col("event_type")), col("event_type"))
            .as("event_label"))
    },
    // V1: variable-length list pivoted to 8 fixed null-padded columns
    // (the prenom1..prenom8 shape).
    "r04_pivot_first_words" -> { (s, dir) =>
      val words = split(trim(col("text")), "\\s+")
      t(s, dir, "documents").select(
        (col("doc_id") +: (1 to 8).map(i =>
          try_element_at(words, lit(i)).as(s"w$i"))): _*)
    },
    // As-of join: latest event at or before each order date for the
    // order's customer (union + ordered window, one shuffle — see
    // AsOfJoin scaladoc).
    "r05_asof_join" -> { (s, dir) =>
      AsOfJoin.asOf(
        left = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        right = t(s, dir, "events"),
        leftKey = "o_custkey", rightKey = "user_id",
        leftTime = "o_orderdate", rightTime = "ts",
        payload = Map("ts" -> "last_event_ts", "value" -> "last_event_value"),
        tieBreaker = Some("ts"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "r01_fixed_width_slice" ->
      """SELECT doc_id, trim(substring(text, 1, 10)) AS f1,
                trim(substring(text, 11, 10)) AS f2,
                trim(substring(text, 21, 20)) AS f3
         FROM documents""",
    "r02_regex_parse" ->
      """SELECT doc_id,
                regexp_extract(text, '^(\w+)\s+(\w+)', 1) AS w1,
                regexp_extract(text, '^(\w+)\s+(\w+)', 2) AS w2
         FROM documents""",
    "r03_dict_lookup" ->
      """SELECT event_id,
                CASE event_type WHEN 'click' THEN 'CLICK EVENT'
                                WHEN 'view' THEN 'PAGE VIEW'
                                WHEN 'purchase' THEN 'PURCHASE'
                                ELSE event_type END AS event_label
         FROM events""",
    "r04_pivot_first_words" ->
      """SELECT doc_id,
                string_split_regex(trim(text), '\s+')[1] AS w1,
                string_split_regex(trim(text), '\s+')[2] AS w2,
                string_split_regex(trim(text), '\s+')[3] AS w3,
                string_split_regex(trim(text), '\s+')[4] AS w4,
                string_split_regex(trim(text), '\s+')[5] AS w5,
                string_split_regex(trim(text), '\s+')[6] AS w6,
                string_split_regex(trim(text), '\s+')[7] AS w7,
                string_split_regex(trim(text), '\s+')[8] AS w8
         FROM documents""",
    "r05_asof_join" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
                e.ts AS last_event_ts, e.value AS last_event_value
         FROM (SELECT o_orderkey, o_custkey, o_orderdate FROM orders) o
         ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events) e
           ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate""",
  )
}
