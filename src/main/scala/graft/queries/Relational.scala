package graft.queries

import graft.QueryPack
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Relational surface (SURVEY.md §2.b): aggregation, joins (broadcast /
  * semi / anti / theta), windows, cube/rollup/grouping-sets, set ops,
  * scalar string/date functions, JSON, pivot.
  *
  * The reference implements none of these (SURVEY.md §2.b) — they are the
  * Spark built-in surface the engine exposes, declared via DataFrame ops so
  * Catalyst handles pushdown, pruning, partial aggregation and join
  * strategy. Dimension tables (region/nation/supplier) are tiny at any
  * scale factor and are broadcast explicitly; fact-fact joins shuffle on
  * their keys and rely on AQE at scale.
  */
object Relational extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    // ---- aggregation -----------------------------------------------------
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          money(col("l_quantity")).as("sum_qty"),
          money(col("l_extendedprice")).as("sum_base_price"),
          money(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          round(avg(dec(col("l_quantity"))), 2).cast(DoubleType).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
    "q06_filtered_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.08) && col("l_quantity") < 24)
        .agg(money(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },
    "q13_distinct_agg" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_customers"))
    },

    // ---- joins -----------------------------------------------------------
    "q02_revenue_by_region" -> { (s, dir) =>
      // fact→fact shuffle join on the key, then broadcast dims.
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(money(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "q03_top_orders" -> { (s, dir) =>
      // selective side first: orders ⋈ (filtered customers, broadcast)
      // shrinks the orders stream ~5× before the big lineitem join; AQE
      // can then broadcast the reduced side at runtime.
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val buildingOrders = o.join(broadcast(c),
        col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"))
      li.join(buildingOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(money(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    "q04_semi_join" -> { (s, dir) =>
      // orders having at least one line shipped after the order date
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
    "q05_anti_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    "q23_theta_band_join" -> { (s, dir) =>
      // equi key + band residual: hash join with a non-equi post-filter
      val sup = broadcast(t(s, dir, "supplier"))
      val c = t(s, dir, "customer")
      c.join(sup, col("c_nationkey") === col("s_nationkey") &&
          abs(col("c_acctbal") - col("s_acctbal")) < 500)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_close_customers"))
    },

    // ---- windows ---------------------------------------------------------
    "q07_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk"))
    },
    "q08_running_total" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(dec(col("o_totalprice"))).over(w), 2).cast(DoubleType)
            .as("running_spend"))
    },
    "q09_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
    },

    // ---- grouping sets ---------------------------------------------------
    "q10_cube" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), money(col("l_quantity")).as("sum_qty"))
    },
    "q11_rollup" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
    },
    "q12_grouping_sets" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                      count(1) AS n_orders
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                       (o_orderstatus, o_orderpriority))""")
    },

    // ---- set ops ---------------------------------------------------------
    "q14_intersect" -> { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.intersect(o)
    },
    "q15_except" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.except(o)
    },
    "q16_union_distinct" -> { (s, dir) =>
      val hi = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"))
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      hi.union(building).distinct()
    },

    // ---- scalar functions ------------------------------------------------
    "q17_string_fns" -> { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 4).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_name"), "^(\\S+)", 1).as("first_word"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        replace(col("p_type"), lit("ECONOMY"), lit("ECO")).as("type_short"))
    },
    "q18_date_fns" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("total"))
    },
    "q19_case_bucket" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("balance_bucket"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // ---- arrays / json / pivot ------------------------------------------
    "q20_array_explode" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },
    "q21_json_extract" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n_events"))
    },
    "q22_pivot_event_types" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchases"),
          sum(when(col("event_type") === "signup", 1).otherwise(0))
            .as("signups"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(avg(CAST(l_quantity AS DECIMAL(38,4))), 2) AS DOUBLE) AS avg_qty,
           count(1) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q06_filtered_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""",
    "q13_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
                count(1) AS n_customers
         FROM customer GROUP BY c_mktsegment""",
    "q02_revenue_by_region" ->
      """SELECT r_name, n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue,
           count(1) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q03_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q04_semi_join" ->
      """SELECT o_orderpriority, count(1) AS n_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate)
         GROUP BY o_orderpriority""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q23_theta_band_join" ->
      """SELECT s_suppkey, count(1) AS n_close_customers
         FROM customer JOIN supplier
           ON c_nationkey = s_nationkey AND abs(c_acctbal - s_acctbal) < 500
         GROUP BY s_suppkey""",
    "q07_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3""",
    "q08_running_total" ->
      """SELECT o_custkey, o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_spend
         FROM orders""",
    "q09_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q10_cube" ->
      """SELECT l_returnflag, l_linestatus, count(1) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 2) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q11_rollup" ->
      """SELECT r_name, n_name, count(1) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "q12_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n_orders
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                 (o_orderstatus, o_orderpriority))""",
    "q14_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT SELECT o_custkey FROM orders""",
    "q15_except" ->
      """SELECT c_custkey FROM customer
         EXCEPT SELECT o_custkey FROM orders""",
    "q16_union_distinct" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 9000
         UNION SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
    "q17_string_fns" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
           substring(p_name, 1, 4) AS name_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           coalesce(regexp_extract(p_name, '^(\S+)', 1), '') AS first_word,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_type, 'ECONOMY', 'ECO') AS type_short
         FROM part""",
    "q18_date_fns" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month, count(1) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 2) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2""",
    "q19_case_bucket" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                     WHEN c_acctbal < 5000 THEN 'low'
                     ELSE 'high' END AS balance_bucket,
           count(1) AS n_customers
         FROM customer GROUP BY 1""",
    "q20_array_explode" ->
      """SELECT word, count(1) AS n FROM (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
           FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    "q21_json_extract" ->
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(1) AS n_events
         FROM events GROUP BY event_type""",
    "q22_pivot_event_types" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
         FROM events GROUP BY user_id""",
  )
}
