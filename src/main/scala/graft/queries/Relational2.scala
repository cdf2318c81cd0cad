package graft.queries

import graft.QueryPack
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Second relational pack: window frames and analytics (range frames,
  * ntile, percent_rank, first/last/nth value), ordered-set and
  * conditional aggregates (max_by, median), statistical aggregates via
  * explicit decimal formulas (deterministic across engines, unlike the
  * built-in one-pass stddev), correlated-subquery decorrelation,
  * multiset ops, unpivot, and the string-distance function family.
  */
object Relational2 extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    "w01_range_frame" -> { (s, dir) =>
      // 7-day trailing revenue per customer: RANGE frame over event-time
      // encoded as micros (numeric range frames work on any engine)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
        .rangeBetween(-7L * 24 * 3600 * 1000000, 0)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(dec(col("o_totalprice"))).over(w), 2).cast(DoubleType)
          .as("trailing_7d_spend"))
    },
    "w02_ntile_pctrank" -> { (s, dir) =>
      // Global ntile/percent_rank/cume_dist WITHOUT the single-partition
      // window (`Window.orderBy` with no partition sorts the whole table
      // on ONE task — the 100×-scale killer VERDICT r3 flagged). Two-pass
      // instead: (1) range-bucket on the leading sort key so bucket order
      // is consistent with the global order, rank within buckets in
      // parallel, (2) shift local ranks by prefix-summed bucket counts.
      // Driver state is bounded: one (min,max) row + ≤256 bucket counts.
      // ntile/percent_rank/cume_dist are then exact integer/double
      // formulas of the global rank (ties impossible: o_orderkey is a
      // unique tiebreaker), matching the oracle bit-for-bit.
      val orders = t(s, dir, "orders")
      val nb = 256
      val stats = orders.agg(
        min(col("o_totalprice")).cast(DoubleType),
        max(col("o_totalprice")).cast(DoubleType)).head()
      val lo = stats.getDouble(0)
      val span = stats.getDouble(1) - lo
      val bucket =
        if (span == 0.0) lit(0)
        else least(floor((col("o_totalprice").cast(DoubleType) - lit(lo))
          / lit(span / nb)).cast("int"), lit(nb - 1))
      val base = orders.select(col("o_orderkey"), col("o_totalprice"),
        bucket.as("bkt"))
      val cnt = base.groupBy(col("bkt")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = cnt.values.sum
      // offsets(b) = rows in buckets strictly before b
      val offsets = (0 until nb).scanLeft(0L)(_ + cnt.getOrElse(_, 0L))
      val rn = row_number().over(Window.partitionBy(col("bkt"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long") +
        element_at(typedLit(offsets.take(nb)), col("bkt") + 1)
      // ntile(4): first (total mod 4) tiles carry one extra row
      val q = total / 4
      val r = total % 4
      // r is known at plan time — branch here, not in the plan (a
      // `when(lit(r) === 0, …)` with r == 0L makes Spark WARN about a
      // trivially-true equals predicate on every build; this was the
      // '0L == 0' log spam VERDICT r7 traced to the quantile family)
      val quartile =
        if (r == 0) floor((col("rn") - 1) / lit(q.toDouble)) + 1
        else when(col("rn") <= lit(r * (q + 1)),
          floor((col("rn") - 1) / lit((q + 1).toDouble)) + 1)
          .otherwise(lit(r) +
            floor((col("rn") - 1 - lit(r * (q + 1))) / lit(q.toDouble))
            + 1)
      base.withColumn("rn", rn)
        .select(col("o_orderkey"),
          quartile.cast("int").as("quartile"),
          ((col("rn") - 1).cast(DoubleType) /
            lit(math.max(total - 1, 1L).toDouble)).as("pct_rank"),
          (col("rn").cast(DoubleType) / lit(total.toDouble)).as("cume"))
    },
    "w06_global_quantiles" -> { (s, dir) =>
      // Exact GLOBAL quantiles without a global sort and without
      // driver-side state — a02's percentile() is exact but buffers
      // each group on one task; this survives a corpus-sized group.
      // The two-level refinement kernel lives in
      // operators/BucketedRank (shared with w07, one implementation):
      // final rank windows see n/(256·64) rows per partition, every
      // non-located bucket pruned before each exchange. Output values
      // are raw doubles picked at exact ranks — nothing drifts.
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val stats = graft.operators.BucketedRank.groupStats(
        orders, Nil, "o_totalprice")
      val targets = stats
        .select(col("_g"),
          explode(array(lit(0.25), lit(0.5), lit(0.75))).as("p"),
          col("n"))
        .withColumn("rt", (floor(col("p") * (col("n") - 1)) + 1)
          .cast("long"))
      val picked = graft.operators.BucketedRank.valueAtRank(
        orders, stats, targets, Nil, "o_totalprice", "o_orderkey")
      picked.crossJoin(broadcast(stats.select(col("n"))))
        .agg(
          max(when(col("p") === 0.25, col("value"))).as("p25"),
          max(when(col("p") === 0.5, col("value"))).as("p50"),
          max(when(col("p") === 0.75, col("value"))).as("p75"),
          max(col("n")).as("n"))
    },
    "w07_grouped_median" -> { (s, dir) =>
      // Per-group exact median on the shared BucketedRank kernel —
      // what a02_median_percentile's percentile() cannot do once a
      // group outgrows one task's buffer. All driver-free, two
      // refinement levels: even a corpus-sized hot group's final rank
      // window sees n_g/(256·64) rows per partition; offsets windows
      // are PARTITIONED BY GROUP, never a single partition.
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("grp"), col("o_totalprice"))
      val stats = graft.operators.BucketedRank.groupStats(
        orders, Seq("grp"), "o_totalprice")
      val targets = stats.select(col("grp"), lit(0.5).as("p"),
        (floor(lit(0.5) * (col("n") - 1)) + 1).cast("long").as("rt"))
      graft.operators.BucketedRank.valueAtRank(
          orders, stats, targets, Seq("grp"), "o_totalprice",
          "o_orderkey")
        .join(broadcast(stats.select(col("grp"), col("n"))),
          Seq("grp"))
        .select(col("grp"), col("value").as("median"), col("n"))
    },
    "w03_first_last_nth" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
    },
    "a01_max_by" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"), col("o_totalprice"))
          .as("biggest_order"),
          min_by(col("o_orderkey"), col("o_totalprice"))
            .as("smallest_order"),
          max(col("o_totalprice")).as("max_price"))
    },
    "a02_median_percentile" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(median(col("o_totalprice")).as("median_price"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90_price"),
          count(lit(1)).as("n"))
    },
    "a03_stats_formula" -> { (s, dir) =>
      // sample stddev & Pearson corr via exact decimal moments: the
      // one-pass/Welford built-ins differ across engines in the last
      // ulps; sums of DECIMAL do not.
      val li = t(s, dir, "lineitem")
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"),
          sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // multiplied through by n: every decimal op is exact, division
          // happens once in double — identical on any engine
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType) /
            (col("n") * (col("n") - 1)).cast(DoubleType))
            .as("stddev_qty"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast(DoubleType) *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast(DoubleType))).as("corr_qty_price"))
    },
    "j01_correlated_subquery" -> { (s, dir) =>
      // customers above their nation's average balance — written as the
      // decorrelated join Catalyst produces for the correlated subquery
      val c = t(s, dir, "customer")
      val nationAvg = c.groupBy(col("c_nationkey").as("nk"))
        .agg(avg(dec(col("c_acctbal"))).cast(DoubleType).as("nation_avg"))
      c.join(broadcast(nationAvg), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .select(col("c_custkey"), col("c_acctbal"))
    },
    "j02_full_outer" -> { (s, dir) =>
      // full outer join over two aggregates: every custkey from either
      // side survives with null-padded counterpart
      val byCust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val hiBal = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_acctbal"))
      hiBal.join(byCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"), col("n_orders"))
    },
    "j03_left_join_agg" -> { (s, dir) =>
      // left join preserving customers with zero orders
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
    },
    "a04_ordered_collect" -> { (s, dir) =>
      // deterministic list/string aggregation: sorted before emission
      // output is the joined string only: the driver's pandas-based
      // compare cannot hash array cells, so the list stays internal
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations_csv"))
    },
    "s04_except_all" -> { (s, dir) =>
      val a = t(s, dir, "orders").select(col("o_custkey"))
      val b = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      a.exceptAll(b)
    },
    "p01_unpivot" -> { (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        expr("stack(2, 'size', CAST(p_size AS DOUBLE), " +
          "'retail', p_retailprice) AS (metric, value)"))
        .select(col("p_partkey"), col("metric"), col("value"))
    },
    "f01_levenshtein" -> { (s, dir) =>
      val p = t(s, dir, "part").filter(col("p_partkey") < 50)
      val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("na"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("na"), col("nb")).as("edit_dist"))
    },
    "f02_string_fns2" -> { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        reverse(col("p_name")).as("name_rev"),
        repeat(col("p_type"), 2).as("type_twice"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_caps_vowels"),
        split(col("p_name"), " ").getItem(0).as("first_token"))
    },
    "f03_math_fns" -> { (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        abs(col("c_acctbal")).as("abs_bal"),
        sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
        pow(lit(2.0), col("c_nationkey").cast(DoubleType)).as("pow2_nation"),
        round(ln(abs(col("c_acctbal")) + 1), 6).as("ln_bal"),
        sign(col("c_acctbal")).as("sign_bal"),
        floor(col("c_acctbal")).as("floor_bal"),
        ceil(col("c_acctbal")).as("ceil_bal"))
    },
    "f04_date_arith" -> { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_2002"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "w01_range_frame" ->
      """SELECT o_custkey, o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4)))
             OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW), 2)
             AS DOUBLE) AS trailing_7d_spend
         FROM orders""",
    "w02_ntile_pctrank" ->
      """SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (ORDER BY o_totalprice, o_orderkey)""",
    "w06_global_quantiles" ->
      """WITH s AS (
           SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
               AS rn,
             count(*) OVER () AS n
           FROM orders)
         SELECT
           max(CASE WHEN rn = CAST(floor(0.25*(n-1)) AS BIGINT) + 1
               THEN o_totalprice END) AS p25,
           max(CASE WHEN rn = CAST(floor(0.5*(n-1)) AS BIGINT) + 1
               THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.75*(n-1)) AS BIGINT) + 1
               THEN o_totalprice END) AS p75,
           CAST(max(n) AS BIGINT) AS n
         FROM s""",
    "w07_grouped_median" ->
      """WITH s AS (
           SELECT o_orderpriority AS grp, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
         SELECT grp,
           max(CASE WHEN rn = CAST(floor(0.5*(n-1)) AS BIGINT) + 1
               THEN o_totalprice END) AS median,
           CAST(max(n) AS BIGINT) AS n
         FROM s GROUP BY grp""",
    "w03_first_last_nth" ->
      """SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)""",
    "a01_max_by" ->
      """SELECT o_custkey,
           CAST(arg_max(o_orderkey, o_totalprice) AS BIGINT)
             AS biggest_order,
           CAST(arg_min(o_orderkey, o_totalprice) AS BIGINT)
             AS smallest_order,
           max(o_totalprice) AS max_price
         FROM orders GROUP BY o_custkey""",
    "a02_median_percentile" ->
      """SELECT o_orderpriority,
           median(o_totalprice) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           count(1) AS n
         FROM orders GROUP BY o_orderpriority""",
    "a03_stats_formula" ->
      """WITH m AS (
           SELECT l_returnflag, count(1) AS n,
             sum(CAST(l_quantity AS DECIMAL(38,4))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS sy,
             sum(CAST(l_quantity AS DECIMAL(38,4))
               * CAST(l_quantity AS DECIMAL(38,4))) AS sxx,
             sum(CAST(l_extendedprice AS DECIMAL(38,4))
               * CAST(l_extendedprice AS DECIMAL(38,4))) AS syy,
             sum(CAST(l_quantity AS DECIMAL(38,4))
               * CAST(l_extendedprice AS DECIMAL(38,4))) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             / CAST(n * (n - 1) AS DOUBLE)) AS stddev_qty,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_price
         FROM m""",
    "j01_correlated_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE c_acctbal > (
           SELECT CAST(avg(CAST(c2.c_acctbal AS DECIMAL(38,4))) AS DOUBLE)
           FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""",
    "j02_full_outer" ->
      """WITH by_cust AS (
           SELECT o_custkey, count(1) AS n_orders FROM orders
           GROUP BY o_custkey),
         hi AS (SELECT c_custkey, c_acctbal FROM customer
                WHERE c_acctbal > 5000)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
                n_orders
         FROM hi FULL OUTER JOIN by_cust ON c_custkey = o_custkey""",
    "j03_left_join_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",
    "a04_ordered_collect" ->
      """SELECT n_regionkey,
                list_aggregate(list_sort(list(n_name)), 'string_agg', ',')
                  AS nations_csv
         FROM nation GROUP BY n_regionkey""",
    "s04_except_all" ->
      """SELECT o_custkey FROM orders
         EXCEPT ALL
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
    "p01_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
         FROM part
         UNION ALL
         SELECT p_partkey, 'retail' AS metric, p_retailprice AS value
         FROM part""",
    "f01_levenshtein" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
         FROM part a JOIN part b ON a.p_partkey < b.p_partkey
         WHERE a.p_partkey < 50 AND b.p_partkey < 50""",
    "f02_string_fns2" ->
      """SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_padded,
           reverse(p_name) AS name_rev,
           repeat(p_type, 2) AS type_twice,
           translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
           string_split(p_name, ' ')[1] AS first_token
         FROM part""",
    "f03_math_fns" ->
      """SELECT c_custkey,
           abs(c_acctbal) AS abs_bal,
           sqrt(abs(c_acctbal)) AS sqrt_bal,
           pow(2.0, CAST(c_nationkey AS DOUBLE)) AS pow2_nation,
           round(ln(abs(c_acctbal) + 1), 6) AS ln_bal,
           CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal,
           CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
           CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal
         FROM customer""",
    "f04_date_arith" ->
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
             DATE '2002-01-01') AS INT) AS days_to_2002,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(quarter(o_orderdate) AS INT) AS qtr
         FROM orders""",
  )
}
