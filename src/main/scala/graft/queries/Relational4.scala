package graft.queries

import graft.QueryPack
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Round-3 surface widening (SURVEY.md §2.b): TPC-H-shaped multi-join
  * pipelines (the broadcast-chain + join-reorder shapes a warehouse
  * lives on), linear-regression aggregates, array functions, VARIANT
  * JSON, gaps-and-islands, LATERAL joins, recursive CTEs, and
  * null-safe joins.
  *
  * Float discipline per QueryPack scaladoc: money sums go through
  * DECIMAL(38,4); libm-backed aggregates (corr/regr_*) are rounded on
  * both sides because engines may differ in the last ulp.
  */
object Relational4 extends QueryPack {

  private def vol: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Register the dir's table as a temp view for SQL-surface queries
    * (LATERAL / WITH RECURSIVE have no DataFrame-API equivalent).
    * createOrReplaceTempView keeps re-registration safe if a session
    * mixes dirs.
    */
  private def view(s: SparkSession, dir: String, name: String): Unit =
    t(s, dir, name).createOrReplaceTempView(name)

  /** Get-or-write a fact table as an 8-bucket catalog table hashed (and
    * locally sorted) on `keyCol`, once per (session, dir) via
    * [[graft.FrameCache]] (persist = false: the result is a catalog
    * table scan, not a pinned frame). Only `cols` are written — the
    * layout carries the pruned schema a bucketed fact table would at
    * scale. Table names are dir-hashed so sf dirs never collide within
    * one session. A previous JVM's managed-table directory is invisible
    * to this session's in-memory catalog yet still blocks the CREATE
    * (LOCATION_ALREADY_EXISTS), so any stale location is removed before
    * the write.
    */
  private def bucketedFacts(s: SparkSession, dir: String, src: String,
                            keyCol: String,
                            cols: Seq[String]): DataFrame =
    graft.FrameCache.cached(s, s"t19bkt:$src:$dir", persist = false) {
      val name =
        s"graft_bkt_${src}_${(dir.hashCode & 0x7fffffff).toHexString}"
      s.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.sinks.WarehouseSink.writeBucketed(
        t(s, dir, src).select(cols.map(col): _*), name, keyCol, 8)
      s.table(name)
    }

  def queries: Map[String, QueryFn] = Map(
    // ---- TPC-H-shaped multi-join pipelines ------------------------------
    "t01_regional_supplier_volume" -> { (s, dir) =>
      // Q5 shape: revenue from orders where customer and supplier share
      // a nation, constrained to one region+year. Fact-fact joins
      // shuffle on their keys; every dimension (supplier, nation,
      // region) broadcasts — no dimension ever shuffles the fact table.
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          year(col("o_orderdate")) === 1996)
        .groupBy(col("n_name"))
        .agg(money(vol).as("revenue"), count(lit(1)).as("n_items"))
    },
    "t02_nation_pair_volume" -> { (s, dir) =>
      // Q7 shape: shipping volume between distinct nation pairs by ship
      // year — the same fact spine with TWO roles of one dimension
      // (supplier nation vs customer nation), both broadcast.
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") < col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(money(vol).as("revenue"))
    },
    "t03_returned_item_report" -> { (s, dir) =>
      // Q10 shape: revenue lost to returns per customer, top 20 with a
      // total order (revenue DESC, custkey) so LIMIT is deterministic.
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(money(vol).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    "q36_not_in_null_aware" -> { (s, dir) =>
      // NOT IN with a NULLABLE probe — null-aware anti-join semantics:
      // three-valued logic means a NULL probe value can never satisfy
      // NOT IN (its comparison is NULL, not TRUE), so 5-LOW rows are
      // dropped along with the matched priorities. A plain LeftAnti
      // (q05's shape) would KEEP the null rows — this is the semantic
      // Spark's null-aware anti join exists for
      view(s, dir, "orders")
      s.sql(
        """SELECT o_orderkey, o_orderpriority
          |FROM orders
          |WHERE nullif(o_orderpriority, '5-LOW') NOT IN
          |  (SELECT o_orderpriority FROM orders
          |   WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
          |""".stripMargin)
    },

    "t06_order_count_histogram" -> { (s, dir) =>
      // Q13 shape: customer order-count distribution. The order filter
      // lives in the OUTER-join ON clause — in a WHERE it would turn
      // the join inner and silently drop zero-order customers (the
      // classic Q13 trap); count(o_orderkey) then counts 0 for the
      // unmatched rows. Two aggregations, both partial+final; the
      // second one's input is one row per customer, already tiny
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"))
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("cnt"))
        .groupBy(col("cnt").cast("int").as("c_count"))
        .agg(count(lit(1)).cast("int").as("custdist"))
    },

    "t07_min_price_supplier" -> { (s, dir) =>
      // Q2 shape (adapted: lineitem bridges part↔supplier, the test
      // schema has no partsupp): for each small EUROPE-sourced part,
      // the supplier(s) selling it at the region-wide MINIMUM price —
      // a correlated scalar min-subquery against the same dimension
      // chain. Written as SQL so Catalyst's decorrelation does the
      // work: the subquery becomes a min-per-partkey aggregate joined
      // back on (partkey, price); dimensions broadcast (PlanGuardSpec),
      // the only shuffles are the fact-side aggregates.
      Seq("part", "lineitem", "supplier", "nation", "region")
        .foreach(view(s, dir, _))
      s.sql(
        """SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
          |       l_extendedprice AS min_price
          |FROM part, lineitem, supplier, nation, region
          |WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'EUROPE' AND p_size <= 10
          |  AND l_extendedprice = (
          |    SELECT min(l2.l_extendedprice)
          |    FROM lineitem l2, supplier s2, nation n2, region r2
          |    WHERE l2.l_partkey = p_partkey
          |      AND s2.s_suppkey = l2.l_suppkey
          |      AND s2.s_nationkey = n2.n_nationkey
          |      AND n2.n_regionkey = r2.r_regionkey
          |      AND r2.r_name = 'EUROPE')
          |""".stripMargin)
    },
    "t08_qualified_suppliers" -> { (s, dir) =>
      // Q20 shape: semi-join on an AGGREGATED subquery — suppliers who
      // moved more than 30 units of some 'red' part in 1996. The
      // aggregate runs on the fact spine first (partial+final on
      // (suppkey, partkey)); supplier then semi-joins its small result,
      // so no supplier row ever multiplies against lineitem. Part and
      // nation broadcast.
      val li = t(s, dir, "lineitem")
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey")))
      val n = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      val qualifying = li
        .filter(year(col("l_shipdate")) === 1996)
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 30)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(qualifying, col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    },
    "t10_important_parts" -> { (s, dir) =>
      // Q11 shape: groups kept by comparing their aggregate against a
      // GLOBAL scalar-subquery threshold (0.1% of total value) — the
      // one-row aggregate broadcasts against the group output, never
      // the other way around. Threshold compare in double over EXACT
      // decimal sums: both operands are identical on any engine and
      // any partitioning, so the boundary cannot flip.
      view(s, dir, "lineitem")
      s.sql(
        """SELECT l_partkey,
          |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
          |    AS DECIMAL(38,4))), 2) AS DOUBLE) AS value
          |FROM lineitem
          |GROUP BY l_partkey
          |HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |    AS DECIMAL(38,4))) AS DOUBLE) >
          |  (SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |      AS DECIMAL(38,4))) AS DOUBLE) * 0.001 FROM lineitem)
          |""".stripMargin)
    },
    "t11_dormant_rich_customers" -> { (s, dir) =>
      // Q22 shape: scalar-average subquery threshold + NOT EXISTS
      // anti-join — above-average-balance customers with no urgent
      // order, counted per nation. The average is an exact decimal sum
      // divided once in double (cross-engine identical); NOT EXISTS
      // decorrelates to a LeftAnti on o_custkey; nation broadcasts.
      Seq("customer", "orders", "nation").foreach(view(s, dir, _))
      s.sql(
        """SELECT n_name, CAST(count(1) AS BIGINT) AS numcust,
          |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 2)
          |    AS DOUBLE) AS totacctbal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |WHERE c_acctbal >
          |    (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,4)))
          |        AS DOUBLE) / count(1)
          |     FROM customer WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderpriority = '1-URGENT')
          |GROUP BY n_name
          |""".stripMargin)
    },
    "t12_promo_revenue" -> { (s, dir) =>
      // Q14 shape: promotion revenue share for one month — a
      // conditional-aggregate ratio over the lineitem⋈part probe.
      // Both operands are exact decimal sums cast to double; ONE
      // double division then a round, so the ratio is bit-identical
      // on any engine and any partitioning. part broadcasts
      // (PlanGuardSpec) — the fact side never shuffles for the join,
      // and the month filter prunes lineitem at the scan.
      val li = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1996 &&
          month(col("l_shipdate")) === 9)
      val p = broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_type")))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(dec(when(col("p_type") === "PROMO", vol).otherwise(0)))
            .cast(DoubleType) * 100.0 /
            sum(dec(vol)).cast(DoubleType), 4).as("promo_revenue"))
    },
    "t13_top_supplier" -> { (s, dir) =>
      // Q15 shape: revenue-per-supplier view for one quarter, then
      // the supplier(s) hitting the GLOBAL maximum. The view is
      // eagerly localCheckpoint-ed: both the max aggregate and the
      // equality probe read it, and Spark re-executes a shared
      // subtree once per occurrence — without the pin the quarter's
      // lineitem scan would run twice (in production the view is
      // materialized once, exactly this). The one-row max broadcasts
      // against the small view; totals are rounded doubles over exact
      // decimal sums, so the max equality cannot flip across engines.
      val rev = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1996 &&
          quarter(col("l_shipdate")) === 1)
        .groupBy(col("l_suppkey"))
        .agg(money(vol).as("total_revenue"))
        .localCheckpoint(true)
      val top = broadcast(
        rev.agg(max(col("total_revenue")).as("max_rev")))
      rev.join(top, col("total_revenue") === col("max_rev"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },
    "t14_small_qty_revenue" -> { (s, dir) =>
      // Q17 shape: revenue lost to small-quantity orders — a
      // correlated per-part average threshold. SQL surface so
      // Catalyst decorrelates the scalar subquery into an
      // avg-per-partkey aggregate joined back on p_partkey (never a
      // per-row re-scan). The threshold is an exact decimal sum
      // divided once in double — quantities are integral, so the
      // strict `<` cannot flip across engines; the brand filter
      // prunes part before the join.
      Seq("lineitem", "part").foreach(view(s, dir, _))
      s.sql(
        """SELECT CAST(round(CAST(sum(CAST(l_extendedprice
          |    AS DECIMAL(38,4))) AS DOUBLE) / 7.0, 2) AS DOUBLE)
          |  AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#23'
          |  AND l_quantity < (
          |    SELECT 0.2 * CAST(sum(CAST(l2.l_quantity
          |        AS DECIMAL(38,4))) AS DOUBLE) / count(1)
          |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          |""".stripMargin)
    },
    "t15_disjunctive_parts" -> { (s, dir) =>
      // Q19 shape: a disjunction of brand/size/quantity conjunctions
      // across the lineitem⋈part join. Catalyst keeps the common
      // p_partkey equi-key out of the OR and pushes each side's
      // disjunct columns to its own scan, so the broadcast probes
      // only the joined rows and the residual OR runs codegen'd
      // post-join — never a cartesian.
      val li = t(s, dir, "lineitem")
      val p = broadcast(t(s, dir, "part"))
      val cond =
        (col("p_brand") === "Brand#13" &&
          col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" &&
            col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#21" &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(money(vol).as("revenue"), count(lit(1)).as("n_items"))
    },
    "t16_priority_class_counts" -> { (s, dir) =>
      // Q12 shape: two-way conditional counts of a fact-fact join —
      // per returnflag (the schema's shipmode analog), how many lines
      // belong to critical-priority orders vs the rest, over one ship
      // year. The only shuffle is the l_orderkey⋈o_orderkey spine
      // (both sides 2-column pruned); the CASE-sum is a partial agg.
      val li = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1996)
        .select(col("l_orderkey"), col("l_returnflag"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val critical =
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
    },
    "t17_part_supplier_counts" -> { (s, dir) =>
      // Q16 shape (lineitem stands in for partsupp as the part↔supplier
      // association): distinct-supplier counts per (brand, type, size)
      // bucket, excluding one brand, a type class, a size set, and —
      // the Q16 signature — a NOT IN subquery of disqualified
      // suppliers (here: negative account balance). Keys are non-null,
      // so the NOT IN plans as a plain anti-join against the ~100-row
      // supplier side (the null-aware variant is q36); part broadcasts;
      // the distinct count shuffles once on the group keys.
      val assoc = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      val bad = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" &&
          !col("p_type").startsWith("SMALL") &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size")))
      assoc
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    "t18_large_volume_customers" -> { (s, dir) =>
      // Q18 shape: large-volume customers — orders whose summed line
      // quantity clears a threshold (a HAVING over the fact table),
      // semi-shaped back through orders to the customer. The quantity
      // rollup is one partial+final agg on l_orderkey; its survivors
      // (~3% of orders at this threshold) then drive the joins, so
      // orders/customer probe a pre-shrunk build side. Quantities are
      // integral doubles — the exact-decimal sum keeps the > strict
      // comparison engine-stable.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(dec(col("l_quantity"))), 2).cast(DoubleType)
          .as("total_qty"))
        .filter(col("total_qty") > 150.0)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
    },
    "t19_bucketed_join_volume" -> { (s, dir) =>
      // The 100 TB fact-fact join story made EXECUTABLE on the oracle
      // surface: lineitem and orders are written ONCE per (session,
      // dir) as 8-bucket catalog tables hashed on the order key —
      // exactly how a warehouse lays out its fact tables — and the t02
      // Q7 aggregation re-runs over them. Bucket co-location replaces
      // the spine shuffle: the lineitem⋈orders sort-merge join plans
      // with ZERO exchanges beneath it (asserted in PlanGuardSpec),
      // every dimension broadcasts, and the only shuffle left in the
      // whole plan is the final group-by. Same rows as t02, same
      // oracle; the layout write amortizes across the session like the
      // ANN indexes ([[graft.FrameCache]]).
      val li = bucketedFacts(s, dir, "lineitem", "l_orderkey",
        Seq("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount"))
      val o = bucketedFacts(s, dir, "orders", "o_orderkey",
        Seq("o_orderkey", "o_custkey"))
      val c = broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      val su = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      // the merge hint pins the spine to the sort-merge strategy the
      // bucket layout serves (at test SFs auto-broadcast would
      // otherwise win and never exercise the co-located path; at fact
      // scale SMJ is what the planner picks anyway)
      li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") < col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(money(vol).as("revenue"))
    },

    "q37_grouping_flags" -> { (s, dir) =>
      // GROUPING() provenance flags over grouping sets — how a report
      // layer tells a real NULL from a superaggregate row. One
      // expand+aggregate pass (Spark's Expand: one exchange on the
      // padded keys, partial+final); flags are exact integers.
      view(s, dir, "orders")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
          |  CAST(count(1) AS BIGINT) AS n,
          |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 2)
          |    AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
          |                        ())
          |""".stripMargin)
    },

    "t09_sole_blame_supplier" -> { (s, dir) =>
      // Q21 shape (adapted to the schema's l_returnflag in place of
      // receipt-past-commit lateness): suppliers whose lineitem was
      // RETURNED in a finished multi-supplier order where EXISTS
      // another supplier's lineitem but NOT EXISTS another supplier's
      // returned one — the sole guilty party. The two correlated
      // predicates decorrelate to a LeftSemi and a LeftAnti self-join
      // on the l_orderkey spine (PlanGuardSpec asserts both): three
      // passes over lineitem co-partitioned on orderkey, never a
      // cartesian.
      Seq("supplier", "lineitem", "orders").foreach(view(s, dir, _))
      s.sql(
        """SELECT s_name, CAST(count(1) AS BIGINT) AS numwait
          |FROM supplier, lineitem l1, orders
          |WHERE s_suppkey = l1.l_suppkey
          |  AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F'
          |  AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |""".stripMargin)
    },
    "t05_product_profit" -> { (s, dir) =>
      // Q9 shape (adapted: the test schema has no partsupp, so retail
      // price stands in for supply cost): per supplier-nation,
      // per-order-year profit on parts matching a name fragment. The
      // part filter lands BEFORE the broadcast, so the probe side
      // prunes at the join; supplier/nation ride broadcasts; the only
      // shuffle joins are the lineitem⋈orders fact spine. The profit
      // difference is computed in double (each product IEEE-exact,
      // identical on any engine) then summed through DECIMAL(38,4)
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice")))
      val su = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val n = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("nation")))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(money(vol - col("p_retailprice") * col("l_quantity"))
          .as("profit"))
    },

    "t04_market_share" -> { (s, dir) =>
      // Q8 shape: NATION_0's share of supplier revenue in the AMERICA
      // customer region per order year. Numerator and denominator are
      // exact decimal sums; ONE double division at the end (dividing
      // decimals would round at engine-specific scales).
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_regionkey")))
      val r = broadcast(t(s, dir, "region"))
      val n2 = broadcast(t(s, dir, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("c_nk"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n2, col("s_nationkey") === col("s_nk"))
        .filter(col("r_name") === "AMERICA")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (sum(dec(when(col("supp_nation") === "NATION_0", vol)
            .otherwise(0))).cast(DoubleType) /
            sum(dec(vol)).cast(DoubleType)).as("share"),
          money(vol).as("total_revenue"))
    },

    // ---- aggregate surface ----------------------------------------------
    "a07_regression_aggs" -> { (s, dir) =>
      // built-in linear-regression aggregate family; rounded on both
      // sides because co-moment accumulation differs at ulp level
      // between engines (and across partition merge orders)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qp"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"),
            col("l_quantity")), 2).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity"))
            .cast("long").as("n"))
    },

    // ---- scalar function surface ----------------------------------------
    "f11_array_fns" -> { (s, dir) =>
      val words = split(col("p_name"), " ")
      t(s, dir, "part").select(
        col("p_partkey"),
        array_join(array_sort(words), ",").as("sorted_words"),
        size(array_distinct(words)).as("n_distinct"),
        array_position(words, "widget").as("widget_pos"),
        array_join(array_remove(words, element_at(words, 1)), ",")
          .as("tail_words"),
        array_join(reverse(words), ",").as("rev_words"))
    },
    "f12_variant_json" -> { (s, dir) =>
      // Spark 4 VARIANT type: parse once, typed extraction — the
      // engine-native path for semi-structured columns (vs per-access
      // string re-parsing with get_json_object)
      t(s, dir, "events").select(
        col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k"),
        (variant_get(parse_json(col("props")), "$.k", "int") % 10)
          .as("k_bucket"))
    },

    // ---- event analysis -------------------------------------------------
    "e05_activity_islands" -> { (s, dir) =>
      // gaps-and-islands: consecutive-activity-day runs per user via
      // the day − row_number grouping trick (one window + one agg; no
      // self-join)
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("int").as("n_islands"),
          max(col("len")).cast("int").as("longest"))
    },

    "e06_gap_fill" -> { (s, dir) =>
      // time-series resample: densify each user's daily event counts to
      // a gapless series (sequence + explode + left join), zero-filled
      // — the standard pre-training-feature regularization step
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val spans = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val allDays = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      allDays.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).cast("long").as("n_events"))
    },

    "e07_locf_fill" -> { (s, dir) =>
      // gap-fill with last-observation-carried-forward: densify each
      // user's daily series (as e06), then fill missing days with the
      // last observed daily max via an ignoreNulls running window —
      // the standard feature-regularization for sparse signals
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(col("value")).as("day_max"))
      val spans = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_max"), ignoreNulls = true).over(w)
            .as("locf_value"))
    },
    "e08_scd2_intervals" -> { (s, dir) =>
      // SCD2 dimension build from a change log: each purchase event's
      // value is effective [ts, next change); the open interval is
      // flagged current. ONE shuffle on user_id (the window key); the
      // close is a lead over (ts, event_id), so same-timestamp changes
      // still order deterministically on any partitioning. This is the
      // warehouse's slowly-changing-dimension snapshot, built from the
      // same events the streaming surface consumes incrementally.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value"))
        .withColumn("effective_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("ts").as("effective_from"),
          col("effective_to"), col("value"),
          col("effective_to").isNull.cast("int").as("is_current"))
    },

    "j04_bloom_prune_join" -> { (s, dir) =>
      // bloom-pruned fact⋈dim join: lineitem rows are pre-filtered
      // map-side against a distributed-built bloom of urgent order keys
      // BEFORE the shuffle join — shuffle volume drops to ~join
      // selectivity, semantics stay exact (no false negatives + the
      // real join downstream). The oracle is the PLAIN join.
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      graft.operators.BloomPrune.prunedEquiJoin(
        t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey",
        expectedKeys = 200000L)
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          money(vol).as("revenue"))
    },

    // ---- binary / opaque-bytes surface ----------------------------------
    "f13_binary_fns" -> { (s, dir) =>
      // the multimodal story's scalar layer: opaque bytes measured,
      // digested, and transported (octet_length / md5 / sha2 / base64)
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"),
        sha2(col("text").cast("binary"), 256).as("sha"),
        // Spark's base64 is MIME-chunked (\r\n every 76 chars); DuckDB's
        // to_base64 is not — normalize to the unchunked form
        regexp_replace(base64(col("text").cast("binary")), "\r\n", "")
          .as("b64"))
    },

    "f14_map_fns" -> { (s, dir) =>
      // map-typed column surface: build map<event_type, count> per user
      // (map_from_entries over a sorted entry list — deterministic entry
      // order), then interrogate it with map_keys / map_values /
      // element_at / map_filter / to_json. The oracle reconstructs the
      // same scalars from the flat counts — values are what's checked,
      // the map operators are what's exercised.
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          size(map_keys(col("m"))).as("n_keys"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
            .as("total"),
          // try_: ANSI element_at THROWS on a missing key; a user with
          // zero purchases must yield NULL like the oracle's CASE
          try_element_at(col("m"), lit("purchase")).as("n_purchase"),
          size(map_filter(col("m"), (_, v) => v >= 5)).as("n_frequent"),
          to_json(col("m")).as("m_json"))
    },

    // ---- SQL-only operator surface (LATERAL, WITH RECURSIVE) ------------
    "q31_lateral_topk" -> { (s, dir) =>
      view(s, dir, "nation"); view(s, dir, "customer")
      // correlated LATERAL subquery: per-nation top-3 customers by
      // balance — decorrelates to the same WindowGroupLimit shape as
      // q07, but exercises the lateral-join operator surface
      s.sql(
        """SELECT n.n_name, tc.c_custkey, tc.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 3) tc
          |""".stripMargin)
    },
    "q32_recursive_chain" -> { (s, dir) =>
      view(s, dir, "orders")
      // recursive CTE (Spark 4): walk sampled customers' orders in date
      // order, accumulating an exact-decimal running total — the
      // iterative-fixpoint operator the CC loop hand-rolls, expressed
      // declaratively. Each recursion step re-evaluates the step input
      // and costs a full job, so the walk is BOUNDED: a 5% customer
      // sample and depth ≤ 6 (an unbounded walk over every chain ran
      // 16s at sf0.1 on iteration overhead alone — at scale you bound
      // recursion or hand it to a window).
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT o_custkey, o_orderkey, rn,
          |         CAST(o_totalprice AS DECIMAL(38,4)) AS run_total,
          |         1 AS depth
          |  FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          |               row_number() OVER (PARTITION BY o_custkey
          |                 ORDER BY o_orderdate, o_orderkey) AS rn
          |        FROM orders WHERE o_custkey % 20 = 0) ranked
          |  WHERE rn = 1
          |  UNION ALL
          |  SELECT r.o_custkey, r.o_orderkey, r.rn,
          |         CAST(c.run_total + CAST(r.o_totalprice AS DECIMAL(38,4))
          |           AS DECIMAL(38,4)),
          |         c.depth + 1
          |  FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          |               row_number() OVER (PARTITION BY o_custkey
          |                 ORDER BY o_orderdate, o_orderkey) AS rn
          |        FROM orders WHERE o_custkey % 20 = 0) r
          |  JOIN chain c
          |    ON r.o_custkey = c.o_custkey AND r.rn = c.rn + 1
          |  WHERE c.depth < 6
          |)
          |SELECT o_custkey, o_orderkey, CAST(depth AS INT) AS depth,
          |       CAST(round(run_total, 2) AS DOUBLE) AS run_total
          |FROM chain
          |""".stripMargin)
    },
    "f15_filter_clause" -> { (s, dir) =>
      view(s, dir, "lineitem")
      // SQL FILTER clause on aggregates — per-group conditional
      // aggregation without CASE arithmetic (Catalyst compiles it to
      // the same partial-aggregated plan as q27's CASE form)
      s.sql(
        """SELECT l_returnflag,
          |  CAST(count(1) FILTER (WHERE l_quantity > 25) AS BIGINT)
          |    AS n_bulk,
          |  CAST(count(1) FILTER (WHERE l_discount = 0.0) AS BIGINT)
          |    AS n_undiscounted,
          |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
          |    FILTER (WHERE l_returnflag <> 'A'), 2) AS DOUBLE)
          |    AS non_a_price
          |FROM lineitem GROUP BY l_returnflag
          |""".stripMargin)
    },
    "q35_mom_growth" -> { (s, dir) =>
      // month-over-month revenue growth WITHOUT a global lag window
      // (an unpartitioned Window.orderBy sorts everything on one task):
      // the monthly aggregate (≤ a few hundred rows at any SF) self-
      // joins on month = prev_month + 1, broadcast both sides by size.
      val monthly = t(s, dir, "orders")
        .groupBy(trunc(col("o_orderdate").cast("date"), "month")
          .as("month"))
        .agg(money(col("o_totalprice")).as("revenue"))
      val prev = monthly.select(
        add_months(col("month"), 1).as("month"),
        col("revenue").as("prev_revenue"))
      monthly.join(prev, Seq("month"), "left")
        .select(col("month"), col("revenue"), col("prev_revenue"),
          round((col("revenue") - col("prev_revenue")) /
            col("prev_revenue"), 6).as("growth"))
    },
    "f07_regexp_extract_all" -> { (s, dir) =>
      // regexp_extract_all: every match, not just the first — array
      // reduced to scalars (joined string + count) because the driver's
      // compare can't hash array cells
      val nums = regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(nums, ",").as("numbers_csv"),
        size(nums).as("n_numbers"))
    },
    "q34_relational_division" -> { (s, dir) =>
      // relational DIVISION (the "for all" join): customers whose orders
      // span EVERY priority class. Division = per-group distinct count
      // compared against the broadcast universe size — no N-way
      // self-join, one aggregation + a 1-row broadcast.
      val o = t(s, dir, "orders")
      val universe = broadcast(
        o.agg(countDistinct(col("o_orderpriority")).as("total")))
      o.groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("n_prios"))
        .crossJoin(universe)
        .filter(col("n_prios") === col("total"))
        .select(col("o_custkey"), col("n_prios"))
    },
    "q33_null_safe_join" -> { (s, dir) =>
      // null-safe equality (<=>) as a hash-join key: NULL groups pair
      // up instead of vanishing — full outer so one-sided keys survive
      val o = t(s, dir, "orders").withColumn("k",
        when(col("o_orderpriority") === "1-URGENT",
          lit(null).cast("string")).otherwise(col("o_orderpriority")))
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .groupBy(col("k").as("ka")).agg(count(lit(1)).as("n_even"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .groupBy(col("k").as("kb")).agg(count(lit(1)).as("n_odd"))
      a.join(b, col("ka") <=> col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("k"),
          col("n_even"), col("n_odd"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "t01_regional_supplier_volume" ->
      """SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue,
           count(1) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
         GROUP BY n_name""",
    "t02_nation_pair_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name < n2.n_name
         GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
    "t03_returned_item_report" ->
      """SELECT c_custkey, c_name, c_mktsegment,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_mktsegment
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q36_not_in_null_aware" ->
      """SELECT o_orderkey, o_orderpriority
         FROM orders
         WHERE nullif(o_orderpriority, '5-LOW') NOT IN
           (SELECT o_orderpriority FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))""",
    "t06_order_count_histogram" ->
      """SELECT CAST(c_count AS INT) AS c_count,
                CAST(count(1) AS INT) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey)
         GROUP BY c_count""",
    "t07_min_price_supplier" ->
      """SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
           l_extendedprice AS min_price
         FROM part, lineitem, supplier, nation, region
         WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE' AND p_size <= 10
           AND l_extendedprice = (
             SELECT min(l2.l_extendedprice)
             FROM lineitem l2, supplier s2, nation n2, region r2
             WHERE l2.l_partkey = p_partkey
               AND s2.s_suppkey = l2.l_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey
               AND r2.r_name = 'EUROPE')""",
    "t08_qualified_suppliers" ->
      """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem JOIN part
             ON l_partkey = p_partkey
           WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1996
           GROUP BY l_suppkey, l_partkey
           HAVING sum(l_quantity) > 30)""",
    "t10_important_parts" ->
      """SELECT l_partkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS value
         FROM lineitem
         GROUP BY l_partkey
         HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))) AS DOUBLE) >
           (SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(38,4))) AS DOUBLE) * 0.001 FROM lineitem)""",
    "t11_dormant_rich_customers" ->
      """SELECT n_name, CAST(count(1) AS BIGINT) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,4))), 2)
             AS DOUBLE) AS totacctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal >
             (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,4)))
                 AS DOUBLE) / count(1)
              FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY n_name""",
    "t12_promo_revenue" ->
      """SELECT CAST(round(
           CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END
             AS DECIMAL(38,4))) AS DOUBLE) * 100.0
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(38,4))) AS DOUBLE),
           4) AS DOUBLE) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 9""",
    "t13_top_supplier" ->
      """WITH revenue AS (
           SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(38,4))), 2) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE year(l_shipdate) = 1996 AND quarter(l_shipdate) = 1
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = l_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",
    "t14_small_qty_revenue" ->
      """SELECT CAST(round(CAST(sum(CAST(l_extendedprice
             AS DECIMAL(38,4))) AS DOUBLE) / 7.0, 2) AS DOUBLE)
           AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23'
           AND l_quantity < (
             SELECT 0.2 * CAST(sum(CAST(l2.l_quantity
                 AS DECIMAL(38,4))) AS DOUBLE) / count(1)
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    "t15_disjunctive_parts" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue,
           CAST(count(1) AS BIGINT) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    "t16_priority_class_counts" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE year(l_shipdate) = 1996
         GROUP BY l_returnflag""",
    "t17_part_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#13'
           AND p_type NOT LIKE 'SMALL%'
           AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
           AND l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size""",
    "t18_large_volume_customers" ->
      """WITH big AS (
           SELECT l_orderkey,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 2)
               AS DOUBLE) AS total_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(38,4))), 2)
               AS DOUBLE) > 150.0)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           o_totalprice, total_qty
         FROM big
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey""",
    "t19_bucketed_join_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name < n2.n_name
         GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
    "q37_grouping_flags" ->
      """SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
           CAST(count(1) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 2)
             AS DOUBLE) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                 ())""",
    "t09_sole_blame_supplier" ->
      """SELECT s_name, CAST(count(1) AS BIGINT) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name""",
    "t05_product_profit" ->
      """SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
               - p_retailprice * l_quantity AS DECIMAL(38,4))), 2)
             AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2""",
    "t04_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_0'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END
             AS DECIMAL(38,4))) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(38,4))) AS DOUBLE) AS share,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(38,4))), 2) AS DOUBLE) AS total_revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'AMERICA'
         GROUP BY year(o_orderdate)""",
    "a07_regression_aggs" ->
      """SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(regr_slope(l_extendedprice, l_quantity), 2) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2)
             AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "f11_array_fns" ->
      """WITH w AS (
           SELECT p_partkey, string_split(p_name, ' ') AS words
           FROM part)
         SELECT p_partkey,
           array_to_string(list_sort(words), ',') AS sorted_words,
           CAST(len(list_distinct(words)) AS INT) AS n_distinct,
           CAST(list_position(words, 'widget') AS BIGINT) AS widget_pos,
           array_to_string(list_filter(words, x -> x <> words[1]), ',')
             AS tail_words,
           array_to_string(list_reverse(words), ',') AS rev_words
         FROM w""",
    "f12_variant_json" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10
             AS k_bucket
         FROM events""",
    "e05_activity_islands" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events),
         d AS (
           SELECT user_id, day,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY day) AS INT) AS rn
           FROM days),
         isl AS (
           SELECT user_id, day - rn AS grp, count(1) AS len
           FROM d GROUP BY user_id, day - rn)
         SELECT user_id, CAST(count(1) AS INT) AS n_islands,
                CAST(max(len) AS INT) AS longest
         FROM isl GROUP BY user_id""",
    "e06_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                  count(1) AS n_events
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT user_id, min(day) AS d0, max(day) AS d1
           FROM daily GROUP BY user_id),
         all_days AS (
           SELECT user_id,
                  CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                    AS day
           FROM spans)
         SELECT a.user_id, a.day,
                CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events
         FROM all_days a
         LEFT JOIN daily d ON a.user_id = d.user_id AND a.day = d.day""",
    "e07_locf_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                  max(value) AS day_max
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT user_id, min(day) AS d0, max(day) AS d1
           FROM daily GROUP BY user_id),
         grid AS (
           SELECT user_id,
                  CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                    AS day
           FROM spans)
         SELECT g.user_id, g.day,
                last_value(d.day_max IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS locf_value
         FROM grid g
         LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""",
    "e08_scd2_intervals" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS effective_from,
           lead(CAST(ts AS TIMESTAMP)) OVER w AS effective_to,
           value,
           CAST(lead(CAST(ts AS TIMESTAMP)) OVER w IS NULL AS INT)
             AS is_current
         FROM events WHERE event_type = 'purchase'
         WINDOW w AS (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id)""",
    "j04_bloom_prune_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                CAST(count(1) AS BIGINT) AS n_lines,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY 1""",
    "f13_binary_fns" ->
      """SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS digest,
           sha256(text) AS sha,
           to_base64(encode(text)) AS b64
         FROM documents""",
    "f14_map_fns" ->
      """WITH c AS (
           SELECT user_id, event_type, count(1) AS n
           FROM events GROUP BY 1, 2)
         SELECT user_id,
                CAST(count(*) AS INT) AS n_keys,
                CAST(sum(n) AS BIGINT) AS total,
                CAST(max(CASE WHEN event_type = 'purchase' THEN n END)
                  AS BIGINT) AS n_purchase,
                CAST(count(CASE WHEN n >= 5 THEN 1 END) AS INT)
                  AS n_frequent,
                '{' || string_agg('"' || event_type || '":' || n, ','
                  ORDER BY event_type) || '}' AS m_json
         FROM c GROUP BY user_id""",
    "q31_lateral_topk" ->
      """SELECT n.n_name, tc.c_custkey, tc.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) tc""",
    "q32_recursive_chain" ->
      """WITH RECURSIVE chain AS (
           SELECT o_custkey, o_orderkey, rn,
                  CAST(o_totalprice AS DECIMAL(38,4)) AS run_total,
                  1 AS depth
           FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                        row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS rn
                 FROM orders WHERE o_custkey % 20 = 0) ranked
           WHERE rn = 1
           UNION ALL
           SELECT r.o_custkey, r.o_orderkey, r.rn,
                  CAST(c.run_total + CAST(r.o_totalprice
                    AS DECIMAL(38,4)) AS DECIMAL(38,4)),
                  c.depth + 1
           FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                        row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS rn
                 FROM orders WHERE o_custkey % 20 = 0) r
           JOIN chain c
             ON r.o_custkey = c.o_custkey AND r.rn = c.rn + 1
           WHERE c.depth < 6)
         SELECT o_custkey, o_orderkey, CAST(depth AS INT) AS depth,
                CAST(round(run_total, 2) AS DOUBLE) AS run_total
         FROM chain""",
    "f15_filter_clause" ->
      """SELECT l_returnflag,
           CAST(count(1) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bulk,
           CAST(count(1) FILTER (WHERE l_discount = 0.0) AS BIGINT)
             AS n_undiscounted,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4)))
             FILTER (WHERE l_returnflag <> 'A'), 2) AS DOUBLE)
             AS non_a_price
         FROM lineitem GROUP BY l_returnflag""",
    "q35_mom_growth" ->
      """WITH monthly AS (
           SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                    AS DATE) AS month,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,4))), 2)
                    AS DOUBLE) AS revenue
           FROM orders GROUP BY 1)
         SELECT m.month, m.revenue, p.revenue AS prev_revenue,
                round((m.revenue - p.revenue) / p.revenue, 6) AS growth
         FROM monthly m
         LEFT JOIN monthly p
           ON m.month = CAST(p.month + INTERVAL 1 MONTH AS DATE)""",
    "f07_regexp_extract_all" ->
      """SELECT doc_id,
           coalesce(list_aggregate(regexp_extract_all(text, '[0-9]+'),
             'string_agg', ','), '') AS numbers_csv,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT)
             AS n_numbers
         FROM documents""",
    "q34_relational_division" ->
      """WITH u AS (
           SELECT count(DISTINCT o_orderpriority) AS total FROM orders)
         SELECT o_custkey,
                CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
         FROM orders, u
         GROUP BY o_custkey, u.total
         HAVING count(DISTINCT o_orderpriority) = u.total""",
    "q33_null_safe_join" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                       ELSE o_orderpriority END AS k
           FROM orders),
         a AS (SELECT k AS ka, count(1) AS n_even FROM o
               WHERE o_orderkey % 2 = 0 GROUP BY k),
         b AS (SELECT k AS kb, count(1) AS n_odd FROM o
               WHERE o_orderkey % 2 = 1 GROUP BY k)
         SELECT coalesce(ka, kb) AS k, n_even, n_odd
         FROM a FULL JOIN b ON ka IS NOT DISTINCT FROM kb""",
  )
}
