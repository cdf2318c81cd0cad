package graft.queries

import graft.QueryPack
import graft.functions.TextFunctions
import graft.operators.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Round-2 relational-surface widening (SURVEY.md §2.b): subquery
  * shapes, window dedup, conditional/boolean/bitwise aggregates,
  * calendar bucketing, regex transforms, higher-order array functions,
  * deterministic mode, exact-cosine near-dup pairs, and a
  * cross-engine-reproducible fingerprint.
  *
  * Float discipline per QueryPack scaladoc: double sums/avgs go through
  * DECIMAL(38,4) on both sides.
  */
object Relational3 extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    "q24_exists_subquery" -> { (s, dir) =>
      // correlated EXISTS with an extra predicate — decorrelates to a
      // left-semi hash join on the customer key
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"))
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal"))
    },
    "q25_scalar_subquery" -> { (s, dir) =>
      // uncorrelated scalar aggregate in the filter: the single-row
      // threshold side is cross-joined (broadcast) into the scan
      val o = t(s, dir, "orders")
      val threshold = o.agg(
        (avg(dec(col("o_totalprice"))).cast(DoubleType) * 1.5)
          .as("thresh"))
      o.join(broadcast(threshold))
        .filter(col("o_totalprice") > col("thresh"))
        .select(col("o_orderkey"), col("o_totalprice"))
    },
    "q26_window_dedup" -> { (s, dir) =>
      // latest-record-per-key dedup (the training-pipeline "keep newest
      // snapshot" shape): row_number over a per-key desc ordering
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    },
    "q27_conditional_agg" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_discount") > 0.05).as("n_discounted"),
          round(sum(dec(when(col("l_tax") > 0.04, col("l_quantity"))
            .otherwise(0.0))), 2).cast(DoubleType).as("qty_hi_tax"),
          count_if(col("l_quantity") >= 25).as("n_bulk"))
    },
    "q28_monthly_revenue" -> { (s, dir) =>
      // calendar bucketing: date_trunc to month + exact decimal revenue
      t(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date")
          .as("month"))
        .agg(round(sum(dec(col("l_extendedprice") *
          (lit(1) - col("l_discount")))), 2).cast(DoubleType)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
    "f05_regexp_fns" -> { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        regexp_count(col("p_name"), lit("a")).cast("int").as("n_a"),
        col("p_name").rlike("a.*e").as("has_a_then_e"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"))
    },
    "f06_higher_order" -> { (s, dir) =>
      // higher-order array functions end-to-end: transform → filter →
      // aggregate, all inside one codegen'd projection (no UDFs)
      val toks = TextFunctions.tokens(col("text"))
      val lens = transform(toks, x => length(x).cast("long"))
      t(s, dir, "documents").select(
        col("doc_id"),
        aggregate(lens, lit(0L), (acc, x) => acc + x * x)
          .as("sum_sq_token_len"),
        size(filter(toks, x => length(x) > 4)).as("n_long_tokens"),
        array_max(lens).cast("int").as("max_token_len"))
    },
    "a05_mode_deterministic" -> { (s, dir) =>
      // mode with a total tie-break (count desc, then value asc) — the
      // deterministic form of mode() that an oracle can reproduce
      val counts = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
    },
    "a06_bool_bit_agg" -> { (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          bool_and(col("l_discount") < 0.1).as("all_small_disc"),
          bool_or(col("l_tax") > 0.07).as("any_high_tax"),
          bit_and(col("l_orderkey")).as("key_bit_and"),
          bit_or(col("l_orderkey")).as("key_bit_or"),
          bit_xor(col("l_orderkey")).as("key_bit_xor"))
    },
    "s06_cosine_pairs_exact" -> { (s, dir) =>
      // exact-cosine near-dup pairs on a deterministic sample — the
      // oracle-checked counterpart of the LSH-pruned s03
      Similarity.exactCosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", threshold = 0.2)
    },
    "d12_fingerprint_mod" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.rollingHashMod(col("text")).as("fp_mod"))
    },
    "q29_intersect_all" -> { (s, dir) =>
      // bag-semantics intersection (duplicates preserved up to the
      // smaller multiplicity) — completes the set-op family with q14-16
      val a = t(s, dir, "orders").select(col("o_custkey"))
      val b = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("o_custkey"))
      a.intersectAll(b)
    },
    "q30_limit_offset" -> { (s, dir) =>
      // deterministic pagination: total order, skip 10, take 5
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(5)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
    "w05_cume_dist" -> { (s, dir) =>
      // distribution-rank analytics completing w02's ranking family
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"),
        cume_dist().over(w).as("bal_cume"),
        (count(lit(1)).over(Window.partitionBy(col("c_nationkey")))
          - row_number().over(w)).cast("long").as("n_richer"))
    },
    "f08_bitwise_scalar" -> { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        shiftleft(col("p_partkey"), 3).as("key_shl3"),
        shiftrightunsigned(col("p_partkey"), 1).as("key_shr1"),
        col("p_partkey").bitwiseXOR(lit(0x5aL)).as("key_xor"),
        col("p_partkey").bitwiseAND(lit(0xffL)).as("key_lo"),
        col("p_partkey").bitwiseOR(lit(1L)).as("key_odd"),
        bit_count(col("p_partkey")).as("key_bits"))
    },
    "f10_json_build" -> { (s, dir) =>
      // JSON construction + extraction roundtrip (q21 covers parsing
      // external JSON; this covers producing it)
      val doc = to_json(struct(col("p_partkey").as("k"),
        col("p_brand").as("brand"), col("p_size").as("size")))
      t(s, dir, "part").select(
        col("p_partkey"),
        doc.as("json_doc"),
        get_json_object(doc, "$.brand").as("brand_back"),
        get_json_object(doc, "$.size").cast("int").as("size_back"))
    },
    "f17_try_fns" -> { (s, dir) =>
      // ANSI-safe arithmetic: under ANSI mode (Spark 4 default) the
      // try_* family returns NULL where the plain operator would
      // raise — division by an occasionally-zero denominator, lenient
      // string→number parses, out-of-bounds array access. The shape a
      // pipeline needs to survive dirty data WITHOUT turning ANSI off.
      //
      // Scale note on try_cast: TRY-mode string→int reaches NULL by
      // throwing and catching a per-row SparkNumberFormatException
      // (with formatted error context), so a hot path where MOST rows
      // are unparseable pays exception cost per row — measured 5.4 s
      // vs 0.5 s over sf0.1 lineitem (10x). The at-scale idiom: route
      // known-dirty rows to NULL with a cheap regexp guard so
      // try_cast's exception path only backstops the rare
      // numeric-looking-but-overflowing value. Output is identical.
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          try_divide(col("l_quantity").cast("int"),
            month(col("l_shipdate")) - 1).as("qty_per"),
          expr("""try_cast(CASE WHEN l_returnflag = 'R'
                   THEN CAST(l_linenumber AS STRING)
                   WHEN l_returnflag RLIKE '^[+-]?[0-9]+$'
                   THEN l_returnflag
                   ELSE NULL END AS INT)""").as("rf_num"),
          try_element_at(split(col("l_orderkey").cast("string"), ""),
            lit(3)).as("third_digit"))
    },
    "q38_null_order_topk" -> { (s, dir) =>
      // NULLS FIRST ordering made OBSERVABLE through a limit (plain
      // ORDER BY is normalized away by the row-sorted hash compare):
      // never-ordered customers must win the top-50 cut. Plus
      // width_bucket as the scalar bucketing completeness check.
      // Plans as TakeOrderedAndProject — map-side heaps, no global
      // sort.
      val byCust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(byCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          col("n_orders"),
          width_bucket(col("c_acctbal"), lit(0.0), lit(10000.0), lit(10))
            .cast("int").as("bal_bucket"))
        .orderBy(col("n_orders").asc_nulls_first, col("c_custkey").asc)
        .limit(50)
    },
    "f09_null_fns" -> { (s, dir) =>
      // NULL semantics over real outer-join nulls: coalesce, nullif,
      // null-safe equality (<=>), and the CASE-on-null family
      val byCust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(byCust, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders_filled"),
          nullif(col("c_mktsegment"), lit("BUILDING"))
            .as("segment_or_null"),
          (col("n_orders") <=> lit(null).cast("long"))
            .as("never_ordered"),
          when(col("n_orders").isNull, "none").otherwise("has")
            .as("order_status"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "q24_exists_subquery" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 200000)""",
    "q25_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (
           SELECT CAST(avg(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
                  * 1.5
           FROM orders)""",
    "q26_window_dedup" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""",
    "q27_conditional_agg" ->
      """SELECT l_returnflag,
                count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
                CAST(round(sum(CAST(CASE WHEN l_tax > 0.04 THEN l_quantity
                  ELSE 0.0 END AS DECIMAL(38,4))), 2) AS DOUBLE)
                  AS qty_hi_tax,
                count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk
         FROM lineitem GROUP BY l_returnflag""",
    "q28_monthly_revenue" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,4))), 2) AS DOUBLE) AS revenue,
                count(1) AS n_items
         FROM lineitem GROUP BY 1""",
    "f05_regexp_fns" ->
      """SELECT p_partkey,
                regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
                CAST(len(regexp_extract_all(p_name, 'a')) AS INT) AS n_a,
                regexp_matches(p_name, 'a.*e') AS has_a_then_e,
                regexp_extract(p_type, '^(\w+)', 1) AS type_head
         FROM part""",
    "f06_higher_order" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '') AS ts
           FROM documents)
         SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(ts,
             x -> length(x) * length(x))), 0) AS BIGINT)
             AS sum_sq_token_len,
           CAST(len(list_filter(ts, x -> length(x) > 4)) AS INT)
             AS n_long_tokens,
           CAST(list_max(list_transform(ts, x -> length(x))) AS INT)
             AS max_token_len
         FROM toks""",
    "a05_mode_deterministic" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority,
                cnt
         FROM (SELECT o_orderstatus, o_orderpriority, count(1) AS cnt
               FROM orders GROUP BY 1, 2)
         QUALIFY row_number() OVER (PARTITION BY o_orderstatus
           ORDER BY cnt DESC, o_orderpriority) = 1""",
    "a06_bool_bit_agg" ->
      """SELECT l_returnflag,
                bool_and(l_discount < 0.1) AS all_small_disc,
                bool_or(l_tax > 0.07) AS any_high_tax,
                bit_and(l_orderkey) AS key_bit_and,
                bit_or(l_orderkey) AS key_bit_or,
                bit_xor(l_orderkey) AS key_bit_xor
         FROM lineitem GROUP BY l_returnflag""",
    "s06_cosine_pairs_exact" ->
      """WITH s AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id % 20 = 0),
         scored AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                    AS cosine
           FROM s a JOIN s b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.2""",
    "d12_fingerprint_mod" ->
      """SELECT doc_id,
                list_reduce([0::BIGINT] ||
                  list_transform(range(length(text)),
                    i -> unicode(substring(text, CAST(i+1 AS INT), 1))),
                  (a, b) -> (a * 31 + b) % 1000000007) AS fp_mod
         FROM documents""",
    "q29_intersect_all" ->
      """SELECT o_custkey FROM orders
         INTERSECT ALL
         SELECT c_custkey FROM customer
         WHERE c_mktsegment = 'AUTOMOBILE'""",
    "q30_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 5 OFFSET 10""",
    "w05_cume_dist" ->
      """SELECT c_custkey, c_nationkey,
                cume_dist() OVER w AS bal_cume,
                CAST(count(1) OVER (PARTITION BY c_nationkey)
                  - row_number() OVER w AS BIGINT) AS n_richer
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey
           ORDER BY c_acctbal, c_custkey)""",
    "f08_bitwise_scalar" ->
      """SELECT p_partkey,
                p_partkey << 3 AS key_shl3,
                p_partkey >> 1 AS key_shr1,
                xor(p_partkey, 90) AS key_xor,
                p_partkey & 255 AS key_lo,
                p_partkey | 1 AS key_odd,
                CAST(bit_count(p_partkey) AS INT) AS key_bits
         FROM part""",
    "f10_json_build" ->
      """SELECT p_partkey,
                to_json(struct_pack(k := p_partkey, brand := p_brand,
                  size := p_size))::VARCHAR AS json_doc,
                json_extract_string(to_json(struct_pack(k := p_partkey,
                  brand := p_brand, size := p_size)), '$.brand')
                  AS brand_back,
                CAST(json_extract_string(to_json(struct_pack(
                  k := p_partkey, brand := p_brand, size := p_size)),
                  '$.size') AS INT) AS size_back
         FROM part""",
    "f17_try_fns" ->
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN month(l_shipdate) = 1 THEN NULL
                ELSE CAST(l_quantity AS INT) /
                     (month(l_shipdate) - 1) END AS qty_per,
           TRY_CAST(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_linenumber AS VARCHAR)
             ELSE l_returnflag END AS INTEGER) AS rf_num,
           string_split(CAST(l_orderkey AS VARCHAR), '')[3]
             AS third_digit
         FROM lineitem""",
    "q38_null_order_topk" ->
      """WITH by_cust AS (
           SELECT o_custkey, count(1) AS n_orders FROM orders
           GROUP BY o_custkey)
         SELECT c_custkey, n_orders,
           CAST(CASE WHEN c_acctbal < 0 THEN 0
                     WHEN c_acctbal >= 10000 THEN 11
                     ELSE floor(c_acctbal / 1000.0) + 1 END AS INT)
             AS bal_bucket
         FROM customer LEFT JOIN by_cust ON c_custkey = o_custkey
         ORDER BY n_orders ASC NULLS FIRST, c_custkey ASC
         LIMIT 50""",
    "f09_null_fns" ->
      """WITH by_cust AS (
           SELECT o_custkey, count(1) AS n_orders FROM orders
           GROUP BY o_custkey)
         SELECT c_custkey,
                coalesce(n_orders, 0) AS n_orders_filled,
                nullif(c_mktsegment, 'BUILDING') AS segment_or_null,
                n_orders IS NOT DISTINCT FROM NULL AS never_ordered,
                CASE WHEN n_orders IS NULL THEN 'none' ELSE 'has' END
                  AS order_status
         FROM customer LEFT JOIN by_cust ON c_custkey = o_custkey""",
  )
}
