package graft.queries

import graft.{QueryPack, Tables}
import graft.operators.EdJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral-analytics and fuzzy-matching shapes the earlier packs don't
  * cover: sequence-respecting funnels, cohort retention, interval
  * sweep-line concurrency, gaps-and-islands streaks, and edit-distance
  * nearest neighbors. All five are DuckDB-oracle-checked.
  *
  * Time discipline: every day/offset derivation goes through integer
  * division on epoch MICROS (`unix_micros(ts) div 86_400_000_000`), never
  * `to_date`/`date_trunc` — day indexing stays timezone-free and
  * engine-exact on both sides (the same idiom as `Tables.load`'s nanos
  * truncation).
  */
object Analytics extends QueryPack {

  private val DayUs = 86400000000L

  /** Session bounds per user — the e02 sessionization (30-min inactivity
    * gap) reduced to [start, end] epoch-micros intervals. Shared by e13.
    */
  private def sessionBounds(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMicros = 30L * 60 * 1000000
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1)
          .when(unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("ss"),
        max(unix_micros(col("ts"))).as("se"))
  }

  def queries: Map[String, QueryFn] = Map(
    // SEQUENCE-respecting funnel: e04 is first-touch (first view vs
    // first click vs first purchase, regardless of order); this is the
    // stricter stepwise definition — the first click AFTER the first
    // view, then the first purchase AFTER that click. Three chained
    // window minima over ONE user partitioning (each refers to the
    // previous one as a per-row constant), so the whole funnel costs a
    // single shuffle and no self-join.
    "e11_stepwise_funnel" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .withColumn("first_view",
          min(when(col("event_type") === "view", col("ts"))).over(wU))
        .withColumn("seq_click",
          min(when(col("event_type") === "click" &&
            col("ts") > col("first_view"), col("ts"))).over(wU))
        .withColumn("seq_purchase",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("seq_click"), col("ts"))).over(wU))
        .groupBy(col("user_id"))
        .agg(min(col("first_view")).as("first_view"),
          min(col("seq_click")).as("seq_click"),
          min(col("seq_purchase")).as("seq_purchase"))
        .withColumn("funnel_complete", col("seq_purchase").isNotNull)
    },
    // Cohort retention: users grouped by first-active day, counted
    // distinct on each later active day. One window min for the cohort
    // day (reusing the user partitioning) + one distinct aggregate;
    // output is O(days²) regardless of corpus size.
    "e12_retention_cohorts" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $DayUs").as("d"))
        .withColumn("cohort_day", min(col("d")).over(wU))
        .groupBy(col("cohort_day"),
          (col("d") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    // Peak concurrent sessions per day — the interval sweep-line: e02
    // sessions become half-open occupancy intervals [ss, se+1µs) (so a
    // single-event session still occupies its microsecond), clipped to
    // day boundaries; +1/-1 deltas ordered by (t, delta) with ends
    // before starts (half-open: a session ending exactly when another
    // starts does not overlap it). Tie groups share one delta sign, so
    // the prefix-sum multiset — and the max — is order-independent.
    // The sweep is HIERARCHICAL (BucketedRank's two-level kernel): the
    // running sum decomposes as (sum of all deltas in earlier hour
    // buckets) + (running sum inside the event's own bucket), so level
    // 1 windows per (day, hour) — 24× the sort parallelism, and no
    // single core ever sees more than an hour of one day — level 2
    // prefixes the ≤ 24 per-bucket totals per day (a constant-width
    // window), and the day max is max over buckets of offset +
    // intra-bucket peak. A day with billions of session deltas sorts
    // per hour, never per day; bucket granularity drops to minutes at
    // higher density without touching the shape.
    "e13_max_concurrency" -> { (s, dir) =>
      val HourUs = 3600000000L
      val deltas = sessionBounds(s, dir)
        .withColumn("day_idx",
          explode(sequence(expr(s"ss div $DayUs"), expr(s"se div $DayUs"))))
        .withColumn("cs", greatest(col("ss"), col("day_idx") * DayUs))
        .withColumn("ce",
          least(col("se") + 1, (col("day_idx") + 1) * DayUs))
        .select(col("day_idx"), explode(array(
          struct(col("cs").as("t"), lit(1).as("delta")),
          struct(col("ce").as("t"), lit(-1).as("delta")))).as("ev"))
        .select(col("day_idx"), col("ev.t").as("t"),
          col("ev.delta").as("delta"))
        // bkt is monotone in t, so bucket order IS time order and a
        // (t, delta) tie group never straddles buckets
        .withColumn("bkt", expr(s"t div $HourUs"))
      val intra = deltas
        .withColumn("run", sum(col("delta")).over(
          Window.partitionBy(col("day_idx"), col("bkt"))
            .orderBy(col("t"), col("delta"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("day_idx"), col("bkt"))
        .agg(max(col("run")).as("peak_in_bkt"),
          sum(col("delta")).as("bkt_total"))
      intra
        .withColumn("offset", coalesce(sum(col("bkt_total")).over(
          Window.partitionBy(col("day_idx")).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .groupBy(col("day_idx"))
        .agg(max(col("offset") + col("peak_in_bkt")).as("max_concurrent"))
    },
    // Gaps-and-islands: longest run of consecutive active months per
    // customer. The island key is monthIndex − row_number — constant
    // within a consecutive run, distinct across gaps — so streaks fall
    // out of one window + two partial aggregations, no self-join.
    "w08_order_streaks" -> { (s, dir) =>
      val wC = Window.partitionBy(col("o_custkey")).orderBy(col("mi"))
      t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT)")
            .as("mi"))
        .distinct()
        .withColumn("grp", col("mi") - row_number().over(wC))
        .groupBy(col("o_custkey"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("o_custkey"))
        .agg(max(col("len")).as("max_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_active_months"))
    },
    // Edit-distance nearest neighbor over 120-char heads — the dedup
    // modality d01-d09 lack (exact/MinHash/SimHash/Jaccard all token-
    // based; this is character-level). CONTRACT: the nearest same-
    // (lang, source) neighbor within edit distance 6, over heads of at
    // least 6 chars; docs with no neighbor inside the cap emit no row.
    // The cap is what makes the query scale: the r8 shape blocked on
    // (lang, source) × a 16-wide length band, and the round-10 sf1 run
    // measured it at 82× wall for 10× data — (lang, source) blocks grow
    // with the corpus, the band was vacuous at head length 120, and an
    // UNCAPPED nearest neighbor cannot prune by distance at all (a
    // doc's NN may be arbitrarily far). Bounded-NN is also the honest
    // dedup semantics: a neighbor 80 edits away on a 120-char head is
    // noise, while every true near-dup sits well inside the cap.
    // Candidates come from EdJoin's q-gram prefix filter at q=6 —
    // 6-gram document frequency falls with corpus diversity, so posting
    // lists (and candidate pairs) track content growth instead of block
    // size squared. The same-(lang, source) contract rides the join key
    // itself (EdJoin blockCols): cross-block candidates are never
    // generated, never verified, never discarded — at 100× a popular
    // boilerplate head shared across sources would otherwise pay real
    // bounded-DP verification for pairs the contract excludes.
    // min(struct(dist, id)) keeps the neighbor choice deterministic
    // under ties.
    "d40_edit_nn" -> { (s, dir) =>
      val heads = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          substring(col("text"), 1, 120).as("head"))
        .filter(length(col("head")) >= 6)
      val pairs = EdJoin.editPairs(heads, "doc_id", "head", k = 6, q = 6,
        blockCols = Seq("lang", "source"))
      // NN is per-doc, so every pair counts in both directions
      pairs.select(col("id_a").as("doc_id"),
          col("id_b").as("nn"), col("dist"))
        .union(pairs.select(col("id_b").as("doc_id"),
          col("id_a").as("nn"), col("dist")))
        .groupBy(col("doc_id"))
        .agg(min(struct(col("dist"), col("nn"))).as("best"))
        .select(col("doc_id"), col("best.nn").as("nn_id"),
          col("best.dist").as("nn_dist"))
    },
    // Exact bounded edit-distance self-join (d40 is capped nearest-
    // neighbor; this is the full pair set). c_name is the adversarial
    // corpus for every blocking scheme — all strings share the
    // "Customer#…" prefix, and the 10-char digit space DENSIFIES as
    // the table grows, so q-gram postings grow with n and gram-path
    // candidates with n² (measured: 28× wall at 10× data, output
    // exactly 10×). The k-deletion-neighborhood path is the structure
    // that survives densification: variant keys stay near-unique, so
    // candidates track the true pair count (linear here) instead of
    // posting-list squares.
    "d41_edit_pairs" -> { (s, dir) =>
      EdJoin.editPairsByDeletion(
          t(s, dir, "customer"), "c_custkey", "c_name", k = 1)
        .select(col("id_a").as("a_key"), col("id_b").as("b_key"),
          col("dist"))
    },
    // Conversion-lag distribution: e11 says WHETHER a user converts,
    // this measures HOW LONG — per first-view-day cohort, the lag from
    // first view to the first purchase STRICTLY AFTER it. (View→
    // purchase only: a user whose clicks come later still converts
    // here but fails e11's stepwise chain — the two define different
    // funnels on purpose.) One window shuffle (user partitioning,
    // shared by both minima) + one partial aggregate; all outputs
    // integer-exact (counts, min/max/sum of whole seconds), so no
    // float summation order can diverge between engines.
    "e14_conversion_lag" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .withColumn("fv",
          min(when(col("event_type") === "view",
            unix_micros(col("ts")))).over(wU))
        .withColumn("fp",
          min(when(col("event_type") === "purchase" &&
            unix_micros(col("ts")) > col("fv"),
            unix_micros(col("ts")))).over(wU))
        .groupBy(col("user_id"))
        .agg(min(col("fv")).as("fv"), min(col("fp")).as("fp"))
        .filter(col("fp").isNotNull)
        .select(expr(s"fv div $DayUs").as("cohort_day"),
          expr("(fp - fv) div 1000000").as("lag_s"))
        .groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("lag_s")).as("min_lag_s"),
          max(col("lag_s")).as("max_lag_s"),
          sum(col("lag_s")).as("sum_lag_s"))
    },
    // The pinned-corpus-index-at-scale story for the CHAR modality,
    // executable on the oracle surface (the t19 treatment for the
    // deletion path): d41's k=1 edit join re-run over the deletion-
    // variant index written ONCE per (session, dir) as an 8-bucket
    // catalog table hashed AND sorted on the variant key. The
    // self-join then consumes bucket layout directly — zero exchanges
    // and zero sorts beneath the join (PlanGuardSpec) — leaving the
    // survivors' distinct as the plan's only shuffle. At 100 TB this
    // is how the corpus side of every fuzzy probe is stored: the
    // index is the table, not a per-query derivation, and arriving
    // probes co-locate to it by bucket instead of re-shuffling the
    // corpus (the batch face of editProbeStream's pinned-partitioned
    // contract). Same oracle as d41.
    "d43_edit_pairs_bucketed" -> { (s, dir) =>
      val idx = graft.FrameCache.cached(s, s"d43idx:$dir",
          persist = false) {
        val name =
          s"graft_edidx_${(dir.hashCode & 0x7fffffff).toHexString}"
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        graft.sinks.WarehouseSink.writeBucketed(
          EdJoin.deletionKeys(t(s, dir, "customer"), "c_custkey",
              "c_name", k = 1)
            .select(col("_id"), col("_str"), col("_key")),
          name, "_key", 8)
        s.table(name)
      }
      val a = idx.select(col("_key"), col("_id").as("id_a"),
        col("_str").as("sa"))
      val b = idx.select(col("_key"), col("_id").as("id_b"),
        col("_str").as("sb"))
      // merge hint as in t19: at test SFs auto-broadcast would win and
      // never exercise the co-located path the layout exists for
      a.hint("merge").join(b, Seq("_key"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("sa"), col("sb"), 1))
        .filter(col("dist") >= 0)
        .select(col("id_a").as("a_key"), col("id_b").as("b_key"),
          col("dist"))
        .distinct()
    },
    // ORACLE ANCHOR for character-level dedup: the d24 treatment
    // (connected components → min-id survivor, hash-checked against a
    // DuckDB recursive-CTE closure) over an exact edit-distance ≤ 2
    // edge list on 120-char document heads. d24/d11 cluster on token
    // sets; this is the modality that catches near-dups token methods
    // miss (single-character edits inside words). EdJoin's q-gram
    // prefix filter keeps the edge list candidate-bounded — never
    // all-pairs — and [[graft.operators.Dedup.connectedComponents]]
    // contracts the sparse graph in O(log² n) rounds. q=5 over 120-char
    // heads: the 5-gram space is large enough that posting lists track
    // corpus DIVERSITY rather than corpus size (q=3's 26³ space
    // densifies), and the floor it implies — heads ≥ 5 chars — is
    // mirrored in the oracle.
    "d42_edit_dedup_survivors" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val heads = docs.select(col("doc_id"),
        substring(col("text"), 1, 120).as("head"))
      val edges = EdJoin.editPairs(heads, "doc_id", "head", k = 2, q = 5)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.nearDupSurvivors(docs, "doc_id", edges)
        .select(col("id"), col("component"), col("is_survivor"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "e11_stepwise_funnel" ->
      """WITH w1 AS (
           SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                  min(CASE WHEN event_type = 'view'
                      THEN CAST(ts AS TIMESTAMP) END)
                    OVER (PARTITION BY user_id) AS first_view
           FROM events
         ), w2 AS (
           SELECT *, min(CASE WHEN event_type = 'click' AND ts > first_view
                         THEN ts END)
                       OVER (PARTITION BY user_id) AS seq_click
           FROM w1
         ), w3 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase'
                              AND ts > seq_click THEN ts END)
                       OVER (PARTITION BY user_id) AS seq_purchase
           FROM w2
         )
         SELECT user_id, min(first_view) AS first_view,
                min(seq_click) AS seq_click,
                min(seq_purchase) AS seq_purchase,
                min(seq_purchase) IS NOT NULL AS funnel_complete
         FROM w3 GROUP BY user_id""",
    "e12_retention_cohorts" ->
      """WITH days AS (
           SELECT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
           FROM events
         ), cohorts AS (
           SELECT user_id, d,
                  min(d) OVER (PARTITION BY user_id) AS cohort_day
           FROM days
         )
         SELECT cohort_day, d - cohort_day AS day_offset,
                count(DISTINCT user_id) AS n_users
         FROM cohorts GROUP BY 1, 2""",
    "e13_max_concurrency" ->
      """WITH flagged AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                  CASE WHEN lag(ts) OVER w IS NULL THEN 1
                       WHEN epoch_us(CAST(ts AS TIMESTAMP))
                            - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                            > 1800000000 THEN 1
                       ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), numbered AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM flagged
         ), sess AS (
           SELECT user_id, session_id,
                  min(epoch_us(ts)) AS ss, max(epoch_us(ts)) AS se
           FROM numbered GROUP BY 1, 2
         ), spans AS (
           SELECT ss, se, unnest(generate_series(
                    ss // 86400000000, se // 86400000000)) AS day_idx
           FROM sess
         ), clipped AS (
           SELECT day_idx,
                  greatest(ss, day_idx * 86400000000) AS cs,
                  least(se + 1, (day_idx + 1) * 86400000000) AS ce
           FROM spans
         ), deltas AS (
           SELECT day_idx, cs AS t, 1 AS delta FROM clipped
           UNION ALL
           SELECT day_idx, ce AS t, -1 AS delta FROM clipped
         ), swept AS (
           SELECT day_idx,
                  CAST(sum(delta) OVER (PARTITION BY day_idx
                    ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS conc
           FROM deltas
         )
         SELECT day_idx, max(conc) AS max_concurrent
         FROM swept GROUP BY day_idx""",
    "w08_order_streaks" ->
      """WITH months AS (
           SELECT DISTINCT o_custkey,
                  CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT)
                    AS mi
           FROM orders
         ), islands AS (
           SELECT o_custkey,
                  mi - row_number() OVER (PARTITION BY o_custkey
                    ORDER BY mi) AS grp
           FROM months
         ), streaks AS (
           SELECT o_custkey, grp, count(1) AS len
           FROM islands GROUP BY 1, 2
         )
         SELECT o_custkey, max(len) AS max_streak,
                count(1) AS n_streaks,
                CAST(sum(len) AS BIGINT) AS n_active_months
         FROM streaks GROUP BY o_custkey""",
    "d40_edit_nn" ->
      """WITH h AS (
           SELECT doc_id, lang, source, substr(text, 1, 120) AS head
           FROM documents
           WHERE length(substr(text, 1, 120)) >= 6
         ), pairs AS (
           SELECT a.doc_id AS doc_id, b.doc_id AS nn_id,
                  levenshtein(a.head, b.head) AS nn_dist
           FROM h a JOIN h b
             ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id <> b.doc_id
           WHERE levenshtein(a.head, b.head) <= 6
         ), ranked AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY nn_dist, nn_id) AS rn
           FROM pairs
         )
         SELECT doc_id, nn_id, CAST(nn_dist AS INT) AS nn_dist
         FROM ranked WHERE rn = 1""",
    "d41_edit_pairs" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    "d43_edit_pairs_bucketed" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
                CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    "e14_conversion_lag" ->
      """WITH w1 AS (
           SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  min(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                    OVER (PARTITION BY user_id) AS fv
           FROM events
         ), w2 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase' AND us > fv
                         THEN us END)
                       OVER (PARTITION BY user_id) AS fp
           FROM w1
         ), per_user AS (
           SELECT user_id, min(fv) AS fv, min(fp) AS fp
           FROM w2 GROUP BY user_id
         ), lags AS (
           SELECT fv // 86400000000 AS cohort_day,
                  (fp - fv) // 1000000 AS lag_s
           FROM per_user WHERE fp IS NOT NULL
         )
         SELECT cohort_day, count(1) AS n_converted,
                min(lag_s) AS min_lag_s, max(lag_s) AS max_lag_s,
                CAST(sum(lag_s) AS BIGINT) AS sum_lag_s
         FROM lags GROUP BY cohort_day""",
    "d42_edit_dedup_survivors" ->
      """WITH RECURSIVE h AS (
           SELECT doc_id, substr(text, 1, 120) AS head FROM documents
           WHERE length(substr(text, 1, 120)) >= 5
         ), edges AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM h a JOIN h b
             ON a.doc_id < b.doc_id
            AND levenshtein(a.head, b.head) <= 2
         ), sym AS (
           SELECT id_a AS a, id_b AS b FROM edges
           UNION SELECT id_b, id_a FROM edges
         ), reach(a, b) AS (
           SELECT a, a FROM sym
           UNION
           SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a
         ), comp AS (
           SELECT a AS id, min(b) AS component FROM reach GROUP BY a
         )
         SELECT d.doc_id AS id,
                coalesce(c.component, d.doc_id) AS component,
                d.doc_id = coalesce(c.component, d.doc_id) AS is_survivor
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""",
  )
}
