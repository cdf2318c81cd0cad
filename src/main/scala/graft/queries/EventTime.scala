package graft.queries

import graft.QueryPack
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Event-time analytics over the `events` table — the batch equivalents
  * of the streaming surface (SURVEY.md §2.b, streaming row): tumbling
  * windows and gap-based sessionization. The same expressions run under
  * Structured Streaming in `graft.streaming` with a watermark; here they
  * are batch queries so the DuckDB oracle can check them.
  */
object EventTime extends QueryPack {

  def queries: Map[String, QueryFn] = Map(
    // Tumbling 5-minute window per event type (epoch-aligned, same
    // bucketing as Structured Streaming's window()).
    "e01_tumbling_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(dec(col("value"))), 2).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    },
    // Gap-based sessionization (30-minute inactivity): lag + cumulative
    // sum assigns session ids, then per-session aggregates. One shuffle
    // on user_id; both window and aggregate reuse that partitioning.
    "e02_sessionize" -> { (s, dir) =>
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
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
    },
    // Sliding windows expressed as the explicit bucket arithmetic
    // (10-minute window sliding by 5): each event lands in 2 buckets.
    "e03_sliding_window" -> { (s, dir) =>
      val slide = 5L * 60 * 1000000
      val width = 10L * 60 * 1000000
      val micros = unix_micros(col("ts"))
      val firstStart = (floor(micros / slide) * slide) - (width - slide)
      t(s, dir, "events")
        .withColumn("window_start",
          explode(sequence(firstStart.cast("long"),
            (floor(micros / slide) * slide).cast("long"), lit(slide))))
        .select(timestamp_micros(col("window_start")).as("window_start"),
          col("value"))
        .groupBy(col("window_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(dec(col("value"))), 2).cast(DoubleType).as("sum_value"))
    },
    // FIRST-TOUCH funnel analysis: complete iff the user's FIRST view
    // precedes their FIRST click precedes their FIRST purchase (the
    // standard attribution definition; a user whose first click came
    // before any view is deliberately incomplete even if a later
    // view→click→purchase chain exists). One conditional-aggregate
    // pass keyed by user.
    "e04_funnel" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts")))
            .as("first_view"),
          min(when(col("event_type") === "click", col("ts")))
            .as("first_click"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .withColumn("funnel_complete",
          col("first_view") < col("first_click") &&
            col("first_click") < col("first_purchase"))
    },
    // Event-time range frame: events per user in the preceding hour,
    // exact integer frame bounds on epoch micros (cross-engine safe).
    "w04_time_range_frame" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .withColumn("val_last_hour",
          round(sum(dec(col("value"))).over(w), 2).cast(DoubleType))
        .select(col("event_id"), col("user_id"), col("n_last_hour"),
          col("val_last_hour"))
    },
    "e09_last_click_attribution" -> { (s, dir) =>
      // last-touch attribution: each purchase joins the user's most
      // recent click at most 7 days old — the tolerance-bounded as-of
      // join (one shuffle on user_id, linear per partition; a range
      // join would explode M×N per heavy user). Clicks pre-dedupe to
      // one per (user, ts) by max event_id, so tie semantics are
      // engine-exact; the staleness gate compares exact epoch micros.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.asOf(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts",
        Map("click_id" -> "click_id", "c_ts" -> "click_ts"),
        maxGap = Some((lt, rt) =>
          unix_micros(lt) - unix_micros(rt) <= 7L * 86400 * 1000000))
    },
    "e10_next_purchase_latency" -> { (s, dir) =>
      // forward as-of: each click joins the user's NEXT purchase
      // within 30 days, and the time-to-convert in seconds — same
      // one-shuffle union+window shape, frame flipped to [t, +∞).
      // Purchases pre-dedupe to one per (user, ts) by MIN event_id
      // (the forward tie convention); latency is one double division
      // of exact micros, identical on any engine.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(min(col("event_id")).as("purchase_id"))
      graft.operators.AsOfJoin.asOf(clicks, purchases,
        "user_id", "p_user", "ts", "p_ts",
        Map("purchase_id" -> "purchase_id", "p_ts" -> "purchase_ts"),
        direction = "forward",
        maxGap = Some((lt, rt) =>
          unix_micros(rt) - unix_micros(lt) <= 30L * 86400 * 1000000))
        .select(col("click_id"), col("user_id"), col("ts"),
          col("purchase_id"), col("purchase_ts"),
          ((unix_micros(col("purchase_ts")) - unix_micros(col("ts")))
            .cast("double") / 1000000.0).as("latency_s"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "e01_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                  AS window_start,
                event_type, count(1) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(38,4))), 2) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1, 2""",
    "e02_sessionize" ->
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
                  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged
         )
         SELECT user_id, session_id, count(1) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end
         FROM numbered GROUP BY user_id, session_id""",
    "e03_sliding_window" ->
      """WITH buckets AS (
           SELECT unnest(range(
                    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 300000000)
                      * 300000000 - 300000000 AS BIGINT),
                    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 300000000)
                      * 300000000 + 1 AS BIGINT),
                    300000000)) AS window_start_us,
                  value
           FROM events
         )
         SELECT make_timestamp(window_start_us) AS window_start,
                count(1) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(38,4))), 2) AS DOUBLE)
                  AS sum_value
         FROM buckets GROUP BY 1""",
    "e04_funnel" ->
      """SELECT user_id,
                min(CASE WHEN event_type = 'view'
                    THEN CAST(ts AS TIMESTAMP) END) AS first_view,
                min(CASE WHEN event_type = 'click'
                    THEN CAST(ts AS TIMESTAMP) END) AS first_click,
                min(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS TIMESTAMP) END) AS first_purchase,
                min(CASE WHEN event_type = 'view'
                    THEN CAST(ts AS TIMESTAMP) END) <
                  min(CASE WHEN event_type = 'click'
                      THEN CAST(ts AS TIMESTAMP) END)
                AND min(CASE WHEN event_type = 'click'
                        THEN CAST(ts AS TIMESTAMP) END) <
                  min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS TIMESTAMP) END) AS funnel_complete
         FROM events GROUP BY user_id""",
    "w04_time_range_frame" ->
      """SELECT event_id, user_id,
                count(1) OVER w AS n_last_hour,
                CAST(round(sum(CAST(value AS DECIMAL(38,4))) OVER w, 2)
                  AS DOUBLE) AS val_last_hour
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "e09_last_click_attribution" ->
      """WITH p AS (
           SELECT event_id AS purchase_id, user_id,
                  CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts,
                  max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT purchase_id, user_id, ts, value,
           CASE WHEN epoch_us(ts) - epoch_us(c_ts) <= 604800000000
                THEN click_id END AS click_id,
           CASE WHEN epoch_us(ts) - epoch_us(c_ts) <= 604800000000
                THEN c_ts END AS click_ts
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.c_user AND p.ts >= c.c_ts""",
    "e10_next_purchase_latency" ->
      """WITH c AS (
           SELECT event_id AS click_id, user_id,
                  CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts,
                  min(event_id) AS purchase_id
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT click_id, user_id, ts,
           CASE WHEN epoch_us(p_ts) - epoch_us(ts) <= 2592000000000
                THEN purchase_id END AS purchase_id,
           CASE WHEN epoch_us(p_ts) - epoch_us(ts) <= 2592000000000
                THEN p_ts END AS purchase_ts,
           CASE WHEN epoch_us(p_ts) - epoch_us(ts) <= 2592000000000
                THEN CAST(epoch_us(p_ts) - epoch_us(ts) AS DOUBLE)
                     / 1000000.0 END AS latency_s
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.p_user AND c.ts <= p.p_ts""",
  )
}
