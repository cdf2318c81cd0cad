package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface (SURVEY.md §2.b, streaming row).
  *
  * The reference has no unbounded inputs — its threaded FANTOIR pipeline
  * (`/root/reference/datagouv_tools/import_fantoir.py:42-102`) is
  * concurrency, not streaming. These operators are the engine's forward
  * extension: the same event-time queries as `graft.queries.EventTime`
  * but incremental, watermark-bounded, and restartable from a checkpoint.
  * All transforms are expressed on the streaming DataFrame so the
  * micro-batch planner incrementalizes them; state stays bounded because
  * every aggregation is keyed by an event-time window and the watermark
  * lets Spark evict closed windows.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type with late-data handling.
    * Mirrors `EventTime.e01` — same bucketing, incremental execution.
    */
  def tumblingCounts(events: DataFrame, window: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  private val functions = org.apache.spark.sql.functions

  /** Sliding (hopping) windows: each event lands in width/slide
    * overlapping buckets — the incremental counterpart of the batch
    * `e03_sliding_window` bucket arithmetic. State per open window is
    * one partial aggregate; the watermark closes windows whose end has
    * passed.
    */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
                    slide: String = "5 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"),
        col("sum_value"))

  /** Session windows via the built-in session_window (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  final case class EventRow(user_id: Long, ts: java.sql.Timestamp,
                            value: Double)
  final case class UserRunningState(n: Long, total: Double)
  final case class UserRunningOutput(user_id: Long, n_events: Long,
                                     total_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for stateful logic the built-in windows can't
    * express. Pass ProcessingTimeTimeout (with `stateTtl`) in production
    * so state for users that go quiet is evicted; note that timeouts make
    * the engine schedule continuous empty micro-batches, so the default
    * here is NoTimeout (and tests rely on that to terminate).
    */
  def runningUserTotals(events: Dataset[EventRow],
                        timeout: GroupStateTimeout =
                        GroupStateTimeout.NoTimeout(),
                        stateTtl: String = "1 hour")
      : Dataset[UserRunningOutput] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunningState, UserRunningOutput](timeout) {
        (userId: Long, rows: Iterator[EventRow],
         state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
          val (n, total) = rows.foldLeft((prev.n, prev.total)) {
            case ((cn, ct), r) => (cn + 1, ct + r.value)
          }
          state.update(UserRunningState(n, total))
          if (timeout == GroupStateTimeout.ProcessingTimeTimeout())
            state.setTimeoutDuration(stateTtl)
          UserRunningOutput(userId, n, total)
      }
  }

  /** Streaming exact dedup: drops events whose `keyCols` were already
    * seen within the watermark horizon — the unbounded counterpart of
    * `Dedup.exact`. `dropDuplicatesWithinWatermark` lets the state store
    * evict seen-keys once the watermark passes (bounded state; a plain
    * dropDuplicates on a stream would grow state forever).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** State-v2 (`transformWithState`) version of the running totals: the
    * Spark 4 replacement for mapGroupsWithState — explicit named state
    * variables with per-state TTL, timers decoupled from output, state
    * schema evolution. Functionally equivalent to
    * [[runningUserTotals]]; kept side-by-side as both APIs are public.
    */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, EventRow, UserRunningOutput] {
    @transient private var totals: ValueState[UserRunningState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserRunningState]("totals",
        org.apache.spark.sql.Encoders.product[UserRunningState],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues)
        : Iterator[UserRunningOutput] = {
      val prev =
        if (totals.exists()) totals.get() else UserRunningState(0L, 0.0)
      val (n, total) = rows.foldLeft((prev.n, prev.total)) {
        case ((cn, ct), r) => (cn + 1, ct + r.value)
      }
      totals.update(UserRunningState(n, total))
      Iterator.single(UserRunningOutput(key, n, total))
    }
  }

  def runningUserTotalsV2(events: Dataset[EventRow])
      : Dataset[UserRunningOutput] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long)

  /** Timer-driven streaming sessionization on the state-v2 API: events
    * buffer in a [[ListState]]; ONE event-time timer is kept armed at
    * the EARLIEST unclosed session's expiry (min session-max + gap).
    * When the watermark crosses it, every session whose expiry has
    * passed is emitted and evicted; later sessions stay buffered with
    * the timer re-armed. Buffering until each session's own expiry
    * passes the watermark (rather than emitting eagerly when a
    * later-session event arrives) is what keeps results correct under
    * late-but-within-watermark data, and gap-splitting the buffer
    * means a key with several event bursts emits several sessions —
    * the `session_window` semantics, re-expressed for pipelines that
    * need custom per-session logic.
    *
    * Scale shape: state per key is bounded by the watermark horizon
    * (closed sessions evict on their timer); timers live in the state
    * store, so a billion quiet users cost nothing per batch.
    */
  class SessionizeProcessor(gapMs: Long)
      extends StatefulProcessor[Long, EventRow, SessionOut] {
    @transient private var buffer: ListState[EventRow] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[EventRow]("buffer",
        org.apache.spark.sql.Encoders.product[EventRow], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Gap-split a time-sorted event list into sessions. */
    private def sessionsOf(sorted: Seq[EventRow]): Seq[Seq[EventRow]] = {
      val out = scala.collection.mutable.Buffer.empty[Seq[EventRow]]
      var cur = scala.collection.mutable.Buffer.empty[EventRow]
      var lastTs = Long.MinValue
      sorted.foreach { e =>
        if (cur.nonEmpty && e.ts.getTime - lastTs > gapMs) {
          out += cur.toSeq; cur = scala.collection.mutable.Buffer.empty
        }
        cur += e
        lastTs = math.max(lastTs, e.ts.getTime)
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.toSeq
    }

    private def arm(expiry: Long): Unit = {
      if (armed.exists() && armed.get() != expiry)
        getHandle.deleteTimer(armed.get())
      if (!armed.exists() || armed.get() != expiry) {
        getHandle.registerTimer(expiry)
        armed.update(expiry)
      }
    }

    private def emitClosed(upTo: Long): Iterator[SessionOut] = {
      val all = buffer.get().toSeq.sortBy(_.ts.getTime)
      if (all.isEmpty) { armed.clear(); return Iterator.empty }
      val (closed, open) = sessionsOf(all)
        .partition(s => s.last.ts.getTime + gapMs <= upTo)
      buffer.clear()
      open.flatten.foreach(buffer.appendValue)
      if (open.nonEmpty) arm(open.head.last.ts.getTime + gapMs)
      else armed.clear()
      closed.iterator.map { s =>
        SessionOut(keyOf(s), new java.sql.Timestamp(s.head.ts.getTime),
          new java.sql.Timestamp(s.last.ts.getTime), s.size.toLong)
      }
    }

    private def keyOf(s: Seq[EventRow]): Long = s.head.user_id

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues)
        : Iterator[SessionOut] = {
      rows.foreach(buffer.appendValue)
      val sessions = sessionsOf(buffer.get().toSeq.sortBy(_.ts.getTime))
      if (sessions.nonEmpty)
        arm(sessions.head.last.ts.getTime + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[SessionOut] =
      emitClosed(math.max(expiredTimerInfo.getExpiryTimeInMs(),
        timerValues.getCurrentWatermarkInMs()))
  }

  /** Sessionize a stream of (user_id, ts, value) with a gap timeout.
    * Requires a watermark on `ts` (event-time timers fire off it).
    */
  def sessionizeV2(events: Dataset[EventRow],
                   gapMs: Long = 30L * 60 * 1000,
                   watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypedEvent(user_id: Long, ts: java.sql.Timestamp,
                              event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type running counts on [[MapState]] — the
    * state-v2 map primitive (point lookups/updates per key, no
    * read-modify-write of a whole aggregate blob, which is what keeps
    * hot keys cheap when a user has millions of events across few
    * types). Emits the updated (type, count) pairs each batch.
    */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
                                 timerValues: TimerValues)
        : Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val next = (if (counts.containsKey(r.event_type))
          counts.getValue(r.event_type) else 0L) + 1L
        counts.updateValue(r.event_type, next)
        touched += r.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  def typeCountsV2(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream interval join: attribute each purchase to a click by
    * the same user within the preceding attribution window. Both sides
    * carry watermarks and the join condition bounds event time on both
    * ends, so the state store can evict rows once the watermark passes —
    * the canonical bounded-state stream-stream join.
    *
    * `joinType = "left_outer"` additionally emits UNMATCHED purchases
    * (click columns null) — but only once the click-side watermark
    * passes the purchase's match window, because until then a late
    * click could still attribute it. Inner matches stream out
    * immediately; outer nulls are watermark-delayed by construction —
    * that asymmetry is the semantics, not a bug.
    */
  def attributePurchases(clicks: DataFrame, purchases: DataFrame,
                         window: String = "10 minutes",
                         watermark: String = "20 minutes",
                         joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c, expr(
      s"""c_user = p_user AND
          click_ts <= purchase_ts AND
          purchase_ts <= click_ts + INTERVAL $window"""), joinType)
      .select(col("p_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static join: enrich a live event stream with a static
    * dimension (e.g. the customer table). The static side is re-planned
    * per micro-batch, so a broadcast hint keeps it map-side — the
    * streaming analog of the L1 dictionary lookup.
    */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
                     eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Write any of the above to a sink incrementally; `foreachBatch`
    * reuses the batch JDBC sink dialects (K2–K5) per micro-batch —
    * exactly the composition SURVEY.md §2.b prescribes. The one
    * `writeStream` site: every probe stream and [[IngestLoop]] run
    * through it. `Update` is `Append` for their stateless queries.
    */
  def toForeachBatchSink(df: DataFrame, checkpoint: String)(
      batchFn: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batchFn)
}
