package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Session-window merge via `transformWithState` with explicit TIMERS —
  * the Spark 4.x analog of Flink's session windows with an event-time
  * `Trigger` (reference: ClickstreamProcessor.java:129 merges sessions
  * with a gap trigger; the Flink runtime arms an event-time timer at
  * window end and fires the pane when the watermark passes it).
  *
  * Two formulations of the same sessionization coexist:
  *  1. `session_window` aggregation ([[ClickstreamStreams.sessions]]) —
  *     the default; Spark owns state AND timing.
  *  2. this operator — custom state AND custom timer management
  *     (register/delete/re-arm), the full Flink-style state machine on
  *     the arbitrary-state API.
  * Both emit identical sessions (`TimerSessionizerSpec` pins them on
  * golden sequences, an exact-gap tie and a real-event replay). Both
  * merge two events exactly one gap apart, as Flink's
  * `TimeWindow.intersects` does: windows `[t, t+gap)` and
  * `[t+gap, t+2·gap)` touch and merge.
  *
  * Mechanics: events buffer into a per-user [[ListState]]; every input
  * batch re-arms ONE timer per user at `max(event ts) + gap` (delete old,
  * register new — the Flink re-trigger pattern). When the watermark
  * passes the timer, the buffer splits on gap boundaries: closed sessions
  * emit, the still-open tail (events newer than `watermark − gap`, only
  * possible with a non-zero allowed-lateness watermark) is re-buffered
  * and a fresh timer armed.
  *
  * Scale: state per user = open-session buffer + one 8-byte timer;
  * closed sessions leave state immediately. Timers live in the RocksDB
  * state store beside the buffer (the provider transformWithState
  * requires), partitioned by the grouping key like every keyed state.
  */
object TimerSessionizer {

  /** `ts` stays a Timestamp: the watermark tag must survive into the
    * typed Dataset for event-time timers to resolve.
    */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String, product_type: String) {
    def ts_ms: Long = ts.getTime
  }

  final case class Session(
      user_id: Long,
      event_count: Long,
      checkout_event_count: Long,
      dept_list: String,
      win_begin_ms: Long,
      win_end_ms: Long)

  private def qualifying(e: Ev): Boolean =
    e.product_type != null && e.product_type.nonEmpty && e.product_type != "N/A"

  /** Split a sorted buffer into gap-delimited sessions: an event joins the
    * open session when it is at most `gapMs` after the session's latest
    * event (`session_window`'s merge rule, touching windows included).
    */
  private[streaming] def split(sorted: List[Ev], gapMs: Long): List[List[Ev]] =
    sorted.foldLeft(List.empty[List[Ev]]) {
      case (Nil, e) => List(List(e))
      case (cur :: done, e) if e.ts_ms - cur.head.ts_ms <= gapMs => (e :: cur) :: done
      case (acc, e) => List(e) :: acc
    }.map(_.reverse).reverse

  private[streaming] def finish(events: List[Ev], gapMs: Long): Session = {
    var count = 0L
    var snapshot = 0L
    val depts = scala.collection.mutable.SortedSet.empty[String]
    // inclusive tie rule shared with UserAggregateTyped.finish and the
    // declarative sessionizers: the snapshot counts qualifying events with
    // ts <= the LAST checkout's ts, regardless of sort position at ties
    val lastCheckoutTs = events.iterator
      .filter(_.event_type == "order_checkout").map(_.ts_ms)
      .foldLeft(Long.MinValue)(math.max)
    events.foreach { e =>
      if (qualifying(e)) {
        count += 1; depts += e.product_type
        if (e.ts_ms <= lastCheckoutTs) snapshot += 1
      }
    }
    Session(
      events.head.user_id, count, snapshot, depts.mkString(","),
      events.head.ts_ms, events.last.ts_ms + gapMs)
  }

  /** The keyed state machine: event buffer + the armed timer's expiry. */
  class Processor(gapMs: Long) extends StatefulProcessor[Long, Ev, Session] {
    @transient private var buffer: ListState[Ev] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[Ev]("buffer", Encoders.product[Ev], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Session] = {
      var maxIn = Long.MinValue
      rows.foreach { e =>
        buffer.appendValue(e)
        if (e.ts_ms > maxIn) maxIn = e.ts_ms
      }
      if (maxIn != Long.MinValue) {
        val expiry = maxIn + gapMs
        if (armed.exists()) {
          val cur = armed.get()
          // only ever extend: an older event can't close the window earlier
          if (expiry > cur) {
            getHandle.deleteTimer(cur)
            getHandle.registerTimer(expiry)
            armed.update(expiry)
          }
        } else {
          getHandle.registerTimer(expiry)
          armed.update(expiry)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      val buf = buffer.get().toList
      armed.clear() // the fired timer is consumed by the framework
      if (buf.isEmpty) {
        buffer.clear()
        Iterator.empty
      } else {
        val wm = math.max(
          timerValues.getCurrentWatermarkInMs, expiredTimerInfo.getExpiryTimeInMs)
        val sorted = buf.sortBy(e => (e.ts_ms, e.event_type))
        val (closed, open) = split(sorted, gapMs).partition(_.last.ts_ms + gapMs <= wm)
        buffer.clear()
        if (open.nonEmpty) {
          val tail = open.flatten
          tail.foreach(buffer.appendValue)
          val expiry = tail.map(_.ts_ms).max + gapMs
          getHandle.registerTimer(expiry)
          armed.update(expiry)
        }
        closed.iterator.map(finish(_, gapMs))
      }
    }
  }

  /** Sessionize a click-event stream with explicit timer management;
    * input needs `user_id`, `ts` (timestamp, watermarked here),
    * `event_type`, `product_type`. Append mode: a session emits exactly
    * once, when its timer fires.
    */
  def sessions(
      spark: SparkSession,
      events: DataFrame,
      gapMs: Long = 1000L,
      watermark: String = "0 seconds"): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_type"), col("product_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new Processor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }
}
