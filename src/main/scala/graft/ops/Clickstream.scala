package graft.ops

import graft.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch clickstream operators — the reference's three pipelines re-expressed
  * as declarative DataFrame transforms (SURVEY.md §2, §3).
  *
  * Pipeline A (sessionize + buy filter), B (global session KPIs), C
  * (departments). The reference computes these over a Kafka stream
  * (ClickstreamProcessor.java:57-272); the batch flavor here computes the
  * identical session semantics over the `events` table so the DuckDB oracle
  * can replay them (FIXTURES.md §3). The streaming flavor lives in
  * [[graft.streaming.ClickstreamStreams]].
  *
  * Scale notes (the 100 TB plan):
  *  - Sessionization is gap-islands over a per-user sort: one shuffle on
  *    `user_id` (Window partitionBy), then the session aggregation groups on
  *    (`user_id`, `session_seq`) — a prefix of the same key, which AQE
  *    coalesces; partial aggregation (map-side combine) applies to every agg
  *    here since they're all algebraic (count / min / max / collect_set of
  *    ≤5 distinct values).
  *  - No driver-side collection anywhere; everything stays distributed.
  *  - The reference's constant `eventKey = 1` routing key (a single-task
  *    hotspot in Flink, SURVEY.md §7.3) is replaced by a keyless global
  *    aggregation that Spark splits into partial+final automatically.
  *
  * Time-scale mapping: the reference uses a 1 s session gap against a
  * generator emitting every 50-550 ms (ClickstreamProcessor.java:123-129) —
  * i.e. gap ≈ 2-20× the in-session cadence. The testdata `events` table has
  * hour-scale per-user cadence (median gap ≈ 7 h), so the batch defaults
  * scale the same ratio: 12 h gap, 24 h KPI tumbling window (vs 10 s in the
  * reference, ClickstreamProcessor.java:143,152). Both are parameters.
  */
object Clickstream {

  /** Default session gap, ms (analog of the reference's 1 s gap). */
  val DefaultGapMs: Long = 12L * 3600 * 1000
  /** Default KPI tumbling-window width, ms (analog of the 10 s window). */
  val DefaultKpiWindowMs: Long = 24L * 3600 * 1000

  /** `events.event_type` value standing in for the reference's
    * `order_checkout` (UserAggregate.java:30); everything else maps to a
    * qualifying "department" visit (product_type analog, FIXTURES.md §3).
    */
  val CheckoutEventType = "purchase"

  /** Qualifying event (UserAggregate.java:19): the reference excludes
    * product_type ""/"N/A"/null; here the checkout event itself is the
    * non-qualifying analog.
    */
  def qualifying: Column = col("event_type") =!= CheckoutEventType

  /** Assign a per-user session sequence number with gap-based islands:
    * a new session starts when the gap to the previous event is >= gapMs.
    * This is NOT `session_window`'s rule at the tie: the streaming
    * sessionizers merge two events exactly `gapMs` apart (touching windows
    * [t, t+gap) and [t+gap, t+2·gap) merge, as in Flink), so the batch form
    * equals them only on data without an exact-gap tie; pass `gapMs + 1`
    * for the merging rule. Adds `session_seq` (1-based per user).
    *
    * Requires columns `user_id`, `ts_ms`, `event_id` (sort tie-break).
    * One hash shuffle on user_id + per-partition sort — the scalable
    * sessionization shape (equivalent to the reference's keyBy(userid) +
    * merging session windows, ClickstreamProcessor.java:128-129).
    */
  def withSessionIds(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events
      .withColumn("prev_ts_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn(
        "is_new_session",
        when(col("prev_ts_ms").isNull || col("ts_ms") - col("prev_ts_ms") >= gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new_session")).over(byUser))
      .drop("prev_ts_ms", "is_new_session")
  }

  /** Pipeline A core — one row per (user, session), with the reference's
    * session aggregate semantics (SURVEY.md §2.2, order-independent form):
    *
    *  - event_count            = count(qualifying events)
    *  - checkout_event_count   = count(qualifying events at-or-before the
    *                             LAST checkout) — the reference's snapshot
    *                             semantics, last checkout wins
    *                             (UserAggregate.java:30-33)
    *  - dept_list              = sorted distinct qualifying event types,
    *                             comma-joined (HashSet → canonical string)
    *  - event_key              = 1 (constant routing key, UserAggregate.java:35)
    *  - win_begin_ms / win_end_ms = session window [first event, last + gap)
    */
  def sessionize(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
    withSessionIds(events, gapMs)
      // per-event view of the session's last checkout timestamp; a window
      // max avoids a self-join and reuses the user_id clustering
      .withColumn(
        "checkout_ts_ms",
        max(when(col("event_type") === CheckoutEventType, col("ts_ms"))).over(bySession))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(when(qualifying, lit(1))).as("event_count"),
        count(when(qualifying && col("ts_ms") <= col("checkout_ts_ms"), lit(1)))
          .as("checkout_event_count"),
        array_join(array_sort(collect_set(when(qualifying, col("event_type")))), ",")
          .as("dept_list"),
        min(col("ts_ms")).as("win_begin_ms"),
        (max(col("ts_ms")) + lit(gapMs)).as("win_end_ms"))
      .withColumn("event_key", lit(1L))
  }

  /** Pipeline A via the typed accumulator twin: the same gap-island session
    * assignment, but the per-session aggregate is [[UserAggregateTyped]]
    * (the Aggregator replaying UserAggregate.java:17-38 semantics) run as
    * an untyped UDAF alongside the window bounds. Output schema matches
    * [[sessionize]] exactly, so both formulations share one oracle — the
    * registered `cs_sessionize_typed` query proves the accumulator equals
    * the declarative form on real data, not just on spec fixtures.
    *
    * Events map onto the reference's ClickEvent model the same way the
    * declarative form maps them: `purchase` plays `order_checkout` (its
    * product_type "N/A" = non-qualifying), every other event_type is a
    * qualifying department visit.
    */
  def sessionizeTyped(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val agg = udaf(UserAggregateTyped)
    val isCheckout = col("event_type") === CheckoutEventType
    withSessionIds(events, gapMs)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        agg(
          lit(""), // ip — carried, never read (ClickEvent.avsc)
          col("ts_ms"),
          lit(""), // devicetype
          when(isCheckout, lit("order_checkout")).otherwise(col("event_type")),
          when(isCheckout, lit("N/A")).otherwise(col("event_type")),
          col("user_id").cast("int"),
          col("event_id").cast("long"),
          lit(0L)).as("s"),
        min(col("ts_ms")).as("win_begin_ms"),
        (max(col("ts_ms")) + lit(gapMs)).as("win_end_ms"))
      .select(
        col("user_id"),
        col("session_seq"),
        col("s.eventCount").cast("long").as("event_count"),
        col("s.orderCheckoutEventCount").cast("long").as("checkout_event_count"),
        array_join(col("s.deptList"), ",").as("dept_list"),
        col("win_begin_ms"),
        col("win_end_ms"),
        col("s.eventKey").cast("long").as("event_key"))
  }

  /** Pipeline A tail — sessions containing a buy
    * (ClickstreamProcessor.java:133-134).
    */
  def buySessions(sessions: DataFrame): DataFrame =
    sessions.filter(col("checkout_event_count") =!= 0)

  /** Session-gap sensitivity sweep: the session count each candidate gap
    * threshold would produce, in ONE pass — the parameter-tuning readout
    * behind [[withSessionIds]]'s `gapMs` choice. A session starts where
    * the in-user gap is `>= t` (same predicate as the sessionizer), so
    * the count at the production threshold matches the sessionizer's
    * output exactly.
    *
    * Scale: one lag window on the shared user-key clustering, then a
    * SINGLE aggregate computes every threshold's count (no
    * one-job-per-parameter loop, no |thresholds|× row expansion), finally
    * exploded to |thresholds| rows.
    */
  def gapSensitivity(events: DataFrame,
      gapsMs: Seq[Long] = Seq(1000L, 5000L, 30000L, 300000L, 3600000L)): DataFrame = {
    require(gapsMs.nonEmpty, "gapSensitivity needs at least one threshold")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val withGap = events
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("__gap", col("ts_ms") - lag(col("ts_ms"), 1).over(byUser))
    val aggs = gapsMs.map(t =>
      count(when(col("__gap").isNull || col("__gap") >= t, 1)).as(s"__s_$t"))
    withGap
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(gapsMs.map(t =>
        struct(lit(t).as("gap_ms"), col(s"__s_$t").as("n_sessions"))): _*)).as("r"))
      .select(col("r.gap_ms"), col("r.n_sessions"))
  }

  /** The tumbling-window assignment timestamp for pipelines B and C:
    * session records carry event time `window end − 1 ms`
    * (Flink TimeWindow.maxTimestamp(), SURVEY.md §2.4).
    */
  private def sessionEventTime: Column = col("win_end_ms") - lit(1L)

  /** Pipeline B — global session KPIs per tumbling window
    * (UserSessionAggregates.java:16-29). `percent_buy` keeps the
    * reference's integer-division-then-widen-to-double semantics
    * (UserSessionAggregates.java:28): compute (buy*100) div total in
    * 64-bit integers, then cast.
    */
  def userKpis(sessions: DataFrame, windowMs: Long = DefaultKpiWindowMs): DataFrame =
    sessions
      .withColumn("win_start_ms", Cols.tumbleStart(sessionEventTime, windowMs))
      .groupBy(col("win_start_ms"))
      .agg(
        count(lit(1)).as("session_count"),
        count(when(col("checkout_event_count") =!= 0, lit(1))).as("buy_session_count"))
      .withColumn(
        "percent_buy",
        call_function("div", col("buy_session_count") * lit(100L), col("session_count"))
          .cast("double"))
      .withColumn("win_end_ms", col("win_start_ms") + lit(windowMs))

  /** Pipeline C — per-department session counts per tumbling window
    * (DepartmentsFlatMap.java:9-11 explode + reduce). Departments come from
    * the session's distinct dept_list, so the count is "sessions that
    * visited the department in this window".
    */
  def departments(sessions: DataFrame, windowMs: Long = DefaultKpiWindowMs): DataFrame =
    sessions
      .withColumn("win_start_ms", Cols.tumbleStart(sessionEventTime, windowMs))
      .withColumn("department", explode(split(col("dept_list"), ",")))
      .filter(length(col("department")) > 0) // empty dept_list ⇒ no rows (empty set explode)
      .groupBy(col("department"), col("win_start_ms"))
      .agg(count(lit(1)).as("department_count"))
      .withColumn("win_end_ms", col("win_start_ms") + lit(windowMs))

  /** Per-event session features — the feature-engineering view a
    * training pipeline derives from sessionization (event position in
    * session, dwell time since session start, gap to the previous event):
    * the event-level companion to the session-level [[sessionize]].
    *
    * Scale: rides the SAME single user_id shuffle as [[withSessionIds]] —
    * the (user_id, session_seq) windows are sub-clustered under the
    * user_id hash partitioning (a prefix of the key), so Spark adds only
    * sorts, never a second exchange. `gap_ms` is null for each session's
    * first event (no predecessor), matching SQL lag semantics.
    */
  def sessionFeatures(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val bySessionOrdered = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_ms"), col("event_id"))
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
    withSessionIds(events, gapMs)
      .withColumn("event_idx", row_number().over(bySessionOrdered).cast("long"))
      .withColumn("ms_since_start", col("ts_ms") - min(col("ts_ms")).over(bySession))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(bySessionOrdered))
      .select(
        col("event_id"), col("user_id"), col("session_seq"),
        col("event_idx"), col("ms_since_start"), col("gap_ms"))
  }

  /** Within-session dwell time by event type: how long users sit on each
    * event kind before their NEXT in-session action — dwell attributed to
    * the event being left (lead − current), sessions bounded by the same
    * gap-island rule as everything else, so a session's last event has no
    * dwell (no successor to attribute it to). Reports per type the dwell
    * count, exact lower-median / max, and the total milliseconds — the
    * engagement-weighting feature the per-event [[sessionFeatures]] view
    * leaves to its consumers.
    *
    * Scale: rides the single user_id shuffle (the lead window is
    * sub-clustered under it, as in [[sessionFeatures]]); quantiles come
    * from a per-type HISTOGRAM over the dwell domain — an in-session
    * dwell is < gapMs by the island rule, so the histogram is bounded by
    * the gap, never by the event count (the
    * [[graft.ops.TimeSeries.supplierLeadTime]] rank-scan shape; same
    * lower-rank quantile convention).
    */
  def dwellByType(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val bySessionOrdered = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_ms"), col("event_id"))
    val hist = withSessionIds(events, gapMs)
      .withColumn("__dwell", lead(col("ts_ms"), 1).over(bySessionOrdered) - col("ts_ms"))
      .filter(col("__dwell").isNotNull)
      .groupBy(col("event_type"), col("__dwell"))
      .agg(count(lit(1)).as("__k"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("__dwell"))
    hist
      .withColumn("__cum", sum(col("__k")).over(byType))
      .withColumn("__n", sum(col("__k")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(col("__n")).as("n_dwells"),
        sum(col("__dwell") * col("__k")).as("total_dwell_ms"),
        min(when(col("__cum") * 2L >= col("__n"), col("__dwell"))).as("med_dwell_ms"),
        min(when(col("__cum") * 100L >= col("__n") * 95L, col("__dwell"))).as("p95_dwell_ms"),
        max(col("__dwell")).as("max_dwell_ms"))
  }

  /** Conversion by session DEPTH: sessions bucketed by their qualifying
    * event count (capped at 10 — "10+" folds the long tail into one
    * bucket) with the share containing a checkout — the
    * engagement-depth-vs-conversion curve next to [[entryConversion]]'s
    * entry-type cut. Depth counts QUALIFYING events (the session
    * aggregate's event_count semantics); conversion is "the session
    * contains a checkout" (the [[entryConversion]] convention).
    *
    * Scale: rides the single user_id shuffle; the per-session aggregate
    * collapses to ≤ 11 depth buckets.
    */
  def depthConversion(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame =
    withSessionIds(events, gapMs)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(when(qualifying, lit(1))).as("__depth"),
        max(when(col("event_type") === CheckoutEventType, 1L).otherwise(0L)).as("__buy"))
      .select(least(col("__depth"), lit(10L)).as("depth_bucket"), col("__buy"))
      .groupBy(col("depth_bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("__buy")).as("n_converted"))
      .withColumn(
        "conv_e4", graft.Cols.floorDiv(col("n_converted") * 10000L, col("n_sessions")))

  /** Conversion rate by session ENTRY type: sessions grouped by their
    * first event's type, with the share (exact integer e4) that go on to
    * contain a checkout — the landing-page-effectiveness report,
    * composed on the same gap-island sessionizer as everything else.
    *
    * Scale: rides the single user_id shuffle (the session windows are
    * sub-clustered under it, as in [[sessionFeatures]]); the final
    * aggregate runs on |sessions| rows collapsed to |entry types|.
    */
  def entryConversion(events: DataFrame, gapMs: Long = DefaultGapMs): DataFrame = {
    val bySessionOrdered = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_ms"), col("event_id"))
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
    withSessionIds(events, gapMs)
      .withColumn("__rn", row_number().over(bySessionOrdered))
      .withColumn(
        "__has_buy",
        max(when(col("event_type") === CheckoutEventType, 1L).otherwise(0L)).over(bySession))
      .filter(col("__rn") === 1)
      .select(col("event_type").as("entry_type"), col("__has_buy"))
      .groupBy(col("entry_type"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("__has_buy")).as("n_converted"))
      .withColumn(
        "conv_e4", graft.Cols.floorDiv(col("n_converted") * 10000, col("n_sessions")))
  }

  /** JSON encodings with the reference's exact output field names and order
    * (Gson serializes declaration order; SURVEY.md §1.3). Used by the
    * streaming sinks and JSON-parity tests; the driver oracle compares the
    * columnar results above instead.
    */
  def sessionsJson(sessions: DataFrame): DataFrame =
    sessions.select(
      to_json(
        struct(
          col("user_id").cast("long").as("userId"),
          col("event_count").cast("int").as("eventCount"),
          col("checkout_event_count").cast("int").as("orderCheckoutEventCount"),
          split(col("dept_list"), ",").as("deptList"),
          col("event_key").cast("int").as("eventKey"),
          col("win_begin_ms").as("windowBeginTime"),
          col("win_end_ms").as("windowEndTime"))).as("value"))

  def userKpisJson(kpis: DataFrame): DataFrame =
    kpis.select(
      to_json(
        struct(
          col("session_count").cast("int").as("userSessionCount"),
          col("buy_session_count").cast("int").as("userSessionCountWithOrderCheckout"),
          col("percent_buy").as("percentSessionswithBuy"),
          col("win_start_ms").as("windowBeginTime"),
          col("win_end_ms").as("windowEndTime"))).as("value"))

  def departmentsJson(depts: DataFrame): DataFrame =
    depts.select(
      // keyed sink: the reference's Kafka key is the Gson-encoded (quoted)
      // department name (ClickstreamProcessor.java:212)
      to_json(struct(col("department"))).as("key"),
      to_json(
        struct(
          col("department").as("departmentName"),
          col("department_count").cast("int").as("departmentCount"),
          col("win_start_ms").as("windowBeginTime"),
          col("win_end_ms").as("windowEndTime"))).as("value"))
}
