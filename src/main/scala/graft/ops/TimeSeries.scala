package graft.ops

import graft.Cols
import graft.Cols.dec38
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: turning an irregular event stream into the
  * dense per-key/per-period grid a downstream model or dashboard consumes
  * (gap filling + zero-fill + forward-fill — the batch analog of a
  * continuously-emitting windowed stream).
  *
  * Scale shape: the grid is built IN-PLAN from a broadcast 1-row min/max
  * bound (no driver-side collect to learn the date range) crossed with the
  * distinct key set, then exploded — |keys| × |days| rows, tiny next to the
  * event table. The event table itself is touched by exactly one hash
  * aggregate (map-side combined); the forward-fill window shuffles only the
  * grid, never the raw events.
  */
object TimeSeries {

  val DayMs: Long = 86400000L

  /** Dense per-(key, day) daily aggregate over `[min day, max day]` of the
    * whole input: `n_events`/`sum_cents` zero-filled, and the daily average
    * forward-filled from the key's most recent active day (null until a
    * key's first active day — leading gaps have no history to carry).
    *
    * Values fold as integer cents and the carried average is an exact
    * floor in cents·e2 (hundredths of a cent): a `round(avg(double), 4)`
    * here sat exactly on a half boundary at one scale factor and the two
    * engines rounded it opposite ways — the r3 cross-engine-double class,
    * removed by keeping the whole surface integer.
    */
  def gapFillDaily(events: DataFrame, keyCol: String, tsMsCol: String, valueCol: String): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .groupBy(col(keyCol), day.as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100).cast("long")).as("sum_cents"))
      .withColumn(
        "day_avg_cents_e2",
        Cols.floorDiv(col("sum_cents") * 100L, col("n_events")))
    val bounds = events.agg(min(day).as("__d0"), max(day).as("__d1"))
    val grid = events.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val ffill = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(daily, Seq(keyCol, "day"), "left")
      .select(
        col(keyCol),
        col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"),
        last(col("day_avg_cents_e2"), ignoreNulls = true).over(ffill)
          .as("ffill_avg_cents_e2"))
  }

  /** Calendar rolling window per key: for each active (key, day), the
    * event count plus the trailing-`windowDays` total, the number of
    * ACTIVE days inside that calendar window, and their exact integer-e4
    * average. The frame is a RANGE over the day VALUE (not ROWS), so gap
    * days genuinely age out of the window instead of stretching it — the
    * rolling-week semantics a dashboard means, computed without
    * densifying the grid (see [[gapFillDaily]] when a dense grid is the
    * goal).
    *
    * Scale: the events collapse to |keys| × |active days| rows in one
    * map-side-combined hash aggregate; the rolling window runs over that
    * daily table only. All outputs are integers — no cross-engine double
    * surface.
    */
  def rollingDaily(
      events: DataFrame, keyCol: String, tsMsCol: String, windowDays: Int = 7): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .groupBy(col(keyCol), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .select(
        col(keyCol), col("day"), col("n_events"),
        sum(col("n_events")).over(w).as("rolling_n"),
        count(lit(1)).over(w).as("rolling_days"))
      .withColumn("rolling_avg_e4", Cols.floorDiv(col("rolling_n") * 10000, col("rolling_days")))
  }

  /** Burst detection on the event-rate series: hourly buckets whose count
    * exceeds the key's mean by more than `sigmas` standard deviations —
    * decided by the EXACT INTEGER inequality
    * `(n·c − S)² > sigmas²·(n·Q − S²)  ∧  n·c > S`
    * (c = bucket count, S = Σc, Q = Σc², n = #active buckets), i.e. the
    * z-test with both sides multiplied through by n² — no doubles, no
    * sqrt, bit-identical everywhere.
    *
    * Scale: events collapse to |keys| × |hours| buckets in one map-side-
    * combined aggregate; the per-key moments are a second tiny aggregate
    * broadcast back onto the buckets. Only flagged buckets are emitted.
    */
  def burstHours(
      events: DataFrame, keyCol: String, tsMsCol: String, sigmas: Int = 3): DataFrame = {
    val hour = Cols.tumbleStart(col(tsMsCol), 3600000L)
    val buckets = events
      .groupBy(col(keyCol), hour.as("hour_start_ms"))
      .agg(count(lit(1)).as("n_events"))
    val moments = buckets
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("n_events")).as("__s"),
        sum(col("n_events") * col("n_events")).as("__q"))
    val dev = col("__n") * col("n_events") - col("__s")
    buckets
      .join(broadcast(moments), Seq(keyCol))
      .filter(dev > 0 &&
        dev * dev > lit(sigmas.toLong * sigmas) * (col("__n") * col("__q") - col("__s") * col("__s")))
      .select(col(keyCol), col("hour_start_ms"), col("n_events"))
  }

  /** Reactivation counts: per day, users whose event arrives after more
    * than `inactiveDays` of silence — the comeback curve that pairs with
    * [[graft.ops.Analytics.churnRisk]] (one screens who's gone quiet, the
    * other credits the win-backs). A user's FIRST event is an
    * acquisition, not a reactivation.
    *
    * Scale: one lag window on the user key (the shared sessionization
    * clustering), then a hash agg onto |days| rows.
    */
  /** Weekly user-lifecycle matrix — the growth-accounting state table
    * every DAU/WAU dashboard decomposes into: per week, users who are
    * NEW (first-ever activity), RETAINED (also active the prior week),
    * RESURRECTED (active before, but not the prior week), and CHURNED
    * (active the prior week, silent this week). Churn is only counted
    * through the last observed week (a 1-row broadcast max — the data
    * ending is not everyone churning), and a week nobody was active
    * still appears when users churned INTO it. Complements
    * [[reactivations]] (gap-defined, day grain) and the bitmap
    * retention triangle: this is the net-growth ledger
    * (new + resurrected − churned = Δactive, which the spec pins).
    *
    * Scale: one distinct to the (user, week) grain, per-user
    * lag/lead/min windows over that bounded-by-calendar grain, two
    * |weeks|-row rollups full-outer joined. No self-join over users.
    */
  def lifecycleMatrix(events: DataFrame): DataFrame = {
    val week = Cols.floorDiv(Cols.floorDiv(col("ts_ms"), DayMs), 7L)
    val uw = events.select(col("user_id"), week.as("week")).distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val state = uw
      .withColumn("__prev", lag(col("week"), 1).over(byUser))
      .withColumn("__next", lead(col("week"), 1).over(byUser))
      .withColumn("__first",
        min(col("week")).over(Window.partitionBy(col("user_id"))))
    val act = state.groupBy(col("week"))
      .agg(
        sum(when(col("week") === col("__first"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("week") =!= col("__first") && col("__prev") === col("week") - 1L,
          1L).otherwise(0L)).as("n_retained"),
        sum(when(col("week") =!= col("__first") && col("__prev") < col("week") - 1L,
          1L).otherwise(0L)).as("n_resurrected"))
    val maxW = broadcast(uw.agg(max(col("week")).as("__maxw")))
    val churn = state.crossJoin(maxW)
      .filter((col("__next").isNull || col("__next") > col("week") + 1L) &&
        col("week") + 1L <= col("__maxw"))
      .groupBy((col("week") + 1L).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("week"), "full_outer")
      .na.fill(0L, Seq("n_new", "n_retained", "n_resurrected", "n_churned"))
      .select(col("week"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (col("n_new") + col("n_retained") + col("n_resurrected")).as("n_active"),
        col("n_churned"))
  }

  def reactivations(events: DataFrame, inactiveDays: Long = 14L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events
      .select(col("user_id"), col("ts_ms"))
      .withColumn("__gap", col("ts_ms") - lag(col("ts_ms"), 1).over(byUser))
      .filter(col("__gap") > inactiveDays * DayMs)
      .select(Cols.floorDiv(col("ts_ms"), DayMs).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_reactivated"))
  }

  /** Monthly return rate: per calendar month, lineitem quantity flagged
    * 'R' (returned) as an e4 share of total quantity, plus the exact-cent
    * revenue at risk — the merchandising quality series.
    *
    * Scale: one map-side-combined aggregate onto |months| rows.
    */
  def returnRate(lineitem: DataFrame): DataFrame = {
    val ts = col("l_shipdate").cast("timestamp")
    val returned = col("l_returnflag") === "R"
    lineitem
      .groupBy((year(ts) * 12 + month(ts)).cast("long").as("midx"))
      .agg(
        sum(col("l_quantity").cast("long")).as("total_qty"),
        sum(when(returned, col("l_quantity").cast("long")).otherwise(0L))
          .as("returned_qty"),
        sum(when(returned, round(col("l_extendedprice") * 100).cast("long"))
          .otherwise(0L)).as("returned_cents"))
      .select(
        col("midx"), col("total_qty"), col("returned_qty"),
        Cols.floorDiv(col("returned_qty") * 10000, col("total_qty")).as("return_e4"),
        col("returned_cents"))
  }

  /** Integer-exact EWMA of the daily event-count series: per day, the
    * count and its exponentially-weighted moving average in e4 scale with
    * α = 2^-alphaShift — s₀ = x₀·10⁴; sₜ = sₜ₋₁ + ((xₜ·10⁴ − sₜ₋₁) >> shift).
    * The arithmetic right shift floors (Spark `shiftright` ≡ DuckDB `>>`),
    * so the recursion is the same integer sequence on both engines — no
    * float accumulation drift, unlike a pow-weighted window sum.
    *
    * Scale: one map-side-combined aggregate collapses the stream to the
    * |days|-row calendar series; the inherently-sequential recursion then
    * folds over THAT collected array (calendar-sized and bounded — never
    * the data), keeping the operator a narrow two-stage plan at any
    * input size.
    */
  def ewmaDaily(events: DataFrame, alphaShift: Int = 3): DataFrame = {
    require(alphaShift >= 1 && alphaShift <= 30, "alphaShift must be in [1, 30]")
    val daily = events
      .groupBy(Cols.floorDiv(col("ts_ms"), DayMs).as("day"))
      .agg(count(lit(1)).as("n_events"))
    daily
      .agg(sort_array(collect_list(struct(col("day"), col("n_events")))).as("__s"))
      .select(explode(expr(
        s"""aggregate(__s,
           |  cast(array() as array<struct<day:bigint,n_events:bigint,ewma_e4:bigint>>),
           |  (acc, x) -> array_append(acc, named_struct(
           |    'day', x.day, 'n_events', x.n_events,
           |    'ewma_e4', CASE WHEN size(acc) = 0 THEN x.n_events * 10000L
           |      ELSE element_at(acc, -1).ewma_e4
           |        + shiftright(x.n_events * 10000L - element_at(acc, -1).ewma_e4,
           |                     $alphaShift)
           |    END)))""".stripMargin)).as("r"))
      .select(col("r.day"), col("r.n_events"), col("r.ewma_e4"))
  }

  /** Week-over-week growth per key: epoch-week event counts with the
    * previous week's count and the growth rate in exact integer e4
    * (null for a key's first week — no base to grow from). The simplest
    * trend report a dashboard asks for, all-integer.
    *
    * Scale: one map-side-combined aggregate to |keys| × |weeks| rows;
    * the lag window runs over that tiny table.
    */
  def wowGrowth(events: DataFrame, keyCol: String, tsMsCol: String): DataFrame = {
    val week = Cols.floorDiv(col(tsMsCol), DayMs * 7)
    val weekly = events
      .groupBy(col(keyCol), week.as("week"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("week"))
    weekly
      .withColumn("prev_n", lag(col("n_events"), 1).over(w))
      .withColumn(
        "growth_e4",
        when(
          col("prev_n") > 0,
          Cols.floorDiv((col("n_events") - col("prev_n")) * 10000, col("prev_n"))))
  }

  /** Day-of-week seasonality index per key: each weekday's share of the
    * key's events against the uniform 1/7 expectation, as exact integer
    * e4 (index 10000 = exactly average, 20000 = twice the average
    * weekday) — the weekly-rhythm profile. Weekday 0 = Thursday
    * (epoch day 0, 1970-01-01) … deterministic pure integer arithmetic,
    * no calendar/timezone functions to disagree across engines.
    *
    * Scale: one map-side-combined hash aggregate to |keys| × 7 rows;
    * per-key totals re-aggregate THAT table and broadcast back.
    */
  def weekdayIndex(events: DataFrame, keyCol: String, tsMsCol: String): DataFrame = {
    val weekday = pmod(Cols.floorDiv(col(tsMsCol), DayMs), lit(7L))
    val cells = events
      .groupBy(col(keyCol), weekday.as("weekday"))
      .agg(count(lit(1)).as("n_events"))
    val totals = cells.groupBy(col(keyCol)).agg(sum(col("n_events")).as("__total"))
    cells
      .join(broadcast(totals), Seq(keyCol))
      .select(
        col(keyCol), col("weekday"), col("n_events"),
        // share/(1/7) in e4 = n·7·1e4 / total
        Cols.floorDiv(col("n_events") * 70000L, col("__total")).as("index_e4"))
  }

  /** Seasonality-adjusted daily anomalies: each day's event count against
    * its own weekday's exact floor-mean baseline, residual in integer e4
    * of the baseline, flagged beyond ±`flagE4` — the anomaly monitor that
    * doesn't page every Saturday because weekends differ from weekdays
    * (the raw-count z-score does). Composes the [[weekdayIndex]] weekday
    * decomposition with the daily series; everything is integer, so the
    * report hashes identically on any engine.
    *
    * Scale: events collapse to the |days|-row daily table once; weekday
    * baselines are a 7-row broadcast re-aggregate of THAT table.
    */
  def seasonalResiduals(events: DataFrame, flagE4: Long = 2000L): DataFrame = {
    val daily = events
      .groupBy(Cols.floorDiv(col("ts_ms"), DayMs).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("weekday", pmod(col("day"), lit(7L)))
    val base = daily.groupBy(col("weekday"))
      .agg(Cols.floorDiv(sum(col("n_events")), count(lit(1))).as("expected"))
    daily
      .join(broadcast(base), Seq("weekday"))
      .select(
        col("day"), col("weekday"), col("n_events"), col("expected"),
        Cols.floorDiv(
          (col("n_events") - col("expected")) * 10000L,
          greatest(col("expected"), lit(1L))).as("resid_e4"))
      .withColumn(
        "flagged",
        when(abs(col("resid_e4")) >= flagE4, lit(1L)).otherwise(lit(0L)))
  }

  /** Classical additive decomposition of the daily event-count series into
    * trend + weekly seasonal + residual — the [[seasonalResiduals]] monitor
    * grown into the full three-component readout a capacity planner or
    * anomaly triage reads. Components, all exact integer e4:
    *
    *  - `trend_e4`: centered 7-day moving average (full windows only — the
    *    first/last 3 days have no defined trend, the classical convention).
    *  - `seasonal_e4`: per-weekday floor-mean of the detrended series,
    *    re-centered by subtracting the floor-mean of the 7 weekday indices
    *    (so Σ seasonal over the week sits in [0, 6] e4 — zero up to floor
    *    remainders). Weekday 0 = Thursday (epoch day 0), pure integer
    *    arithmetic, no calendar functions to disagree across engines.
    *  - `resid_e4`: detrended − seasonal; exactly 0 on a pure
    *    trend+weekly-pattern series (pinned by spec). Null outside the
    *    trend's support.
    *
    * Scale: events collapse to the |days|-row daily table in one map-side-
    * combined aggregate; the ±3-day window and the 7-row seasonal fit run
    * over that calendar-bounded table only (the ev_xcorr bound —
    * PlanAudit.BoundedGlobalWindow), and the weekday join broadcasts 7 rows.
    */
  def decomposeWeekly(events: DataFrame): DataFrame = {
    // densify over [min day, max day] (the gapFillDaily in-plan-bounds
    // shape): a silent day IS a zero of the count series — without the
    // grid the ±3-ROW window silently spans >7 calendar days around any
    // gap and the full-window guard can't see it
    val active = events
      .groupBy(Cols.floorDiv(col("ts_ms"), DayMs).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = active.agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
    val daily = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("day"))
      .join(active, Seq("day"), "left")
      .select(
        col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .withColumn("weekday", pmod(col("day"), lit(7L)))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn(
        "trend_e4",
        when(
          count(lit(1)).over(w7) === 7,
          Cols.floorDiv(sum(col("n_events")).over(w7) * 10000L, 7L)))
      .withColumn("det_e4", col("n_events") * 10000L - col("trend_e4"))
    // 7-row weekday fit; the re-centering window spans those 7 rows only
    val wWeek = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val seasonal = trended
      .filter(col("det_e4").isNotNull)
      .groupBy(col("weekday"))
      .agg(Cols.floorDiv(sum(col("det_e4")), count(lit(1))).as("__raw_e4"))
      .select(
        col("weekday"),
        (col("__raw_e4") - Cols.floorDiv(
          sum(col("__raw_e4")).over(wWeek),
          count(lit(1)).over(wWeek))).as("seasonal_e4"))
    trended
      .join(broadcast(seasonal), Seq("weekday"), "left")
      .select(
        col("day"), col("weekday"), col("n_events"),
        col("trend_e4"), col("seasonal_e4"),
        (col("det_e4") - col("seasonal_e4")).as("resid_e4"))
  }

  /** Incremental-aggregate maintenance proof: merge a SNAPSHOT aggregate
    * with a DELTA aggregate by re-aggregating the algebraic pieces
    * (counts and sums add; min/max combine) — the daily-pipeline pattern
    * where yesterday's 100 TB is never rescanned, only the new day is.
    * `splitDay` plays the snapshot/delta boundary; the result is
    * bit-identical to aggregating the full input (the oracle), which is
    * exactly the property that makes the incremental plan safe to ship.
    *
    * Scale: the snapshot side would be a stored aggregate table in
    * production — here both sides fold map-side before one tiny merge.
    */
  def incrementalMerge(
      events: DataFrame, keyCol: String, tsMsCol: String, valueCol: String,
      splitDay: Long): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    // values fold as integer cents: double partial sums would make the
    // merged total depend on the split point (float addition isn't
    // associative); integer cents re-associate exactly
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col(keyCol))
        .agg(
          count(lit(1)).as("n_events"),
          sum(round(col(valueCol) * 100).cast("long")).as("__cents"),
          min(col(valueCol)).as("min_value"),
          max(col(valueCol)).as("max_value"))
    val snapshot = partial(events.filter(day < splitDay))
    val delta = partial(events.filter(day >= splitDay))
    snapshot.union(delta)
      .groupBy(col(keyCol))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("__cents")).as("sum_cents"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
  }

  /** CDC last-state compaction: collapse a change/event stream to one
    * row per key holding the LATEST observation's payload — the "apply
    * the changelog to a snapshot" batch primitive. The winner is picked
    * by a struct-ordered max on (ts, tieCol, payload...): the (ts, tie)
    * prefix is unique, so the pick is deterministic and needs ONE
    * map-side-combined hash aggregate — no window pass, no per-key sort,
    * no self-join.
    */
  def latestState(
      events: DataFrame, keyCol: String, tsMsCol: String, tieCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "latestState needs at least one payload column")
    val ordered = struct(
      col(tsMsCol) +: col(tieCol) +: payloadCols.map(col): _*)
    events
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_changes"), max(ordered).as("__w"))
      .select(
        col(keyCol) +: col("n_changes") +:
          col(s"__w.$tsMsCol").as(s"last_$tsMsCol") +:
          payloadCols.map(c => col(s"__w.$c").as(s"last_$c")): _*)
  }

  /** OHLC downsampling: per (key, day) the first/highest/lowest/last
    * value plus count and sum — the classic bar-chart / candle reduction
    * that turns an event stream into a bounded daily series. Open/close
    * are picked by a struct-ordered min/max on (ts, event_id, value):
    * (ts, event_id) is unique per event, so the pick is deterministic
    * with no self-join and no window pass — ONE map-side-combined hash
    * aggregate is the whole operator.
    */
  def ohlcDaily(
      events: DataFrame, keyCol: String, tsMsCol: String, valueCol: String,
      idCol: String = "event_id"): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val orderKey = struct(col(tsMsCol), col(idCol), col(valueCol))
    events
      .groupBy(col(keyCol), day.as("day"))
      .agg(
        min(orderKey).getField(valueCol).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(orderKey).getField(valueCol).as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
  }

  /** Slowly-changing-dimension (type 2) builder: collapse a keyed event
    * stream of status observations into validity intervals — one row per
    * (key, status run) with `[valid_from_ms, valid_to_ms)`, open (null
    * `valid_to_ms`) for the current status. Consecutive repeats of the
    * same status merge into one interval (the observation stream is
    * usually denser than the change stream).
    *
    * Scale: one window over the key — the sessionization shuffle shape —
    * with a gap-islands run-id (same construction as the sessionizer),
    * then one hash aggregate per run.
    */
  def scd2(
      events: DataFrame, keyCol: String, statusCol: String, tsMsCol: String,
      orderTieCol: String): DataFrame = {
    val seq = Window.partitionBy(col(keyCol)).orderBy(col(tsMsCol), col(orderTieCol))
    val runs = events
      .select(col(keyCol), col(statusCol), col(tsMsCol), col(orderTieCol))
      .withColumn(
        "__new_run",
        when(
          lag(col(statusCol), 1).over(seq).isNull ||
            lag(col(statusCol), 1).over(seq) =!= col(statusCol),
          1L).otherwise(0L))
      .withColumn("__run", sum(col("__new_run")).over(
        Window.partitionBy(col(keyCol)).orderBy(col(tsMsCol), col(orderTieCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = runs
      .groupBy(col(keyCol), col("__run"))
      .agg(min(col(tsMsCol)).as("valid_from_ms"), first(col(statusCol)).as(statusCol))
    val nextRun = Window.partitionBy(col(keyCol)).orderBy(col("__run"))
    intervals
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(nextRun))
      .select(col(keyCol), col(statusCol), col("valid_from_ms"), col("valid_to_ms"))
  }

  /** Point-in-time (AS OF) read of the [[scd2]] dimension: each key's
    * status valid at the probe instant T — the query that makes an SCD2
    * table worth building, pinned here as a registered composition so
    * the interval semantics (closed start, open end, NULL = current)
    * are oracle-checked end to end. T is the in-plan midpoint of the
    * observed stream (1-row broadcast — no driver-side timestamp), and
    * a row qualifies when `valid_from ≤ T < coalesce(valid_to, ∞)`:
    * exactly one row per key that existed by T, zero for keys born
    * later.
    *
    * Scale: the dimension build is [[scd2]] (one shuffle on the key);
    * the AS OF filter is map-only on the interval table. A production
    * reader probes a MATERIALIZED scd2 table the same way — this
    * composition just keeps the whole path in one checked plan.
    */
  def scd2AsOf(
      events: DataFrame, keyCol: String, statusCol: String, tsMsCol: String,
      orderTieCol: String): DataFrame = {
    val t = org.apache.spark.sql.functions.broadcast(
      events.agg(Cols.floorDiv(
        min(col(tsMsCol)) + max(col(tsMsCol)), 2L).as("__t")))
    scd2(events, keyCol, statusCol, tsMsCol, orderTieCol)
      .crossJoin(t)
      .filter(col("valid_from_ms") <= col("__t") &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > col("__t")))
      .select(
        col(keyCol), col(statusCol).as("status_at_t"),
        col("valid_from_ms").as("since_ms"), col("__t").as("probe_ms"))
  }

  /** Per-key linear trend over the daily count series: the least-squares
    * slope of `n_events` against the day index, in exact integer
    * ten-thousandths per day. Day indexes are rebased to the GLOBAL min
    * day (a broadcast 1-row bound folded into the plan) so the sums stay
    * small, and the slope is the textbook
    * `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` computed in DECIMAL(38,0) —
    * at 100 TB a per-day count can reach 1e12, putting the numerator×1e4
    * past an int64; decimal keeps the floor division exact rather than
    * silently wrapping.
    *
    * Scale: events collapse to |keys| × |days| in one map-side-combined
    * aggregate; everything after runs on that tiny daily table.
    */
  def trendSlope(events: DataFrame, keyCol: String, tsMsCol: String): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .groupBy(col(keyCol), day.as("__day"))
      .agg(count(lit(1)).as("__y"))
    val base = events.agg(min(day).as("__d0"))
    val sums = daily
      .crossJoin(broadcast(base))
      .select(col(keyCol), (col("__day") - col("__d0")).as("__x"), col("__y"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("__y")).as("sum_y"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
    val num = (dec38(col("n_days")) * dec38(col("__sxy"))
      - dec38(col("__sx")) * dec38(col("sum_y"))) * dec38(lit(10000))
    val den = (dec38(col("n_days")) * dec38(col("__sxx"))
      - dec38(col("__sx")) * dec38(col("__sx")))
    sums.select(
      col(keyCol), col("n_days"), col("sum_y"),
      // a single-day key has zero x-variance — no trend is defined
      when(den =!= 0, Cols.floorDiv(num, den).cast("long")).as("slope_e4"))
  }

  /** Data-freshness audit: per group (source, event type, partition…),
    * the row count, latest timestamp, and how far it lags the freshest
    * group — the "which feed stopped" monitor a pipeline checks before
    * trusting a batch. Staleness is relative to the data's own max (not
    * wall clock), so the readout is deterministic and replayable.
    *
    * Scale: one map-side-combined aggregate to |groups| rows; the global
    * max is the usual in-plan broadcast 1-row aggregate.
    */
  def freshness(events: DataFrame, groupCol: String, tsMsCol: String = "ts_ms"): DataFrame =
    events
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"), max(col(tsMsCol)).as("max_ts_ms"))
      .crossJoin(broadcast(
        events.agg(max(col(tsMsCol)).as("__gmax"))))
      .select(
        col(groupCol), col("n_events"), col("max_ts_ms"),
        (col("__gmax") - col("max_ts_ms")).as("staleness_ms"))

  /** Seasonal-naive forecast backtest: predict each day's event count
    * with the count `seasonDays` earlier (f(d) = n(d − season)), then
    * score the forecast over every day that HAS a baseline — exact
    * integer bias / MAE / MAPE in e4 (per-day APE floor-quantized before
    * the mean: quantize-then-sum). The honest-baseline harness any fancier
    * forecaster ([[ewmaDaily]], [[trendSlope]]) must beat before it ships.
    *
    * Scale: one map-side-combined aggregate to the |days|-row series,
    * one calendar-shifted equi-join of that series with itself, one
    * 1-row final aggregate.
    */
  def forecastBacktest(events: DataFrame, seasonDays: Long = 7L): DataFrame = {
    require(seasonDays >= 1, "seasonDays must be positive")
    val daily = events
      .groupBy(Cols.floorDiv(col("ts_ms"), DayMs).as("day"))
      .agg(count(lit(1)).as("n"))
    val forecast = daily.select((col("day") + seasonDays).as("day"), col("n").as("__f"))
    daily.join(forecast, Seq("day"))
      .select(
        (col("n") - col("__f")).as("__err"),
        // observed days have n >= 1, so the APE denominator is never 0
        Cols.floorDiv(abs(col("n") - col("__f")) * 10000, col("n")).as("__ape_e4"))
      .agg(
        count(lit(1)).as("n_eval_days"),
        coalesce(sum(col("__err")), lit(0L)).as("bias"),
        coalesce(sum(abs(col("__err"))), lit(0L)).as("sum_abs_err"),
        coalesce(sum(col("__ape_e4")), lit(0L)).as("__sum_ape"))
      .select(
        col("n_eval_days"), col("bias"), col("sum_abs_err"),
        when(col("n_eval_days") > 0,
          Cols.floorDiv(col("sum_abs_err") * 10000, col("n_eval_days")))
          .otherwise(lit(0L)).as("mae_e4"),
        when(col("n_eval_days") > 0,
          Cols.floorDiv(col("__sum_ape"), col("n_eval_days")))
          .otherwise(lit(0L)).as("mape_e4"))
  }

  /** Theil–Sen robust trend of the global daily count series: the median
    * of all pairwise slopes (integer e4/day, each floor-quantized BEFORE
    * the median — quantize-then-aggregate), with the p25/p75 slope band.
    * One wild day barely moves this; it drags [[trendSlope]]'s
    * least-squares slope proportionally to its residual.
    *
    * Scale: events collapse to the |days|-row calendar series first; the
    * O(|days|²) pair join runs on that bounded table (years² pairs, not
    * data²) — all-pairs-on-calendar by design, never all-pairs-on-data.
    */
  def theilSen(events: DataFrame, tsMsCol: String = "ts_ms"): DataFrame = {
    val daily = events
      .groupBy(Cols.floorDiv(col(tsMsCol), DayMs).as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select(col("day").as("__d1"), col("n").as("__n1"))
    val b = daily.select(col("day").as("__d2"), col("n").as("__n2"))
    a.join(b, col("__d1") < col("__d2"))
      .select(Cols.floorDiv(
        (col("__n2") - col("__n1")) * 10000, col("__d2") - col("__d1")).as("__s"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(expr("percentile(__s, 0.5)"), 4).as("slope_med_e4"),
        round(expr("percentile(__s, 0.25)"), 4).as("slope_p25_e4"),
        round(expr("percentile(__s, 0.75)"), 4).as("slope_p75_e4"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"),
        col("slope_med_e4"), col("slope_p25_e4"), col("slope_p75_e4"))
  }

  /** CUSUM change-point detection on the daily count series: per key, the
    * day where the cumulative deviation from the key's mean rate peaks —
    * the classic "when did the level shift" detector. The statistic is
    * kept integral by multiplying through by the day count:
    * `cusum_k = Σ_{i≤k} (n·c_i − S)` (c = daily count, S = Σc, n = #days),
    * so engines agree bit-for-bit with no running double sum.
    *
    * Scale: one hash aggregate collapses events to |keys| × |days|; the
    * per-key totals broadcast back; the running sum and argmax windows
    * run over the daily table only. Ties break to the earliest day.
    */
  def cusumChangePoint(events: DataFrame, keyCol: String, tsMsCol: String): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .groupBy(col(keyCol), day.as("day"))
      .agg(count(lit(1)).as("__c"))
    val totals = daily
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"), sum(col("__c")).as("__s"))
    val run = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily
      .join(broadcast(totals), Seq(keyCol))
      .withColumn("__cusum", sum(col("n_days") * col("__c") - col("__s")).over(run))
    val best = Window.partitionBy(col(keyCol))
      .orderBy(abs(col("__cusum")).desc, col("day"))
    cusum
      .withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1)
      .select(
        col(keyCol), col("n_days"),
        col("day").as("change_day"),
        abs(col("__cusum")).as("cusum_scaled"))
  }

  /** Lag-k autocorrelation of the daily count series, exact integer e4 —
    * "does today's volume predict tomorrow's / next week's?". Deviations
    * are taken as `n·cᵢ − S` (multiplied through by the day count, the
    * [[burstHours]]/[[cusumChangePoint]] trick), so
    * `r_k = Σ devᵢ·devᵢ₊ₖ / Σ devᵢ²` is a ratio of exact integers and
    * both engines floor-divide identically — no running double sums.
    * Computed over the DENSE zero-filled calendar grid (gap days are
    * real observations of zero), so lag k means k CALENDAR days, not k
    * active rows. Products run in DECIMAL(38,0): a 1e12-events/day key
    * has dev² ≈ 1e27, far past int64.
    *
    * Scale: same in-plan grid as [[gapFillDaily]] (broadcast bounds ×
    * distinct keys); one window pass computes every lag's lead column.
    */
  def autocorrDaily(
      events: DataFrame, keyCol: String, tsMsCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1)
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .groupBy(col(keyCol), day.as("day"))
      .agg(count(lit(1)).as("__c"))
    val bounds = events.agg(min(day).as("__d0"), max(day).as("__d1"))
    val grid = events.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val dense = grid.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"), coalesce(col("__c"), lit(0L)).as("__c"))
    val stats = dense.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    val withDev = dense.join(broadcast(stats), Seq(keyCol))
      .withColumn("__dev", col("__n") * col("__c") - col("__s"))
    val withLeads = withDev.select(
      Seq(col(keyCol), col("__n"), col("__dev")) ++
        (1 to maxLag).map(k => lead(col("__dev"), k).over(w).as(s"__dev$k")): _*)
    val aggs =
      Seq(
        first(col("__n")).as("n_days"),
        sum(dec38(col("__dev")) * dec38(col("__dev"))).as("__den")) ++
        (1 to maxLag).map(k =>
          sum(dec38(col("__dev")) * dec38(col(s"__dev$k"))).as(s"__num$k"))
    val moments = withLeads.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    moments
      .select(
        col(keyCol), col("n_days"),
        explode(array((1 to maxLag).map(k =>
          struct(
            lit(k.toLong).as("lag"),
            // constant series (den = 0): autocorrelation undefined → null
            when(
              col("__den") =!= 0,
              Cols.floorDiv(col(s"__num$k") * dec38(lit(10000)), col("__den")))
              .cast("long").as("r_e4"))): _*)).as("__x"))
      .select(col(keyCol), col("__x.lag"), col("n_days"), col("__x.r_e4"))
  }

  /** Lead–lag cross-correlation between two event types' daily series —
    * the pairwise partner of [[autocorrDaily]]: for lags −maxLag..maxLag,
    * the Pearson correlation of series A against series B shifted k days
    * (positive k: A leads B; negative: B leads A) — "do errors predict
    * next-day purchases, or follow them". Deviations are the exact
    * mean-scaled integers `n·c − Σc` per series, the lag products and
    * denominators accumulate in 38-digit decimals, and ONLY the final
    * division runs in doubles (rounded to 6, the cosine discipline), so
    * both engines agree bit-for-bit. Gap days count as zero activity via
    * the same broadcast-bounds day grid [[autocorrDaily]] uses; a
    * constant series (zero variance) yields NULL, not a crash.
    *
    * Scale: one map-side-combined aggregate to 2·|days| rows, the lag
    * window over the |days|-row dense grid (calendar-bounded — the
    * documented [[graft.PlanAudit.BoundedGlobalWindow]] class), one
    * 1-row moment reduce, and a (2·maxLag+1)-row explode.
    */
  def xcorrDaily(
      events: DataFrame, typeA: String, typeB: String,
      tsMsCol: String = "ts_ms", maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1)
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val daily = events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(day.as("day"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("__cb"))
    val bounds = events.agg(min(day).as("__d0"), max(day).as("__d1"))
    val dense = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(
        col("day"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val stats = broadcast(dense.agg(
      count(lit(1)).as("__n"), sum(col("__ca")).as("__sa"), sum(col("__cb")).as("__sb")))
    val w = Window.orderBy(col("day"))
    val withDev = dense.crossJoin(stats)
      .withColumn("__da", col("__n") * col("__ca") - col("__sa"))
      .withColumn("__db", col("__n") * col("__cb") - col("__sb"))
    val lags = (-maxLag to maxLag).toSeq
    def shifted(k: Int) =
      if (k >= 0) lead(col("__db"), k).over(w) else lag(col("__db"), -k).over(w)
    val withLeads = withDev.select(
      Seq(col("__n"), col("__da"), col("__db")) ++
        lags.map(k => shifted(k).as(s"__dbs$k")): _*)
    val aggs =
      Seq(
        // count, not first(__n): over an empty grid the global aggregate
        // still emits one row, and the oracle's count(*) says 0 there —
        // first() would say NULL and diverge
        count(lit(1)).as("n_days"),
        sum(dec38(col("__da")) * dec38(col("__da"))).as("__dena"),
        sum(dec38(col("__db")) * dec38(col("__db"))).as("__denb")) ++
        lags.map(k =>
          sum(dec38(col("__da")) * dec38(col(s"__dbs$k"))).as(s"__num$k"))
    val moments = withLeads.agg(aggs.head, aggs.tail: _*)
    moments
      .select(
        col("n_days"),
        explode(array(lags.map(k =>
          struct(
            lit(k.toLong).as("lag"),
            when(
              col("__dena") =!= 0 && col("__denb") =!= 0,
              round(
                col(s"__num$k").cast("double") /
                  sqrt(col("__dena").cast("double") * col("__denb").cast("double")),
                6)).as("r"))): _*)).as("__x"))
      .select(col("__x.lag"), col("n_days"), col("__x.r"))
  }

  /** Time-in-status report composed on [[scd2]]: per status value, the
    * interval count, total dwell milliseconds, and exact-e4 share of all
    * observed dwell time — "how long do users sit in each state", the
    * duration-weighted complement of simple status counts. Open
    * intervals (current status) are capped at the global max timestamp
    * (a broadcast 1-row bound), so every interval is finite and the
    * shares sum to ≤ 1e4.
    *
    * Scale: [[scd2]]'s one keyed window + per-run aggregate, then two
    * tiny aggregates over the |intervals| table; the cap and the share
    * denominator are in-plan 1-row broadcasts (no driver actions).
    */
  def statusTimeShare(
      events: DataFrame, keyCol: String, statusCol: String, tsMsCol: String,
      orderTieCol: String): DataFrame = {
    val intervals = scd2(events, keyCol, statusCol, tsMsCol, orderTieCol)
    val bound = broadcast(events.agg(max(col(tsMsCol)).as("__end")))
    val durations = intervals
      .crossJoin(bound)
      .select(
        col(statusCol),
        (coalesce(col("valid_to_ms"), col("__end")) - col("valid_from_ms")).as("__dur"))
    val total = broadcast(durations.agg(sum(col("__dur")).as("__total")))
    durations
      .groupBy(col(statusCol))
      .agg(count(lit(1)).as("n_intervals"), sum(col("__dur")).as("total_ms"))
      .crossJoin(total)
      .select(
        col(statusCol), col("n_intervals"), col("total_ms"),
        Cols.floorDiv(col("total_ms") * 10000, col("__total")).as("share_e4"))
  }

  /** Daily active users split into new (first-ever-seen that day) and
    * returning. One cohort aggregate (user → first day) joined back on
    * the shared user key, then a day-level rollup — the growth-accounting
    * report.
    */
  def dauNewReturning(events: DataFrame, tsMsCol: String = "ts_ms"): DataFrame = {
    val day = Cols.floorDiv(col(tsMsCol), DayMs)
    val firstDay = events
      .groupBy(col("user_id"))
      .agg(min(day).as("first_day"))
    events
      .select(col("user_id"), day.as("day"))
      .distinct()
      .join(firstDay, "user_id")
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("dau"),
        count(when(col("day") === col("first_day"), 1)).as("new_users"))
      .withColumn("returning_users", col("dau") - col("new_users"))
  }

  /** Order backlog level by day: each order occupies the day-granular
    * interval [order day, last-line ship day] (end-inclusive), and
    * `open_eod(d)` is the number of such intervals covering day d's end —
    * the operations "how deep is the fulfillment queue" series. Orders
    * with no lineitems have no known fulfillment and are excluded.
    *
    * Scale: one per-order shipdate max (hash agg on the join key), one
    * orderkey equi-join, then ±1 deltas collapse to the per-day net table
    * — |days| rows — whose running sum is the level. The only window runs
    * over that driver-scale table, never the orders ([[Analytics
    * .sessionConcurrency]]'s decomposition, minus the intra-day term that
    * day granularity makes moot).
    */
  /** Repurchase cycle per part: the day gaps between a customer's
    * consecutive DISTINCT order days of the same part, aggregated to the
    * part — the replenishment-rate signal behind reorder forecasting.
    * Parts nobody re-bought have no gaps and are absent.
    *
    * Scale: one orderkey equi-join, one distinct on (cust, part, day) —
    * all sharing the same shuffle lineage — then a lag window keyed by
    * (cust, part) (tiny partitions by construction) and a hash agg onto
    * |parts| rows. avg_days_e4 is an exact integer floor division.
    */
  def repurchaseCycle(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val byPair = Window
      .partitionBy(col("o_custkey"), col("l_partkey")).orderBy(col("__day"))
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey"), col("l_partkey"),
        Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), DayMs).as("__day"))
      .distinct()
      .withColumn("__gap", col("__day") - lag(col("__day"), 1).over(byPair))
      .filter(col("__gap").isNotNull)
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_cycles"),
        min(col("__gap")).as("min_days"),
        Cols.floorDiv(sum(col("__gap")) * 10000, count(lit(1))).as("avg_days_e4"),
        max(col("__gap")).as("max_days"))
  }

  /** Fulfillment SLA by order priority: the share of orders whose LAST
    * line shipped within `slaDays` of the order date, in exact e4 —
    * the service-level report ops reviews weekly. Orders with no lines
    * are excluded ([[openOrders]]' rule).
    *
    * Scale: the same per-order shipdate max + orderkey join as
    * [[openOrders]], then one hash agg onto |priorities| rows.
    */
  def fillRate(orders: DataFrame, lineitem: DataFrame, slaDays: Long = 30L): DataFrame = {
    val shipped = lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(Cols.floorDiv(unix_millis(col("l_shipdate").cast("timestamp")), DayMs))
        .as("__sd"))
    orders
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), DayMs).as("__pd"))
      .join(shipped, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(col("__sd") - col("__pd") <= slaDays, 1)).as("n_within_sla"))
      .select(
        col("o_orderpriority"), col("n_orders"), col("n_within_sla"),
        Cols.floorDiv(col("n_within_sla") * 10000, col("n_orders")).as("fill_e4"))
  }

  /** Local-maximum peak days with prominence — the event-calendar
    * readout the global-threshold monitors (burst z², MAD outliers,
    * CUSUM) structurally miss: a launch-day spike inside an upward
    * trend is a LOCAL maximum even when the trend's tail days exceed it
    * absolutely. A day is a peak when it strictly beats every day in
    * the `w`-day window before it and ties-or-beats every day after
    * (first-of-plateau rule), and clears `minRatioE4` against the
    * type's median daily volume — the prominence floor that keeps quiet
    * series from emitting noise peaks.
    *
    * Scale: one (type × day) hash aggregate; the neighbor maxima are
    * two RANGE windows partitioned by type (gap days age out by value,
    * no densify needed); the median is one |types|-row aggregate over
    * calendar-bounded arrays.
    */
  def peakDays(events: DataFrame, w: Long = 3L, minRatioE4: Long = 12000L): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), DayMs)
    val daily = events
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val med = daily.groupBy(col("event_type"))
      .agg(Cols.lowerMedian(col("n_events")).as("__med"))
    daily
      .withColumn("__lm", max(col("n_events")).over(byType.rangeBetween(-w, -1L)))
      .withColumn("__rm", max(col("n_events")).over(byType.rangeBetween(1L, w)))
      .join(med, "event_type")
      .filter(col("n_events") > coalesce(col("__lm"), lit(0L)) &&
        col("n_events") >= coalesce(col("__rm"), lit(0L)))
      .select(
        col("event_type"), col("day"), col("n_events"),
        coalesce(col("__lm"), lit(0L)).as("left_max"),
        coalesce(col("__rm"), lit(0L)).as("right_max"),
        Cols.floorDiv(col("n_events") * 10000L, greatest(col("__med"), lit(1L)))
          .as("ratio_med_e4"))
      .filter(col("ratio_med_e4") >= minRatioE4)
  }

  /** Per-user activity streaks — the engagement-depth feature DAU-style
    * counts can't carry: for every user, the active-day count, how many
    * maximal consecutive-day runs (streaks) those days form, the longest
    * streak, and where the best streak starts (longest wins, ties → the
    * LATER start — the struct-max rule, deterministic). Classic
    * gaps-and-islands: on a user's distinct active days sorted ascending,
    * `day − row_number` is constant exactly within a consecutive run.
    *
    * Scale: one distinct (user × day) aggregate, a row_number window
    * sub-clustered under the same user hash shuffle, then two shrinking
    * hash aggregates (user × island → user). A user's island count is
    * bounded by their active days — human scale.
    */
  def activeStreaks(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), DayMs)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    events.select(col("user_id"), day.as("day")).distinct()
      .withColumn("__island", col("day") - row_number().over(byUser))
      .groupBy(col("user_id"), col("__island"))
      .agg(count(lit(1)).as("__len"), min(col("day")).as("__start"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("max_streak_days"),
        max(struct(col("__len"), col("__start"))).getField("__start")
          .as("best_streak_start_day"))
  }

  /** Record-setting days per event type: each day whose count strictly
    * beats every earlier day's for that type — the running all-time-high
    * table a growth report anchors on — with the previous record's count
    * and the days waited since it. A type's first day is a record with
    * no predecessor (nulls, SQL lag semantics).
    *
    * Scale: one (type × day) hash aggregate, then running-max/lag
    * windows PARTITIONED by type over the calendar-bounded daily table —
    * never data-sized, never single-partition (the [[peakDays]] class).
    */
  def recordDays(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), DayMs)
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val records = events
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("__prev_max",
        max(col("n_events")).over(byDay.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("__prev_max").isNull || col("n_events") > col("__prev_max"))
    records
      .select(
        col("event_type"), col("day"), col("n_events"),
        lag(col("n_events"), 1).over(byDay).as("prev_record_events"),
        (col("day") - lag(col("day"), 1).over(byDay)).as("days_since_prev_record"))
  }

  /** Fano factor (variance-to-mean of calendar-daily counts) per event
    * type — the burstiness screen at stream grain ([[graft.text
    * .TextAnalysis]] scores doc-level burstiness; THIS says whether a
    * type arrives Poisson-like (fano ≈ 1e4), regular (< 1e4) or bursty
    * (> 1e4), which is what capacity planning and anomaly thresholds key
    * on). Variance runs over the FULL calendar span (zero days included)
    * via the (n·ΣQ² − S²)·10⁸/n² identity, products widened to
    * decimal(38,0); fano_e4 = ⌊var_e8 / mean_e4⌋.
    *
    * Scale: one (type × day) hash aggregate folded to a |types|-row
    * moment table — no windows, no collects.
    */
  def fanoFactor(events: DataFrame): DataFrame = {
    val mom = events
      .groupBy(col("event_type"), Cols.floorDiv(col("ts_ms"), DayMs).as("day"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("event_type"))
      .agg(
        min(col("day")).as("__d0"), max(col("day")).as("__d1"),
        count(lit(1)).as("n_active_days"),
        sum(col("__c")).as("n_events"),
        sum(dec38(col("__c")) * dec38(col("__c"))).as("__q2"))
    val n = dec38(col("__d1") - col("__d0") + 1L)
    val varE8 = Cols.floorDiv(
      (n * col("__q2") - dec38(col("n_events")) * dec38(col("n_events"))) * dec38(lit(100000000L)),
      n * n)
    mom
      // var_e8 stays decimal(38,0) through the division (the oracle keeps
      // HUGEINT until the readout — the betweennessSample narrowing rule)
      .withColumn("__var_e8", varE8)
      .withColumn("mean_e4",
        Cols.floorDiv(dec38(col("n_events")) * dec38(lit(10000L)), n).cast("long"))
      .select(
        col("event_type"),
        (col("__d1") - col("__d0") + 1L).as("span_days"),
        col("n_active_days"), col("n_events"), col("mean_e4"),
        Cols.floorDiv(col("__var_e8"), greatest(col("mean_e4"), lit(1L))).as("fano_e4"))
  }

  /** Supplier lead-time reliability: the order-to-ship lag distribution
    * per supplier — the sourcing-review twin of [[fillRate]] (which
    * grades ORDERS against an SLA; this grades SUPPLIERS against each
    * other). Delay = ship day − order day per line. Median and p95 come
    * from a per-supplier HISTOGRAM over the bounded delay domain, not a
    * per-supplier collect — a supplier's line count is unbounded at
    * 100 TB but its distinct delay-day values are calendar-bounded, so
    * the rank scan is a partitioned window over ≤|delay-domain| rows.
    * Lower-rank convention: the p-quantile is the smallest delay whose
    * cumulative count reaches ⌈p·n⌉.
    *
    * Scale: one order-keyed join (the [[fillRate]] shape), one
    * (supplier × delay) hash aggregate, one partitioned window over the
    * bounded histogram, one supplier-grain readout.
    */
  def supplierLeadTime(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val delay = Cols.floorDiv(
      unix_millis(col("l_shipdate").cast("timestamp")), DayMs) -
      Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), DayMs)
    val hist = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"), delay.as("__delay"))
      .agg(count(lit(1)).as("__k"))
    val bySupp = Window.partitionBy(col("l_suppkey")).orderBy(col("__delay"))
    val cum = hist
      .withColumn("__cum", sum(col("__k")).over(bySupp))
      .withColumn("__n", sum(col("__k")).over(Window.partitionBy(col("l_suppkey"))))
    cum
      .groupBy(col("l_suppkey"))
      .agg(
        max(col("__n")).as("n_lines"),
        // "late" against the fillRate SLA line, not against zero — every
        // ship date trails its order date
        sum(when(col("__delay") > 30L, col("__k")).otherwise(0L)).as("__late"),
        sum(col("__delay") * col("__k")).as("__sum"),
        min(when(col("__cum") * 2L >= col("__n"), col("__delay"))).as("med_delay"),
        min(when(col("__cum") * 100L >= col("__n") * 95L, col("__delay"))).as("p95_delay"),
        max(col("__delay")).as("max_delay"))
      .select(
        col("l_suppkey"), col("n_lines"),
        Cols.floorDiv(col("__late") * 10000L, col("n_lines")).as("late_share_e4"),
        Cols.floorDiv(col("__sum") * 10000L, col("n_lines")).as("mean_delay_e4"),
        col("med_delay"), col("p95_delay"), col("max_delay"))
  }

  /** Backlog aging snapshot: orders still open at the REFERENCE day (the
    * max order day, computed in-plan) bucketed by how long they've
    * waited — the "what's stuck and how badly" ops report. Open = last
    * line ships strictly after the reference day ([[openOrders]]'
    * interval, evaluated at its right edge); age = reference − order day.
    * Output: (o_orderpriority, age_bucket, n_orders).
    *
    * Scale: the reference day is a 1-row broadcast folded into the plan
    * (no driver max()); everything else is the [[fillRate]] join plus one
    * map-only bucketing and a hash agg onto priorities × 3 buckets.
    */
  def backlogAging(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val shipped = lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(Cols.floorDiv(unix_millis(col("l_shipdate").cast("timestamp")), DayMs))
        .as("__sd"))
    val pd = Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), DayMs)
    val ref = broadcast(orders.agg(max(pd).as("__ref")))
    val age = col("__ref") - col("__pd")
    orders
      .select(col("o_orderkey"), col("o_orderpriority"), pd.as("__pd"))
      .join(shipped, col("o_orderkey") === col("l_orderkey"))
      .crossJoin(ref)
      .filter(col("__sd") > col("__ref"))
      .select(
        col("o_orderpriority"),
        when(age <= 7, lit("0-7"))
          .when(age <= 30, lit("8-30"))
          .otherwise(lit("31+")).as("age_bucket"))
      .groupBy(col("o_orderpriority"), col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Weekly stickiness (the DAU/WAU engagement ratio): per 7-day epoch
    * week, `Σ daily-active / (active_days · weekly-active)` in exact e4 —
    * 10000 means every weekly user shows up every active day. Weeks the
    * data skips entirely are absent; days with no events don't dilute
    * (the denominator counts ACTIVE days, making sparse fixtures and
    * full calendars comparable).
    *
    * Scale: one distinct on (user, day) — map-side combined — then two
    * aggregates onto |weeks| and |weeks × active-days| rows.
    */
  def stickiness(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), DayMs)
    val ud = events
      .select(col("user_id"), day.as("day"), Cols.floorDiv(day, 7L).as("week"))
      .distinct()
    val daily = ud.groupBy(col("week"), col("day")).agg(count(lit(1)).as("__dau"))
    val weekly = ud.groupBy(col("week"))
      .agg(count_distinct(col("user_id")).as("wau"))
    daily.groupBy(col("week"))
      .agg(sum(col("__dau")).as("sum_dau"), count(lit(1)).as("active_days"))
      .join(weekly, "week")
      .select(
        col("week"), col("wau"), col("sum_dau"), col("active_days"),
        Cols.floorDiv(col("sum_dau") * 10000, col("active_days") * col("wau"))
          .as("stickiness_e4"))
  }

  def openOrders(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val placed = orders.select(
      col("o_orderkey"),
      Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), DayMs).as("__pd"))
    val shipped = lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(Cols.floorDiv(unix_millis(col("l_shipdate").cast("timestamp")), DayMs)).as("__sd"))
    val iv = placed.join(shipped, col("o_orderkey") === col("l_orderkey"))
    val deltas = iv.select(col("__pd").as("day"), lit(1L).as("delta"))
      .unionAll(iv.select((col("__sd") + 1L).as("day"), lit(-1L).as("delta")))
    val daily = deltas.groupBy(col("day")).agg(
      sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_placed"),
      sum(col("delta")).as("__net"))
    val byDay = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    daily.select(
      col("day"), col("n_placed"),
      sum(col("__net")).over(byDay).as("open_eod"))
  }

  /** Single-changepoint detection per key (binary segmentation, one
    * split): over each key's daily-count series, the day boundary whose
    * pre/post split removes the most sum-of-squares — the exact
    * between-segment SSE gain `n₁n₂(m₁−m₂)² / n = (n₂S₁ − n₁S₂)² /
    * (n₁n₂n)`, floored once into integer e4. The argmax day is the
    * level-shift detector that complements [[graft.ops.Stats]]'s
    * drift screens ("IS there a shift" → "WHEN did it happen"); ties
    * break on the earlier day.
    *
    * Every quantity is a prefix sum over the bounded calendar-day
    * domain: n₁ is the candidate's day index, S₁ its running count sum,
    * totals come from the frame-to-end of the same window. The gain
    * numerator `(n₂S₁ − n₁S₂)²` is computed in decimal(38,0) (HUGEINT
    * on the oracle side) — at 10⁵ daily events × 366 days it reaches
    * ~10¹⁵ squared, far past int64 — then floored to a long e4.
    *
    * Scale: one map-side-combined daily aggregate to |keys|·|days| rows;
    * both windows partition BY KEY over the ≤366-day domain (never a
    * global sort), and the per-key argmax is a 1-row window filter on
    * that same bounded partition.
    */
  def changepoint(events: DataFrame, keyCol: String, tsMsCol: String = "ts_ms"): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), Cols.floorDiv(col(tsMsCol), DayMs).as("day"))
      .agg(count(lit(1)).as("y"))
    val byDay = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    val all = Window.partitionBy(col(keyCol))
    val scored = daily
      .select(
        col(keyCol), col("day"), col("y"),
        row_number().over(byDay).cast("long").as("n1"),
        sum(col("y")).over(byDay).as("s1"),
        count(lit(1)).over(all).as("n"),
        sum(col("y")).over(all).as("s"))
      // the last day has no "after" segment — it is not a split candidate
      .filter(col("n1") < col("n"))
      .select(
        col(keyCol), col("day"), col("n1"),
        (col("n") - col("n1")).as("n2"),
        col("s1"), (col("s") - col("s1")).as("s2"), col("n"))
    val num = dec38(dec38(col("n2")) * dec38(col("s1")) - dec38(col("n1")) * dec38(col("s2")))
    val gain = Cols.floorDiv(
      num * num * dec38(lit(10000L)),
      dec38(col("n1")) * dec38(col("n2")) * dec38(col("n"))).cast("long")
    val ranked = scored
      .withColumn("gain_e4", gain)
      .withColumn("__rk",
        row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col("gain_e4").desc, col("day"))))
      .filter(col("__rk") === 1)
    ranked.select(
      col(keyCol), col("day").as("split_day"),
      col("n1").as("n_days_before"), col("n2").as("n_days_after"),
      // counts are non-negative, so both mean floors are exact in any engine
      Cols.floorDiv(col("s1") * 10000L, col("n1")).as("mean_before_e4"),
      Cols.floorDiv(col("s2") * 10000L, col("n2")).as("mean_after_e4"),
      col("gain_e4"))
  }
}
