package graft.streaming

import graft.ops.Clickstream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

/** Structured Streaming flavor of the reference's three pipelines
  * (SURVEY.md §3): event-time sessionization with a gap-merged session
  * window, chained tumbling KPI aggregations, and JSON sinks.
  *
  * Reference topology (ClickstreamProcessor.java:57-272):
  *   Kafka → watermark → keyBy(userid) → session window(gap 1s) → aggregate
  *        → [filter buys → sink] / [tumbling 10s global KPIs → sink]
  *        / [explode depts → tumbling 10s counts → keyed sink]
  *
  * Spark mapping:
  *  - watermark: `withWatermark(ts, 0 seconds)` — the reference's
  *    zero-allowance max-timestamp watermark
  *    (ClickEventTimestampWatermarkGenerator.java:14-23). Spark finalizes
  *    a window on the next micro-batch rather than in-flight; same
  *    results, later emission (SURVEY.md §7.3).
  *  - keyBy + merging session windows: `groupBy(user_id,
  *    session_window(ts, gap))` — Spark's SessionWindowStateStore
  *    machinery replaces Flink's pane merging; the reference's buggy
  *    accumulator `merge()` (UserAggregate.java:46-53, sums instead of
  *    snapshots) is NOT replicated — we implement the intended event-time
  *    semantics (SURVEY.md §2.2).
  *  - checkout snapshot: the session aggregate collects the (bounded,
  *    human-scale) event list per session and derives
  *    `count(qualifying where ts <= last checkout ts)` with post-agg array
  *    expressions — order-independent, no order-dependent accumulator.
  *  - chained stateful aggs (pipeline B/C over A's output): Spark ≥3.4
  *    multiple-stateful-operator support — `window(session_window, ...)`
  *    buckets on the session window's end-derived event time, Flink's
  *    `maxTimestamp() = end − 1 ms` convention (SURVEY.md §2.4).
  *  - the constant eventKey=1 single-task hotspot (pipeline B) becomes a
  *    keyless global windowed aggregate with partial aggregation.
  */
object ClickstreamStreams {

  /** Streaming sessionization: one row per closed (user, session window).
    * Input must carry `user_id`, an event-time `ts` of TimestampType, and
    * whatever columns the three semantic expressions need.
    *
    * Defaults map the testdata `events` table; [[fromClickEvents]] +
    * [[clickEventSessions]] apply the reference's exact ClickEvent
    * semantics (qualifying = product_type not in {"", "N/A", null},
    * UserAggregate.java:19; department = product_type; checkout =
    * event_type == "order_checkout", UserAggregate.java:30).
    */
  def sessions(
      events: DataFrame,
      gap: String = "12 hours",
      watermark: String = "0 seconds",
      qualifying: Column = Clickstream.qualifying,
      isCheckoutCol: Column = col("event_type") === Clickstream.CheckoutEventType,
      dept: Column = col("event_type")): DataFrame = {
    val isCheckout = isCheckoutCol
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(when(qualifying, lit(1))).as("event_count"),
        array_join(array_sort(collect_set(when(qualifying, dept))), ",")
          .as("dept_list"),
        // bounded per-session event list (human-scale sessions); the
        // snapshot is derived below, order-independently
        collect_list(struct(
          unix_millis(col("ts")).as("ts_ms"),
          isCheckout.as("is_checkout"),
          qualifying.as("is_qualifying")))
          .as("ev"))
      .withColumn(
        "checkout_ts_ms",
        array_max(transform(
          filter(col("ev"), e => e.getField("is_checkout")),
          e => e.getField("ts_ms"))))
      .withColumn(
        "checkout_event_count",
        when(col("checkout_ts_ms").isNull, lit(0L)).otherwise(
          size(filter(
            col("ev"),
            e => e.getField("is_qualifying") && e.getField("ts_ms") <= col("checkout_ts_ms")))
            .cast("long")))
      .select(
        col("user_id"),
        col("event_count"),
        col("checkout_event_count"),
        col("dept_list"),
        lit(1L).as("event_key"),
        col("session_window"),
        unix_millis(col("session_window.start")).as("win_begin_ms"),
        unix_millis(col("session_window.end")).as("win_end_ms"))
  }

  /** Pipeline B: global KPIs over tumbling windows of session records —
    * a second stateful aggregation chained on the session window column
    * (Spark ≥3.4), bucketing on session end − 1 ms.
    */
  def userKpis(sessions: DataFrame, window: String = "1 day"): DataFrame =
    sessions
      .groupBy(org.apache.spark.sql.functions.window(col("session_window"), window))
      .agg(
        count(lit(1)).as("session_count"),
        count(when(col("checkout_event_count") =!= 0, lit(1))).as("buy_session_count"))
      .select(
        unix_millis(col("window.start")).as("win_start_ms"),
        unix_millis(col("window.end")).as("win_end_ms"),
        col("session_count"),
        col("buy_session_count"),
        call_function("div", col("buy_session_count") * lit(100L), col("session_count"))
          .cast("double").as("percent_buy"))

  /** Pipeline C: per-department session counts over tumbling windows
    * (explode of the session's distinct departments).
    */
  def departments(sessions: DataFrame, window: String = "1 day"): DataFrame =
    sessions
      .withColumn("department", explode(split(col("dept_list"), ",")))
      .filter(length(col("department")) > 0)
      .groupBy(col("department"), org.apache.spark.sql.functions.window(col("session_window"), window))
      .agg(count(lit(1)).as("department_count"))
      .select(
        col("department"),
        col("department_count"),
        unix_millis(col("window.start")).as("win_start_ms"),
        unix_millis(col("window.end")).as("win_end_ms"))

  // ------------------------------------------------------------------ sinks

  /** Kafka sink wiring (the reference's three output topics,
    * ClickstreamProcessor.java:208-251). `format("kafka")` needs the
    * spark-sql-kafka connector on the runtime classpath; the plan/options
    * here are connector-agnostic.
    */
  def kafkaSink(
      jsonDf: DataFrame,
      bootstrapServers: String,
      topic: String,
      checkpointLocation: String): DataStreamWriter[Row] =
    jsonDf.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)
      .outputMode("append")

  /** The reference's default topic names (ClickstreamProcessor.java:117,
    * 208, 231, 243) — configuration parity for a drop-in switch.
    */
  object Topics {
    val Input = "ExampleTopic"
    val Departments = "Departments_Agg"
    val UserKpis = "ClickEvents_UserId_Agg_Result"
    val BuySessions = "User_Sessions_Aggregates_With_Order_Checkout"
  }

  /** Kafka source wiring (reference: FlinkKafkaConsumer011 from earliest,
    * ClickstreamProcessor.java:114-119). Avro decode is left to the
    * caller (`from_avro` needs the spark-avro package); the JSON decode
    * path is provided for environments without it.
    */
  def kafkaSource(
      spark: org.apache.spark.sql.SparkSession,
      bootstrapServers: String,
      topic: String = Topics.Input): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** Adapt a ClickEvent-schema frame (FIXTURES.md §1) to the session
    * operator's canonical input columns.
    */
  def fromClickEvents(clickEvents: DataFrame): DataFrame =
    clickEvents
      .withColumn("user_id", col("userid").cast("long"))
      .withColumn("ts", timestamp_millis(col("eventtimestamp")))

  /** Reference-exact streaming sessionization over ClickEvent input:
    * 1 s gap, product_type-based qualifying/department, order_checkout
    * buys (ClickstreamProcessor.java:123-130, UserAggregate.java:17-38).
    */
  def clickEventSessions(clickEvents: DataFrame, gap: String = "1 second"): DataFrame =
    sessions(
      fromClickEvents(clickEvents),
      gap = gap,
      qualifying = col("product_type").isNotNull &&
        col("product_type") =!= "" && col("product_type") =!= "N/A",
      isCheckoutCol = col("event_type") === "order_checkout",
      dept = col("product_type"))
}
