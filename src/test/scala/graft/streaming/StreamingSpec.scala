package graft.streaming

import graft.SparkSpec
import graft.ops.Clickstream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming end-to-end golden tests (SURVEY.md §5.2): MemoryStream →
  * session window pipeline → memory sink, replaying the FIXTURES.md §1
  * deterministic sequences. Watermark is advanced by feeding a far-future
  * event and running extra batches (Spark finalizes session windows on the
  * micro-batch after the watermark passes).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._


  private def ce(user: Int, ts: Long, eventType: String, productType: String): CE =
    CE("10.0.0.1", ts, "mobile", eventType, productType, user, 0L, 0L)

  /** Runs a streaming transform over the given batches, advancing the
    * stream batch-by-batch, and returns the final memory-sink table.
    */
  private def runStream(
      batches: Seq[Seq[CE]],
      name: String)(f: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CE]
    val q: StreamingQuery = f(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
      // extra empty-ish cycles let multi-stateful pipelines propagate
      // watermark through chained operators
      input.addData(ce(999, 10_000_000L, "browse", "N/A"))
      q.processAllAvailable()
      input.addData(ce(999, 20_000_000L, "browse", "N/A"))
      q.processAllAvailable()
      input.addData(ce(999, 30_000_000L, "browse", "N/A"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("buy session: reference semantics through the streaming path") {
    val out = runStream(
      Seq(Seq(
        ce(1, 1000L, "browse", "Kitchen"),
        ce(1, 1100L, "browse", "Garden"),
        ce(1, 1200L, "browse", "Kitchen"),
        ce(1, 1300L, "order_checkout", "N/A"))),
      "s_buy")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
    val rows = out.filter(col("user_id") === 1)
      .select("user_id", "event_count", "checkout_event_count", "dept_list",
        "win_begin_ms", "win_end_ms")
      .as[(Long, Long, Long, String, Long, Long)].collect().toList
    assert(rows === List((1L, 3L, 3L, "Garden,Kitchen", 1000L, 2300L)))
  }

  test("gap split + non-qualifying noise (\"\"/N/A/null product types)") {
    val out = runStream(
      Seq(Seq(
        ce(2, 1000L, "browse", "Books"),
        ce(2, 1100L, "browse", ""),
        ce(2, 1150L, "browse", "N/A"),
        ce(2, 1200L, "browse", null),
        // >1s silence → new session
        ce(2, 3000L, "browse", "Garden"))),
      "s_gap")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
    val rows = out.filter(col("user_id") === 2)
      .select("event_count", "checkout_event_count", "dept_list", "win_begin_ms", "win_end_ms")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._4).toList
    assert(rows === List(
      (1L, 0L, "Books", 1000L, 2200L), // noise events extend the window but don't count
      (1L, 0L, "Garden", 3000L, 4000L)))
  }

  test("exact-gap tie: events exactly one gap apart merge into one session") {
    // windows [t, t+gap) and [t+gap, t+2·gap) touch; session_window merges
    // them, as Flink's TimeWindow.intersects does. The batch sessionizer
    // splits at exactly the gap instead (Clickstream.withSessionIds).
    // t well above 0: the first batch's watermark is 0, so nothing is late.
    val t = 5_000_000L
    val out = runStream(
      Seq(Seq(
        ce(7, t, "browse", "Kitchen"),
        ce(7, t + 1000L, "browse", "Garden"))),
      "s_tie")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
    val rows = out.filter(col("user_id") === 7)
      .select("user_id", "event_count", "checkout_event_count", "dept_list",
        "win_begin_ms", "win_end_ms")
      .as[(Long, Long, Long, String, Long, Long)].collect().toSet
    assert(rows === Set((7L, 2L, 0L, "Garden,Kitchen", t, t + 2000L)))
  }

  test("post-checkout browse and multi-checkout last-wins snapshot") {
    val out = runStream(
      Seq(Seq(
        ce(3, 1000L, "browse", "A"),
        ce(3, 1100L, "order_checkout", "N/A"),
        ce(3, 1200L, "browse", "B"),
        ce(4, 1000L, "browse", "A"),
        ce(4, 1100L, "order_checkout", "N/A"),
        ce(4, 1200L, "browse", "B"),
        ce(4, 1300L, "order_checkout", "N/A"),
        ce(4, 1400L, "browse", "C"))),
      "s_snap")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
    val rows = out.filter(col("user_id").isin(3, 4))
      .select("user_id", "event_count", "checkout_event_count")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(rows === List((3L, 2L, 1L), (4L, 3L, 2L)))
  }

  test("chained stateful aggregation: session KPIs over 10 s tumbling windows") {
    val out = runStream(
      Seq(Seq(
        ce(1, 1000L, "browse", "A"), ce(1, 1100L, "order_checkout", "N/A"),
        ce(2, 1000L, "browse", "B"),
        ce(3, 2000L, "browse", "C"))),
      "s_kpi") { df =>
      ClickstreamStreams.userKpis(
        ClickstreamStreams.clickEventSessions(df), "10 seconds")
    }
    val rows = out
      .filter(col("win_start_ms") === 0) // the fixture bucket, not the watermark-advancer's
      .select("win_start_ms", "win_end_ms", "session_count", "buy_session_count", "percent_buy")
      .as[(Long, Long, Long, Long, Double)].collect().toList
    // 3 sessions (ends 2100/2000/3000 → all bucket [0,10000)), 1 buy → 33.0
    assert(rows === List((0L, 10000L, 3L, 1L, 33.0)))
  }

  test("chained departments counts per window") {
    val out = runStream(
      Seq(Seq(
        ce(1, 1000L, "browse", "Kitchen"), ce(1, 1100L, "browse", "Garden"),
        ce(2, 1000L, "browse", "Kitchen"))),
      "s_dept") { df =>
      ClickstreamStreams.departments(
        ClickstreamStreams.clickEventSessions(df), "10 seconds")
    }
    val rows = out.filter(col("win_start_ms") === 0)
      .select("department", "department_count")
      .as[(String, Long)].collect().sortBy(_._1).toList
    assert(rows === List(("Garden", 1L), ("Kitchen", 2L)))
  }

  test("late event behind the watermark is dropped (0 s allowance)") {
    val out = runStream(
      Seq(
        Seq(ce(8, 1000L, "browse", "A")),
        // watermark advances far past user 8's session...
        Seq(ce(9, 5_000_000L, "browse", "B")),
        // ...then a late event for user 8 arrives and must be dropped
        Seq(ce(8, 1100L, "browse", "C"))),
      "s_late")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
    val rows = out.filter(col("user_id") === 8)
      .select("event_count", "dept_list")
      .as[(Long, String)].collect().toList
    assert(rows === List((1L, "A"))) // the late "C" event contributed nothing
  }

  test("sliding (hopping) windows: every event lands in size/slide = 2 windows") {
    val out = runStream(
      Seq(Seq(
        ce(1, 1000L, "browse", "A"), // windows [-5000,5000) and [0,10000)
        ce(2, 6000L, "browse", "B"))), // windows [0,10000) and [5000,15000)
      "s_sliding") { df =>
      ClickstreamStreams.fromClickEvents(df)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 seconds", "5 seconds"))
        .agg(count(lit(1)).as("n"))
        .select(
          unix_millis(col("window.start")).as("win_start_ms"),
          col("n"))
    }
    val rows = out
      .filter(col("win_start_ms") < 100000) // drop the watermark-advancer's buckets
      .as[(Long, Long)].collect().toMap
    assert(rows === Map(-5000L -> 1L, 0L -> 2L, 5000L -> 1L))
  }

  test("stream-static join enriches sessions with a broadcast dimension") {
    val userDim = Seq((31L, "gold"), (32L, "basic")).toDF("user_id", "tier")
    val out = runStream(
      Seq(Seq(
        ce(31, 1000L, "browse", "Kitchen"),
        ce(32, 1000L, "browse", "Garden"))),
      "s_enrich") { df =>
      ClickstreamStreams.clickEventSessions(df).drop("session_window")
        .join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"), "left")
    }
    val rows = out.filter(col("user_id").isin(31, 32))
      .select("user_id", "tier", "dept_list")
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set((31L, "gold", "Kitchen"), (32L, "basic", "Garden")))
  }

  test("checkpoint recovery: restart loses no state, duplicates no output") {
    val root = java.nio.file.Files.createTempDirectory("ckpt_recovery")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val schema = "ip STRING, eventtimestamp BIGINT, devicetype STRING, " +
      "event_type STRING, product_type STRING, userid INT, globalseq BIGINT, prevglobalseq BIGINT"
    def jline(e: CE): String = {
      def q(s: String) = if (s == null) "null" else s""""$s""""
      s"""{"ip":${q(e.ip)},"eventtimestamp":${e.eventtimestamp},"devicetype":${q(e.devicetype)},""" +
        s""""event_type":${q(e.event_type)},"product_type":${q(e.product_type)},""" +
        s""""userid":${e.userid},"globalseq":${e.globalseq},"prevglobalseq":${e.prevglobalseq}}"""
    }
    def writeBatch(name: String, evs: Seq[CE]): Unit =
      java.nio.file.Files.writeString(inDir.resolve(name), evs.map(jline).mkString("\n"))
    // each call is a brand-new query instance — offsets, watermark, and
    // session state all come from the checkpoint (the Spark analog of the
    // reference's enableCheckpointing guarantee, ClickstreamProcessor.java:70-72)
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(inDir.toString)
      val q = ClickstreamStreams.clickEventSessions(src).drop("session_window")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // u5's session is still OPEN at the first shutdown (its window end
    // 10_000_800 is past the 10_000_000 watermark); u1's is closed+emitted
    writeBatch("b1.json", Seq(
      ce(1, 1000L, "browse", "Kitchen"),
      ce(1, 1300L, "order_checkout", "N/A"),
      ce(5, 9_999_800L, "browse", "Gadgets"),
      ce(99, 10_000_000L, "browse", "N/A")))
    runOnce()
    val afterFirst = spark.read.parquet(outDir)
      .select("user_id").as[Long].collect().toList
    assert(afterFirst === List(1L), "only u1's closed session before restart")
    // after restart: u5's new event merges into the RECOVERED open session
    writeBatch("b2.json", Seq(
      ce(5, 10_000_500L, "browse", "Gizmos"),
      ce(99, 20_000_000L, "browse", "N/A")))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select("user_id", "event_count", "checkout_event_count", "dept_list",
        "win_begin_ms", "win_end_ms")
      .as[(Long, Long, Long, String, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 1L, "Kitchen", 1000L, 2300L), // not re-emitted (no duplicates)
      (5L, 2L, 0L, "Gadgets,Gizmos", 9_999_800L, 10_001_500L), // merged across restart
      (99L, 0L, 0L, "", 10_000_000L, 10_001_000L)))
  }

  test("RocksDB state store runs the session pipeline (the large-state path)") {
    // on a real cluster session state lives off-heap in RocksDB, not on
    // the executor heap — same results, different state backend
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream(
        Seq(Seq(
          ce(41, 1000L, "browse", "Kitchen"),
          ce(41, 1300L, "order_checkout", "N/A"))),
        "s_rocksdb")(df => ClickstreamStreams.clickEventSessions(df).drop("session_window"))
      val rows = out.filter(col("user_id") === 41)
        .select("event_count", "checkout_event_count", "dept_list")
        .as[(Long, Long, String)].collect().toList
      assert(rows === List((1L, 1L, "Kitchen")))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("session state plateaus at the in-flight sessions, then drains after the flusher") {
    // 6 users × 12 sequential sessions (5 events 200 ms apart, 2 s of
    // silence between sessions), fed two sessions per user per micro-batch
    implicit val sqlCtx = spark.sqlContext
    val (nUsers, perBatch, nBatches) = (6, 2, 6)
    val input = MemoryStream[CE]
    val q = ClickstreamStreams.clickEventSessions(input.toDF())
      .writeStream.format("memory").queryName("s_state").outputMode("append").start()
    def stateRows(): Seq[Long] =
      q.recentProgress.toSeq.map(_.stateOperators.map(_.numRowsTotal).sum)
    try {
      (0 until nBatches).foreach { b =>
        input.addData(for {
          u <- 0 until nUsers
          s <- b * perBatch until (b + 1) * perBatch
          e <- 0 until 5
        } yield ce(u, s * 3000L + e * 200L, "browse", "Kitchen"))
        q.processAllAvailable()
      }
      // the watermark trails the previous batch's max event time, so each
      // user holds at most its newest earlier session plus this batch's
      val fed = stateRows()
      assert(fed.max <= nUsers * (perBatch + 1L), fed)
      input.addData(ce(999, 1_000_000_000L, "browse", "N/A"))
      q.processAllAvailable()
      // only the flusher's own session is still open
      val drained = stateRows()
      assert(drained.last <= 1L, drained)
    } finally q.stop()
    assert(spark.table("s_state").count() === nUsers * perBatch * nBatches)
  }

  test("JSON sink encoding matches the reference's Gson field order") {
    val out = runStream(
      Seq(Seq(
        ce(7, 1000L, "browse", "Kitchen"),
        ce(7, 1100L, "order_checkout", "N/A"))),
      "s_json")(df =>
      Clickstream.sessionsJson(
        Clickstream.buySessions(ClickstreamStreams.clickEventSessions(df))))
    val js = out.as[String].collect().filter(_.contains("\"userId\":7"))
    assert(js.length === 1)
    assert(js.head ===
      """{"userId":7,"eventCount":1,"orderCheckoutEventCount":1,""" +
        """"deptList":["Kitchen"],"eventKey":1,"windowBeginTime":1000,"windowEndTime":2100}""")
  }
}
