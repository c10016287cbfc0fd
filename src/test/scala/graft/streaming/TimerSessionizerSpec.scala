package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The timer-driven transformWithState sessionizer must agree with the
  * declarative session_window pipeline and the batch sessionizer.
  * Requires the RocksDB state store provider — set per test, restored.
  */
class TimerSessionizerSpec extends SparkSpec {
  import spark.implicits._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }


  private def ce(user: Int, ts: Long, eventType: String, productType: String): CE =
    CE("ip", ts, "web", eventType, productType, user, 0L, 0L)

  test("timer sessions match the declarative sessionizer on the golden sequence") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[CE]
      val q = TimerSessionizer
        .sessions(spark, ClickstreamStreams.fromClickEvents(input.toDF()))
        .writeStream.format("memory").queryName("cs_timer").outputMode("append").start()
      try {
        input.addData(Seq(
          ce(1, 1000L, "browse", "Kitchen"),
          ce(1, 1100L, "browse", "Garden"),
          ce(1, 1300L, "order_checkout", "N/A"),
          ce(1, 3000L, "browse", "Books"), // gap >= 1s → second session
          ce(2, 1000L, "browse", "")))
        q.processAllAvailable()
        input.addData(ce(99, 10_000_000L, "browse", "N/A")) // advance watermark
        q.processAllAvailable()
        input.addData(ce(99, 20_000_000L, "browse", "N/A"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("cs_timer")
        .filter(col("user_id").isin(1, 2))
        .select("user_id", "event_count", "checkout_event_count", "dept_list",
          "win_begin_ms", "win_end_ms")
        .as[(Long, Long, Long, String, Long, Long)].collect().toSet
      assert(got === Set(
        (1L, 2L, 2L, "Garden,Kitchen", 1000L, 2300L),
        (1L, 1L, 0L, "Books", 3000L, 4000L),
        (2L, 0L, 0L, "", 1000L, 2000L)))
    }
  }

  test("timer re-arms across micro-batches: a session spanning batches stays merged") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[CE]
      val q = TimerSessionizer
        .sessions(spark, ClickstreamStreams.fromClickEvents(input.toDF()))
        .writeStream.format("memory").queryName("cs_timer_rearm").outputMode("append").start()
      try {
        // batch 1 arms a timer at 1500+gap; batch 2 extends the same
        // session (delta 900 < gap 1000) so the timer must be deleted and
        // re-armed at 2400+gap, NOT fire at the old expiry
        input.addData(ce(1, 1000L, "browse", "Kitchen"), ce(1, 1500L, "browse", "Garden"))
        q.processAllAvailable()
        input.addData(ce(1, 2400L, "browse", "Books"))
        q.processAllAvailable()
        input.addData(ce(99, 10_000_000L, "browse", "N/A"))
        q.processAllAvailable()
        input.addData(ce(99, 20_000_000L, "browse", "N/A"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("cs_timer_rearm")
        .filter(col("user_id") === 1)
        .select("user_id", "event_count", "dept_list", "win_begin_ms", "win_end_ms")
        .as[(Long, Long, String, Long, Long)].collect().toSet
      // one merged session, not two — the re-armed timer held the window open
      assert(got === Set((1L, 3L, "Books,Garden,Kitchen", 1000L, 3400L)))
    }
  }

  test("timer sessionizer replays real sf0.001 events identically to batch") {
    withRocksDb {
      import graft.ops.Clickstream
      implicit val sqlCtx = spark.sqlContext
      val dir = "/root/testdata/sf0.001"
      val ev = graft.Tables.events(spark, dir)
        .select(col("user_id"), col("ts_ms"), col("event_type"))
        .as[(Long, Long, String)].collect().sortBy(r => (r._2, r._1)).toList
      val input = MemoryStream[(Long, Long, String, String)]
      val stream = input.toDF().toDF("user_id", "ts_ms", "event_type", "product_type")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      val q = TimerSessionizer
        .sessions(spark, stream, gapMs = Clickstream.DefaultGapMs)
        .writeStream.format("memory").queryName("cs_timer_real").outputMode("append").start()
      try {
        input.addData(ev.map { case (u, t, et) =>
          if (et == "purchase") (u, t, "order_checkout", "N/A") else (u, t, et, et)
        })
        q.processAllAvailable()
        input.addData((999999L, ev.map(_._2).max + 100L * Clickstream.DefaultGapMs, "browse", "N/A"))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("cs_timer_real")
        .filter(col("user_id") =!= 999999L)
        .select("user_id", "event_count", "checkout_event_count", "dept_list",
          "win_begin_ms", "win_end_ms")
        .as[(Long, Long, Long, String, Long, Long)].collect().toSet
      val batch = Clickstream.sessionize(graft.Tables.events(spark, dir))
        .select("user_id", "event_count", "checkout_event_count", "dept_list",
          "win_begin_ms", "win_end_ms")
        .as[(Long, Long, Long, String, Long, Long)].collect().toSet
      assert(streamed === batch)
    }
  }

  test("exact-gap tie merges as session_window does") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // t well above 0: the first batch's watermark is 0, so nothing here
      // can be late; the two events are exactly one gap (1 s) apart
      val t = 5_000_000L
      val events = Seq(
        ce(7, t, "browse", "Kitchen"),
        ce(7, t + 1000L, "browse", "Garden"))
      val flush = ce(99, t + 10_000_000L, "browse", "N/A")
      def run(name: String, sessions: DataFrame => DataFrame) = {
        val input = MemoryStream[CE]
        val q = sessions(input.toDF())
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          input.addData(events)
          q.processAllAvailable()
          input.addData(flush)
          q.processAllAvailable()
          input.addData(flush.copy(eventtimestamp = t + 20_000_000L))
          q.processAllAvailable()
        } finally q.stop()
        spark.table(name)
          .filter(col("user_id") === 7)
          .select("user_id", "event_count", "checkout_event_count", "dept_list",
            "win_begin_ms", "win_end_ms")
          .as[(Long, Long, Long, String, Long, Long)].collect().toSet
      }
      val declarative = run("cs_tie_window", ClickstreamStreams.clickEventSessions(_))
      val timer = run("cs_tie_timer",
        df => TimerSessionizer.sessions(spark, ClickstreamStreams.fromClickEvents(df)).toDF())
      val one = Set((7L, 2L, 0L, "Garden,Kitchen", t, t + 2000L))
      assert(declarative === one)
      assert(timer === one)
    }
  }

  test("tie rule: event tied to last checkout counts") {
    import TimerSessionizer.{finish, Ev}
    def ev(t: Long, et: String, pt: String) = Ev(1, new java.sql.Timestamp(t), et, pt)
    // the browse at ts=1300 shares the checkout's timestamp: it must be in
    // the snapshot regardless of buffer order (ADVICE r2 pin, shared with
    // UserAggregateTyped)
    val s = finish(List(
      ev(1000, "browse", "A"),
      ev(1300, "order_checkout", "N/A"),
      ev(1300, "browse", "B"),
      ev(1400, "browse", "C")), gapMs = 1000L)
    assert(s.event_count === 3L)
    assert(s.checkout_event_count === 2L) // A and the tied B; not C
  }

  test("split: exactly one gap apart merges") {
    import TimerSessionizer.{split, Ev}
    def ev(t: Long) = Ev(1, new java.sql.Timestamp(t), "a", "A")
    val evs = List(ev(1000), ev(1500), ev(2499), ev(5000))
    // 2499-1500=999 < 1000 merges; 5000-2499 > 1000 splits
    assert(split(evs, 1000L).map(_.map(_.ts_ms)) ===
      List(List(1000L, 1500L, 2499L), List(5000L)))
    // exactly-at-gap merges: windows [1000, 2000) and [2000, 3000) touch,
    // and session_window (like Flink's TimeWindow.intersects) merges them
    assert(split(List(ev(1000), ev(2000)), 1000L).map(_.map(_.ts_ms)) ===
      List(List(1000L, 2000L)))
    // one millisecond past the gap splits
    assert(split(List(ev(1000), ev(2001)), 1000L).map(_.map(_.ts_ms)) ===
      List(List(1000L), List(2001L)))
  }
}
