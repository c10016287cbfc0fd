package graft.streaming

import graft.SparkSpec
import graft.ops.Clickstream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Event row for the permutation property (top-level so the Encoder
  * carries no outer pointer — the CE convention).
  */
case class PEv(event_id: Long, user_id: Long, event_type: String, ts_ms: Long)

/** Streaming ↔ batch sessionization differential PROPERTY (VERDICT r13
  * #5): random event sets, each replayed through the streaming
  * `session_window` path under several random permutations of arrival
  * order, must emit exactly the batch gap-island path's session set
  * every time. Each permutation is fed inside ONE micro-batch — the
  * zero-allowance watermark only advances between batches, so no
  * reordering can drop events — then flushed with far-future ticks.
  *
  * This strengthens the shared cs_sessionize ≡ cs_sessionize_native
  * oracle from fixed data to a property: the session rule (window end =
  * last event + gap — the base the end−1ms bucketing convention builds
  * on) is pinned under reordering, same-timestamp ties, and
  * checkout-position shuffles. The two paths differ at an exact-gap tie
  * (batch splits at gap ≥ gapMs, session_window merges touching
  * windows); the seeded samples below hold no such tie.
  */
class SessionPermutationSpec extends SparkSpec {
  import spark.implicits._

  private val Gap = 1000L

  private val eventsGen: Gen[List[PEv]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(
      n,
      for {
        user <- Gen.choose(1L, 3L)
        // small ts range forces gap-boundary and same-timestamp ties
        ts <- Gen.choose(0L, 6000L)
        tpe <- Gen.oneOf("click", "view", "purchase")
      } yield (user, ts, tpe))
  } yield rows.zipWithIndex.map { case ((u, t, tp), i) => PEv(i.toLong, u, tp, t) }

  private def canon(d: DataFrame): Set[(Long, Long, Long, String, Long, Long)] =
    d.filter(col("user_id") < 999)
      .select("user_id", "event_count", "checkout_event_count", "dept_list",
        "win_begin_ms", "win_end_ms")
      .as[(Long, Long, Long, String, Long, Long)].collect().toSet

  private def streamSessions(
      rows: Seq[PEv], name: String): Set[(Long, Long, Long, String, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PEv]
    val q = ClickstreamStreams.sessions(
        input.toDF().withColumn("ts", timestamp_millis(col("ts_ms"))),
        gap = "1 second")
      .drop("session_window")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      // two far-future ticks: the first advances the watermark past every
      // real session, the second flushes the chained emit
      input.addData(PEv(999999L, 999L, "click", 100000000L))
      q.processAllAvailable()
      input.addData(PEv(999998L, 999L, "click", 200000000L))
      q.processAllAvailable()
    } finally q.stop()
    val out = canon(spark.table(name))
    spark.catalog.dropTempView(name)
    out
  }

  test("property: streaming session_window ≡ batch gap-islands under arrival permutations") {
    val samples = (1 to 4).flatMap(i =>
      eventsGen.apply(Gen.Parameters.default, Seed(100L + i)))
    assert(samples.size === 4)
    samples.zipWithIndex.foreach { case (rows, si) =>
      val batch = canon(Clickstream.sessionize(rows.toDF(), Gap))
      val perms = Seq(
        rows,
        rows.reverse,
        new scala.util.Random(si.toLong).shuffle(rows))
      perms.zipWithIndex.foreach { case (p, pi) =>
        assert(streamSessions(p, s"perm_${si}_$pi") === batch,
          s"sample $si permutation $pi diverged from the batch session set")
      }
    }
  }
}
