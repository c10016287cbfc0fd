package graft.streaming

import graft.SparkSpec
import graft.model.ClickEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Avro wire-format round trip, batch and through a streaming query —
  * the reference's S1 decode path without the spark-avro connector.
  */
class AvroClickEventsSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    ClickEvent("10.0.0.1", 1000L, "mobile", "browse", "Kitchen", 1, 7L, 6L),
    ClickEvent("10.0.0.2", 1100L, "web", "order_checkout", "N/A", 1, 8L, 7L),
    ClickEvent("10.0.0.3", 1200L, "web", null, null, 2, 9L, 8L)) // nullable union arms

  test("binary round trip preserves every field including nulls") {
    val raw = fixture.map(AvroClickEvents.encode).toDF("value")
    val got = AvroClickEvents.decode(spark, raw).collect().toSet
    assert(got === fixture.toSet)
  }

  test("header skip strips a registry-style prefix") {
    val framed = fixture.map(e => Array[Byte](0, 1, 2, 3, 4) ++ AvroClickEvents.encode(e))
      .toDF("value")
    val got = AvroClickEvents.decode(spark, framed, skipHeaderBytes = 5).collect().toSet
    assert(got === fixture.toSet)
  }

  test("registry framing auto-detected: plain Glue, zlib Glue, Confluent, bare") {
    val wire =
      fixture.map(e => AvroClickEvents.gsrFrame(AvroClickEvents.encode(e))) ++
        fixture.map(e => AvroClickEvents.gsrFrame(AvroClickEvents.encode(e), compress = true)) ++
        fixture.map(e => Array[Byte](0, 0, 0, 0, 1) ++ AvroClickEvents.encode(e)) ++
        fixture.map(AvroClickEvents.encode)
    val got = AvroClickEvents.decode(spark, wire.toDF("value")).collect()
    assert(got.length === fixture.length * 4)
    assert(got.toSet === fixture.toSet)
  }

  test("config: Format may only name avro, the one wire format decoded") {
    val base = Map("BootstrapServers" -> "b:9092")
    assert(ClickstreamApp.Config.fromProperties(base).bootstrapServers === "b:9092")
    assert(ClickstreamApp.Config.fromProperties(base + ("Format" -> "avro"))
      === ClickstreamApp.Config.fromProperties(base))
    val err = intercept[IllegalArgumentException](
      ClickstreamApp.Config.fromProperties(base + ("Format" -> "json")))
    assert(err.getMessage.contains("json"))
    // an Elasticsearch endpoint would be ignored by start(): refused,
    // pointing at the bulk-index sink that does index
    val es = intercept[IllegalArgumentException](
      ClickstreamApp.Config.fromProperties(base + ("ElasticsearchEndpoint" -> "https://es:443")))
    assert(es.getMessage.contains("bulkIndexSink") && es.getMessage.contains("BulkClient"))
  }

  test("app wiring: Glue-framed Avro bytes drive all three pipelines") {
    implicit val sqlCtx = spark.sqlContext
    val cfg = ClickstreamApp.Config(bootstrapServers = "unused")
    val input = MemoryStream[Array[Byte]]
    val events = ClickstreamApp.decodeEvents(spark, input.toDF(), cfg)
    val queries = ClickstreamApp.pipelines(events, cfg).toSeq.map { case (name, df) =>
      df.writeStream.format("memory").queryName(s"app_$name").outputMode("append").start()
    }
    // mix compressed and uncompressed envelopes on one topic
    def feed(evs: ClickEvent*): Unit = {
      input.addData(evs.map(e =>
        AvroClickEvents.gsrFrame(AvroClickEvents.encode(e), compress = e.userid % 2 == 0)))
      queries.foreach(_.processAllAvailable())
    }
    try {
      feed(
        ClickEvent("ip", 1000L, "w", "browse", "Kitchen", 1, 1L, 0L),
        ClickEvent("ip", 1100L, "w", "browse", "Garden", 1, 2L, 1L),
        ClickEvent("ip", 1300L, "w", "order_checkout", "N/A", 1, 3L, 2L),
        ClickEvent("ip", 1500L, "w", "browse", "Books", 2, 4L, 3L))
      // watermark advancers: close the sessions, then the KPI windows
      feed(ClickEvent("ip", 10_000_000L, "w", "browse", "N/A", 99, 5L, 0L))
      feed(ClickEvent("ip", 20_000_000L, "w", "browse", "N/A", 99, 6L, 0L))
      feed(ClickEvent("ip", 30_000_000L, "w", "browse", "N/A", 99, 7L, 0L))
    } finally queries.foreach(_.stop())
    val buys = spark.table("app_buy_sessions").as[String].collect().toList
    assert(buys === List(
      """{"userId":1,"eventCount":2,"orderCheckoutEventCount":2,""" +
        """"deptList":["Garden","Kitchen"],"eventKey":1,"windowBeginTime":1000,"windowEndTime":2300}"""))
    val kpis = spark.table("app_user_kpis").as[String].collect()
      .filter(_.contains("\"windowBeginTime\":0,")).toList
    assert(kpis === List(
      """{"userSessionCount":2,"userSessionCountWithOrderCheckout":1,""" +
        """"percentSessionswithBuy":50.0,"windowBeginTime":0,"windowEndTime":10000}"""))
    val depts = spark.table("app_departments")
      .as[(String, String)].collect().toSet
    assert(depts === Set(
      ("""{"department":"Books"}""",
        """{"departmentName":"Books","departmentCount":1,"windowBeginTime":0,"windowEndTime":10000}"""),
      ("""{"department":"Garden"}""",
        """{"departmentName":"Garden","departmentCount":1,"windowBeginTime":0,"windowEndTime":10000}"""),
      ("""{"department":"Kitchen"}""",
        """{"departmentName":"Kitchen","departmentCount":1,"windowBeginTime":0,"windowEndTime":10000}""")))
  }

  test("streaming decode feeds the sessionizer end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val q = ClickstreamStreams
      .clickEventSessions(
        AvroClickEvents.decode(spark, input.toDF().withColumnRenamed("value", "value")).toDF())
      .drop("session_window")
      .writeStream.format("memory").queryName("s_avro").outputMode("append").start()
    try {
      input.addData(fixture.map(AvroClickEvents.encode))
      q.processAllAvailable()
      input.addData(AvroClickEvents.encode(ClickEvent("ip", 10_000_000L, "w", "browse", "N/A", 9, 0L, 0L)))
      q.processAllAvailable()
      input.addData(AvroClickEvents.encode(ClickEvent("ip", 20_000_000L, "w", "browse", "N/A", 9, 0L, 0L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("s_avro").filter(col("user_id") === 1)
      .select("event_count", "checkout_event_count", "dept_list")
      .as[(Long, Long, String)].collect().toList
    assert(rows === List((1L, 1L, "Kitchen")))
  }
}
