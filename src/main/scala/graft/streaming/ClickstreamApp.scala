package graft.streaming

import graft.ops.Clickstream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Application wiring — the Spark equivalent of the reference's `main()`
  * (ClickstreamProcessor.java:57-272): one source, three pipelines, each
  * terminated by its own streaming query with an isolated checkpoint.
  *
  * Config parity: property names and defaults mirror the reference's
  * KDAApplicationProperties (ClickstreamProcessor.java:64-119; mandatory
  * BootstrapServers check at :92-98). A reference user can carry their
  * config over unchanged — including the wire format: events arrive as
  * Glue-framed binary Avro (ClickstreamProcessor.java:114-119).
  */
object ClickstreamApp {

  /** Reference property names (KDAApplicationProperties.json:1-18). */
  final case class Config(
      bootstrapServers: String,
      inputTopic: String = ClickstreamStreams.Topics.Input,
      departmentsTopic: String = ClickstreamStreams.Topics.Departments,
      userKpisTopic: String = ClickstreamStreams.Topics.UserKpis,
      buySessionsTopic: String = ClickstreamStreams.Topics.BuySessions,
      sessionGap: String = "1 second",
      kpiWindow: String = "10 seconds",
      checkpointRoot: String = "/tmp/graft-checkpoints")

  object Config {
    /** Mandatory-parameter validation (ClickstreamProcessor.java:92-98).
      * `Format`, when present, must be `avro`: binary Avro is the only
      * wire format the app decodes. `ElasticsearchEndpoint` is refused:
      * [[start]] wires the three Kafka sinks only, so an endpoint here
      * would be silently ignored. Index into Elasticsearch with
      * [[bulkIndexSink]] and a caller-supplied [[BulkClient]].
      */
    def fromProperties(props: Map[String, String]): Config = {
      val servers = props.getOrElse(
        "BootstrapServers",
        throw new IllegalArgumentException(
          "Missing mandatory parameter: BootstrapServers"))
      props.get("Format").filter(_ != "avro").foreach { other =>
        throw new IllegalArgumentException(s"unknown wire format: $other (want avro)")
      }
      props.get("ElasticsearchEndpoint").foreach { endpoint =>
        throw new IllegalArgumentException(
          s"ElasticsearchEndpoint ($endpoint) is not wired by start(): index with " +
            "ClickstreamApp.bulkIndexSink and a caller-supplied BulkClient")
      }
      Config(
        bootstrapServers = servers,
        inputTopic = props.getOrElse("Topic", ClickstreamStreams.Topics.Input))
    }
  }

  /** Wire-format decode: raw Kafka frame (`value: binary`) → typed
    * ClickEvent columns (registry-framed binary Avro,
    * AvroClickEvents.decode). No `cfg` field affects the decode; perfbench's
    * stream workload calls this three-argument form.
    */
  def decodeEvents(spark: SparkSession, raw: DataFrame, cfg: Config): DataFrame =
    AvroClickEvents.decode(spark, raw).toDF()

  /** The three pipelines from one decoded ClickEvent frame to their
    * JSON-encoded output frames, keyed by the reference's sink names.
    * Pure plan construction — testable end-to-end without Kafka (the
    * AvroClickEventsSpec e2e drives this from a MemoryStream of encoded
    * bytes).
    */
  def pipelines(events: DataFrame, cfg: Config): Map[String, DataFrame] = {
    val sessions = ClickstreamStreams.clickEventSessions(events, cfg.sessionGap)
    Map(
      "buy_sessions" -> Clickstream.sessionsJson(Clickstream.buySessions(sessions)),
      "user_kpis" -> Clickstream.userKpisJson(
        ClickstreamStreams.userKpis(sessions, cfg.kpiWindow)),
      "departments" -> Clickstream.departmentsJson(
        ClickstreamStreams.departments(sessions, cfg.kpiWindow)))
  }

  /** All three pipelines from one decoded, watermarked event stream.
    * Returns the started queries (await/stop is the caller's business).
    */
  def start(spark: SparkSession, cfg: Config): Seq[StreamingQuery] = {
    val raw = ClickstreamStreams.kafkaSource(spark, cfg.bootstrapServers, cfg.inputTopic)
    val events = decodeEvents(spark, raw, cfg)
    val topics = Map(
      "buy_sessions" -> cfg.buySessionsTopic,
      "user_kpis" -> cfg.userKpisTopic,
      "departments" -> cfg.departmentsTopic)
    pipelines(events, cfg).toSeq.map { case (name, df) =>
      ClickstreamStreams.kafkaSink(
        df, cfg.bootstrapServers, topics(name), s"${cfg.checkpointRoot}/$name").start()
    }
  }

  /** Bulk-index client contract (the reference's Elasticsearch bulk
    * processor, AmazonElasticsearchSink.java:27-73): implementations send
    * one bulk request; throwing signals a retryable failure.
    */
  trait BulkClient extends Serializable {
    def bulkIndex(indexName: String, jsonDocs: Seq[String]): Unit
  }

  /** Bulk-indexing sink in the shape of the reference's Elasticsearch sink
    * (AmazonElasticsearchSink.java:27-73): foreachBatch gives natural
    * bulking; flush thresholds mirror the reference's
    * setBulkFlushMaxActions(10000) / setBulkFlushMaxSizeMb(1), and failed
    * bulks are retried with exponential backoff, the reference's
    * setBulkFlushBackoff(true) behavior (:53-56). A flush that still
    * fails after `maxRetries` propagates — failing the micro-batch so the
    * checkpoint does not advance past unindexed data (at-least-once, the
    * reference's delivery guarantee).
    */
  def bulkIndexSink(
      jsonDf: DataFrame,
      indexName: String,
      checkpointLocation: String,
      client: BulkClient,
      maxActions: Int = 10000,
      maxBytes: Long = 1L << 20,
      maxRetries: Int = 3,
      backoffMs: Long = 100L,
      sleep: Long => Unit = Thread.sleep): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    jsonDf.writeStream
      .option("checkpointLocation", checkpointLocation)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("value").foreachPartition {
          (rows: Iterator[org.apache.spark.sql.Row]) =>
            def flushWithRetry(docs: Seq[String]): Unit = {
              var attempt = 0
              var done = false
              while (!done) {
                try { client.bulkIndex(indexName, docs); done = true }
                catch {
                  case _: Exception if attempt < maxRetries =>
                    // exponential backoff: backoffMs * 2^attempt
                    sleep(backoffMs << attempt)
                    attempt += 1
                }
              }
            }
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var bytes = 0L
            rows.foreach { r =>
              val doc = r.getString(0)
              buf += doc
              bytes += doc.length
              if (buf.length >= maxActions || bytes >= maxBytes) {
                flushWithRetry(buf.toSeq); buf.clear(); bytes = 0L
              }
            }
            if (buf.nonEmpty) flushWithRetry(buf.toSeq)
        }
      }
}
