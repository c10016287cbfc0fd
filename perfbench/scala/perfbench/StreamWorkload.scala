package perfbench

import java.io.{BufferedInputStream, DataInputStream, File, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.model.ClickEvent
import graft.ops.Clickstream
import graft.streaming.{AvroClickEvents, ClickstreamApp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The generated click events: event-time order, one Glue-framed Avro
  * frame each, plus the fields the batch oracle is built from.
  */
final class Events(path: String) {
  private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 20))
  private def le(n: Int): ByteBuffer = {
    val b = new Array[Byte](n)
    in.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  }
  val n: Int = le(4).getInt
  val ts = new Array[Long](n)
  val user = new Array[Int](n)
  val etype = new Array[Byte](n)
  val prod = new Array[Byte](n)
  val frames = new Array[Array[Byte]](n)
  (0 until n).foreach { i =>
    val h = le(18)
    ts(i) = h.getLong; user(i) = h.getInt; etype(i) = h.get; prod(i) = h.get
    frames(i) = new Array[Byte](h.getInt)
    in.readFully(frames(i))
  }
  in.close()

  // product codes of pbench/gen.py: PRODUCTS
  private val products = Array[String](null, "", "N/A", "Kitchen", "Garden", "Books",
    "Electronics", "Toys", "Sports", "Beauty", "Grocery")

  def event(i: Int): ClickEvent = ClickEvent(
    s"10.0.${(i >> 8) & 255}.${i & 255}", ts(i), if (i % 2 == 0) "mobile" else "web",
    if (etype(i) == 1) "order_checkout" else "browse", products(prod(i)), user(i),
    i + 1L, i.toLong)
}

/** The reference topology: `ClickstreamApp.decodeEvents` +
  * `ClickstreamApp.pipelines` over a MemoryStream of frames, one streaming
  * query per sink (as `ClickstreamApp.start` wires them), each ending in
  * a benchmark-owned `foreachBatch` sink that keeps its rows and stamps
  * when they were emitted.
  *
  * `closed` mode feeds fixed-size chunks and waits for every query after
  * each; `open` mode runs one generator thread that adds every event due
  * by its scheduled wall time on a fixed tick, whether or not the engine
  * keeps up.
  */
final class StreamWorkload(job: Main.Job, tracer: Tracer) extends Workload {
  private val ev = new Events(job.str("events_path"))
  private val open = job.str("mode") == "open"
  private val chunk = job.int("chunk")
  private val tickMs = job.int("tick_ms")
  private val leadMs = job.dbl("lead_s") * 1000
  private val warmupEvents = job.int("warmup_events")
  private val ckptRoot = new File(job.out, "checkpoints")
  // ClickstreamApp.Config's default session gap and KPI window
  private val GapMs = 1000L
  private val KpiWindowMs = 10000L
  private var session: SparkSession = _
  private var runs = 0

  def spark: SparkSession = session

  final case class SinkRow(sink: String, key: String, value: String, emitMs: Double)

  /** One started topology. Each sink's query reads its own MemoryStream,
    * as each query of `ClickstreamApp.start` has its own Kafka consumer: a
    * MemoryStream drops the batches a query commits, so one shared by
    * three queries loses data once they drift apart.
    */
  final class Topology(name: String) {
    runs += 1
    private val sinks = Seq("buy_sessions", "user_kpis", "departments")
    val inputs: Map[String, MemoryStream[Array[Byte]]] = sinks.map { sink =>
      val s = session
      implicit val ctx = s.sqlContext
      import s.implicits._
      sink -> MemoryStream[Array[Byte]]
    }.toMap
    val rows = new ConcurrentLinkedQueue[SinkRow]()
    val sinkSpans = new ConcurrentLinkedQueue[(String, Long, Double, Double)]()
    val cfg = ClickstreamApp.Config(bootstrapServers = "unused")
    private val t0 = Clock.ms()
    private val pipes: Map[String, DataFrame] = sinks.map { sink =>
      sink -> ClickstreamApp.pipelines(
        ClickstreamApp.decodeEvents(session, inputs(sink).toDF(), cfg), cfg)(sink)
    }.toMap
    val buildMs: Double = Clock.ms() - t0
    /** sink name → its query */
    val queries: Map[String, StreamingQuery] = pipes.map { case (sink, df) =>
      val keyed = df.columns.contains("key")
      sink -> df.writeStream
        .queryName(s"${name}_${runs}_$sink")
        .option("checkpointLocation", new File(ckptRoot, s"$name-$runs/$sink").getPath)
        .outputMode("append")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = Clock.ms()
          val got = (if (keyed) b.select("key", "value") else b.select(lit(""), col("value"))).collect()
          val at = Clock.ms()
          got.foreach(r => rows.add(SinkRow(sink, r.getString(0), r.getString(1), at)))
          sinkSpans.add((sink, id, t0, at))
          ()
        }
        .start()
    }
    val sinkOf: Map[String, String] = queries.map { case (sink, q) => q.id.toString -> sink }
    var fed = 0L

    def add(from: Int, until: Int): Unit = {
      addFrames(ev.frames.slice(from, until).toSeq)
      fed += until - from
    }
    def addFrames(frames: Seq[Array[Byte]]): Unit = inputs.values.foreach(_.addData(frames))
    def await(): Unit = queries.values.foreach(_.processAllAvailable())
    def stop(): Unit = queries.values.foreach(_.stop())
  }

  /** Progress of every micro-batch of every query, for backlog, the
    * micro-batch/state layers and decode amplification.
    */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    val processed = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val failed = new AtomicLong()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e)
      processed.computeIfAbsent(e.progress.id.toString, _ => new AtomicLong()).addAndGet(e.progress.numInputRows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.exception.isDefined) failed.incrementAndGet()
    def minProcessed(ids: Seq[String]): Long =
      ids.map(id => Option(processed.get(id)).map(_.get).getOrElse(0L)).min
  }

  /** Session, the topology, and the warm-up events fed closed-loop. */
  def setup(): Unit = {
    session = graft.GraftSession.local("perfbench", job.cores)
    timed = new Topology("timed")
    var k = 0
    while (k < warmupEvents) {
      val j = math.min(k + chunk, warmupEvents)
      timed.add(k, j)
      timed.await()
      k = j
    }
  }

  private var timed: Topology = _
  private val progress = new Progress
  private var listener: OpListener = _
  /** Wall intervals in which the listener was attached and spans recorded. */
  private val tracedSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  private var measureEnd = 0.0
  private var segmentSpan = (0.0, 0.0)
  private var lastFed = 0
  private var fedAtListen = 0L

  def measure(): Map[String, Any] = {
    // the warm-up is fully processed here, so the backlog starts at 0
    fedAtListen = timed.fed
    session.streams.addListener(progress)
    if (job.trace) listener = new OpListener(tracer)
    val seg = segment(warmupEvents, job.seconds)
    measureEnd = Clock.ms()
    // untimed: an advancer event far in event time pushes the watermark
    // through both chained stateful operators, so every real window is
    // emitted
    timed.addFrames(Seq(AvroClickEvents.gsrFrame(AvroClickEvents.encode(advancerEvent))))
    timed.await()
    timed.stop()
    Map("segment" -> seg, "build_ms" -> timed.buildMs,
      "flush_ms" -> (Clock.ms() - measureEnd)) ++
      (if (job.trace) layerDetail() else Map.empty)
  }

  private def advancerEvent =
    ClickEvent("10.9.9.9", ev.ts(lastFed - 1) + 10000000L, "w", "browse", "N/A", 999999, 0L, 0L)

  /** Attach or detach the listener and span recorder. */
  private def tracing(on: Boolean): Unit = {
    val sc = session.sparkContext
    if (on) {
      sc.addSparkListener(listener)
      tracer.enabled = true
      tracedSpans += ((Clock.ms(), Double.NaN))
    } else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      tracer.enabled = false
      tracedSpans(tracedSpans.size - 1) = (tracedSpans.last._1, Clock.ms())
    }
  }

  /** The timed region from event `from`, `seconds` long. An open loop
    * follows the schedule `run.py` computed: an unmeasured lead-in until
    * the backlog is at its steady level, the measured window, and a tail
    * that keeps feeding so the rows whose events fall in the window are
    * emitted under the same load.
    */
  private def segment(from: Int, seconds: Double): Map[String, Any] = {
    val ids = timed.queries.values.map(_.id.toString).toSeq
    val startFed = timed.fed
    val start = Clock.ms()
    val out = if (!open) closedLoop(from, seconds) else openLoop(seconds, ids)
    val wall = Clock.ms() - start
    segmentSpan = (start, start + wall)
    out ++ Map("events" -> (timed.fed - startFed), "wall_ms" -> wall, "start_ms" -> start,
      "sink_rows" -> timed.rows.asScala.toSeq.filter(r => inTraced(r.emitMs))
        .groupBy(_.sink).map { case (k, v) => k -> v.size })
  }

  private def inTraced(t: Double): Boolean = tracedSpans.exists { case (a, b) => t >= a && t <= b }

  /** Fixed-size chunks, each fed to every query and awaited. A traced run
    * traces chunks in the order untraced, traced, traced, untraced (and
    * again), so the traced and untraced chunk times interleave, a steady
    * warm-up trend falls on both alike, and together they give the
    * tracing overhead.
    */
  private def closedLoop(from: Int, seconds: Double): Map[String, Any] = {
    val start = Clock.ms()
    val chunkMs = mutable.ArrayBuffer.empty[Double]
    val chunkTraced = mutable.ArrayBuffer.empty[Boolean]
    var tracedEvents = 0L
    var i = from
    while (i < ev.n && Clock.ms() - start < seconds * 1000) {
      val j = math.min(i + chunk, ev.n)
      val traced = job.trace && (chunkMs.size % 4 == 1 || chunkMs.size % 4 == 2)
      val t0 = Clock.ms()
      if (traced) tracing(on = true)
      tracer.around("feed", "generator", -1, s"$i", parentKey = "workload") { _ =>
        timed.add(i, j)
        timed.await()
      }
      if (traced) tracing(on = false)
      chunkMs += Clock.ms() - t0
      chunkTraced += traced
      if (traced) tracedEvents += j - i
      i = j
    }
    lastFed = i
    Map("chunk_ms" -> chunkMs.toSeq, "chunk_traced" -> chunkTraced.toSeq, "chunk" -> chunk,
      "traced_events" -> tracedEvents, "exhausted" -> (i >= ev.n))
  }

  /** One generator thread adds every due event on a fixed tick. A traced
    * run traces the whole loop.
    */
  private def openLoop(seconds: Double, ids: Seq[String]): Map[String, Any] = {
    val cuts = job.node.path("cuts").elements().asScala.map(_.asInt()).toIndexedSeq
    val lags = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Long]
    if (job.trace) tracing(on = true)
    val start = Clock.ms()
    tracer.around("feed", "generator", -1, s"${cuts.head}", parentKey = "workload") { _ =>
      (1 until cuts.size).foreach { tick =>
        val at = tick * tickMs
        val due = start + at
        val wait = due - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        val lag = Clock.ms() - due
        if (cuts(tick) > cuts(tick - 1)) timed.add(cuts(tick - 1), cuts(tick))
        lags += lag
        backlog += (timed.fed - fedAtListen) - progress.minProcessed(ids)
      }
    }
    lastFed = cuts.last
    // the rows of the loop's last windows come out in the flush; keep
    // tracing until the loop's own micro-batches are done
    if (job.trace) {
      timed.await()
      tracing(on = false)
    }
    Map("gen_lag_ms" -> lags.toSeq, "backlog" -> backlog.toSeq, "base_ts" -> ev.ts(cuts.head),
      "loop_start_ms" -> start, "traced_events" -> (if (job.trace) cuts.last - cuts.head else 0),
      "window_ms" -> Seq(leadMs, leadMs + seconds * 1000), "tick_ms" -> tickMs)
  }

  /** Micro-batch, state-store, sink and decode detail of the micro-batches
    * that started while traced; their spans are built here, after the fact.
    */
  private def layerDetail(): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)
    tracer.enabled = true
    tracer.add("workload", "workload", -1, segmentSpan._1, segmentSpan._2, job.workload, key = "workload")
    val ps = progress.events.asScala.toSeq.map(_.progress)
      .filter(p => inTraced(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
    // a micro-batch hangs under the feed span it started in
    val feeds = tracer.all.filter(_.name == "feed")
    def feedOf(t: Double): Int = feeds.findLast(_.start <= t).map(_.id).getOrElse(-1)
    val mbs = ps.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val qid = p.id.toString
      val key = s"$qid/${p.batchId}"
      val trig = d.getOrElse("triggerExecution", 0.0)
      val mb = tracer.add("micro_batch", "micro_batch", feedOf(start), start, start + trig,
        timed.sinkOf.getOrElse(qid, ""))
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { ph =>
        val dur = d.getOrElse(ph, 0.0)
        tracer.add(ph, "micro_batch", mb, at, at + dur, key = s"$key/$ph")
        at += dur
      }
      val ops = Option(p.stateOperators).toSeq.flatten
      val layers = listener.summary(key, start, start + trig, job.cores)
      Map(
        "query" -> timed.sinkOf.getOrElse(qid, qid), "batch" -> p.batchId,
        "input_rows" -> p.numInputRows, "duration" -> d,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem" -> ops.map(_.memoryUsedBytes).sum,
        "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "late_rows" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "layers" -> layers)
    }
    timed.sinkSpans.asScala.foreach { case (sink, id, a, b) =>
      val qid = timed.queries(sink).id.toString
      if (inTraced(a)) tracer.add("sink", "sinks", -1, a, b, sink, parentKey = s"$qid/$id/addBatch")
    }
    val sinkMs = timed.sinkSpans.asScala.toSeq.filter(s => inTraced(s._3)).map(s => s._4 - s._3)
    Map("micro_batches" -> mbs, "sink_ms" -> sinkMs,
      "decode_ms_per_1k" -> decodeMsPer1k())
  }

  /** `AvroClickEvents.decode` over the workload's frames as a static
    * frame: median of three timed runs, per thousand frames.
    */
  private def decodeMsPer1k(): Double = {
    val s = session
    import s.implicits._
    val n = math.min(ev.n, 50000)
    val df = session.createDataset(ev.frames.take(n).toSeq).toDF("value").repartition(job.cores).cache()
    df.count()
    val times = (1 to 3).map { _ =>
      val t0 = Clock.ms()
      AvroClickEvents.decode(session, df).queryExecution.toRdd.count()
      Clock.ms() - t0
    }
    df.unpersist()
    Stats.median(times) / (n / 1000.0)
  }

  /** Every sink row against the batch gap-islands oracle over the same
    * events, windows of the advancer events excluded.
    */
  def check(): Map[String, Any] = {
    val t0 = Clock.ms()
    val s = session
    import s.implicits._
    val events = (0 until lastFed).map(ev.event) :+ advancerEvent
    val cutoff = ev.ts(lastFed - 1) + 1000000L
    val sessions = oracleSessions(events.toDF()).cache()
    def real(rows: Seq[(String, String)]): Seq[(String, String)] =
      rows.filter { case (_, v) => windowBegin(v) < cutoff }.sorted
    def oracle(df: DataFrame, keyed: Boolean): Seq[(String, String)] =
      real((if (keyed) df.select("key", "value") else df.select(lit(""), col("value")))
        .as[(String, String)].collect().toSeq)
    val want = Map(
      "buy_sessions" -> oracle(Clickstream.sessionsJson(Clickstream.buySessions(sessions)), keyed = false),
      "user_kpis" -> oracle(Clickstream.userKpisJson(Clickstream.userKpis(sessions, KpiWindowMs)), keyed = false),
      "departments" -> oracle(Clickstream.departmentsJson(Clickstream.departments(sessions, KpiWindowMs)), keyed = true))
    sessions.unpersist()
    val got = timed.rows.asScala.toSeq.groupBy(_.sink).map { case (k, v) =>
      k -> real(v.map(r => (r.key, r.value)))
    }
    val perSink = want.map { case (sink, w) =>
      val g = got.getOrElse(sink, Seq.empty)
      val missing = w.diff(g)
      val extra = g.diff(w)
      sink -> Map("rows" -> w.size, "missing" -> missing.size, "extra" -> extra.size,
        "missing_sample" -> missing.take(5).map(_._2), "extra_sample" -> extra.take(5).map(_._2))
    }
    val latencies = timed.rows.asScala.toSeq
      .filter(r => r.emitMs <= measureEnd && windowBegin(r.value) < cutoff)
      .map(r => Map("sink" -> r.sink, "emit_ms" -> r.emitMs, "end_ts" -> windowEnd(r.value)))
    // rows a stateful operator dropped as behind its watermark, per sink
    val late = progress.events.asScala.toSeq.map(_.progress)
      .groupBy(p => timed.sinkOf.getOrElse(p.id.toString, p.id.toString))
      .map { case (k, ps) =>
        k -> ps.flatMap(p => Option(p.stateOperators).toSeq.flatten).map(_.numRowsDroppedByWatermark).sum
      }
    Map("sinks" -> perSink, "late_rows" -> late, "failed_batches" -> progress.failed.get,
      "check_ms" -> (Clock.ms() - t0),
      "latency_rows" -> (if (open) latencies else Seq.empty))
  }

  private val BeginRe = "\"windowBeginTime\":(-?\\d+)".r
  private val EndRe = "\"windowEndTime\":(-?\\d+)".r
  private def windowBegin(v: String): Long = BeginRe.findFirstMatchIn(v).map(_.group(1).toLong).getOrElse(Long.MaxValue)
  private def windowEnd(v: String): Long = EndRe.findFirstMatchIn(v).map(_.group(1).toLong).getOrElse(Long.MaxValue)

  /** Sessions of the reference's ClickEvent semantics by the gap-islands
    * formulation (`Clickstream.withSessionIds`: a lag/sum window chain,
    * nothing shared with the session_window state machinery), as the app
    * replay spec builds its oracle.
    */
  private def oracleSessions(clickEvents: DataFrame): DataFrame = {
    val qual = col("product_type").isNotNull &&
      col("product_type") =!= "" && col("product_type") =!= "N/A"
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
    val base = clickEvents.select(
      col("userid").cast("long").as("user_id"),
      col("eventtimestamp").as("ts_ms"),
      col("globalseq").as("event_id"),
      col("event_type"),
      col("product_type"))
    // ts_ms are whole milliseconds, so splitting at >= gap + 1 splits at
    // > gap: two events exactly one gap apart stay in one session, as the
    // reference's session windows (Flink TimeWindow.intersects) and
    // Spark's session_window merge them; withSessionIds alone splits there
    Clickstream.withSessionIds(base, gapMs = GapMs + 1)
      .withColumn("checkout_ts_ms",
        max(when(col("event_type") === "order_checkout", col("ts_ms"))).over(bySession))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(when(qual, lit(1))).as("event_count"),
        count(when(qual && col("ts_ms") <= col("checkout_ts_ms"), lit(1))).as("checkout_event_count"),
        array_join(array_sort(collect_set(when(qual, col("product_type")))), ",").as("dept_list"),
        min(col("ts_ms")).as("win_begin_ms"),
        (max(col("ts_ms")) + lit(GapMs)).as("win_end_ms"))
      .withColumn("event_key", lit(1L))
  }
}
