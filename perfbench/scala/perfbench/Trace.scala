package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in fractional epoch milliseconds, read from the monotonic
  * clock so spans of one run compare exactly; Spark listener times (epoch
  * millis) share the same axis.
  */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def ms(): Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** One span: `parent` is a span id, or -1; `parentKey` names a span that
  * is only known later (a micro-batch's phase span exists once its
  * progress event arrives) and is resolved when the spans are written.
  */
final case class Span(
    id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double, tag: String = "", parentKey: String = "")

/** In-memory span recorder. Disabled, it records nothing and every call
  * is a constant-time no-op; a traced run turns it on for the operations
  * it traces.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val keyed = new ConcurrentHashMap[String, Integer]()
  private var nextId = 0

  def add(name: String, layer: String, parent: Int, start: Double, end: Double,
      tag: String = "", key: String = "", parentKey: String = ""): Int =
    if (!enabled) -1
    else synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, layer, start, end, tag, parentKey)
      if (key.nonEmpty) keyed.put(key, id)
      id
    }

  /** Run `f` inside a span; `f` gets the span id for its children. */
  def around[T](name: String, layer: String, parent: Int, tag: String = "",
      parentKey: String = "")(f: Int => T): T =
    if (!enabled) f(-1)
    else {
      val id = add(name, layer, parent, Clock.ms(), Double.NaN, tag, parentKey = parentKey)
      try f(id)
      finally synchronized { spans(id) = spans(id).copy(end = Clock.ms()) }
    }

  def close(id: Int, end: Double): Unit =
    if (enabled && id >= 0) synchronized { spans(id) = spans(id).copy(end = end) }

  def all: Seq[Span] = synchronized {
    spans.toSeq.map { s =>
      if (s.parent >= 0 || s.parentKey.isEmpty) s
      else s.copy(parent = Option(keyed.get(s.parentKey)).map(_.intValue).getOrElse(-1))
    }
  }
}

/** Per-operation scheduler, executor, shuffle and scan counters, taken
  * from Spark's own listener events. An operation is one batch query run
  * (keyed by its job group) or one micro-batch (keyed by query id and
  * batch id). Jobs and stages also become spans under the span the
  * workload registered for the operation's current phase.
  */
final class OpListener(tracer: Tracer) extends SparkListener {
  final class Op {
    var jobs = 0; var checkpointJobs = 0
    val stages = mutable.Set.empty[Int]; val submitted = mutable.Set.empty[Int]
    var tasks = 0L; var schedDelay = 0.0; var run = 0.0; var cpu = 0.0; var gc = 0.0
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWait = 0.0; var spill = 0L
    var inputBytes = 0L; var inputRows = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    // per stage: (wall ms, task run times)
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    val stageWall = mutable.Map.empty[Int, Double]
    var buildJobs = 0
  }

  val ops = new ConcurrentHashMap[String, Op]()
  /** op key → span id of the phase now running (set by the workload). */
  val phase = new ConcurrentHashMap[String, Integer]()
  /** op keys whose current phase is plan construction. */
  val building = ConcurrentHashMap.newKeySet[String]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOf = new ConcurrentHashMap[Int, (String, Double, Int)]()
  private val stageJobSpan = new ConcurrentHashMap[Int, Integer]()

  private def opKey(props: java.util.Properties): String =
    if (props == null) ""
    else Option(props.getProperty("sql.streaming.queryId")) match {
      case Some(q) => s"$q/${props.getProperty("streaming.sql.batchId")}"
      case None => Option(props.getProperty("spark.jobGroup.id")).getOrElse("")
    }

  def op(key: String): Op = ops.computeIfAbsent(key, _ => new Op)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = opKey(e.properties)
    if (key.isEmpty) return
    val o = op(key)
    // a job's call site names its result stage (the last one created)
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val parent = Option(phase.get(key)).map(_.intValue).getOrElse(-1)
    val spanId = tracer.add("job", "scheduler", parent, e.time.toDouble, Double.NaN,
      tag = e.jobId.toString,
      parentKey = if (parent < 0 && key.contains("/")) s"$key/addBatch" else "")
    o.synchronized {
      o.jobs += 1
      if (callSite.startsWith("localCheckpoint")) o.checkpointJobs += 1
      if (building.contains(key)) o.buildJobs += 1
      e.stageIds.foreach { s => o.stages += s; stageOp.put(s, key); stageJobSpan.putIfAbsent(s, spanId) }
    }
    jobOf.put(e.jobId, (key, e.time.toDouble, spanId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOf.remove(e.jobId)).foreach { case (key, start, spanId) =>
      val o = op(key)
      o.synchronized { o.jobSpans += ((start, e.time.toDouble)) }
      tracer.close(spanId, e.time.toDouble)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { key =>
      val o = op(key)
      o.synchronized { o.submitted += e.stageInfo.stageId }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageOp.get(si.stageId)).foreach { key =>
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield (s, c))
      wall.foreach { case (s, c) =>
        val o = op(key)
        o.synchronized { o.stageWall(si.stageId) = o.stageWall.getOrElse(si.stageId, 0.0) + (c - s) }
        tracer.add("stage", "scheduler",
          Option(stageJobSpan.get(si.stageId)).map(_.intValue).getOrElse(-1),
          s.toDouble, c.toDouble, tag = si.stageId.toString)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageOp.get(e.stageId)).foreach { key =>
      val o = op(key)
      val info = e.taskInfo
      val run = m.executorRunTime.toDouble
      val delay = math.max(0.0, info.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      o.synchronized {
        o.tasks += 1
        o.schedDelay += delay
        o.run += run
        o.cpu += m.executorCpuTime / 1e6
        o.gc += m.jvmGCTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        o.fetchWait += m.shuffleReadMetrics.fetchWaitTime
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.inputBytes += m.inputMetrics.bytesRead
        o.inputRows += m.inputMetrics.recordsRead
        o.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Double]) += run
      }
    }
  }

  /** One operation's counters; `lo`/`hi` bound its execute phase (the
    * micro-batch trigger for streaming), `cores` the local slots.
    */
  def summary(key: String, lo: Double, hi: Double, cores: Int): Map[String, Double] = {
    val o = op(key)
    o.synchronized {
      val wall = math.max(hi - lo, 1e-3)
      val skew = if (o.stageWall.isEmpty) 1.0 else {
        val longest = o.stageWall.maxBy(_._2)._1
        val runs = o.stageTasks.getOrElse(longest, mutable.ArrayBuffer(1.0)).toSeq
        runs.max / math.max(Stats.median(runs), 1.0)
      }
      Map(
        "build_jobs" -> o.buildJobs.toDouble,
        "n_jobs" -> o.jobs.toDouble,
        "n_stages" -> o.stages.size.toDouble,
        "n_stages_skipped" -> (o.stages -- o.submitted).size.toDouble,
        "n_tasks" -> o.tasks.toDouble,
        "sched_delay_ms" -> (if (o.tasks == 0) 0.0 else o.schedDelay / o.tasks),
        "driver_gap_ms" -> (wall - Stats.covered(o.jobSpans.toSeq, lo, hi)),
        "exec_run_ms" -> o.run,
        "exec_cpu_ms" -> o.cpu,
        "exec_gc_ms" -> o.gc,
        "slot_util" -> o.run / (wall * cores),
        "shuffle_write_bytes" -> o.shuffleWrite.toDouble,
        "shuffle_read_bytes" -> o.shuffleRead.toDouble,
        "shuffle_fetch_wait_ms" -> o.fetchWait,
        "spill_bytes" -> o.spill.toDouble,
        "task_skew" -> skew,
        "input_bytes" -> o.inputBytes.toDouble,
        "input_rows" -> o.inputRows.toDouble,
        "n_checkpoint_jobs" -> o.checkpointJobs.toDouble)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
