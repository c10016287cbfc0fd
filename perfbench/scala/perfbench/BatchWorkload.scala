package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A fixed list of registered queries (`SparkEntry.queries`), run in
  * passes whose order the seed shuffles. One operation = one query run:
  * build (the registry builder, which includes analysis) → optimize →
  * physical plan → `queryExecution.toRdd.count()`.
  */
final class BatchWorkload(job: Main.Job, tracer: Tracer) extends Workload {
  private val dataDir = job.str("data_dir")
  private val names = job.strs("queries")
  private val registry = graft.SparkEntry.queries
  private var session: SparkSession = _
  private var listener: OpListener = _
  private var opSeq = 0
  private val checked = mutable.ArrayBuffer.empty[Map[String, Any]]

  def spark: SparkSession = session

  names.foreach(n => require(registry.contains(n), s"unknown query $n"))

  /** Session, table registration, and one untimed pass over the list
    * that warms up and collects every query's rows for the oracle.
    */
  def setup(): Unit = {
    session = graft.GraftSession.local("perfbench", job.cores)
    graft.Tables.registerAll(session, dataDir)
    names.foreach(q => checked += runOne(q, -1, -1, collect = true, traced = false))
  }

  /** One query run; with `collect` the rows come back for the oracle.
    * A traced run attaches the listener and records spans for this run
    * only, so traced and untraced runs interleave in one timed region.
    */
  private def runOne(name: String, pass: Int, parent: Int, collect: Boolean,
      traced: Boolean): Map[String, Any] = {
    val sc = session.sparkContext
    tracer.enabled = traced
    if (traced) sc.addSparkListener(listener)
    opSeq += 1
    val group = s"op$opSeq"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    session.catalog.clearCache()
    val t0 = Clock.ms()
    var stamps = Vector(t0)
    def phase[T](span: String, layer: String, qSpan: Int)(f: => T): T = {
      val r = tracer.around(span, layer, qSpan, name) { id =>
        if (traced) {
          if (id >= 0) listener.phase.put(group, id)
          if (span == "build") listener.building.add(group) else listener.building.remove(group)
        }
        f
      }
      stamps :+= Clock.ms()
      // the listener bus is asynchronous: let it catch up before the next
      // phase relabels this operation's jobs
      if (traced) org.apache.spark.PerfbenchBus.drain(sc)
      r
    }
    val out = try {
      tracer.around("query", "registry", parent, name) { qSpan =>
        val df = phase("build", "registry", qSpan)(registry(name)(session, dataDir))
        val qe = df.queryExecution
        phase("optimize", "planner", qSpan)(qe.optimizedPlan)
        phase("physical_plan", "planner", qSpan)(qe.executedPlan)
        val rows = phase("execute", "executor", qSpan) {
          if (collect) Left(df.collect()) else Right(qe.toRdd.count())
        }
        val analysis = qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        (df, rows, analysis)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        null
    } finally {
      sc.clearJobGroup()
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      tracer.enabled = job.trace
    }
    val ok = out != null
    val base = Map[String, Any]("name" -> name, "pass" -> pass, "ok" -> ok,
      "ms" -> (Clock.ms() - t0), "traced" -> traced)
    if (!ok) base
    else {
      val (df, rows, analysis) = out
      val Seq(a, b, c, d, e) = stamps
      if (collect) rows.left.foreach(r => dump(name, df, r))
      val layers = if (!traced) Map.empty[String, Double]
        else listener.summary(group, d, e, job.cores)
      base ++ Map(
        "build_ms" -> (b - a), "analysis_ms" -> analysis, "optimize_ms" -> (c - b),
        "physical_plan_ms" -> (d - c), "execute_ms" -> (e - d),
        "rows" -> rows.fold(_.length.toLong, identity), "layers" -> layers)
    }
  }

  /** Results as typed JSON cells, compared with the DuckDB oracle by
    * `run.py`: doubles travel as their exact bit pattern.
    */
  private def dump(name: String, df: DataFrame, rows: Array[Row]): Unit = {
    def cell(v: Any, t: DataType): Any = (v, t) match {
      case (null, _) => null
      case (x: Double, _) => Seq("f", java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x)))
      case (x: Float, _) => Seq("f", java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x.toDouble)))
      case (x: java.math.BigDecimal, _) => Seq("d", x.toPlainString)
      case (x: java.sql.Timestamp, _) =>
        Seq("ts", Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
      case (x: java.time.Instant, _) => Seq("ts", x.getEpochSecond * 1000000L + x.getNano / 1000)
      case (x: java.time.LocalDateTime, _) =>
        val i = x.toInstant(java.time.ZoneOffset.UTC)
        Seq("ts", i.getEpochSecond * 1000000L + i.getNano / 1000)
      case (x: java.sql.Date, _) => Seq("dt", x.toLocalDate.toEpochDay)
      case (x: java.time.LocalDate, _) => Seq("dt", x.toEpochDay)
      case (x: Array[Byte], _) => Seq("bin", java.util.Base64.getEncoder.encodeToString(x))
      case (x: scala.collection.Seq[_], ArrayType(et, _)) => Seq("l", x.map(cell(_, et)))
      case (x: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
        Seq("m", x.toSeq.map { case (k, w) => Seq(cell(k, kt), cell(w, vt)) })
      case (x: Row, st: StructType) =>
        Seq("st", st.fields.zipWithIndex.map { case (f, i) => Seq(f.name, cell(x.get(i), f.dataType)) }.toSeq)
      case (x: Boolean, _) => Seq("b", x)
      case (x: String, _) => Seq("s", x)
      case (x: Number, _) => Seq("i", x.longValue)
      case (x, _) => Seq("s", x.toString)
    }
    val fields = df.schema.fields
    val body = Map(
      "oracle_sql" -> graft.SparkEntry.oracleSql.getOrElse(name, ""),
      "columns" -> fields.map(_.name).toSeq,
      "types" -> fields.map(_.dataType.simpleString).toSeq,
      "rows" -> rows.toSeq.map(r => fields.indices.map(i => cell(r.get(i), fields(i).dataType))))
    val dir = new File(job.out, "results")
    dir.mkdirs()
    Main.json.writeValue(new File(dir, s"$name.json"), Main.toJava(body))
  }

  /** Whole passes over the list until `seconds` have passed. In a traced
    * run a query is traced in every other pass, and half the list in each
    * pass, so traced and untraced runs of each query alternate and neither
    * half is always the warmer.
    */
  private def passes(seconds: Double, parent: Int): Seq[Map[String, Any]] = {
    val start = Clock.ms()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (pass == 0 || Clock.ms() - start < seconds * 1000) {
      val order = new scala.util.Random(job.seed * 1000003L + pass).shuffle(names)
      val t0 = Clock.ms()
      val p = pass
      val res = tracer.around("pass", "workload", parent, p.toString) { span =>
        order.map(n => runOne(n, p, span, collect = false,
          traced = job.trace && (p + names.indexOf(n)) % 2 == 0))
      }
      ops ++= res
      ops += Map("pass_ms" -> (Clock.ms() - t0), "pass" -> p)
      pass += 1
    }
    ops.toSeq
  }

  def measure(): Map[String, Any] = {
    if (job.trace) listener = new OpListener(tracer)
    // the workload and pass spans stay on; runOne switches the rest
    tracer.enabled = job.trace
    val ops = tracer.around("workload", "workload", -1, job.workload)(passes(job.seconds, _))
    Map("ops" -> ops)
  }

  def check(): Map[String, Any] =
    Map("queries" -> checked.map(m => Map("name" -> m("name"), "ok" -> m("ok"))).toSeq)
}
