package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark process entry: `Main <job.json>`. Reads the job written by
  * `run.py`, sets the workload up once, runs it for the job's seconds, and writes raw measurements to `<out>/result.json` (spans to
  * `<out>/spans.jsonl`). Timing, metric reduction and the oracle compare
  * of batch results happen in `run.py`.
  */
object Main {
  val json = new ObjectMapper()

  final case class Job(node: JsonNode) {
    def str(k: String): String = node.path(k).asText()
    def int(k: String): Int = node.path(k).asInt()
    def dbl(k: String): Double = node.path(k).asDouble()
    def bool(k: String): Boolean = node.path(k).asBoolean()
    def strs(k: String): Seq[String] = node.path(k).elements().asScala.map(_.asText()).toSeq
    val workload: String = str("workload")
    val out: File = new File(str("out_dir"))
    val seconds: Double = dbl("seconds")
    val trace: Boolean = bool("trace")
    val cores: Int = int("cores")
    val seed: Long = node.path("seed").asLong()
  }

  /** The same fixed CPU probe expression as `graft.Bench`. */
  def probeMs(spark: SparkSession): Double = {
    val t0 = Clock.ms()
    spark.range(150000)
      .selectExpr("sum(conv(substr(md5(cast(id as string)),1,15),16,10))").collect()
    Clock.ms() - t0
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val job = Job(json.readTree(new File(args(0))))
    job.out.mkdirs()
    val tracer = new Tracer(false)
    val workload: Workload = job.str("kind") match {
      case "batch" => new BatchWorkload(job, tracer)
      case "stream" => new StreamWorkload(job, tracer)
      case k => throw new IllegalArgumentException(s"unknown workload kind $k")
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    // set-up is timed from JVM start: start-up, session, warm-up
    workload.setup()
    val setupS = (Clock.ms() - processStart) / 1000.0
    val spark = workload.spark
    val probeBefore = probeMs(spark)
    val body = workload.measure()
    val probeAfter = probeMs(spark)
    val check = workload.check()
    result.put("setup_s", setupS)
    result.put("probe_ms", Seq(probeBefore, probeAfter).asJava)
    result.put("peak_rss_mb", peakRssMb())
    result.put("measure", body)
    result.put("check", check)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(job.out, "result.json"), toJava(result))
    if (job.trace) {
      val lines = tracer.all.map { s =>
        json.writeValueAsString(toJava(Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start" -> s.start, "end" -> (if (s.end.isNaN) s.start else s.end), "tag" -> s.tag)))
      }
      Files.write(new File(job.out, "spans.jsonl").toPath, lines.mkString("\n").getBytes(UTF_8))
    }
    // everything is written; Spark's scratch space is inside the run
    // directory, which run.py removes, so skip the slow orderly shutdown
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Scala collections → Java ones, for Jackson. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case s: java.util.List[_] => s.asScala.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

/** A workload: set-up, a timed body and an untimed check. */
trait Workload {
  def spark: SparkSession
  /** Build the session and warm up. */
  def setup(): Unit
  /** The timed region; returns raw measurements. */
  def measure(): Map[String, Any]
  /** Output correctness, after timing. */
  def check(): Map[String, Any]
}
