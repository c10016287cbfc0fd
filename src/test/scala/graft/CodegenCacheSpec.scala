package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Spark's generated-class cache holds the engine's working set: a cyclic
  * set of more distinct classes than Spark's default 100 entries compiles
  * nothing the second time round in a `GraftSession.local` session, and
  * compiles again in a plain session (the control, which shows the test
  * can see the thrash). And code that differs only in its whole-stage
  * stage id is one cache entry.
  *
  * The cache is sized once per JVM, and every suite shares one forked test
  * JVM, so the cache-size cases run in a child JVM of their own: the
  * `main` below.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Runs the child in `mode`; returns its second-cycle compile count and
    * its output lines (stdout and stderr).
    */
  private def child(mode: String): (Long, Vector[String]) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the parent's JVM flags (module opens, log4j config), with a small heap
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(java) ++ flags ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.CodegenCacheSpec", mode)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    val rc = p.waitFor()
    assert(rc == 0, s"child $mode exited with $rc:\n" + out.takeRight(40).mkString("\n"))
    val count = out.collectFirst {
      case l if l.startsWith(CodegenCacheSpec.Marker) => l.stripPrefix(CodegenCacheSpec.Marker).toLong
    }
    assert(count.isDefined, s"child $mode printed no count:\n" + out.takeRight(40).mkString("\n"))
    (count.get, out)
  }

  private def cacheWarnings(out: Vector[String]): Int =
    out.count(l => l.contains("WARN") && l.contains("spark.sql.codegen.cache.maxEntries"))

  test("GraftSession.local: a second cycle over 150 distinct classes compiles none") {
    val (compiles, out) = child("graft")
    assert(compiles == 0)
    assert(cacheWarnings(out) == 0)
  }

  test("control: a plain session recompiles the cycle, and tune() warns once about its cache") {
    val (compiles, out) = child("plain")
    assert(compiles > 0)
    assert(cacheWarnings(out) == 1, out.filter(_.contains("WARN")).mkString("\n"))
  }

  test("the same projection at another codegen stage id is not compiled again") {
    def compiles(df: DataFrame): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      df.queryExecution.toRdd.count()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val alone = spark.range(4).selectExpr("id * 7919 + 104729L AS v")
    // one new class, compiled by the driver and once more for its tasks
    val oneClass = compiles(alone)
    assert(oneClass > 0)
    // a union child is its own whole-stage stage: `alone` is stage 2 here,
    // not 1, and only the first child's class is new
    val union = spark.range(4).selectExpr("id * 7907 + 104723L AS v").union(alone)
    assert(compiles(union) == oneClass)
  }
}

/** The child JVM: `graft` builds its session with `GraftSession.local`;
  * `plain` builds one with Spark's defaults and hands it to
  * `GraftSession.tune`, as an externally created session would be. Each
  * runs the cycle twice and prints the second cycle's compile count.
  */
object CodegenCacheSpec {
  val Marker = "second-cycle compiles: "

  def main(args: Array[String]): Unit = {
    val spark = args(0) match {
      case "graft" => GraftSession.local("codegen-cache", 2)
      case "plain" =>
        GraftSession.tune(SparkSession.builder().master("local[2]").appName("codegen-cache")
          .config("spark.ui.enabled", "false").getOrCreate())
    }
    // literals are inlined in generated code, so each projection is a
    // distinct whole-stage class: 150 of them, past Spark's default 100
    def cycle(): Unit = (1 to 150).foreach { i =>
      spark.range(4).selectExpr(s"id * $i + ${i * 7}L AS v").queryExecution.toRdd.count()
    }
    cycle()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cycle()
    println(Marker + (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before))
    spark.stop()
  }
}
