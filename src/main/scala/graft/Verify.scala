package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify", GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // dev filter (same contract as Bench): SPARK_GRAFT_ONLY=a,b,c
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // manifest FIRST, before any query runs: check.py fails exactly the
    // queries this run attempted but never dumped (crash before write),
    // independent of how check.py itself is invoked — keying the skip
    // decision on check.py's own SPARK_GRAFT_ONLY value let a full-run
    // check silently skip crashes and a subset check FAIL undumped
    // non-subset queries (r10 ADVICE).
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      attempted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    attempted.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
