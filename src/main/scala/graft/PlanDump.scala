package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for a set
  * of registered queries to files, so plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt for each selected query (all
  * registered queries when the list is omitted). Uses the same env contract
  * as [[Bench]] (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) so the dumped plans
  * are the ones the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-plandump", GraftSession.envCores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
