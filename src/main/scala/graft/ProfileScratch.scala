package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only job/stage profiler for optimization rounds: runs selected
  * registered queries once (after a warmup) and prints per-job wall times
  * and per-stage task totals, so iterative queries' cost can be attributed
  * to specific checkpoints/shuffles without the UI.
  *
  * Usage: runMain graft.ProfileScratch q1,q2 [repeats]
  */
object ProfileScratch {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val repeats = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-profile", GraftSession.envCores)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var lines = List.empty[String]
    @volatile var stageTask = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (0L, "?"))
        val ms = (System.nanoTime() - t0) / 1e6
        lines ::= f"    job ${je.jobId}%4d ${ms}%9.1f ms  $desc"
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageTask += sc.stageInfo.taskMetrics.executorRunTime
        val si = sc.stageInfo
        lines ::= f"      stage ${si.stageId}%4d run=${si.taskMetrics.executorRunTime}%6d ms cpu=${si.taskMetrics.executorCpuTime / 1000000}%6d ms tasks=${si.numTasks}%3d  ${si.name.take(60)}"
      }
    })
    // warmup
    spark.range(100000).selectExpr("sum(conv(substr(md5(cast(id as string)),1,15),16,10))").collect()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to repeats).foreach { r =>
        spark.catalog.clearCache()
        lines = Nil; stageTask = 0L
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener is async; give it a beat
        Thread.sleep(300)
        println(f"== $name run $r: $sec%.2f s total, $n rows, ${lines.size} jobs, executorRunTime ${stageTask} ms")
        lines.reverse.foreach(println)
      }
    }
    spark.stop()
  }
}
