package graft

import graft.ops.Analytics
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** No Spark job of a fixpoint peel fails, even after the query returns.
  *
  * `trussPeel` and `coreNumbers` free each retired round's checkpoint
  * once its successor is materialized. Adaptive execution may finish a
  * round's query while a shuffle-map stage it no longer needs still
  * runs (a join side that turned out empty); if that stage reads the
  * freed round, its job aborts with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`
  * although the result is correct. A `SparkListener` sees every job,
  * including such orphans, so each peel runs 40 times and the spec
  * asserts that no job ended in `JobFailed`.
  */
class PeelJobsSpec extends SparkSpec {
  import spark.implicits._

  private val Runs = 40

  /** Job ends and the failures among them, with each failed job's stage
    * names and call site. */
  private final class JobLog extends SparkListener {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    private val stages = mutable.Map.empty[Int, String]
    val failures = mutable.ArrayBuffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started.incrementAndGet()
      val site = Option(e.properties).map(_.getProperty("callSite.short")).orNull
      stages(e.jobId) = e.stageInfos.map(_.name).mkString("; ") + s" [call site: $site]"
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      e.jobResult match {
        case JobFailed(ex) =>
          failures += s"job ${e.jobId} (${stages.getOrElse(e.jobId, "?")}): ${ex.getMessage.take(200)}"
        case _ => ()
      }
      ended.incrementAndGet()
    }
  }

  /** Failed jobs over `Runs` collects of `frame`. Waits until every
    * started job has ended, so an orphan stage that outlives its query
    * is counted too. */
  private def failedJobs(frame: => DataFrame): Seq[String] = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      (1 to Runs).foreach(_ => frame.collect())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var quiet = 0
      while (quiet < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val idle = spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
          log.started.get == log.ended.get
        quiet = if (idle) quiet + 1 else 0
      }
      assert(quiet >= 5, "jobs still running 60 s after the last peel")
      info(s"${log.ended.get / Runs} jobs per run")
      log.synchronized(log.failures.toList)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  // two triangles sharing edge (2,3): trussPeel's k=4 level peels
  // 5 → 1 → 0 edges, and the peel that empties it leaves a join side empty
  private def chain = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    .toDF("src", "dst")

  // K4 plus the pendant path 4-5-6: the k=2 level peels the path, k=4 all
  private def k4path = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L)).toDF("src", "dst")

  test(s"trussPeel: no job fails over $Runs runs") {
    val failed = failedJobs(Analytics.trussPeel(chain, kMax = 4, rounds = 5))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test(s"coreNumbers: no job fails over $Runs runs") {
    val failed = failedJobs(Analytics.coreNumbers(k4path, kMax = 4, rounds = 6))
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
