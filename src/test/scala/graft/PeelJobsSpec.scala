package graft

import graft.dedup.Dedup
import graft.ops.Analytics
import graft.text.TextAnalysis
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** No Spark job of an operator that checkpoints and then frees its
  * inputs fails, even after the query returns.
  *
  * `trussPeel` and `coreNumbers` free each retired round's checkpoint
  * once its successor is materialized; `lshPrCurve`,
  * `betweennessWeighted` and `bpeMerges` free the tables a checkpointed
  * readout was computed from. Adaptive execution may finish a query
  * while a shuffle-map stage it no longer needs still runs (a join side
  * that turned out empty); if that stage reads a freed checkpoint, its
  * job aborts with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` although the
  * result is correct. A `SparkListener` sees every job, including such
  * orphans, so each operator runs 40 times and the spec asserts that no
  * job ended in `JobFailed`.
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

  // two identical documents and an unrelated one: one true pair
  private def corpus = {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different words entirely unrelated to anything else here now"
    Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
  }

  test(s"lshPrCurve: no job fails over $Runs runs") {
    val failed = failedJobs(Dedup.lshPrCurve(corpus))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test(s"betweennessWeighted: no job fails over $Runs runs") {
    val pairs = Seq((1L, 2L, 100L), (2L, 3L, 100L), (1L, 3L, 2L), (3L, 4L, 10L))
      .toDF("item_a", "item_b", "n_ab")
    val failed = failedJobs(Analytics.betweennessWeighted(pairs))
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test(s"bpeMerges: no job fails over $Runs runs") {
    val docs = Seq((1L, "a b a b a b c"), (2L, "a b c a b c"), (3L, "c c c d"))
      .toDF("doc_id", "text")
    val failed = failedJobs(TextAnalysis.bpeMerges(docs, rounds = 3))
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
