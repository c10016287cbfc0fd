package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.DataFrame

/** Shared helper for freeing `localCheckpoint` blocks.
  *
  * localCheckpoint RDDs are NOT tracked by the CacheManager
  * (`catalog.clearCache()` cannot touch them) and only fall to the
  * ContextCleaner after a JVM GC, so iterative operators that checkpoint
  * per round must free retired intermediates explicitly or they pin
  * storage memory for the life of the session.
  *
  * == Cluster-scale posture (the 100 TB story) ==
  *
  * Every checkpoint-per-round loop (graph loops, edge-contraction dedup
  * clustering, BPE merge rounds, the PQ and power-iteration refits) runs
  * through [[Rounds]], which `localCheckpoint`s each round to cut
  * lineage: without it the per-round plan references its input 2–3×, the
  * lineage grows ~3^rounds, and the PLANNER dies before any data moves.
  * On `local[*]` this is free of risk. On a real cluster the trade is
  * explicit (guide §5): localCheckpoint pins blocks to the executors
  * that computed them — an executor loss makes the truncated lineage
  * UNRECOVERABLE (the job fails and restarts from the last durable
  * input) and blocks dynamic executor decommissioning. A long loop over
  * 100 TB should therefore swap the per-round `localCheckpoint()` for
  * reliable `checkpoint()` into a `sparkContext.setCheckpointDir` on
  * the cluster's DFS every K rounds (K ≈ 5–10 amortizes the DFS write
  * against the recompute-on-loss window). The loops keep the local
  * flavor because the bench contract is single-host; the swap is one
  * change in [[Rounds.materialize]], not an algorithm change.
  */
object LocalCheckpoints {

  /** Unpersist the checkpoint blocks behind a localCheckpoint'ed frame
    * (no-op for any other plan shape). Only call once the frame's data is
    * no longer needed — a localCheckpoint has no lineage to recompute.
    */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }
}

/** One checkpoint-per-round loop: the one place that materializes a
  * round, tests for a fixpoint and frees the round a successor replaces.
  * A retired round is freed only after its successor is materialized,
  * and never if the caller asked to [[keep]] it for a plan it returns.
  */
private[graft] final class Rounds private (private var cur: DataFrame) {
  // row count of `cur`; -1 until a fixpoint test counts it
  private var rows = -1L
  private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** The current round. */
  def frame: DataFrame = cur

  /** Row count of the current round: one job unless a fixpoint round
    * already counted it. */
  def rowCount: Long = {
    if (rows < 0) rows = cur.count()
    rows
  }

  /** Never free the current round, and return it. */
  def keep(): DataFrame = {
    kept += cur
    cur
  }

  /** Materialize `f(frame)` as the next round. */
  def step(f: DataFrame => DataFrame): Rounds = {
    advance(Rounds.materialize(f(cur)))
    rows = -1
    this
  }

  /** Up to `maxRounds` rounds; round `r` (from 1) materializes each
    * stage in turn, the first over the current round.
    *
    * With `untilFixpoint` the loop also stops before a round whose input
    * is empty, and after a first stage that returns as many rows as the
    * round's input: that stage is freed and the input stays current. The
    * test is one `count()` job per round, plus one on the first input. It
    * is exact for a first stage that never adds rows, and later stages
    * must keep the row count.
    */
  def iterate(maxRounds: Int, untilFixpoint: Boolean = false)(
      stages: ((DataFrame, Int) => DataFrame)*): Rounds = {
    var r = 1
    while (r <= maxRounds && !(untilFixpoint && rowCount == 0)) {
      val first = Rounds.materialize(stages.head(cur, r))
      val n = if (untilFixpoint) first.count() else -1L
      if (n >= 0 && n == rows) {
        LocalCheckpoints.free(first)
        return this
      }
      advance(first)
      stages.tail.foreach(s => advance(Rounds.materialize(s(cur, r))))
      rows = n
      r += 1
    }
    this
  }

  /** Free the current round unless it is kept. */
  def close(): Unit = retire()

  private def advance(next: DataFrame): Unit = {
    retire()
    cur = next
  }

  private def retire(): Unit =
    if (!kept.exists(_ eq cur)) LocalCheckpoints.free(cur)
}

private[graft] object Rounds {

  /** A loop whose round 0 is `plan`, materialized. */
  def from(plan: DataFrame): Rounds = new Rounds(materialize(plan))

  /** The last round of a fixed-count loop from `init`. */
  def iterate(init: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    from(init).iterate(maxRounds)(step).frame

  private val tags = new java.util.concurrent.atomic.AtomicLong

  /** `plan.localCheckpoint()`, returning once every job it started has
    * ended (for at most a minute). Adaptive execution can finish a query
    * while a shuffle-map job its final plan no longer needs still runs
    * (a join side that turned out empty); such a job reads the plan's
    * inputs, so freeing one when the query returned aborted the job with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
    */
  def materialize(plan: DataFrame): DataFrame = {
    val sc = plan.sparkSession.sparkContext
    val tag = s"graft-round-${tags.incrementAndGet()}"
    sc.addJobTag(tag)
    val done = try plan.localCheckpoint() finally sc.removeJobTag(tag)
    val status = sc.statusTracker
    def running = status.getJobIdsForTag(tag).exists(id =>
      status.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline)
      java.util.concurrent.locks.LockSupport.parkNanos(100L * 1000)
    done
  }
}
