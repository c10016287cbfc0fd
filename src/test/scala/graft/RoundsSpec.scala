package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** [[Rounds]]: what it materializes, where it stops and what it frees.
  *
  * The persisted-RDD checks follow CheckpointHygieneSpec: each test keeps
  * its frames strongly reachable until `getPersistentRDDs` (which holds
  * RDDs weakly) has been read, so a GC cannot change a count.
  */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint: ${other.nodeName}")
  }

  private def ids(n: Int) = (1L to n).toDF("id")

  test("0 rounds: the initial frame is the result and no step runs") {
    val before = persisted
    var calls = 0
    val rounds = Rounds.from(ids(3)).iterate(0) { (df, _) => calls += 1; df }
    assert(calls === 0)
    assert(rounds.frame.count() === 3)
    assert(persisted -- before === Set(rddId(rounds.frame)))
    rounds.close()
    assert(persisted -- before === Set.empty)
  }

  test("fixed rounds: each round sees the previous one and its index; retired rounds are freed") {
    val before = persisted
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rounds = Rounds.from(ids(5)).iterate(3) { (df, r) =>
      seen += r
      df.filter(col("id") > r)
    }
    assert(seen.toList === List(1, 2, 3))
    assert(rounds.frame.as[Long].collect().sorted.toList === List(4L, 5L))
    assert(persisted -- before === Set(rddId(rounds.frame)))
    rounds.close()
    assert(persisted -- before === Set.empty)
  }

  test("fixpoint on round 1: the unneeded successor is freed and the input stays current") {
    val before = persisted
    val rounds = Rounds.from(ids(4))
    val init = rounds.frame
    var calls = 0
    rounds.iterate(5, untilFixpoint = true) { (df, _) => calls += 1; df.filter(col("id") > 0) }
    assert(calls === 1)
    assert(rounds.frame eq init)
    assert(rounds.rowCount === 4)
    assert(persisted -- before === Set(rddId(init)))
    rounds.close()
  }

  test("fixpoint: stops after the round that empties the frame") {
    val before = persisted
    val rounds = Rounds.from(ids(6))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    // each round keeps the ids above the round's smallest id + 2
    rounds.iterate(10, untilFixpoint = true) { (df, _) =>
      val rows = df.as[Long].collect()
      seen += rows.length
      df.filter(col("id") > rows.min + 2)
    }
    assert(seen.toList === List(6L, 3L))
    assert(rounds.rowCount === 0)
    assert(persisted -- before === Set(rddId(rounds.frame)))
    rounds.close()
  }

  test("an empty initial frame: a fixpoint loop runs no round, a fixed loop runs them all") {
    val empty = ids(3).filter(col("id") > 3)
    var calls = 0
    val fix = Rounds.from(empty).iterate(4, untilFixpoint = true) { (df, _) => calls += 1; df }
    assert(calls === 0 && fix.rowCount === 0)
    fix.close()
    val fixed = Rounds.from(empty).iterate(4) { (df, _) => calls += 1; df }
    assert(calls === 4 && fixed.frame.count() === 0)
    fixed.close()
  }

  test("stages: the fixpoint test reads the first stage; later stages run only past it") {
    val rounds = Rounds.from(ids(4).withColumn("tag", col("id") * 10))
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    rounds.iterate(5, untilFixpoint = true)(
      (df, _) => { stages += "peel"; df.filter(col("id") > 2).select(col("id")) },
      (df, _) => { stages += "tag"; df.withColumn("tag", col("id") * 10) })
    // round 1 peels 4 → 2 rows and tags them; round 2 peels 2 → 2: fixpoint
    assert(stages.toList === List("peel", "tag", "peel"))
    assert(rounds.frame.columns.toList === List("id", "tag"))
    assert(rounds.rowCount === 2)
    rounds.close()
  }

  test("after a run the persisted RDDs are exactly the kept frames") {
    val before = persisted
    val rounds = Rounds.from(ids(8))
    val kept0 = rounds.keep()
    rounds.iterate(2) { (df, r) => df.filter(col("id") > r) }
    val kept2 = rounds.keep()
    rounds.iterate(3) { (df, r) => df.filter(col("id") > 2 + r) }
    rounds.close()
    val after = persisted
    assert(after -- before === Set(rddId(kept0), rddId(kept2)))
    assert(kept2.count() === 6)
    java.lang.ref.Reference.reachabilityFence(kept0)
    java.lang.ref.Reference.reachabilityFence(kept2)
    LocalCheckpoints.free(kept0)
    LocalCheckpoints.free(kept2)
  }
}
