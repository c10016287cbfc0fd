package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame

/** Invocation-scoped index hygiene for the dedup calibration readouts.
  *
  * lshPrCurve / methodAgreement / ensembleImpact / lshBandDesign each
  * build corpus-sized shingle/signature indexes via `localCheckpoint`.
  * Those blocks are NOT CacheManager-tracked (`clearCache` cannot touch
  * them) and only fall to the ContextCleaner after a GC, so each op must
  * materialize its few-row readout and free its indexes before returning
  * — otherwise repeated invocations in a long-lived session pin
  * corpus-sized block sets (ADVICE r10). The contract checked here: one
  * invocation leaves behind exactly ONE persisted RDD — the checkpointed
  * readout itself (≤ 9 rows) — never the shingle or signature indexes.
  */
class CheckpointHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val a = "the quick brown fox jumps over the lazy dog again and again"
  private val b = "completely different words entirely unrelated to anything else here now"
  private val corpus = docs((1L, a), (2L, a), (3L, b))

  /** Persisted RDDs that building and collecting `frame` leaves behind.
    * `getPersistentRDDs` holds its RDDs weakly, and the kept checkpoints
    * are reachable only through the frame's plan, so the frame stays
    * strongly reachable until after the second read: a GC in between
    * would otherwise drop kept RDDs from the count.
    */
  private def newPersisted(frame: => DataFrame): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = frame
    df.collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    java.lang.ref.Reference.reachabilityFence(df)
    (after -- before).size
  }

  test("lshPrCurve frees its shingle and signature indexes; only the readout stays") {
    assert(newPersisted(Dedup.lshPrCurve(corpus)) === 1)
  }

  test("methodAgreement frees its shingle and signature indexes; only the readout stays") {
    assert(newPersisted(Dedup.methodAgreement(corpus)) === 1)
  }

  test("ensembleImpact frees its shingle and signature indexes; only the readout stays") {
    assert(newPersisted(Dedup.ensembleImpact(corpus)) === 1)
  }

  test("lshBandDesign frees its shingle and signature indexes; only the readout stays") {
    assert(newPersisted(Dedup.lshBandDesign(corpus)) === 1)
  }

  test("pqTrainConverge frees seed and retired codebooks; one readout per round stays") {
    // per round the op checkpoints a (j, code) readout (kept — it backs
    // the returned union) and the next codebook (freed when retired);
    // the seed codebook and the final codebook are freed too, so the
    // delta is exactly `rounds` tiny readout tables
    def const(v: Float) = Seq.fill(64)(v)
    val emb = ((0 until 8).map(i => (i.toLong, const((i + 1) * 0.1f), 0)) ++
      Seq((8L, 0.103f +: const(0.1f).tail, 0)))
      .toDF("vec_id", "embedding", "label")
    assert(newPersisted(graft.sim.Similarity.pqTrainConverge(emb, rounds = 2)) === 2)
    assert(newPersisted(graft.sim.Similarity.pqTrainConverge(emb, rounds = 3)) === 3)
  }

  test("trussPeel frees retired peel rounds; only the edge table, supports and fixpoints stay") {
    // kept: the support table (backs the returned join) and each
    // level's fixpoint survivor table; the canonical edge table and every
    // non-fixpoint intermediate round are freed. On the two-triangle
    // chain: sup0 (k=3 fixpoint, shared) + the k=4 fixpoint = 2
    import graft.ops.Analytics
    val chain = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(newPersisted(Analytics.trussPeel(chain, kMax = 4, rounds = 5)) === 2)
  }

  test("coreNumbers frees the edge sets; only the node table and level sets stay") {
    // kept: allNodes + one node set per level (kMax − 1 = 3); the
    // canonical edge table and every peel round's edge set are freed
    import graft.ops.Analytics
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    assert(newPersisted(Analytics.coreNumbers(g, kMax = 4, rounds = 6)) === 4)
  }
}
