package graft.sim

import graft.{Cols, Tables}
import graft.Cols.dec38
import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search and embedding-health readouts
  * over the `embeddings` table.
  *
  * Every `ann_` operator is a composition of a few shared stages, each
  * defined once below:
  *  - the strided query batch ([[queryBatch]], [[queryVecs]]) broadcast
  *    against one corpus scan ([[scanPairs]]) — the corpus never
  *    shuffles, and [[bruteForceTopK]] is that scan scored by exact cosine;
  *  - candidate generation by an index: hyperplane-LSH buckets
  *    ([[lshScored]]), IVF cells ([[cellCentroids]], [[probeCells]]), PQ
  *    codes and the per-query ADC table ([[pqCodebook]], [[pqAssign]],
  *    [[adcTable]]), residual codes ([[rqEncode]]), int8 or sign codes;
  *  - the per-query top-k cut ([[cutTopK]] over [[queryRank]]);
  *  - the exact-cosine rerank of a code-only shortlist ([[exactRerank]]).
  * The clustering and whitening readouts share the integer floor centroid
  * ([[dimSums]], [[floorMean]]) and the power-iteration steps
  * ([[centerDeflate]], [[renormE4]]).
  *
  * Quantization (milli-unit longs, Dedup.quantized) keeps all dot products
  * exact integer sums — deterministic across engines and orders.
  */
object Similarity {

  val TopK = 5
  /** Every 50th vector is a query — scales with the corpus. */
  val QueryStride = 50

  /** The bounded query batch every ANN query in this family searches for.
    *
    * Design note (the 100 TB query-batch story): the fixtures model the
    * query set as the strided 2 % subset of the corpus, but the DESIGN
    * invariant is that queries are a bounded batch — in production an
    * explicit small queries table replaces this filter and everything
    * else is unchanged. What that invariant buys is broadcast safety:
    * the broadcast side of every scoring/rerank join in this file must
    * be the QUERY BATCH (or another bounded-by-construction table — a
    * k-row codebook, a |labels|-row centroid table, a 1-row total),
    * NEVER the corpus. A corpus-sized broadcast materializes every
    * vector on every executor — an OOM at 100 TB even when the join
    * keys would later prune it to the strided rows (VERDICT r8 #3).
    * All broadcast query sides therefore flow through this helper;
    * BroadcastBoundSpec sweeps the registered sim/emb plans and fails
    * any BroadcastExchange whose subtree is neither strided, aggregated,
    * nor codebook-capped.
    */
  private[graft] def queryBatch(vecs: DataFrame): DataFrame =
    vecs.filter(pmod(col("vec_id"), lit(QueryStride)) === 0)

  /** The query batch of `vecs` keyed `query_id`, carrying `extra` and
    * then `qv`/`norm2` as `q_qv`/`q_norm2` — the query side of every
    * exact-cosine scan, probe and rerank here.
    */
  private def queryVecs(vecs: DataFrame, extra: Column*): DataFrame =
    queryBatch(vecs).select(
      (col("vec_id").as("query_id") +: extra) ++
        Seq(col("qv").as("q_qv"), col("norm2").as("q_norm2")): _*)

  /** Exact quantized cosine between a [[queryVecs]] row and a vector's
    * own `qv`/`norm2`, named `cosine`. */
  private def exactCosine: Column =
    Dedup.cosineQ(col("q_qv"), col("q_norm2"), col("qv"), col("norm2")).as("cosine")

  /** The broadcast query-batch scan: `queries` (a projection of the query
    * batch keyed `query_id`) is broadcast against one scan of `vecs`, and
    * every (query, other vector) pair is scored by `score`, the vector
    * keyed `id`. The corpus is scanned once and never shuffles.
    */
  private def scanPairs(vecs: DataFrame, queries: DataFrame, score: Column,
      id: String = "neighbor_id"): DataFrame =
    vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as(id), score)

  /** Row number within each query by `order` — the rank behind every
    * per-query cut, probe and shortlist here. */
  private def queryRank(order: Column*): Column =
    row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*))

  /** The per-query top-k cut: each query's first `k` rows of `scored` by
    * `order` (its last key breaks ties), numbered 1..k in the long
    * column `rank`. */
  private def cutTopK(scored: DataFrame, k: Int, rank: String, order: Column*): DataFrame =
    scored.withColumn(rank, queryRank(order: _*).cast("long")).filter(col(rank) <= k)

  /** Exact rerank of a `(query_id, neighbor_id)` shortlist over the
    * quantized table `q`: each pair is joined to its query's and its
    * neighbor's vectors by id, scored by exact cosine and cut to each
    * query's top `k`. Shortlist query ids are strided by construction, so
    * the broadcast query batch only bounds the broadcast — it cannot
    * change the join result (r8 fix). Cost ∝ shortlist, not corpus.
    */
  private[graft] def exactRerank(q: DataFrame, shortlist: DataFrame, k: Int): DataFrame =
    cutTopK(
      shortlist.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(queryVecs(q)), "query_id")
        .join(q.select(col("vec_id").as("neighbor_id"), col("qv"), col("norm2")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), exactCosine),
      k, "rank", col("cosine").desc, col("neighbor_id"))

  /** Exact top-k neighbors (quantized cosine) for the query subset.
    * Query side is broadcast: the corpus never shuffles.
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val q = Dedup.quantized(embeddings)
    cutTopK(scanPairs(q, queryVecs(q), exactCosine), k, "rank",
      col("cosine").desc, col("neighbor_id"))
  }

  /** Exact top-k by integer squared EUCLIDEAN distance for the same query
    * subset — the magnitude-sensitive serving mode beside
    * [[bruteForceTopK]]'s cosine: cosine ranks direction only, L2 ranks
    * absolute placement, and on UNnormalized embeddings they disagree
    * (a long vector can be the top cosine neighbor while sitting far
    * away — the spec pins exactly that pair). d² = ‖q‖² − 2q·v + ‖v‖² in
    * exact integers over the milli grid, ties → smaller neighbor id.
    *
    * Scale: identical to [[bruteForceTopK]] — broadcast query batch, the
    * corpus never shuffles; the rank window partitions by query.
    */
  def bruteForceTopKL2(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val d2 = expandedD2(col("q_norm2"), col("q_qv"), col("qv"), col("norm2"))
    cutTopK(scanPairs(q, queryVecs(q), d2.as("d2")), k, "rank", col("d2"), col("neighbor_id"))
  }

  /** Exact integer squared distance `‖v‖² − 2v·c + ‖c‖²` between `v`
    * (norm² `vn`) and `c` (norm² `cn`) over the milli grid. */
  private def expandedD2(vn: Column, v: Column, c: Column, cn: Column): Column =
    vn - lit(2L) * Dedup.longDot(v, c) + cn

  /** Metadata-filtered vector search, and the price of post-filtering: for
    * each query, exact top-`k` cosine neighbors WITHIN the query's own
    * label (pre-filtered search — the label predicate is an equi-join key,
    * so the filtered scan is a hash join, not a scan of the corpus), vs
    * the production shortcut of serving an UNfiltered `overfetch·k`
    * shortlist from the code-only ADC index ([[adcTopK]]) and applying
    * the predicate afterwards. `recall_e4` is the share of the true
    * filtered top-k the post-filter shortlist retains — the number that
    * collapses when the predicate is selective, which is exactly why
    * vector stores grow filter-aware indexes. Both stages are
    * deterministic (integer ADC distances, quantized cosine, fixed tie
    * rules), so the whole readout is oracle-checkable.
    *
    * Every query keeps a row even when post-filter recall is zero (the
    * left joins below); `n_eligible` sizes the filtered pool so the
    * readout separates "filter too selective" from "shortlist too small".
    *
    * Scale: the pre-filtered path shuffles on the label key (or reads a
    * label-partitioned index) — corpus-sized but equi-keyed; the
    * post-filter path never scans raw vectors ([[adcTopK]]'s posture —
    * its only nested loops are the k-row codebook crossJoins), and the
    * label lookup joins the |queries|·overfetch·k shortlist back to the
    * corpus by id — point-lookup-shaped, cost ∝ shortlist, not corpus.
    */
  def filteredTopK(embeddings: DataFrame, k: Int = TopK,
                   overfetch: Int = 4): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val qrows = queryVecs(q, col("label").as("q_label"))
    // pre-filtered exact search: label equality is the join key
    val exactTop = cutTopK(
      q.join(broadcast(qrows), col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), exactCosine),
      k, "rank", col("cosine").desc, col("neighbor_id"))
    // post-filter path: the ADC index serves the unfiltered shortlist of
    // overfetch·k per query, THEN the label predicate prunes it — the
    // bounded pair table is broadcast into the two id-lookup joins
    val shortlist = broadcast(
      adcTopK(embeddings, k = k * overfetch)
        .select(col("query_id"), col("neighbor_id")))
      .join(q.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .join(broadcast(qrows.select(col("query_id"), col("q_label"))), "query_id")
      .filter(col("n_label") === col("q_label"))
      .select(col("query_id"), col("neighbor_id"))
    val hits = exactTop.select(col("query_id"), col("neighbor_id"))
      .join(shortlist, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
    val exactAgg = exactTop.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_exact"),
      max(when(col("rank") === 1, col("neighbor_id"))).as("top1_id"))
    val labelCounts = q.groupBy(col("label")).agg(count(lit(1)).as("__lc"))
    qrows.select(col("query_id"), col("q_label"))
      .join(broadcast(labelCounts), col("q_label") === col("label"))
      .join(exactAgg, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"), col("q_label").cast("long").as("label"),
        (col("__lc") - 1L).as("n_eligible"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("top1_id"),
        coalesce(col("__hits"), lit(0L)).as("post_hits"),
        when(coalesce(col("n_exact"), lit(0L)) > 0,
          Cols.floorDiv(coalesce(col("__hits"), lit(0L)) * 10000L, col("n_exact")))
          .otherwise(lit(null).cast("long")).as("recall_e4"))
      .orderBy(col("query_id"))
  }

  /** Contrastive hard-negative mining — the training-data query a
    * retrieval/embedding pipeline runs before every contrastive epoch:
    * for each query, the `k` most-similar corpus vectors whose LABEL
    * DIFFERS (the negatives the model currently confuses), served by the
    * production two-stage sandwich: the code-only ADC index
    * ([[adcTopK]]) returns an unfiltered `overfetch·k` shortlist, the
    * label lookup prunes same-label rows, and exact quantized cosine
    * re-ranks the survivors. A label-≠ predicate can never be an
    * equi-join key (the [[filteredTopK]] pre-filter trick is
    * unavailable), but it is also never selective — it keeps
    * (1 − 1/|labels|) of any shortlist — so the overfetch path is the
    * RIGHT production shape here, not a fallback. Each negative carries
    * the query's exact same-label top-1 cosine (`pos_top1_cosine`, an
    * equi-keyed join) and `harder_than_pos` = 1 when the negative
    * outscores the best positive — the rows a triplet loss actually
    * learns from; a query whose label has no other member keeps its
    * negatives with a null anchor. All stages deterministic (integer
    * ADC distances, e6 cosines, fixed ties) — fully oracled.
    *
    * Scale: code scan + two broadcast point-lookups bounded by
    * |queries|·overfetch·k, one label-equi-keyed join for the anchor;
    * the corpus is never broadcast and never pairwise-joined.
    */
  def hardNegatives(embeddings: DataFrame, k: Int = TopK,
                    overfetch: Int = 4): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val qrows = queryVecs(q, col("label").as("q_label"))
    val shortIds = adcTopK(embeddings, k = k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    // the [[exactRerank]] lookups, neighbor side first, with the label
    // filter between the lookups and the scoring
    val negs = cutTopK(
      broadcast(shortIds)
        .join(q.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"), col("qv").as("n_qv"),
          col("norm2").as("n_norm2")), "neighbor_id")
        .join(broadcast(qrows), "query_id")
        .filter(col("n_label") =!= col("q_label"))
        .select(col("query_id"), col("neighbor_id"),
          col("n_label").cast("long").as("neg_label"),
          Dedup.cosineQ(col("q_qv"), col("q_norm2"),
            col("n_qv"), col("n_norm2")).as("cosine")),
      k, "rank", col("cosine").desc, col("neighbor_id"))
    val posTop = q
      .join(broadcast(qrows),
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(max(Dedup.cosineQ(col("q_qv"), col("q_norm2"),
        col("qv"), col("norm2"))).as("pos_top1_cosine"))
    negs.join(posTop, Seq("query_id"), "left")
      .select(
        col("query_id"), col("rank"), col("neighbor_id"), col("neg_label"),
        col("cosine"), col("pos_top1_cosine"),
        when(col("pos_top1_cosine").isNotNull,
          (col("cosine") >= col("pos_top1_cosine")).cast("long"))
          .as("harder_than_pos"))
  }

  /** Deterministic hyperplane component for (plane p, dimension i):
    * pseudo-random in [-1000, 1000] derived from md5 — reproducible in any
    * engine, no RNG state. DuckDB mirror:
    * `(('0x'||substr(md5('plane:'||p||':'||i),1,15))::BIGINT % 2001) - 1000`
    * (the parsed 60-bit value is non-negative, so Java `%` and DuckDB `%`
    * agree). Shared by [[lshTopK]] and [[graft.dedup.Dedup.embeddingNearDupsLsh]].
    */
  private[graft] def planeComponent(p: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$p:$i".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    // use 60 bits worth of the digest, same construction as Cols.hash60
    val v = java.lang.Long.parseLong(hex.take(15), 16)
    v % 2001 - 1000
  }

  /** Multi-table hyperplane-LSH ANN: each vector hashes into `tables`
    * buckets (bucket = sign pattern of `bits` hyperplane projections, one
    * bucket per table); a query's candidates are vectors sharing any
    * (table, bucket); exact cosine ranks candidates only. OR-amplification
    * across tables is the recall dial — the same md5-derived plane family
    * as [[graft.dedup.Dedup.embeddingNearDupsLsh]], so the two operators
    * share one deterministic index construction.
    *
    * Approximate by construction — results are a recall-bounded subset of
    * the brute-force top-k, so its driver check is rows-only; ApproxSpec
    * pins recall@k >= 0.6 vs [[bruteForceTopK]] on sf0.01 (measured 0.68
    * at 8 tables × 4 bits with ~2.6× candidate pruning; at production
    * similarity levels — near-dup cosine ≥ 0.9 — the same geometry prunes
    * orders of magnitude harder).
    *
    * `dim` must match the embedding width: LongDotProduct stops at the
    * shorter input, so an undersized dim would silently project onto a
    * prefix (ADVICE r2).
    */
  def lshTopK(spark: SparkSession, embeddings: DataFrame, k: Int = TopK,
              dim: Int = 64, tables: Int = Dedup.LshTables,
              bits: Int = Dedup.LshBitsPerTable): DataFrame =
    cutTopK(lshScored(embeddings, dim, tables, bits), k, "rank",
      col("cosine").desc, col("neighbor_id"))

  /** Threshold (range) retrieval over the same multi-table hyperplane
    * index as [[lshTopK]]: every candidate pair the buckets surface with
    * exact cosine ≥ `minCosine` — "all neighbors within a radius" rather
    * than "the k nearest", the retrieval mode behind near-dup mining and
    * radius-bounded RAG context. Deterministic md5 planes, so (like the
    * top-k variant) it carries a full DuckDB oracle despite being an ANN
    * index — candidates short of 100% recall are *pinned by construction*,
    * not probabilistic noise.
    *
    * Scale: identical posture to [[lshTopK]] — bucket join bounded by
    * Σ bucket-size², exact verification on candidates only; the result is
    * output-bounded (pairs above the radius), never |corpus|².
    */
  def lshRangeSearch(spark: SparkSession, embeddings: DataFrame,
                     minCosine: Double = 0.35, dim: Int = 64,
                     tables: Int = Dedup.LshTables,
                     bits: Int = Dedup.LshBitsPerTable): DataFrame =
    lshScored(embeddings, dim, tables, bits)
      .filter(col("cosine") >= minCosine)

  /** Multi-table bucket assignment over an already-quantized vector
    * table: planes as literal arrays (tables × bits × dim longs), built
    * once on the driver and folded into the plan as constants. One row
    * per (vector, table).
    */
  private def lshBuckets(q: DataFrame, dim: Int,
                         tables: Int, bits: Int): DataFrame = {
    val bucketCols: Seq[Column] = (0 until tables).map { t =>
      (0 until bits).map { b =>
        val plane = array((0 until dim).map(i => lit(planeComponent(t * bits + b, i))): _*)
        when(Dedup.longDot(col("qv"), plane) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    q.select(
      col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
  }

  /** LSH index-health report, per hash table: bucket count, occupied-
    * bucket row total, the largest bucket, and Σ size² — the EXACT
    * candidate-join cost the bucketed pair join will pay. This is the
    * number to read BEFORE running `ann_topk_lsh`/`dedup_embedding_lsh`
    * at scale: a skewed table (one mega-bucket) shows up here as a
    * dominating `join_cost` long before the join runs. The bits dial
    * trades this cost against recall; the per-table report shows whether
    * any single table is degenerate while others are healthy.
    *
    * Scale: one map-side-combined hash agg to |tables|·2^bits rows, then
    * a |tables|-row rollup — the estimator costs nothing next to the
    * join it prices (same spirit as [[graft.ops.Profile.joinCardinality]]).
    */
  def lshBucketStats(spark: SparkSession, embeddings: DataFrame,
                     dim: Int = 64, tables: Int = Dedup.LshTables,
                     bits: Int = Dedup.LshBitsPerTable): DataFrame =
    lshBuckets(Dedup.quantized(embeddings), dim, tables, bits)
      .groupBy(col("tbl").cast("long").as("tbl"), col("bucket"))
      .agg(count(lit(1)).as("__s"))
      .groupBy(col("tbl"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("__s")).as("n_vecs"),
        max(col("__s")).as("max_bucket"),
        sum(col("__s") * col("__s")).as("join_cost"))

  /** Candidate cosine histogram over the LSH buckets: the exact verified
    * cosines of every query-side bucketed candidate, binned into ten
    * fixed 0.2-wide bins on [−1, 1] — the index-tightness readout ("how
    * much of what the buckets surface is actually close"). A healthy
    * index piles candidates into the top bins; mass in the low bins is
    * wasted verification work → raise bits.
    *
    * Scale: rides the [[lshScored]] candidate stage (Σ size² bound);
    * the histogram is a 10-row aggregate on top.
    */
  def lshSimHistogram(spark: SparkSession, embeddings: DataFrame,
                      dim: Int = 64, tables: Int = Dedup.LshTables,
                      bits: Int = Dedup.LshBitsPerTable): DataFrame =
    lshScored(embeddings, dim, tables, bits)
      .select(least(floor((col("cosine") + 1.0) * 5.0).cast("long"), lit(9L)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(
        col("bin"),
        (col("bin") * 2 - 10).as("lo_e1"),
        (col("bin") * 2 - 8).as("hi_e1"),
        col("n_pairs"))

  /** One NN-descent refinement round over a FULL-CORPUS kNN graph — the
    * graph-based ANN build path (Dong et al.'s NN-Descent, the
    * construction behind HNSW-class serving indexes), expressed as plain
    * equi-joins:
    *
    *  1. seed graph: a deliberately weak hyperplane-LSH candidate pass
    *    (`tables` of the 8-table index) scored exactly and cut to each
    *    node's top-`k` — cheap, low-recall.
    *  2. `rounds` refinement rounds: "a neighbor of my neighbor is
    *    probably my neighbor" — candidates are the 2-hop pairs of the
    *    UNDIRECTED current graph, unioned with its edges (so per-node
    *    quality is monotone non-decreasing round over round,
    *    spec-pinned), rescored exactly, re-cut to top-`k`.
    *    `emb_nn_descent` registers one round; `emb_nn_descent2` the
    *    2-round convergence curve (the emb_pq_train2 discipline).
    *
    * The readout is one row per round: graph size, average edge cosine
    * (quantize-then-sum e6), and recall@k against the exact brute-force
    * truth on the strided query sample — the "how many rounds until the
    * graph converges" curve an index builder reads.
    *
    * Scale: this is the point. The 2-hop expansion is an equi-join of the
    * 2nk-row adjacency list with itself on the shared endpoint — cost
    * bounded by 4nk² candidate rows, NEVER corpus². The exact rescoring
    * joins candidates back to vectors by id (point-lookup-shaped, cost ∝
    * candidates), and per-node top-k is a window over candidate rows
    * keyed by src. Truth is computed only for the bounded strided sample
    * (the [[bruteForceTopK]] broadcast-query shape); the corpus-sized
    * graph itself never needs it. Readouts are 1-row aggregates; the seed
    * graph is localCheckpointed (it feeds round 0's stats AND round 1's
    * expansion) and freed before returning.
    */
  def nnDescent(embeddings: DataFrame, k: Int = TopK,
                dim: Int = 64, tables: Int = 2,
                bits: Int = Dedup.LshBitsPerTable, rounds: Int = 1): DataFrame = {
    require(rounds >= 1, "need at least one refinement round")
    val q = Dedup.quantized(embeddings)
    // per-node top-k of an exact-rescored candidate pair set
    def topKGraph(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
      cand
        .join(q.select(col("vec_id"), col("qv").as("__qa"), col("norm2").as("__na")),
          col("src") === col("vec_id")).drop("vec_id")
        .join(q.select(col("vec_id"), col("qv").as("__qb"), col("norm2").as("__nb")),
          col("dst") === col("vec_id")).drop("vec_id")
        .select(col("src"), col("dst"),
          Dedup.cosineQ(col("__qa"), col("__na"), col("__qb"), col("__nb")).as("cosine"))
        .withColumn("__rank", row_number().over(w))
        .filter(col("__rank") <= k)
        .select(col("src"), col("dst"), col("cosine"))
    }
    // one NN-descent round: undirected 2-hop expansion ∪ current edges
    def refine(g: DataFrame): DataFrame = {
      val und = g.select(col("src"), col("dst"))
        .unionAll(g.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val twoHop = und.as("x")
        .join(und.as("y"),
          col("x.dst") === col("y.src") && col("x.src") =!= col("y.dst"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      topKGraph(twoHop.unionAll(g.select(col("src"), col("dst"))).distinct())
    }
    val bucketed = lshBuckets(q, dim, tables, bits)
    val cand0 = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    // every round's graph feeds BOTH its stats row and the next round's
    // expansion; the truth table feeds one hit-join per round plus the
    // denominator — checkpoint each once, free after the readout
    val graphs = Vector.iterate(topKGraph(cand0).localCheckpoint(), rounds + 1)(
      g => refine(g).localCheckpoint())
    val truth = bruteForceTopK(embeddings, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    def roundStats(r: Long, g: DataFrame): DataFrame = {
      val hits = g
        .filter(pmod(col("src"), lit(QueryStride.toLong)) === 0)
        .join(truth,
          col("src") === col("query_id") && col("dst") === col("neighbor_id"))
        .agg(count(lit(1)).as("__hits"))
      val denom = truth.agg(count(lit(1)).as("__truth"))
      g.agg(
        count_distinct(col("src")).as("n_nodes"),
        count(lit(1)).as("n_edges"),
        sum(round(col("cosine") * 1000000).cast("long")).as("__sumcos"))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(denom))
        .select(
          lit(r).as("round"),
          col("n_nodes"), col("n_edges"),
          Cols.floorDiv(col("__sumcos"), greatest(col("n_edges"), lit(1L)))
            .as("avg_cos_e6"),
          col("__truth").as("truth_pairs"),
          Cols.floorDiv(col("__hits") * 10000L, greatest(col("__truth"), lit(1L)))
            .as("recall_e4"))
    }
    // (rounds+1)-row readout: materialize, then free every block set
    val out = graphs.zipWithIndex
      .map { case (g, r) => roundStats(r.toLong, g) }
      .reduce(_.unionAll(_))
      .transform(graft.Rounds.materialize)
    graphs.foreach(graft.LocalCheckpoints.free)
    graft.LocalCheckpoints.free(truth)
    out
  }

  /** Shared LSH stage: multi-table bucket assignment, candidate join,
    * exact quantized-cosine scoring. Feeds [[lshTopK]] (rank filter) and
    * [[lshRangeSearch]] (radius filter).
    */
  private def lshScored(embeddings: DataFrame, dim: Int,
                        tables: Int, bits: Int): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val bucketed = lshBuckets(q, dim, tables, bits)
    val queries = broadcast(
      queryBatch(bucketed)
        .select(
          col("vec_id").as("query_id"),
          col("tbl").as("q_tbl"),
          col("bucket").as("q_bucket")))
    // distinct candidate ids (a pair can collide in several tables), then
    // join the vectors back in for the exact scoring pass
    val cand = bucketed
      .join(
        queries,
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    // broadcast side is the QUERY BATCH, never the corpus: candidate
    // query_ids are strided by construction, so the stride filter here
    // changes nothing semantically — it bounds the broadcast (r8 fix).
    // Built from the UN-fanned quantized scan: with the fan-out exchange
    // below it, the optimizer prunes the (semantically redundant) stride
    // filter off this build side and the broadcast degenerates to the
    // corpus (BroadcastBoundSpec, r15) — and a corpus/stride-row batch
    // gains nothing from a repartition anyway.
    cand
      .join(broadcast(queryVecs(Dedup.quantized(embeddings))), "query_id")
      .join(q.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), exactCosine)
  }

  /** IVF (inverted-file) ANN with the `label` column as the coarse
    * quantizer: per-cell integer centroids (exact: element-wise sum DIV
    * count), queries probe the `nprobe` nearest cells by centroid cosine,
    * exact search within probed cells only. Fully deterministic (integer
    * centroid math + quantized cosine), so unlike most ANN indexes this
    * one is oracle-checkable.
    *
    * Scale: the corpus is scanned once to build cells/centroids; each
    * query touches |corpus| × nprobe / #cells candidates instead of the
    * whole corpus — the standard IVF recall/latency dial.
    */
  def ivfTopK(embeddings: DataFrame, k: Int = TopK, nprobe: Int = 2, dim: Int = 64): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val probed = broadcast(probeCells(q, nprobe, dim)
      .select(col("query_id"), col("q_qv"), col("q_norm2"), col("label")))
    // exact search within probed cells only
    cutTopK(
      q.join(probed, Seq("label"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), exactCosine),
      k, "rank", col("cosine").desc, col("neighbor_id"))
  }

  /** The IVF probe: the query batch ([[queryVecs]]) crossed with the
    * broadcast |cells|-row [[cellCentroids]] table, cut to each query's
    * `nprobe` nearest cells by centroid cosine (ties to the smaller
    * label). Shared by [[ivfTopK]] and [[ivfPqTopK]].
    */
  private def probeCells(q: DataFrame, nprobe: Int, dim: Int): DataFrame =
    queryVecs(q).crossJoin(broadcast(cellCentroids(q, dim)))
      .withColumn("cell_rank", queryRank(
        Dedup.cosineQ(col("q_qv"), col("q_norm2"), col("cv"), col("cnorm2")).desc, col("label")))
      .filter(col("cell_rank") <= nprobe)

  /** Exact integer centroids per quantizer cell — dim positional sums +
    * count, then FLOOR division (DuckDB `//` semantics: sums can be
    * negative, where Spark's `div` would truncate toward zero instead).
    * Shared by [[probeCells]] (the IVF probe) and [[ivfAppend]] (frozen-
    * index assignment); output is |cells| rows, safely broadcastable.
    */
  private[graft] def cellCentroids(q: DataFrame, dim: Int): DataFrame =
    dimSums(q, Seq(col("label")), "qv", "s", "n", dim)
      .select(col("label"), array(floorMean("s", "n", dim): _*).as("cv"))
      .withColumn("cnorm2", Dedup.longDot(col("cv"), col("cv")))

  /** Per-group positional sums `{p}0 … {p}{dim−1}` of the array column
    * `v`, then the group count as `n`, then `extra` — the one aggregate
    * every integer centroid here is built from (all algebraic, map-side
    * combined; no rows×dim explode).
    */
  private def dimSums(df: DataFrame, keys: Seq[Column], v: String, p: String, n: String,
      dim: Int, extra: Column*): DataFrame = {
    val sums = (0 until dim).map(i => sum(element_at(col(v), i + 1)).as(s"$p$i"))
    df.groupBy(keys: _*).agg(sums.head, (sums.tail ++ (count(lit(1)).as(n) +: extra)): _*)
  }

  /** The exact floor centroid of [[dimSums]]' sums, `⌊{p}i / n⌋` per dim. */
  private def floorMean(p: String, n: String, dim: Int): Seq[Column] =
    (0 until dim).map(i => Cols.floorDiv(col(s"$p$i"), col(n)))

  /** Incremental IVF maintenance — the piece between building the index
    * ([[ivfTopK]]'s centroids) and trusting it forever: a new-vector
    * ingest batch (deterministic 1-in-5 hash split standing in for
    * "today's vectors") is assigned to the FROZEN centroid table built
    * from the index side only — production appends never re-cluster —
    * and the readout reports, per cell, how the append shifts the
    * balance [[ivfBalance]] graded: index/appended/after counts, share
    * before/after (e4) and the signed drift between them, per-cell
    * growth, and `n_label_mismatch` — appended vectors whose own label
    * disagrees with their nearest frozen centroid, the staleness signal
    * (a fresh quantizer assigns new data to its own cells; a stale one
    * scatters it). `needs_rebuild` fires on the declared literal rule
    * mismatch ≥ 50% of the cell's appends OR cell growth ≥ 25% in one
    * batch — the trigger a scheduled maintenance job alerts on.
    *
    * Scale: the append batch is a hash-pruned scan; assignment is one
    * nested-loop against the broadcast |cells|-row centroid table (the
    * [[ivfTopK]] probe shape) ranked per vector; everything downstream
    * is |cells|-row aggregates plus one 1-row totals broadcast. The
    * corpus-side work is the centroid build the index already owns.
    */
  def ivfAppend(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val isApp = pmod(
      graft.Cols.hash60(concat(lit("ivfappend:"), col("vec_id").cast("string"))), lit(5L)) === 0L
    val idx = q.filter(!isApp)
    val app = q.filter(isApp)
    val cents = cellCentroids(idx, dim)
      .select(col("label").as("cell"), col("cv"), col("cnorm2"))
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(Dedup.cosineQ(col("qv"), col("norm2"), col("cv"), col("cnorm2")).desc, col("cell"))
    val assigned = app.crossJoin(broadcast(cents))
      .withColumn("__rn", row_number().over(assignW))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("label").as("own_label"), col("cell"))
    val before = idx.groupBy(col("label").as("cell")).agg(count(lit(1)).as("n_index"))
    val appAgg = assigned.groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_appended"),
        count(when(col("own_label") =!= col("cell"), 1)).as("n_label_mismatch"))
    val totals = broadcast(
      idx.agg(count(lit(1)).as("__ti")).crossJoin(app.agg(count(lit(1)).as("__ta"))))
    before
      .join(appAgg, Seq("cell"), "left")
      .na.fill(0L, Seq("n_appended", "n_label_mismatch"))
      .crossJoin(totals)
      .select(
        col("cell"), col("n_index"), col("n_appended"),
        (col("n_index") + col("n_appended")).as("n_after"),
        col("n_label_mismatch"),
        graft.Cols.floorDiv(col("n_index") * 10000L, col("__ti")).as("share_before_e4"),
        graft.Cols.floorDiv((col("n_index") + col("n_appended")) * 10000L,
          col("__ti") + col("__ta")).as("share_after_e4"),
        graft.Cols.floorDiv(col("n_appended") * 10000L, col("n_index")).as("growth_e4"),
        when(col("n_appended") > 0,
          graft.Cols.floorDiv(col("n_label_mismatch") * 10000L, col("n_appended")))
          .otherwise(lit(null).cast("long")).as("mismatch_e4"))
      .withColumn("drift_e4", col("share_after_e4") - col("share_before_e4"))
      .withColumn("needs_rebuild",
        when(coalesce(col("mismatch_e4"), lit(0L)) >= 5000L || col("growth_e4") >= 2500L, 1L)
          .otherwise(0L))
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * index-compression step (float32 → int8) an ANN deployment runs
    * before serving. All math is exact integer arithmetic on the
    * milli-quantized vectors: per-vector scale = max |component| (so the
    * largest maps to ±127), each component is `floor(x·127 / scale)`,
    * and the reported `max_err` is the worst per-component floor
    * remainder (in scale·milli units) — a deterministic reconstruction-
    * error bound, bit-identical across engines (no float division
    * anywhere).
    *
    * Map-only: one narrow scan, no shuffle; the int8 codes are emitted
    * as a canonical comma-joined string (the cross-engine array form).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    int8Codes(embeddings)
      .select(
        col("vec_id"),
        col("scale_milli"),
        concat_ws(",", transform(col("c8"), _.cast("string"))).as("q8"),
        col("max_err"))

  /** Shared int8 code table for [[quantizeInt8]] (the readout) and
    * [[sqTopK]] (the search path): per vector, the exact-floor int8 code
    * array, its scale, code norm², and the worst floor remainder.
    */
  private[graft] def int8Codes(embeddings: DataFrame): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val scale = greatest(array_max(transform(col("qv"), x => abs(x))), lit(1L))
    q.select(col("vec_id"), col("label"), col("qv"), scale.as("scale_milli"))
      .select(
        col("vec_id"),
        col("label"),
        col("scale_milli"),
        transform(col("qv"),
          x => graft.Cols.floorDiv(x * 127, col("scale_milli"))).as("c8"),
        array_max(transform(col("qv"), x => pmod(x * 127, col("scale_milli"))))
          .as("max_err"))
      .withColumn("cnorm2_8", Dedup.longDot(col("c8"), col("c8")))
  }

  /** Scalar-quantized (int8-code) ANN top-k — the 4×-compressed serving
    * path next to [[bruteForceTopK]] (float-exact), [[adcTopK]] (PQ
    * codes), and [[lshTopK]] (buckets): every similarity is computed ON
    * THE CODES (`cos₈ = dot(c8ₐ, c8_b)/(‖c8ₐ‖‖c8_b‖)`), never on the
    * original vectors — exactly what an index serving int8 does. The
    * code construction is exact-floor integer math ([[quantizeInt8]]),
    * so the whole ranking is deterministic and oracle-checkable;
    * [[sqRecall]] quantifies what the 4× compression costs against the
    * exact ranking.
    *
    * Scale: the query subset is broadcast (corpus never shuffles), the
    * int64 code dot runs through the codegen'd `graft_long_dot`
    * expression, and the per-query top-k window partitions by query id.
    * At 100 TB the 4× memory cut IS the point: an int8 corpus fits where
    * float32 doesn't, and the scan stays bandwidth-bound.
    */
  def sqTopK(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val c = int8Codes(embeddings)
    val queries = queryBatch(c).select(
      col("vec_id").as("query_id"), col("c8").as("q_c8"), col("cnorm2_8").as("q_cnorm2"))
    val cosine8 = Dedup.cosineQ(col("q_c8"), col("q_cnorm2"), col("c8"), col("cnorm2_8"))
    cutTopK(scanPairs(c, queries, cosine8.as("cosine8")), k, "rank",
      col("cosine8").desc, col("neighbor_id"))
  }

  /** Per-query recall of an approximate top-k `(query_id, neighbor_id)`
    * frame against the exact [[bruteForceTopK]]: each query's true
    * top-`k` left-joined to the approximate one, giving `k` (true
    * neighbors), `n_hit` (of those, the ones the approximate side found)
    * and `recall_e4`. The shared readout of every `*Recall` below.
    */
  private def recallVsBrute(embeddings: DataFrame, approx: DataFrame, k: Int): DataFrame =
    bruteForceTopK(embeddings, k)
      .select(col("query_id"), col("neighbor_id"))
      .join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), count(col("__hit")).as("n_hit"))
      .select(
        col("query_id"), col("k"), col("n_hit"),
        graft.Cols.floorDiv(col("n_hit") * 10000, col("k")).as("recall_e4"))

  /** Recall of the int8-code ranking [[sqTopK]] against the exact
    * [[bruteForceTopK]] — the [[ivfRecall]] readout for the scalar
    * quantizer: how much ranking fidelity the 4× compression costs.
    * Both constituents are deterministic, so fully oracled.
    */
  def sqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    recallVsBrute(embeddings, sqTopK(embeddings, k), k)

  /** IVF quantizer health: the cell-size balance of the coarse partition
    * every `ann_topk_ivf*` probe depends on. One row: cell/vector
    * counts, min/max cell, `imbalance_e4 = ⌊max·n_cells·10⁴ / n⌋` (the
    * worst-case probe-cost blowup vs a perfectly balanced quantizer —
    * 10⁴ = balanced) and the inverse-Simpson `effective_cells =
    * ⌊n² / Σc²⌋` (the [[graft.ops.Stats.hhi]] idiom). An imbalanced
    * quantizer is how IVF quietly degrades to a near-full scan on hot
    * cells; this is the readout that catches it before latency does.
    *
    * Scale: one hash aggregate to |cells| rows, one 1-row reduce.
    */
  def ivfBalance(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .groupBy(col("label")).agg(count(lit(1)).as("__c"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("__c")).as("n_vecs"),
        min(col("__c")).as("min_cell"),
        max(col("__c")).as("max_cell"),
        sum(col("__c") * col("__c")).as("__s2"))
      .select(
        col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
        graft.Cols.floorDiv(col("max_cell") * col("n_cells") * 10000L, col("n_vecs"))
          .as("imbalance_e4"),
        graft.Cols.floorDiv(col("n_vecs") * col("n_vecs"), col("__s2"))
          .as("effective_cells"))

  /** Late-interaction (ColBERT-style) MaxSim top-k: every vector is
    * treated as FOUR 16-dim "token" subvectors, and the query–document
    * score is `Σ_{q-subvec} max_{d-subvec} dot(q, d)` — each query token
    * matches its best document token, summed. This is the multi-vector
    * retrieval family the single-dot rankers ([[bruteForceTopK]],
    * [[sqTopK]], the PQ/IVF paths) cannot express: a document strong on
    * ONE facet of the query scores on that facet even when the pooled
    * single-vector cosine dilutes it. Dots run on the milli-quantized
    * integer subvectors (no normalization — MaxSim is conventionally on
    * raw token embeddings), so the ranking is exact and oracle-checkable.
    *
    * Scale: the query subset is broadcast (corpus never shuffles); the
    * 16 subvector dots per pair are codegen'd `graft_long_dot` calls
    * inside one projection; per-query ranking partitions by query id.
    * At 100 TB the MaxSim scan is the RERANK stage over an ANN
    * shortlist ([[adcRerank]]'s composition), not the full corpus.
    */
  def maxSimTopK(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val sub = subvectors(embeddings)
    cutTopK(scanPairs(sub, subQueries(sub), maxSimScore.as("maxsim")), k, "rank",
      col("maxsim").desc, col("neighbor_id"))
  }

  /** The 4×16 milli-quantized "token" subvector table shared by
    * [[maxSimTopK]] and [[maxSimRerank]]. */
  private def subvectors(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings).select(
      col("vec_id"),
      array((0 until 4).map(t => subvec(col("qv"), t)): _*).as("subs"))

  /** The query batch of [[subvectors]], its `subs` as `q_subs`. */
  private def subQueries(sub: DataFrame): DataFrame =
    queryBatch(sub).select(col("vec_id").as("query_id"), col("subs").as("q_subs"))

  /** `Σ_{q-subvec} max_{d-subvec} dot(q, d)` between the query's `q_subs`
    * and the document's `subs` — sixteen codegen'd `graft_long_dot` calls. */
  private def maxSimScore: Column =
    (0 until 4).map(qt =>
      greatest((0 until 4).map(dt =>
        Dedup.longDot(element_at(col("q_subs"), qt + 1), element_at(col("subs"), dt + 1))): _*))
      .reduce(_ + _)

  /** The production MaxSim shape: [[adcTopK]]'s code-only ADC scan
    * shortlists `shortlist` candidates per query, and ONLY those pairs
    * pay the 16-dot MaxSim rescoring — [[adcRerank]]'s two-stage
    * pattern with a late-interaction second stage. This is the
    * registered 100 TB path for [[maxSimTopK]] (its all-pairs scan is
    * the declared baseline): the expensive scoring runs on
    * |queries|·shortlist rows, never |queries|·|corpus|.
    *
    * Scale: stage 1 is the bounded-broadcast ADC index (codebook and
    * per-query distance tables are k·subspaces rows); stage 2 joins the
    * shortlist pair list back to the subvector table by id — hash
    * joins, corpus scanned once per stage.
    */
  def maxSimRerank(embeddings: DataFrame, k: Int = TopK, shortlist: Int = 25): DataFrame = {
    val sub = subvectors(embeddings)
    val short = adcTopK(embeddings, k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // the [[exactRerank]] lookups with the MaxSim score; the strided
    // query side only bounds the broadcast (r8 fix)
    cutTopK(
      short
        .join(broadcast(subQueries(sub)), "query_id")
        .join(sub.select(col("vec_id").as("neighbor_id"), col("subs")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), maxSimScore.as("maxsim")),
      k, "rank", col("maxsim").desc, col("neighbor_id"))
  }

  /** Subvector width of the PQ family: 4 × 16 dims tile the 64-dim
    * embedding (also the MaxSim "token" width). */
  private val SubLen = 16

  /** Subvector `j` of the array `v` — `SubLen` elements from j·SubLen. */
  private def subvec(v: Column, j: Int): Column = slice(v, j * SubLen + 1, SubLen)

  /** [[subvec]] at a per-row subspace column `j`. */
  private def subvec(v: Column, j: Column): Column =
    slice(v, (j * SubLen + 1).cast("int"), lit(SubLen))

  /** Exact squared L2 distance between two integer arrays. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** `explode` of 0 … n−1 as longs — the literal grid fan-out. */
  private def upTo(n: Int): Column = explode(sequence(lit(0L), lit((n - 1).toLong)))

  /** The deterministic seed codebook `(cid, cqv)`: the vectors of the `k`
    * lowest vec_ids, so both engines derive it from the data with no RNG
    * and no trained artifact (PQ and the RQ stage-1 codebook). */
  private def seedCodebook(q: DataFrame, k: Int): DataFrame =
    q.filter(col("vec_id") < k).select(col("vec_id").as("cid"), col("qv").as("cqv"))

  /** The PQ [[seedCodebook]]. `subspaces` 16-dim subvectors must tile the
    * 64-dim embedding exactly: any other count slices past the array
    * (slice → empty, element_at → null), every code ties to cid 0, and
    * the operator would return garbage instead of failing.
    */
  private def pqCodebook(q: DataFrame, subspaces: Int, codebookK: Int): DataFrame = {
    require(subspaces * SubLen == 64,
      s"subspaces × $SubLen must equal the 64-dim embedding (got $subspaces)")
    seedCodebook(q, codebookK)
  }

  /** Exact squared L2 from each subvector of `v` to the same subvector of
    * the codebook row's `cqv`, as a `subspaces`-element array. */
  private def subDists(v: Column, subspaces: Int): Column =
    array((0 until subspaces).map(j => sqL2(subvec(v, j), subvec(col("cqv"), j))): _*)

  /** PQ encode: every vector (with its `keys`) against the broadcast
    * `codebook`, keeping per (vec_id, keys…, subspace `j`) the nearest
    * entry as `m = (dist, cid)` — exact integer squared L2, ties to the
    * smallest cid. The corpus explodes to |corpus|·k·subspaces narrow
    * rows folded by one hash aggregate.
    */
  private def pqAssign(q: DataFrame, codebook: DataFrame, subspaces: Int,
      keys: String*): DataFrame = {
    val id = col("vec_id") +: keys.map(col)
    q.select(id :+ col("qv"): _*)
      .crossJoin(codebook)
      .select(id ++ Seq(col("cid"),
        posexplode(subDists(col("qv"), subspaces)).as(Seq("j", "dist"))): _*)
      .groupBy(id :+ col("j"): _*)
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
  }

  /** The per-query ADC lookup table `(query_id, a_cid, a_j, d2)`: exact d²
    * from each query's own subvectors to every codebook subvector —
    * |queries|·codebookK·subspaces rows, broadcast. */
  private def adcTable(q: DataFrame, codebook: DataFrame, subspaces: Int): DataFrame =
    broadcast(
      queryBatch(q)
        .select(col("vec_id").as("query_id"), col("qv"))
        .crossJoin(codebook)
        .select(col("query_id"), col("cid").as("a_cid"),
          posexplode(subDists(col("qv"), subspaces)).as(Seq("a_j", "d2"))))

  /** Sums each (query, vector) pair's looked-up ADC distances and cuts
    * each query's top `k` by (adc_d2, neighbor_id). */
  private def adcCut(lookups: DataFrame, k: Int): DataFrame =
    cutTopK(
      lookups
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("d2")).as("adc_d2"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_d2")),
      k, "rank", col("adc_d2"), col("neighbor_id"))

  /** Lloyd refit of PQ assignments `asg` (vec_id, j, code, dist) joined to
    * `q` (vec_id, qv): per (j, code) the count `n`, the summed assignment
    * error `err`, the per-dim sums `__s1…`, the squared-sum `__qq` and
    * the new floor centroid `__c1…`. [[refitErr]] and [[refitCentroid]]
    * read the refit off these same sums — never a second corpus pass.
    */
  private def pqRefit(asg: DataFrame, q: DataFrame, n: String, err: String): DataFrame = {
    // sub-element i of the assigned subspace: qv[j·16 + i]
    def el(i: Int): Column = element_at(col("qv"), (col("j") * SubLen + i).cast("int"))
    val dims = 1 to SubLen
    asg.join(q, "vec_id")
      .groupBy(col("j"), col("code"))
      .agg(
        count(lit(1)).as(n),
        Seq(sum(col("dist")).as(err)) ++
          dims.map(i => sum(el(i)).as(s"__s$i")) ++
          Seq(sum(dims.map(i => el(i) * el(i)).reduce(_ + _)).as("__qq")): _*)
      .select(
        col("j") +: col("code") +: col(n) +: col(err) +: col("__qq") +:
          dims.map(i => Cols.floorDiv(col(s"__s$i"), col(n)).as(s"__c$i")) ++:
          dims.map(i => col(s"__s$i")): _*)
  }

  /** The error after a [[pqRefit]] move, `Σ‖x−c‖² = Q − 2Σᵢcᵢsᵢ + nΣᵢcᵢ²`
    * with per-dim sums `sᵢ`, squared sum `Q`, count `n`, new centroid `cᵢ`. */
  private def refitErr(n: String): Column = {
    val dims = 1 to SubLen
    col("__qq") -
      dims.map(i => lit(2L) * col(s"__c$i") * col(s"__s$i")).reduce(_ + _) +
      col(n) * dims.map(i => col(s"__c$i") * col(s"__c$i")).reduce(_ + _)
  }

  /** The [[pqRefit]] centroid as one array. */
  private def refitCentroid: Column = array((1 to SubLen).map(i => col(s"__c$i")): _*)

  /** Product quantization (PQ): the 64-dim milli-quantized vector splits
    * into `subspaces` contiguous 16-dim subvectors; each is assigned to
    * its nearest codebook centroid by EXACT integer squared-L2, with
    * ties to the smallest centroid id. The codebook is deterministic —
    * the subvectors of the `k` lowest vec_ids — so both engines derive
    * it from the data with no RNG and no trained artifact. Output per
    * vector: the 4 centroid codes and the total reconstruction error
    * (Σ of per-subspace min distances) — the PQ compression that stores
    * 100 TB of vectors in 4 bytes each plus a k×dims codebook.
    *
    * Plan: the codebook is a k-row broadcast (bounded by k, never data
    * size) cross-joined onto a single corpus scan; distances explode to
    * |corpus|·k·subspaces narrow rows, then two hash aggregates fold
    * them back to one row per vector. No driver action builds the
    * codebook — it is a filter on the same scan, kept in-plan.
    */
  def productQuantize(embeddings: DataFrame, subspaces: Int = 4, k: Int = 8): DataFrame = {
    val q = Dedup.quantized(embeddings)
    pqAssign(q, broadcast(pqCodebook(q, subspaces, k)), subspaces)
      .groupBy(col("vec_id"))
      .agg(
        max(when(col("j") === 0, col("m.cid"))).as("code_0"),
        (1 until subspaces).map(j =>
          max(when(col("j") === j, col("m.cid"))).as(s"code_$j")) :+
          sum(col("m.dist")).as("recon_err"): _*)
      .select(
        col("vec_id") +: (0 until subspaces).map(j => col(s"code_$j")) :+
          col("recon_err"): _*)
  }

  /** One Lloyd refinement round for the PQ codebook — the PQ-side index
    * maintenance next to [[ivfAppend]] (coarse quantizer) and
    * [[kmeansStep2]] (full-dim clustering): every vector's subspace-j
    * subvector is assigned to its nearest seed code (the
    * [[productQuantize]] argmin, ties to the smallest cid), and per
    * (subspace, code) the readout reports the refit: assignment count,
    * quantization error under the CURRENT code, the exact integer
    * centroid the assignments would move the code to, the squared
    * displacement of that move, and the error AFTER the move. Lloyd
    * guarantees `err_after ≤ err_before` per cell (spec-pinned) — the
    * size of the gap is the "how stale is my codebook" number a PQ
    * deployment reads before deciding to re-train.
    *
    * The after-error needs no second corpus pass: with per-dim sums
    * `sᵢ`, squared sums `Q`, count `n` and the new centroid `cᵢ =
    * ⌊sᵢ/n⌋, Σ‖x−c‖² = Q − 2Σᵢcᵢsᵢ + nΣᵢcᵢ²` — exact integers off the
    * SAME aggregate that builds the centroid.
    *
    * Scale: one corpus×codebook distance scan (the [[adcTopK]] encode
    * pass — the codes table the index persists anyway) feeding one
    * map-side-combined (subspaces × k) aggregate; the readout grid and
    * the displacement join are |subspaces·k| rows against the broadcast
    * seed codebook.
    */
  def pqTrainStep(embeddings: DataFrame, subspaces: Int = 4,
      codebookK: Int = 8): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val codebook = broadcast(pqCodebook(q, subspaces, codebookK))
    val codes = pqAssign(q, codebook, subspaces)
      .select(col("vec_id"), col("j").cast("long").as("j"),
        col("m.cid").as("code"), col("m.dist").as("dist"))
    val refit = pqRefit(codes, q.select(col("vec_id"), col("qv")), "n_assigned", "err_before")
      .select(col("j"), col("code"), col("n_assigned"), col("err_before"),
        refitErr("n_assigned").as("err_after"), refitCentroid.as("__nc"))
    // full (subspace, code) grid so starved codes keep a zero row
    val grid = codebook.select(col("cid").as("code"), col("cqv"))
      .select(col("code"), col("cqv"), upTo(subspaces).as("j"))
    grid.join(refit, Seq("j", "code"), "left")
      .select(
        col("j").as("subspace"), col("code"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        col("err_before"), col("err_after"),
        when(col("n_assigned").isNotNull, sqL2(col("__nc"), subvec(col("cqv"), col("j"))))
          .as("displacement_sq"))
  }

  /** PQ codebook training to convergence — [[pqTrainStep]]'s single
    * Lloyd refinement unrolled `rounds` times, with each round's
    * codebook RE-DERIVED from the previous round's refit centroids (the
    * [[kmeansStep2]] loop-invariant discipline at subspace grain).
    * Output: one row per (round, subspace) with the corpus assignment
    * count, the assignment error against the round's INCOMING codebook
    * (`err_assign`), and the error after the round's refit
    * (`err_refit`). Lloyd gives the full monotone chain
    * `err_assign(r) ≥ err_refit(r) ≥ err_assign(r+1)` — refitting can
    * only improve the current assignment, and re-assigning against the
    * refit codebook can only improve on keeping it (spec-pinned per
    * subspace) — so the per-round deltas are the "train more or ship
    * it" curve a PQ deployment reads.
    *
    * A code that starves (no assignments) keeps its previous centroid
    * rather than vanishing, so the codebook stays k wide per subspace
    * across rounds — the same frozen-fallback rule [[ivfAppend]] uses
    * for empty cells.
    *
    * Scale: per round ONE corpus×(k·subspaces)-row-broadcast distance
    * scan feeding one map-side-combined (subspaces × k) aggregate —
    * the [[pqTrainStep]] shape, `rounds` times. Each round's (j, code)
    * readout is `localCheckpoint`ed (≤ k·subspaces rows) so deriving
    * the next codebook AND the final union replays no corpus scan;
    * [[graft.Rounds]] checkpoints each codebook and frees the retired
    * ones. err_refit reuses the refit aggregate's own sums
    * (Q − 2Σcᵢsᵢ + nΣcᵢ²) — never a second corpus pass.
    */
  def pqTrainConverge(embeddings: DataFrame, subspaces: Int = 4,
      codebookK: Int = 8, rounds: Int = 2): DataFrame = {
    val q = Dedup.quantized(embeddings).select(col("vec_id"), col("qv"))
    // seed codebook at subspace grain: (j, cid, 16-dim cvec) — the
    // subvector slices of the k lowest vec_ids, k·subspaces rows
    val cents = graft.Rounds.from(pqCodebook(q, subspaces, codebookK)
      .select(col("cid"), col("cqv"), upTo(subspaces).as("j"))
      .select(col("j"), col("cid"), subvec(col("cqv"), col("j")).as("cvec")))
    val perRound = (1 to rounds).map { r =>
      val asg = q.crossJoin(broadcast(cents.frame))
        .select(col("vec_id"), col("j"), col("cid"),
          sqL2(subvec(col("qv"), col("j")), col("cvec")).as("dist"))
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"),
          col("m.cid").as("code"), col("m.dist").as("dist"))
      // (j, code) readout, checkpointed: backs BOTH the final union and
      // the next round's codebook off one corpus scan
      val readout = pqRefit(asg, q, "n", "err_assign")
        .select(col("j"), col("code"), col("n"), col("err_assign"),
          refitErr("n").as("err_refit"), refitCentroid.as("cvec"))
        .localCheckpoint()
      cents.step(_.as("c")
        .join(readout.select(col("j"), col("code").as("cid"),
          col("cvec").as("__rc")), Seq("j", "cid"), "left")
        .select(col("j"), col("cid"),
          coalesce(col("__rc"), col("c.cvec")).as("cvec")))
      readout.groupBy(col("j"))
        .agg(
          sum(col("n")).as("n_vecs"),
          sum(col("err_assign")).as("err_assign"),
          sum(col("err_refit")).as("err_refit"))
        .select(lit(r.toLong).as("round"), col("j").as("subspace"),
          col("n_vecs"), col("err_assign"), col("err_refit"))
    }
    cents.close()
    perRound.reduce(_.unionByName(_))
  }

  /** The shared RQ encode: stage-1 assignments (with residuals), stage-2
    * assignments, and both codebooks — [[rqTrain]] summarizes it,
    * [[rqTopK]] searches over its codes.
    */
  private def rqEncode(embeddings: DataFrame, k: Int, dim: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val q = Dedup.quantized(embeddings).select(col("vec_id"), col("qv"))
    val cb1 = broadcast(seedCodebook(q, k))
    val asg1 = q.crossJoin(cb1)
      .select(col("vec_id"), col("qv"),
        struct(sqL2(col("qv"), col("cqv")).as("dist"), col("cid"), col("cqv")).as("__s"))
      .groupBy(col("vec_id"))
      .agg(min(col("__s")).as("m"), first(col("qv")).as("qv"))
      .select(col("vec_id"), col("m.cid").as("c1"), col("m.dist").as("d1"),
        zip_with(col("qv"), col("m.cqv"), (a, b) => a - b).as("rv"))
    val zeroRow = q.sparkSession.range(1L)
      .select(lit(-1L).as("cid2"),
        array(Seq.fill(dim)(lit(0L)): _*).as("c2v"))
    val cb2 = broadcast(
      asg1.filter(col("vec_id") >= k && col("vec_id") < 2L * k)
        .select(col("vec_id").as("cid2"), col("rv").as("c2v"))
        .unionByName(zeroRow))
    val asg2 = asg1.crossJoin(cb2)
      .select(col("vec_id"),
        struct(sqL2(col("rv"), col("c2v")).as("dist"), col("cid2")).as("__s"))
      .groupBy(col("vec_id"))
      .agg(min(col("__s")).as("m"))
      .select(col("vec_id"), col("m.cid2").as("c2"), col("m.dist").as("d2"))
    (asg1, asg2, cb1, cb2)
  }

  /** Residual quantization (RQ) — the additive alternative to
    * [[productQuantize]]'s subspace split: stage 1 assigns each vector
    * to its nearest FULL-dimension coarse centroid; stage 2 quantizes
    * the RESIDUAL (vector − centroid) against a second full-dimension
    * codebook, so the reconstruction is a SUM of two codewords rather
    * than a concatenation of four — the shape behind two-level IVF-ADC
    * and RQ-based ANN stacks. Both codebooks are deterministic (the
    * PQ/kmeans seed idiom): stage 1 = the `k` lowest vec_ids' vectors,
    * stage 2 = the residuals of vec_ids k..2k−1 PLUS the explicit zero
    * codeword (id −1) — zero membership is what makes the descent
    * `err_stage2 ≤ err_stage1` unconditional (keeping your residual
    * costs nothing), spec-pinned. Output: one row per stage with the
    * corpus count, total squared error after that stage, and how many
    * codewords the corpus actually uses (a starved codebook is the
    * retrain signal).
    *
    * Scale: two corpus scans, each against a ≤ (k+1)-row broadcast
    * codebook (the [[pqTrainStep]] shape at full dimension); the
    * assigned-centroid vector rides the argmin struct (arrays order
    * lexicographically AFTER (dist, cid), which never tie), so the
    * residual needs no second join against the codebook.
    */
  def rqTrain(embeddings: DataFrame, k: Int = 8, dim: Int = 64): DataFrame = {
    val (asg1, asg2, _, _) = rqEncode(embeddings, k, dim)
    val s1 = asg1.agg(
      count(lit(1)).as("n_vecs"), sum(col("d1")).as("err_total"),
      countDistinct(col("c1")).as("n_codes_used"))
      .select(lit(1L).as("stage"), col("n_vecs"), col("err_total"), col("n_codes_used"))
    val s2 = asg2.agg(
      count(lit(1)).as("n_vecs"), sum(col("d2")).as("err_total"),
      countDistinct(col("c2")).as("n_codes_used"))
      .select(lit(2L).as("stage"), col("n_vecs"), col("err_total"), col("n_codes_used"))
    s1.unionByName(s2)
  }

  /** RQ top-k — the serve path of [[rqTrain]]'s codes: the corpus is
    * represented ONLY by its (stage-1, stage-2) code pair, and a query
    * precomputes exact integer d² to every RECONSTRUCTION c1 + c2 —
    * |codebook|² ≤ (k+1)² combinations, so the per-query table is 72
    * rows against the 4-byte codes, never a touch of the original
    * vectors. Because the additive distance is to the full
    * reconstruction (not per-stage sums), there is no separability
    * approximation beyond the quantization itself — the RQ analog of
    * [[adcTopK]]'s lookup-table trick with the table indexed by code
    * PAIR instead of (subspace, code).
    *
    * Scale: one corpus-codes scan joined against a broadcast
    * |queries|·(k+1)²-row distance table (bounded by the query batch);
    * one per-query top-k window over |queries|·|corpus| scored rows —
    * the same bound as every ADC variant here.
    */
  def rqTopK(embeddings: DataFrame, kTop: Int = TopK,
      k: Int = 8, dim: Int = 64): DataFrame = {
    val (asg1, asg2, cb1, cb2) = rqEncode(embeddings, k, dim)
    val codes = asg1.select(col("vec_id"), col("c1"))
      .join(asg2.select(col("vec_id"), col("c2")), "vec_id")
    val combos = cb1.crossJoin(cb2)
      .select(col("cid").as("a_c1"), col("cid2").as("a_c2"),
        zip_with(col("cqv"), col("c2v"), (a, b) => a + b).as("recon"))
    val qd = broadcast(
      queryBatch(Dedup.quantized(embeddings))
        .select(col("vec_id").as("query_id"), col("qv"))
        .crossJoin(combos)
        .select(col("query_id"), col("a_c1"), col("a_c2"),
          sqL2(col("qv"), col("recon")).as("rq_d2")))
    cutTopK(
      codes
        .join(qd, col("c1") === col("a_c1") && col("c2") === col("a_c2"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rq_d2")),
      kTop, "rank", col("rq_d2"), col("neighbor_id"))
  }

  /** Two-stage RQ retrieval — the [[adcRerank]] sandwich over the
    * code-pair index: a wide code-only shortlist (every corpus vector in
    * one of 72 cells, ranked by reconstruction distance with id
    * tie-breaks), exact-cosine reranked to final quality. This is the
    * shape [[rqRecall]] shows is NECESSARY at this codebook size: 72
    * cells over thousands of vectors tie massively, so the raw code
    * ranking's recall collapses (~0 on the sf0.01 fixture) while the
    * reranked sandwich recovers it (ApproxSpec pins the floor) — the
    * measured argument for never serving a coarse additive index
    * without a precision stage.
    */
  def rqRerank(embeddings: DataFrame, k: Int = TopK, shortlist: Int = 50): DataFrame = {
    val q = Dedup.quantized(embeddings)
    exactRerank(q, rqTopK(embeddings, kTop = shortlist), k)
  }

  /** RQ recall@k vs the exact [[bruteForceTopK]] — the [[pqRecall]]
    * readout for the additive quantizer. At the deterministic 72-cell
    * codebook this recall COLLAPSES on the fixtures (most queries 0) —
    * that is the readout's job: it quantifies why [[rqRerank]]'s
    * precision stage is not optional for a coarse additive index.
    */
  def rqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    recallVsBrute(embeddings, rqTopK(embeddings, k), k)

  /** ADC (asymmetric distance computation) top-k over the PQ codes —
    * the search half of the [[productQuantize]] compression: the corpus
    * is represented ONLY by its per-subspace centroid codes (4 small ints
    * per vector), while each query keeps full precision and precomputes a
    * |codebook| × |subspaces| table of exact integer squared distances
    * from its own subvectors to every centroid. A vector's approximate
    * distance is then four table lookups summed — never a touch of the
    * original 64 floats. Deterministic end to end (same argmin/tie rules
    * as productQuantize, integer d²), so fully oracle-checkable, unlike
    * classic trained-codebook PQ.
    *
    * Scale: this is the shape that searches 100 TB of vectors from a few
    * hundred GB of codes — the codes table is ~16× narrower than the
    * corpus, the ADC lookup table is |queries|·k·subspaces rows broadcast
    * (bounded by the query batch, never the corpus), and the join is a
    * broadcast hash join per subspace followed by one hash aggregate per
    * (query, vector). No full-vector pass after the one-time encode.
    */
  def adcTopK(embeddings: DataFrame, k: Int = TopK, subspaces: Int = 4,
      codebookK: Int = 8): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val codebook = broadcast(pqCodebook(q, subspaces, codebookK))
    val codes = pqAssign(q, codebook, subspaces)
      .select(col("vec_id"), col("j"), col("m.cid").as("code"))
    val adc = adcTable(q, codebook, subspaces)
    adcCut(
      codes
        .join(adc, col("j") === col("a_j") && col("code") === col("a_cid"))
        .filter(col("vec_id") =!= col("query_id")),
      k)
  }

  /** Two-stage retrieval: a cheap code-only ADC shortlist re-ranked by
    * exact cosine — the standard serving sandwich (approximate recall
    * stage, exact precision stage) that turns [[adcTopK]]'s compressed
    * index into final-quality rankings while touching raw vectors for
    * only `shortlist` candidates per query. Both stages deterministic,
    * so the composition is fully oracled.
    *
    * Scale: stage 1 never reads vectors ([[adcTopK]]'s posture); stage 2
    * joins the |queries|·shortlist candidate table back to the corpus by
    * id — a point-lookup-shaped equi-join, cost ∝ candidates, not corpus.
    */
  def adcRerank(embeddings: DataFrame, k: Int = TopK, shortlist: Int = 25): DataFrame = {
    val q = Dedup.quantized(embeddings)
    exactRerank(q, adcTopK(embeddings, k = shortlist), k)
  }

  /** IVF-PQ: the two index stages composed the way production ANN serves
    * 100 TB — the IVF coarse quantizer ([[ivfTopK]]'s label cells) prunes
    * the corpus to `nprobe` cells per query, and within the probed cells
    * candidates are ranked by the code-only ADC distance ([[adcTopK]]),
    * never the raw vectors. Both stages keep their deterministic
    * constructions (integer floor centroids, fixed codebook, fixed tie
    * rules), so the composition is fully oracle-checkable end to end.
    *
    * Scale: cell pruning multiplies ADC's code-table savings — the scan
    * is |corpus|·nprobe/#cells CODE rows per query batch. The two
    * broadcast sides stay bounded: |labels|-row centroids, |queries|·
    * codebookK·subspaces ADC entries.
    */
  def ivfPqTopK(embeddings: DataFrame, k: Int = TopK, nprobe: Int = 2,
      dim: Int = 64, subspaces: Int = 4, codebookK: Int = 8): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val probed = broadcast(probeCells(q, nprobe, dim).select(col("query_id"), col("label")))
    val codebook = broadcast(pqCodebook(q, subspaces, codebookK))
    val codes = pqAssign(q, codebook, subspaces, "label")
      .select(col("vec_id"), col("label"), col("j"), col("m.cid").as("code"))
    val adc = adcTable(q, codebook, subspaces)
    // candidates = codes of vectors in the query's probed cells only
    adcCut(
      codes
        .join(probed.withColumnRenamed("query_id", "p_query_id"), Seq("label"))
        .join(adc,
          col("j") === col("a_j") && col("code") === col("a_cid") &&
            col("p_query_id") === col("query_id") &&
            col("vec_id") =!= col("query_id")),
      k)
  }

  /** Reciprocal-rank fusion (RRF) of two retrieval rankings — the
    * hybrid-search combiner: each method contributes
    * `floor(10⁶ / (rrfK + rank))` for candidates in its top `deep`, a
    * missing candidate contributes 0, and the fused top-`k` orders by
    * (score desc, neighbor_id). Here the two methods are the full-dim
    * exact cosine ranking and the truncated-prefix ranking
    * ([[truncationAgreement]]'s index) — the cheap-index + exact-rerank
    * pair a hybrid retrieval stack actually fuses. Integer scores make
    * the fusion bit-exact across engines.
    *
    * Plan: two broadcast-query ranking passes over one corpus scan each
    * (same shape as [[bruteForceTopK]]), then a full-outer join of two
    * |queries|·deep tables — tiny next to the corpus — and one window.
    * At 100 TB the rankings come from the ANN indexes; the fusion
    * itself never touches raw vectors.
    */
  def rrfFusion(embeddings: DataFrame, truncDims: Int = 16, deep: Int = 20,
      k: Int = TopK, rrfK: Int = 60): DataFrame = {
    val q = Dedup.quantized(embeddings)
    def topN(vecs: DataFrame, v: String, n: String, rankName: String): DataFrame =
      cutTopK(prefixCosine(vecs, v, n), deep, rankName, col("__cos").desc, col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col(rankName))
    val full = topN(q.select(col("vec_id"), col("qv"), col("norm2")), "qv", "norm2", "rank_full")
    val trunc = topN(prefixVecs(q, truncDims), "tv", "tn", "rank_trunc")
    def contrib(rank: String): Column = coalesce(
      graft.Cols.floorDiv(lit(1000000L), lit(rrfK.toLong) + col(rank)), lit(0L))
    val fused = full.join(trunc, Seq("query_id", "neighbor_id"), "full_outer")
      .select(
        col("query_id"), col("neighbor_id"), col("rank_full"), col("rank_trunc"),
        (contrib("rank_full") + contrib("rank_trunc")).as("rrf_e6"))
    cutTopK(fused, k, "fused_rank", col("rrf_e6").desc, col("neighbor_id"))
  }

  /** The `dims`-wide prefix of every quantized vector as `tv`, with its
    * exact squared norm `tn` — the truncated (matryoshka) index. */
  private def prefixVecs(q: DataFrame, dims: Int): DataFrame =
    q.select(col("vec_id"), slice(col("qv"), 1, dims).as("tv"))
      .withColumn("tn", Dedup.longDot(col("tv"), col("tv")))

  /** The [[scanPairs]] exact-cosine scan over any vector column `v` with
    * squared norm `n` (the full `qv`/`norm2` or [[prefixVecs]]), scored `__cos`.
    * Shared by [[rrfFusion]], [[truncationAgreement]] and
    * [[mrlRecallCurve]].
    */
  private def prefixCosine(vecs: DataFrame, v: String, n: String,
      id: String = "neighbor_id"): DataFrame =
    scanPairs(vecs,
      queryBatch(vecs).select(col("vec_id").as("query_id"), col(v).as("__q_v"), col(n).as("__q_n")),
      Dedup.cosineQ(col("__q_v"), col("__q_n"), col(v), col(n)).as("__cos"), id)

  /** L2 normalization of the (milli-quantized) embedding, emitted per
    * dimension as exact integer e4 units of the unit vector:
    * `comp_e4 = round(v · 10000 / √norm2)` — one multiply, one
    * correctly-rounded sqrt, one divide, in the SAME order as the DuckDB
    * oracle, so the doubles are bit-identical. Zero vectors (norm2 = 0)
    * have no unit direction and are dropped.
    *
    * Map-only: a narrow scan + posexplode, no shuffle — the normalize-
    * before-indexing step of an embedding pipeline, made oracle-exact.
    */
  def l2Normalize(embeddings: DataFrame): DataFrame = {
    val q = Dedup.quantized(embeddings)
    q.filter(col("norm2") > 0)
      .select(col("vec_id"), col("norm2"), posexplode(col("qv")))
      .select(
        col("vec_id"),
        col("norm2").as("norm2_milli"),
        (col("pos") + 1).cast("long").as("dim"),
        round(col("col").cast("double") * 10000 / sqrt(col("norm2").cast("double")))
          .cast("long").as("comp_e4"))
  }

  /** Pairwise Pearson correlation between the first `dims` embedding
    * dimensions — the feature-redundancy diagnostic before PCA /
    * whitening. All sums are exact integers over the milli-quantized
    * components, folded into ONE aggregate row (no per-pair passes);
    * the final correlation is one double formula evaluated in the same
    * operation order as the oracle, rounded to 6 decimals.
    *
    * Scale: a single map-side-combined aggregate over a narrow scan —
    * dims·(dims+3)/2 running sums — then a constant-size explode. At
    * 100 TB this is the cheapest possible shape: one pass, one 1-row
    * shuffle.
    */
  def dimCorrelations(embeddings: DataFrame, dims: Int = 8): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val base = q.select((1 to dims).map(i => element_at(col("qv"), i).as(s"v$i")): _*)
    val aggs =
      (1 to dims).map(i => sum(col(s"v$i")).as(s"s$i")) ++
        (1 to dims).map(i => sum(col(s"v$i") * col(s"v$i")).as(s"ss$i")) ++
        (for { i <- 1 to dims; j <- (i + 1) to dims }
          yield sum(col(s"v$i") * col(s"v$j")).as(s"p${i}_$j"))
    val row = base.agg(count(lit(1)).as("n"), aggs: _*)
    val pairs = for { i <- 1 to dims; j <- (i + 1) to dims } yield
      struct(
        lit(i.toLong).as("dim_a"),
        lit(j.toLong).as("dim_b"),
        round(
          (col("n") * col(s"p${i}_$j") - col(s"s$i") * col(s"s$j")).cast("double") /
            (sqrt((col("n") * col(s"ss$i") - col(s"s$i") * col(s"s$i")).cast("double")) *
              sqrt((col("n") * col(s"ss$j") - col(s"s$j") * col(s"s$j")).cast("double"))),
          6).as("corr"))
    row
      .select(explode(array(pairs: _*)).as("c"))
      .select(col("c.dim_a"), col("c.dim_b"), col("c.corr"))
  }

  /** kNN majority-vote classification for the query subset: each query
    * vector's predicted label is the most common label among its k exact
    * nearest neighbors ([[bruteForceTopK]] — swap in [[lshTopK]]'s
    * candidates for the approximate 100 TB path, identical voting).
    * Ties: most votes first, then the smaller label. Output:
    * (query_id, pred_label, n_votes, true_label).
    *
    * Scale: the vote aggregate and arg-max window run over |queries| × k
    * rows — negligible next to the scoring join, which keeps the
    * broadcast-queries/scan-corpus-once shape of the underlying search.
    */
  def knnClassify(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = bruteForceTopK(embeddings, k)
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    votes
      .withColumn("__rk", queryRank(col("n_votes").desc, col("label")))
      .filter(col("__rk") === 1)
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("true_label")), "query_id")
      .select(
        col("query_id"), col("label").as("pred_label"),
        col("n_votes"), col("true_label"))
  }

  /** Per-label integer centroid vectors (floor-divided milli-int means) —
    * the exact-arithmetic core shared by [[centroids]] (string/report
    * form), [[silhouette]] and [[centroidOutliers]].
    */
  private[graft] def centroidVectors(embeddings: DataFrame, dim: Int = 64): DataFrame =
    dimSums(Dedup.quantized(embeddings), Seq(col("label")), "qv", "s", "n_vecs", dim)
      .select(col("label"), col("n_vecs"), array(floorMean("s", "n_vecs", dim): _*).as("cv"))

  /** Per-label embedding centroids — the coarse-quantizer training step
    * [[ivfTopK]] performs inline, exposed as its own operator (cluster
    * statistics / IVF index build). Exact integer math end to end: each
    * component is the FLOOR of the milli-quantized sum over the cell
    * (same construction as the IVF cells), so the output is bit-identical
    * across engines, partitionings, and summation orders — unlike a
    * float mean. The centroid is emitted in the canonical comma-joined
    * string form (like [[quantizeInt8]]'s codes) with its exact squared
    * norm.
    *
    * Scale: one hash aggregate over the corpus with dim positional sums —
    * all algebraic, map-side combined; output is |labels| rows. The
    * posexplode alternative (rows × dim shuffle) is deliberately avoided.
    */
  def centroids(embeddings: DataFrame, dim: Int = 64): DataFrame =
    centroidVectors(embeddings, dim)
      .select(
        col("label"),
        col("n_vecs"),
        concat_ws(",", transform(col("cv"), x => x.cast("string"))).as("centroid_milli"),
        Dedup.longDot(col("cv"), col("cv")).as("cnorm2"))

  /** The quantized (vec_id, label, qv, __vn = ‖qv‖²) table the
    * label-centroid readouts score against [[centroidVectors]]. */
  private def labeledVecs(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .select(col("vec_id"), col("label"), col("qv"),
        Dedup.longDot(col("qv"), col("qv")).as("__vn"))

  /** Embedding outliers against the label's own centroid: vectors whose
    * squared centroid distance exceeds `factor` × the label's MEDIAN
    * squared distance — the mislabeled/garbage-vector screen run before
    * training on labeled embeddings. Distances are exact integers (the
    * [[silhouette]] expansion); only the median is a (rounded) double,
    * and it's compared, never accumulated.
    *
    * Scale: one equi-join to the broadcast centroid table, one exact
    * percentile per label (swap `approx_percentile` at 100 TB), one
    * counting aggregate. No pair joins.
    */
  def centroidOutliers(
      embeddings: DataFrame, dim: Int = 64, factor: Double = 4.0): DataFrame = {
    val v = labeledVecs(embeddings)
    val cents = centroidVectors(embeddings, dim)
      .select(col("label"), col("cv"), Dedup.longDot(col("cv"), col("cv")).as("__cn"))
    val d2 = expandedD2(col("__vn"), col("qv"), col("cv"), col("__cn"))
    val dists = v.join(broadcast(cents), "label").select(col("label"), d2.as("__d2"))
    val meds = dists.groupBy(col("label"))
      .agg(round(expr("percentile(__d2, 0.5)"), 4).as("median_d2"))
    dists
      .join(broadcast(meds), "label")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        first(col("median_d2")).as("median_d2"),
        count(when(col("__d2").cast("double") > lit(factor) * col("median_d2"), 1))
          .as("n_outliers"))
  }

  /** Centroid-based (simplified) silhouette per label, exact integer e4:
    * each vector scores `(b² − a²)·1e4 / max(a², b²)` where a² is the
    * squared distance to its OWN label centroid and b² the minimum to
    * any other — positive means the labels separate, ≈0 means they
    * overlap, negative means misassignment. Squared distances expand to
    * `|v|² − 2v·c + |c|²` over the quantized integer vectors (codegen'd
    * `graft_long_dot`), so every distance — and therefore the score —
    * is an exact integer on any engine. This is the classic O(n·k)
    * medoid-free silhouette approximation: the textbook per-pair version
    * is O(n²) and normalizes by mean intra-cluster distance; this one
    * compares squared centroid distances, trading the constant for
    * distributability.
    *
    * Scale: one pass to centroids (|labels| rows, broadcast), one
    * map-side n × k scoring, one final hash agg — no pair joins at all.
    */
  def silhouette(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val v = labeledVecs(embeddings)
    val cents = centroidVectors(embeddings, dim)
      .select(col("label").as("__cl"), col("cv"),
        Dedup.longDot(col("cv"), col("cv")).as("__cn"))
    val d2 = expandedD2(col("__vn"), col("qv"), col("cv"), col("__cn"))
    val perVec = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("__cl"), d2.as("__d2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("__cl") === col("label"), col("__d2"))).as("__a2"),
        min(when(col("__cl") =!= col("label"), col("__d2"))).as("__b2"))
    val sE4 = when(col("__b2").isNull, lit(0L)) // single-label corpus
      .when(
        greatest(col("__a2"), col("__b2")) > 0,
        graft.Cols.floorDiv(
          (col("__b2") - col("__a2")) * 10000, greatest(col("__a2"), col("__b2"))))
      .otherwise(lit(0L)) // vector exactly on both centroids
    perVec
      .select(col("label"), sE4.as("__s"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__s")).as("__sum"))
      .select(
        col("label"), col("n_vecs"),
        graft.Cols.floorDiv(col("__sum"), col("n_vecs")).as("avg_silhouette_e4"))
  }

  /** Centroid drift between two halves of the corpus (vec_id parity — the
    * deterministic stand-in for batch-over-batch comparison): per label,
    * the exact integer floor centroid of each half and the squared L2
    * distance between them in milli² units. A retrieval index whose class
    * centroids move is re-trained before it degrades; this is that
    * monitor, bit-identical across engines (same construction as
    * [[centroids]], no float means anywhere).
    *
    * Scale: one hash aggregate onto (label, half) — 2·|labels| rows of
    * dim positional sums — then a self-join of that tiny table.
    */
  def centroidShift(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = Dedup.quantized(embeddings).withColumn("half", pmod(col("vec_id"), lit(2L)))
    val cents = dimSums(q, Seq(col("label"), col("half")), "qv", "s", "n_vecs", dim)
      .select(col("label"), col("half"), col("n_vecs"),
        array(floorMean("s", "n_vecs", dim): _*).as("cv"))
    cents.filter(col("half") === 0)
      .select(col("label"), col("n_vecs").as("n_a"), col("cv").as("cv_a"))
      .join(
        cents.filter(col("half") === 1)
          .select(col("label"), col("n_vecs").as("n_b"), col("cv").as("cv_b")),
        "label")
      .select(col("label"), col("n_a"), col("n_b"),
        sqL2(col("cv_a"), col("cv_b")).as("shift2_milli"))
  }

  /** One exact Lloyd (k-means) iteration with deterministic seeding:
    * initial centroids are the quantized vectors of the `k` smallest
    * vec_ids, every vector is assigned to its nearest centroid by exact
    * integer squared distance (|v|² − 2v·c + |c|², ties → smallest
    * centroid id), and per-cluster integer floor centroids + inertia
    * (Σ min-d²) are re-emitted. One verifiable step is the building block
    * the full iterative clustering loops on a driver — each step is this
    * exact shape, so pinning one step pins the loop body.
    *
    * Scale: the k-row centroid table broadcasts (bounded by k, not data —
    * same class as [[silhouette]]'s |labels|-row broadcast); assignment
    * is a map-side n × k scoring, and the recompute is one hash agg of
    * dim positional sums. No pair joins, nothing quadratic in the corpus.
    */
  def kmeansStep(embeddings: DataFrame, k: Int = 8, dim: Int = 64): DataFrame = {
    val v = quantizedVecs(embeddings)
    stringifyCentroid(lloydRound(v, seedCentroids(v, k), dim), dim)
  }

  /** Unsupervised-vs-supervised agreement: assign every vector to its
    * nearest seed centroid (the [[kmeansStep]] assignment rule — exact
    * integer squared distance, ties to the smallest centroid id) and
    * report, per cluster, its size, how many distinct labels it mixes,
    * the majority label (ties to the smallest label) and its share
    * (`purity_e4`). This is the eval a labeled-corpus clustering run
    * reads next to [[silhouette]]: silhouette scores geometric cohesion,
    * purity scores agreement with the labels you already paid for — a
    * geometrically tight cluster with purity 5 000 means the embedding,
    * not the quantizer, is confusing two classes.
    *
    * Scale: the k-row centroid table broadcasts (bounded by k, never
    * data); assignment is a map-side n × k scoring; then two hash aggs —
    * (cluster, label) contingency (≤ k·|labels| rows) and the k-row
    * majority fold. No windows, nothing quadratic in the corpus.
    */
  def clusterPurity(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val v = Dedup.quantized(embeddings)
      .select(col("vec_id"), col("label"), col("qv"), col("norm2").as("__vn"))
    val assigned = v.crossJoin(broadcast(seedCentroids(v, k)))
      .select(col("vec_id"), col("label"),
        struct(centroidD2.as("d2"), col("__cid").as("cid")).as("__dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("__dc")).as("__best"), first(col("label")).as("label"))
      .select(col("__best.cid").as("cluster_id"), col("label").cast("long").as("label"))
    val contingency = assigned
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("__n"))
    contingency
      .groupBy(col("cluster_id"))
      .agg(
        sum(col("__n")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        // majority = largest count, ties to the SMALLEST label (negate
        // the label inside the max-struct, un-negate on the way out)
        max(struct(col("__n").as("n"), (-col("label")).as("negl"))).as("__m"))
      .select(
        col("cluster_id"), col("n_vecs"), col("n_labels"),
        (-col("__m.negl")).as("majority_label"),
        col("__m.n").as("majority_n"),
        graft.Cols.floorDiv(col("__m.n") * 10000L, col("n_vecs")).as("purity_e4"))
      .orderBy(col("cluster_id"))
  }

  /** The quantized (vec_id, qv, __vn) working set every Lloyd round
    * scores against. */
  private def quantizedVecs(embeddings: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .select(col("vec_id"), col("qv"), col("norm2").as("__vn"))

  /** Deterministic seeds: the quantized vectors of the k smallest
    * vec_ids, in centroid shape (__cid, __cqv, __cn). */
  private def seedCentroids(v: DataFrame, k: Int): DataFrame =
    v.filter(col("vec_id") < k)
      .select(col("vec_id").as("__cid"), col("qv").as("__cqv"), col("__vn").as("__cn"))

  /** A vector's exact squared distance to a centroid-shape row. */
  private def centroidD2: Column =
    expandedD2(col("__vn"), col("qv"), col("__cqv"), col("__cn"))

  /** One exact Lloyd round against the given centroid table: nearest
    * assignment by integer squared distance (ties → smallest centroid
    * id), then per-cluster integer floor centroids + inertia, emitted as
    * (cluster_id, n_vecs, inertia, __cv array). */
  private def lloydRound(v: DataFrame, cents: DataFrame, dim: Int): DataFrame = {
    val assigned = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qv"),
        struct(centroidD2.as("d2"), col("__cid").as("cid")).as("__dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("__dc")).as("__best"), first(col("qv")).as("qv"))
      .select(
        col("qv"),
        col("__best.cid").as("cluster_id"),
        col("__best.d2").as("__d2"))
    dimSums(assigned, Seq(col("cluster_id")), "qv", "__s", "n_vecs", dim,
      sum(col("__d2")).as("inertia"))
      .select(col("cluster_id"), col("n_vecs"), col("inertia"),
        array(floorMean("__s", "n_vecs", dim): _*).as("__cv"))
  }

  private def stringifyCentroid(round: DataFrame, dim: Int): DataFrame =
    round.select(
      col("cluster_id"), col("n_vecs"), col("inertia"),
      concat_ws(",", (0 until dim).map(i =>
        element_at(col("__cv"), i + 1).cast("string")): _*).as("centroid_milli"))

  /** One SPHERICAL k-means step — [[kmeansStep]]'s Lloyd round on the
    * unit sphere, the variant semantic-embedding clustering actually
    * uses (cosine geometry: direction matters, magnitude is nuisance).
    * Every vector is projected to the [[l2Normalize]] integer grid
    * (`round(qᵢ·10⁴/√‖q‖²)`, zero vectors dropped), assigned to the seed
    * centroid maximizing the exact integer DOT product (ties → smallest
    * centroid id — max-cosine replaces min-d², otherwise the
    * [[kmeansStep]] rule), and each cluster re-emits its size, mean
    * within-cluster cosine (`⌊Σdot/n⌋`, e8 units — the cohesion monitor
    * a spherical loop watches instead of inertia) and the integer floor
    * mean direction.
    *
    * Scale: identical to [[kmeansStep]] — a k-row broadcast centroid
    * table, map-side n × k scoring, one hash agg of dim positional
    * sums. The normalize is map-only arithmetic on the same scan.
    */
  def sphericalKmeansStep(embeddings: DataFrame, k: Int = 8, dim: Int = 64): DataFrame = {
    val u = Dedup.quantized(embeddings)
      .filter(col("norm2") > 0)
      .select(
        col("vec_id"),
        transform(col("qv"), c =>
          round(c.cast("double") * 10000 / sqrt(col("norm2").cast("double")))
            .cast("long")).as("nv"))
    val cents = broadcast(
      u.filter(col("vec_id") < k)
        .select(col("vec_id").as("__cid"), col("nv").as("__cnv")))
    val dot = Dedup.longDot(col("nv"), col("__cnv"))
    val assigned = u.crossJoin(cents)
      .select(col("vec_id"), col("nv"),
        struct((-dot).as("negdot"), col("__cid").as("cid")).as("__dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("__dc")).as("__best"), first(col("nv")).as("nv"))
      .select(
        col("nv"),
        col("__best.cid").as("cluster_id"),
        (-col("__best.negdot")).as("__dot"))
    dimSums(assigned, Seq(col("cluster_id")), "nv", "__s", "n_vecs", dim,
      sum(col("__dot")).as("__sd"))
      .select(
        col("cluster_id"), col("n_vecs"),
        graft.Cols.floorDiv(col("__sd"), col("n_vecs")).as("mean_cos_e8"),
        concat_ws(",", floorMean("__s", "n_vecs", dim).map(_.cast("string")): _*)
          .as("centroid_e4"))
  }

  /** Second exact Lloyd iteration + convergence readout: re-assign every
    * vector against [[kmeansStep]]'s floor centroids, re-emit per-cluster
    * stats, and report each centroid's squared displacement
    * (`shift2_milli`, exact integer) — the is-it-converging monitor a
    * clustering loop watches per round. Lloyd's descent property holds
    * here too (SimilaritySpec pins total inertia non-increasing across
    * the two steps, floor-quantization included), so one verified
    * step-pair pins the loop's invariant, not just its body.
    *
    * Scale: both rounds broadcast a k-row centroid table; the step-1
    * round feeds step 2's broadcast directly — everything else is the
    * [[kmeansStep]] shape twice. A cluster that goes empty in round 2
    * disappears from the output (and reports no shift), exactly like
    * the SQL formulation.
    */
  def kmeansStep2(embeddings: DataFrame, k: Int = 8, dim: Int = 64): DataFrame = {
    val v = quantizedVecs(embeddings)
    // the k-row round-1 result feeds BOTH round 2's broadcast and the
    // shift join; checkpointing it pins one corpus scan per round
    val round1 = lloydRound(v, seedCentroids(v, k), dim).localCheckpoint()
    val cents1 = round1.select(
      col("cluster_id").as("__cid"), col("__cv").as("__cqv"),
      aggregate(transform(col("__cv"), x => x * x), lit(0L), _ + _).as("__cn"))
    lloydRound(v, cents1, dim)
      .join(
        broadcast(round1.select(col("cluster_id"), col("__cv").as("__cv1"))),
        "cluster_id")
      .select(
        col("cluster_id"), col("n_vecs"), col("inertia"),
        sqL2(col("__cv1"), col("__cv")).as("shift2_milli"),
        concat_ws(",", (0 until dim).map(i =>
          element_at(col("__cv"), i + 1).cast("string")): _*).as("centroid_milli"))
  }

  /** Per-source embedding-norm profile — the cross-modal health monitor
    * that joins the DOCUMENT dimension onto the vectors (vec_id = doc_id,
    * the chunk/vector lineage key every RAG pipeline carries): per crawl
    * source, the vector count and the min / max / floor-mean of the
    * exact integer milli² norms. A source whose norms collapse toward 0
    * (dead encoder, empty text) or blow out (un-normalized batch) shows
    * up here before it poisons the ANN index — the embedding-side twin
    * of the text-side per-source χ² drift screen.
    *
    * Scale: one quantized scan, one |sources|-sized hash aggregate; the
    * doc dimension joins on the lineage key (Spark broadcasts it when it
    * fits). All integer-exact.
    */
  def sourceNorms(embeddings: DataFrame, docs: DataFrame): DataFrame =
    Dedup.quantized(embeddings)
      .select(col("vec_id"), col("norm2"))
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        graft.Cols.floorDiv(sum(col("norm2")), count(lit(1))).as("mean_norm2"))

  /** Per-label isotropy/anisotropy readout — Ethayarajh's "how much of
    * the space do these embeddings actually use" diagnostic, computed
    * EXACTLY without enumerating a single pair: over n vectors,
    * `Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖²`, so the average pairwise dot (and
    * its norm-relative e6 form, ≈ the average pairwise cosine on
    * near-unit vectors) falls out of two aggregates. High anisotropy —
    * everything leaning on a common direction — is what kills cosine
    * contrast in retrieval and is the standard argument for centering /
    * whitening before indexing; this is the table that decides it, per
    * label cell.
    *
    * Scale: one posexplode to (label, dim) partial sums (map-side
    * combined, |labels|·64 rows) plus one |labels|-row norm aggregate —
    * the corpus is scanned once and nothing pairs. Moments fold in
    * decimal(38,0): Σv per dim is n-scaled, its square passes 2⁶³ near
    * a billion vectors per label (the welchScreen widening).
    */
  def isotropy(embeddings: DataFrame): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val gram = q
      .select(col("label"), posexplode(col("qv")).as(Seq("__dim", "__x")))
      .groupBy(col("label"), col("__dim"))
      .agg(sum(col("__x")).as("__s"))
      .groupBy(col("label"))
      .agg(sum(dec38(col("__s")) * dec38(col("__s"))).as("__gram"))
    q.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(dec38(col("norm2"))).as("__sumn"))
      .join(gram, "label")
      .filter(col("n_vecs") > 1)
      .select(
        col("label"), col("n_vecs"),
        Cols.floorDiv(col("__sumn"), col("n_vecs")).cast("long").as("avg_norm2"),
        avgPairDot, anisoE6)
  }

  /** The pair-free anisotropy readout over a group of `n_vecs` vectors
    * with `__sumn = Σ‖v‖²` and `__gram = ‖Σv‖²`: since
    * `Σ_{i≠j} vᵢ·vⱼ = gram − sumn`, the average pair dot and its
    * norm-relative e6 ratio (null when every vector is zero) need no
    * pairs. Shared by [[isotropy]], [[whitenGain]] and [[whiten2]].
    */
  private def avgPairDot: Column =
    Cols.floorDiv(
      col("__gram") - col("__sumn"),
      dec38(col("n_vecs")) * dec38(col("n_vecs") - 1L)).cast("long").as("avg_pair_dot")

  /** [[avgPairDot]] relative to the average norm², in e6. */
  private def anisoE6: Column =
    when(col("__sumn") > 0,
      Cols.floorDiv(
        (col("__gram") - col("__sumn")) * dec38(lit(1000000L)),
        dec38(col("n_vecs") - 1L) * col("__sumn")).cast("long"))
      .as("aniso_e6")

  /** The average norm² of a whitening arm's vectors. */
  private def armAvgNorm2: Column =
    Cols.floorDiv(col("__sumn"), dec38(col("n_vecs"))).cast("long").as("avg_norm2")

  /** The action [[isotropy]] recommends, measured: per-dimension
    * standardization (diagonal whitening, `w = (x − μ_d)·1e3 / σ_d` in
    * exact integer floors with σ as the one shared rounded-sqrt double)
    * and the same pair-free anisotropy identity evaluated on BOTH arms —
    * raw vs whitened, side by side. Centering alone annihilates the
    * common-direction term (`Σw ≈ 0` per dim ⇒ gram ≈ 0), so a healthy
    * whitening run shows `aniso_e6` collapsing from its raw value toward
    * `−1e6/(n−1)`; a run that doesn't collapse means the anisotropy was
    * never a mean offset and needs full (rotational) whitening instead.
    *
    * Scale: one posexplode long table feeds everything — the 64-row
    * per-dim moment broadcast, then one (arm, dim) partial-sum grid and
    * one (arm) norm aggregate over a bounded ×2 arm explode. Never a
    * pair, never a second corpus scan; decimal(38,0) moments as in
    * [[isotropy]].
    */
  def whitenGain(embeddings: DataFrame): DataFrame = {
    val longT = Dedup.quantized(embeddings)
      .select(col("vec_id"), posexplode(col("qv")).as(Seq("dim", "x")))
    val stats = longT.groupBy(col("dim"))
      .agg(count(lit(1)).as("__n"), sum(col("x")).as("__s"),
        sum(dec38(col("x")) * dec38(col("x"))).as("__q2"))
      .select(
        col("dim"),
        Cols.floorDiv(col("__s"), col("__n")).as("__mean"),
        greatest(
          round(sqrt(
            (dec38(col("__n")) * col("__q2") - dec38(col("__s")) * dec38(col("__s"))).cast("double")
              / (col("__n") * col("__n")).cast("double"))).cast("long"),
          lit(1L)).as("__sigma"))
    val armed = longT
      .join(broadcast(stats), "dim")
      .select(
        col("vec_id"), col("dim"),
        explode(array(
          struct(lit("raw").as("arm"), col("x").as("w")),
          struct(lit("whitened").as("arm"),
            Cols.floorDiv((col("x") - col("__mean")) * 1000L, col("__sigma")).as("w"))))
          .as("__a"))
      .select(col("__a.arm").as("arm"), col("vec_id"), col("dim"), col("__a.w").as("w"))
    val gram = armed.groupBy(col("arm"), col("dim"))
      .agg(sum(col("w")).as("__sd"))
      .groupBy(col("arm"))
      .agg(sum(dec38(col("__sd")) * dec38(col("__sd"))).as("__gram"))
    armed.groupBy(col("arm"))
      .agg(
        count_distinct(col("vec_id")).as("n_vecs"),
        sum(dec38(col("w")) * dec38(col("w"))).as("__sumn"))
      .join(gram, "arm")
      .filter(col("n_vecs") > 1)
      .select(col("arm"), col("n_vecs"), armAvgNorm2, avgPairDot, anisoE6)
  }

  /** Rotational whitening — the [[whitenGain]] follow-through for the
    * case its readout diagnoses: anisotropy that is NOT a mean offset
    * and survives centering. The top two principal directions of the
    * CENTERED corpus are estimated by power iteration (the
    * [[powerIterStep]] matvec, run `steps` rounds with e4
    * renormalization between rounds; the second direction by classic
    * deflation — project the first out of every vector and iterate
    * again), then the pair-free anisotropy identity is evaluated on
    * three arms side by side: raw, centered, and rotated (centered with
    * both principal components projected out). A corpus whose
    * `aniso_e6` collapses only on the rotated arm is the "needs full
    * whitening" verdict quantified.
    *
    * Everything is exact integers: directions live on a ±10⁴ e4 grid
    * (each matvec renormalizes by the max |component| — floors, so the
    * grid is deterministic), projections are integer floors
    * `c − ⌊proj·v_i / ‖v‖²⌋`, and all cross-row moments widen to
    * decimal(38,0). The per-step matvec folds c·v inside the row (64
    * multiplies) then one per-dim aggregate — no transcendentals, no
    * doubles anywhere.
    *
    * Scale: each power step is ONE corpus scan ending in a 1-row
    * aggregate, which [[graft.Rounds]] checkpoints so the next step's
    * plan starts from the 64-element result instead of re-expanding the
    * whole pyramid (without it step k re-runs steps 1..k−1 as broadcast
    * subtrees).
    * 2·`steps`+3 corpus scans total, each map-side-combined; the
    * readout's ×3 arm explode is bounded; nothing ever pairs.
    */
  def whiten2(embeddings: DataFrame, dim: Int = 64, steps: Int = 3): DataFrame = {
    // NOT checkpointed: a materialize-the-quantized-corpus-once variant
    // was measured (r15) at parity-to-slower on the fanned-out scan —
    // the 2·steps+3 re-scans are cheap once parallel, and the checkpoint
    // adds a barrier plus a resident block the readout pins for the
    // session (the bpeCompression trade, not worth it here)
    val q = Dedup.quantized(embeddings).select(col("vec_id"), col("qv"))
    // one scan: n, per-dim means (floor), and the per-dim centered-SS
    // seed direction n·ΣQ² − S² (positive, generically non-orthogonal to
    // the top eigendirection)
    val dirs = graft.Rounds.from(moments(q, dim)
      .select(floorMu.as("mu"), seedDir.as("__v0r"))
      .select(col("mu"), col("__v0r"), arrayMax(col("__v0r")).as("__m0"))
      .select(
        col("mu"),
        // pass-1 deflation is a no-op: p = 0 vector, ‖p‖² = 1
        array((0 until dim).map(_ => lit(0L)): _*).as("p"),
        lit(1L).as("pp"),
        renormE4(col("__v0r"), "__m0").as("v")))
    // one power step: v ← normalize_e4( Σ_rows ce·(ce·v) ) where
    // ce = (qv − mu) deflated by the carried direction p
    def powerStep(prev: DataFrame): DataFrame =
      centerDeflate(q.crossJoin(broadcast(prev)), "mu", "p", "pp", "v")
        .select(col("mu"), col("p"), col("pp"), col("__ce"),
          arrayDot(col("__ce"), col("v")).as("__sv"))
        .agg(
          first(col("mu")).as("mu"), first(col("p")).as("p"), first(col("pp")).as("pp"),
          matvec("__ce", dim).as("__u"))
        .select(col("mu"), col("p"), col("pp"), col("__u"),
          arrayMax(col("__u"), absolute = true).as("__m"))
        .select(col("mu"), col("p"), col("pp"), renormE4(col("__u"), "__m").as("v"))
    // every stage is a 1-row checkpoint consumed only by the next one,
    // so each is freed once its successor is materialized
    dirs.iterate(steps)((v, _) => powerStep(v))
    // re-arm for pass 2: the found direction becomes the deflation
    // carrier, its centered-SS seed re-measured on the deflated corpus
    dirs.step(_.select(col("mu"), col("v").as("p"), normSq1(col("v")).as("pp")))
    dirs.step(armed => centerDeflate(q.crossJoin(broadcast(armed)), "mu", "p", "pp")
      .agg(
        first(col("mu")).as("mu"), first(col("p")).as("p"), first(col("pp")).as("pp"),
        sqSums("__ce", dim).as("__r"))
      .select(col("mu"), col("p"), col("pp"), col("__r"), arrayMax(col("__r")).as("__m0"))
      .select(col("mu"), col("p"), col("pp"), renormE4(col("__r"), "__m0").as("v")))
    dirs.iterate(steps)((v, _) => powerStep(v))
    val fin = dirs.step(_.select(
      col("mu"), col("p"), col("pp"), col("v").as("v2"), normSq1(col("v")).as("vv2"))).frame
    // readout: the pair-free mean identity (aniso_e6 — which CENTERING
    // already collapses, so it isolates the mean-offset component) plus
    // the rotation-sensitive figure: how much of the arm's total second
    // moment lies along the two measured principal directions. On a
    // covariance-elongated, mean-zero corpus aniso_e6 sits at its floor
    // on every arm while top2_share_e6 collapses ONLY on the rotated one
    // — the "centering was never going to fix this" proof.
    val armed = q.crossJoin(broadcast(fin))
      .select(col("qv"), col("p"), col("pp"), col("v2"), col("vv2"), centered.as("__c"))
      .select(col("qv"), col("p"), col("pp"), col("v2"), col("vv2"), col("__c"),
        arrayDot(col("__c"), col("p")).as("__pj"))
      .select(col("qv"), col("p"), col("pp"), col("__c"), col("v2"), col("vv2"),
        deflate(col("__c"), col("p"), col("__pj"), col("pp")).as("__ce"))
      .select(col("qv"), col("p"), col("pp"), col("__c"), col("__ce"), col("v2"), col("vv2"),
        arrayDot(col("__ce"), col("v2")).as("__pj2"))
      .select(col("p"), col("pp"), col("v2"), col("vv2"),
        explode(array(
          struct(lit("raw").as("arm"), col("qv").as("w")),
          struct(lit("centered").as("arm"), col("__c").as("w")),
          struct(lit("rotated").as("arm"),
            deflate(col("__ce"), col("v2"), col("__pj2"), col("vv2")).as("w"))))
          .as("__a"))
      .select(col("__a.arm").as("arm"), col("__a.w").as("w"),
        arrayDot(col("__a.w"), col("p")).as("__d1"),
        arrayDot(col("__a.w"), col("v2")).as("__d2"),
        col("pp"), col("vv2"))
    // per-row floors of (w·v_k)²/‖v_k‖² — the norm²-unit mass along each
    // measured direction
    def along(d: String, vv: String): Column =
      sum(dec38(Cols.floorDiv(dec38(col(d)) * dec38(col(d)), dec38(col(vv)))))
    val grouped = armed.groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n_vecs"),
        array((0 until dim).map(i => sum(dec38(element_at(col("w"), i + 1)))): _*).as("__sd"),
        sum(dec38(Dedup.longDot(col("w"), col("w")))).as("__sumn"),
        along("__d1", "pp").as("__q1"),
        along("__d2", "vv2").as("__q2"))
      .select(col("arm"), col("n_vecs"), col("__sumn"), col("__q1"), col("__q2"),
        aggregate(col("__sd"), dec38(lit(0L)), (acc, x) => acc + x * x).as("__gram"))
    grouped
      .filter(col("n_vecs") > 1)
      .select(
        col("arm"), col("n_vecs"), armAvgNorm2, anisoE6,
        when(col("__sumn") > 0,
          Cols.floorDiv(
            (dec38(col("__q1")) + dec38(col("__q2"))) * dec38(lit(1000000L)),
            col("__sumn")).cast("long"))
          .as("top2_share_e6"))
  }

  /** One scan of the per-dim moments of `qv`: the count `__n`, the sums
    * `__s` and the widened squared sums `__q2`, as arrays. The seed of
    * [[whiten2]] and [[powerCurve]]. */
  private def moments(q: DataFrame, dim: Int): DataFrame =
    q.agg(
      count(lit(1)).as("__n"),
      array((0 until dim).map(i => sum(element_at(col("qv"), i + 1))): _*).as("__s"),
      sqSums("qv", dim).as("__q2"))

  /** Per-dim widened Σx² of the array column `c`. */
  private def sqSums(c: String, dim: Int): Column =
    array((0 until dim).map { i =>
      val x = dec38(element_at(col(c), i + 1))
      sum(x * x)
    }: _*)

  /** The floor per-dim mean `μ = ⌊__s / __n⌋` of [[moments]]. */
  private def floorMu: Column = transform(col("__s"), s => Cols.floorDiv(s, col("__n")))

  /** The per-dim centered-SS seed direction `n·ΣQ² − S²` of [[moments]]. */
  private def seedDir: Column =
    zip_with(col("__q2"), col("__s"), (q2, s) => dec38(col("__n")) * q2 - dec38(s) * dec38(s))

  /** The largest element of a widened array (of its magnitudes when
    * `absolute`), floored at 0. */
  private def arrayMax(a: Column, absolute: Boolean = false): Column =
    aggregate(a, dec38(lit(0L)), (m, x) => greatest(m, if (absolute) abs(x) else x))

  /** The e4 renormalization between power steps: every component of `a`
    * as `⌊x·10⁴ / max(m, 1)⌋` — floors, so the direction grid is
    * deterministic. */
  private def renormE4(a: Column, m: String): Column =
    transform(a, x => Cols.floorDiv(x * dec38(lit(10000L)), greatest(col(m), dec38(lit(1L)))))

  /** Exact integer dot of two arrays, folded in the row (the
    * power-iteration form; the scoring joins use [[Dedup.longDot]]). */
  private def arrayDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), _ + _)

  /** `max(‖v‖², 1)` — the projection divisor of a direction. */
  private def normSq1(v: Column): Column = greatest(arrayDot(v, v), lit(1L))

  /** The row's `qv` centered on the carried mean `mu`. */
  private def centered: Column = zip_with(col("qv"), col("mu"), (x, m) => x - m)

  /** `c` with the direction `p` projected out, given the row's
    * projection `proj = c·p` and `pp = ‖p‖²`: `cᵢ − ⌊proj·pᵢ / pp⌋`. */
  private def deflate(c: Column, p: Column, proj: Column, pp: Column): Column =
    zip_with(c, p, (ci, pi) => ci - Cols.floorDiv(proj * pi, pp))

  /** One centered-deflation pass over corpus rows crossed with a carried
    * 1-row state: `__c = qv − mu`, its projection `__pj` on `p`, and the
    * deflated `__ce`, keeping the `keep` columns alongside. */
  private def centerDeflate(rows: DataFrame, keep: String*): DataFrame = {
    val kept = keep.map(col)
    rows.select(kept :+ centered.as("__c"): _*)
      .select(kept ++ Seq(col("__c"), arrayDot(col("__c"), col("p")).as("__pj")): _*)
      .select(kept :+ deflate(col("__c"), col("p"), col("__pj"), col("pp")).as("__ce"): _*)
  }

  /** One power-iteration matvec, per dim `Σ_rows c·(c·v)` widened, over
    * the row vector `c` and its projection `__sv`. */
  private def matvec(c: String, dim: Int): Column =
    array((0 until dim).map(i => sum(dec38(element_at(col(c), i + 1)) * dec38(col("__sv")))): _*)

  /** Power-iteration convergence curve — the measurement behind
    * [[whiten2]]'s "3 steps suffice" design choice, registered so the
    * evidence recomputes with the corpus instead of living in a
    * scaladoc. Per step k: the Rayleigh quotient of the running
    * direction against the centered scatter (`Σ_rows (c·v)² / ‖v‖²` —
    * monotone non-decreasing under exact power iteration, so a drop
    * means the e4 grid is too coarse for this corpus), its share of the
    * scatter trace (the "how low-rank is this embedding space" number),
    * and the L1 drift of the e4 direction grid from the previous step
    * (→ 0 at convergence). When the curve flattens at step 2, deeper
    * iteration buys nothing; when it's still climbing at the last step,
    * the eigengap is small and downstream consumers ([[whiten2]]) need
    * more rounds.
    *
    * Scale: the [[whiten2]] pass-A machinery — `steps`+1 corpus scans,
    * each ending in a 1-row localCheckpointed aggregate; readouts are
    * 1-row crossJoins of adjacent step rows; moments in decimal(38,0).
    */
  def powerCurve(embeddings: DataFrame, dim: Int = 64, steps: Int = 4): DataFrame = {
    val q = Dedup.quantized(embeddings).select(col("vec_id"), col("qv"))
    val mom = moments(q, dim)
      .select(col("__n"), col("__s"), col("__q2"), floorMu.as("mu"))
      // trace of the centered scatter: Σ_i Q2_i − 2·μ_i·S_i + n·μ_i²
      .select(col("__n"), col("__s"), col("__q2"), col("mu"),
        zip_with(col("__q2"),
          zip_with(col("__s"), col("mu"), (s, m) => dec38(s) * dec38(m)),
          (q2, sm) => q2 - sm * dec38(lit(2L))).as("__t1"))
      .select(col("__n"), col("__s"), col("__q2"), col("mu"),
        zip_with(col("__t1"),
          transform(col("mu"), m => dec38(m) * dec38(m)),
          (t1, m2) => t1 + m2 * dec38(col("__n"))).as("__tr"))
      .select(col("mu"),
        aggregate(col("__tr"), dec38(lit(0L)), _ + _).as("trace"), seedDir.as("__v0r"))
      .select(col("mu"), col("trace"), col("__v0r"), arrayMax(col("__v0r")).as("__m0"))
      .select(col("mu"), col("trace"), renormE4(col("__v0r"), "__m0").as("v"))
      .localCheckpoint()
    var prev = mom
    val readouts = (1 to steps).map { k =>
      val agg1 = q.crossJoin(broadcast(prev))
        .select(col("mu"), col("trace"), col("v"), centered.as("__c"))
        .select(col("mu"), col("trace"), col("v"), col("__c"),
          arrayDot(col("__c"), col("v")).as("__sv"))
        .agg(
          first(col("mu")).as("mu"), first(col("trace")).as("trace"),
          first(col("v")).as("vprev"),
          sum(dec38(col("__sv")) * dec38(col("__sv"))).as("__rnum"),
          matvec("__c", dim).as("__u"))
        .localCheckpoint()
      val next = agg1
        .select(col("mu"), col("trace"), col("__u"),
          arrayMax(col("__u"), absolute = true).as("__m"))
        .select(col("mu"), col("trace"), renormE4(col("__u"), "__m").as("v"))
        .localCheckpoint()
      val readout = next.select(col("v"))
        .crossJoin(broadcast(
          agg1.select(col("vprev"), col("__rnum"), col("trace"))))
        .withColumn("__vv", normSq1(col("vprev")))
        .select(
          lit(k.toLong).as("step"),
          Cols.floorDiv(col("__rnum"), dec38(col("__vv"))).cast("long").as("rayleigh"),
          when(col("trace") > 0,
            Cols.floorDiv(col("__rnum") * dec38(lit(1000000L)), dec38(col("__vv")) * col("trace"))
              .cast("long")).as("top_share_e6"),
          aggregate(zip_with(col("v"), col("vprev"), (a, b) => abs(a - b)),
            lit(0L), _ + _).as("drift_e4"))
      prev = next
      readout
    }
    // each step's agg1/next rows back a readout and stay; the seed row
    // is consumed by step 1 only — free it (LocalCheckpoints scaladoc)
    graft.LocalCheckpoints.free(mom)
    readouts.reduce(_ unionAll _)
  }

  /** IVF recall readout: per query, how many of the exact top-k
    * ([[bruteForceTopK]]) the IVF index ([[ivfTopK]]) recovers — the
    * quantitative answer to "is nprobe high enough", as a REGISTERED
    * query rather than a test-only gate. Both sides are deterministic
    * (exact integer dots, fixed tie-breaks), so unlike the hyperplane-LSH
    * path this recall is itself exactly reproducible and fully oracled.
    *
    * Scale: both constituents keep their own plans (corpus scanned once
    * each, queries broadcast); scoring is a membership join on
    * (query, neighbor) over query-sized tables.
    */
  def ivfRecall(
      embeddings: DataFrame, k: Int = TopK, nprobe: Int = 2, dim: Int = 64): DataFrame =
    recallVsBrute(embeddings, ivfTopK(embeddings, k, nprobe, dim), k)

  /** LSH recall CURVE — recall@k for k ∈ `ks` from ONE pair of rankings:
    * brute and LSH top-k tables are built once, the membership join fans
    * out over the k arms map-side, and each arm aggregates its macro
    * (pooled-over-queries) recall in e4. The parameter-sweep view
    * [[ivfRecall]]'s per-query readout doesn't give: how recall decays
    * as k grows is THE tables×bits sizing signal. Both constituents
    * deterministic (md5 planes) → fully oracled.
    *
    * Scale: rankings are |queries|·k rows; the arms explode THAT table,
    * never the corpus.
    */
  def lshRecallCurve(spark: SparkSession, embeddings: DataFrame,
                     ks: Seq[Int] = Seq(1, 3, 5)): DataFrame = {
    val lsh = lshTopK(spark, embeddings, ks.max)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("l_rank"))
    val joined = bruteForceTopK(embeddings, ks.max)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("b_rank"))
      .join(lsh, Seq("query_id", "neighbor_id"), "left")
    joined
      .select(col("query_id"), col("b_rank"), col("l_rank"),
        explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
      .filter(col("b_rank") <= col("k"))
      .groupBy(col("k"))
      .agg(
        count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        sum(when(col("l_rank") <= col("k"), 1L).otherwise(0L)).as("n_hit"))
      .select(
        col("k"), col("n_queries"), col("n_truth"), col("n_hit"),
        graft.Cols.floorDiv(col("n_hit") * 10000, col("n_truth")).as("recall_e4"))
  }

  /** PQ/ADC recall readout: per query, how many of the exact top-k
    * ([[bruteForceTopK]]) the code-only ADC search ([[adcTopK]]) recovers
    * — the quantitative answer to "is 4×16-dim quantization tight enough
    * for this corpus", as a registered query. Both constituents are
    * deterministic (fixed codebook, integer distances, fixed tie-breaks),
    * so like [[ivfRecall]] — and unlike trained-codebook PQ — this recall
    * is itself exactly reproducible and fully oracled.
    *
    * Scale: the two constituents keep their own plans; scoring is a
    * membership join on (query, neighbor) over query-sized tables.
    */
  def pqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    recallVsBrute(embeddings, adcTopK(embeddings, k), k)

  /** IVF-PQ recall@k vs nprobe — the [[lshRecallCurve]] readout for the
    * composed production index ([[ivfPqTopK]]): one row per probe width,
    * scoring the cell-pruned, code-only ranking against the exact
    * [[bruteForceTopK]] truth. This is THE latency/recall dial of an IVF
    * deployment — the curve that answers "how many cells must I probe
    * before recall plateaus" before anyone buys the scan cost. Both
    * constituents are deterministic (integer floor centroids, fixed
    * codebook, fixed tie rules), so the whole curve is fully oracled.
    *
    * The curve is NOT guaranteed monotone in nprobe: the candidate set
    * only grows, but ADC distances are approximate, so a newly-probed
    * cell can contribute code-close impostors that push true neighbors
    * out of the ranked top-k (observed on the sf0.01 fixture: 600 →
    * 1000 → 800 e4 across probes 1/2/4). A descending segment is the
    * signal that the CODEBOOK, not the probe width, is the recall
    * bottleneck — probe wider and you buy scan cost for nothing.
    *
    * Scale: the truth side is the declared all-pairs baseline (at 100 TB
    * a sampled query panel); each nprobe arm keeps ivfPqTopK's own
    * bounded-broadcast plan, and scoring is a membership join on
    * (query, neighbor) over query-sized tables — the [[pqRecall]] shape
    * per arm, |nprobes|-row bounded union.
    */
  def ivfPqRecallCurve(embeddings: DataFrame, k: Int = TopK,
      nprobes: Seq[Int] = Seq(1, 2, 4), dim: Int = 64): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be positive")
    val truth = bruteForceTopK(embeddings, k)
      .select(col("query_id"), col("neighbor_id"))
    val frames = nprobes.map { np =>
      recallArm(truth,
        ivfPqTopK(embeddings, k, nprobe = np, dim = dim)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        lit(np.toLong).as("nprobe"))
    }
    frames.reduce(_ unionAll _).orderBy(col("nprobe"))
  }

  /** One arm of a recall curve: the `truth` pairs left-joined to the
    * arm's `approx` pairs (flagged `__hit`), pooled over queries as
    * (arm, n_truth, n_hit, recall_e4) — recall null on an empty truth.
    * Shared by [[ivfPqRecallCurve]] and [[mrlRecallCurve]].
    */
  private def recallArm(truth: DataFrame, approx: DataFrame, arm: Column): DataFrame =
    truth
      .join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_hit"))
      .select(
        arm, col("n_truth"), col("n_hit"),
        when(col("n_truth") > 0,
          graft.Cols.floorDiv(col("n_hit") * 10000, col("n_truth")))
          .otherwise(lit(null).cast("long")).as("recall_e4"))

  /** One EXACT power-iteration step toward the corpus' dominant principal
    * direction: `v₁ = Xᵀ(X·1)` over the milli-quantized integer matrix —
    * per row one dot with the ones vector (the row sum), then per
    * dimension the 1 aggregated `Σᵣ xᵣᵢ·rowsumᵣ`. Emitted per dim as the
    * raw integer component plus its e4 ratio to the max |component| (the
    * normalized direction, exact floor division). Iterating this step
    * (driver loop, renormalizing between steps) is textbook power
    * iteration on the second-moment matrix; one verifiable step pins the
    * loop body, exactly the [[kmeansStep]] philosophy.
    *
    * Scale: ONE keyless aggregate of dim algebraic sums over a narrow
    * map-side expression — no per-pair work, no dim×dim matrix shuffle.
    * Components reach element·rowsum·rows ≈ 10³·10⁵·rows, so past ~10¹⁰
    * rows the sums move to DECIMAL(38,0) (the trendSlope hazard).
    */
  def powerIterStep(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = Dedup.quantized(embeddings)
      .select(col("qv"), aggregate(col("qv"), lit(0L), _ + _).as("__rs"))
    val sums = (0 until dim).map(i =>
      sum(element_at(col("qv"), i + 1) * col("__rs")).as(s"__v$i"))
    q.agg(sums.head, sums.tail: _*)
      .select(
        greatest((0 until dim).map(i => abs(col(s"__v$i"))): _*).as("__mx"),
        explode(array((0 until dim).map(i =>
          struct(lit((i + 1).toLong).as("dim"), col(s"__v$i").as("v"))): _*)).as("d"))
      .select(
        col("d.dim"), col("d.v").as("component"),
        when(col("__mx") > 0, graft.Cols.floorDiv(col("d.v") * 10000, col("__mx")))
          .as("ratio_e4"))
  }

  /** Per-dimension Tukey fences over the quantized corpus — the robust
    * outlier screen [[dimStats]]' min/max can't give (one corrupt vector
    * saturates a min; it can't move a quartile). Quartiles are exact:
    * percentile interpolation over integers at .25/.75 lands on quarter
    * units (exactly representable doubles), so ×4 recovers integers, and
    * the 1.5·IQR fences live in eighths — `F8_low = 5·Q1₄ − 3·Q3₄`,
    * `F8_high = 5·Q3₄ − 3·Q1₄` — making every comparison (`8·v` vs `F8`)
    * pure integer math, bit-identical across engines.
    *
    * Scale: one posexplode to (dim, value) rows, one exact percentile per
    * dimension (swap approx_percentile at 100 TB), then a broadcast
    * |dim|-row fence join and a counting aggregate.
    */
  def dimFences(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val vals = Dedup.quantized(embeddings)
      .select(posexplode(col("qv")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("__v"))
    val qs = vals.groupBy(col("dim")).agg(
      round(expr("percentile(__v, 0.25) * 4"), 0).cast("long").as("q1_4"),
      round(expr("percentile(__v, 0.75) * 4"), 0).cast("long").as("q3_4"))
    vals.join(broadcast(qs), "dim")
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        first(col("q1_4")).as("q1_4"),
        first(col("q3_4")).as("q3_4"),
        count(when(col("__v") * 8 < lit(5L) * col("q1_4") - lit(3L) * col("q3_4"), 1))
          .as("n_low"),
        count(when(col("__v") * 8 > lit(5L) * col("q3_4") - lit(3L) * col("q1_4"), 1))
          .as("n_high"))
  }

  /** Per-dimension PSI drift monitor over the embedding space — the
    * vector-side twin of [[graft.ops.Stats.psi]], completing the
    * model-monitoring story: "has the embedding DISTRIBUTION moved
    * between batches", per dimension, as one stability index each. The
    * corpus is cut into reference/current halves by a content-free hash
    * of `vec_id` (the old-batch/new-batch stand-in — the vectors fixture
    * carries no ingest timestamp; swap the predicate for a batch column
    * in production). Per dimension the REFERENCE half's milli-quantized
    * value range defines `bins` equal-width buckets (current outliers
    * clamp into the edge buckets — nothing dropped), shares are
    * Laplace-smoothed `(n+1)/(N+bins)`, and each bin's
    * `(p−q)·ln(p/q)` term is e4-quantized THEN summed — the
    * quantize-then-sum discipline that keeps the one transcendental
    * cross-engine exact. `drift_flag` above 0.2 (the conventional
    * significant-shift line). A collapsed reference dimension
    * (`hi = lo`) still bins everything into bucket 0 and flags if the
    * current half spreads — exactly the failure mode an embedding
    * monitor exists to catch.
    *
    * Scale: one rows×dim posexplode feeding a map-side-combined count to
    * the |dim|·bins grid, one |dim|-row broadcast of reference ranges,
    * bounded grid fill — no window, no sort, no second scan; output is
    * |dim| rows. The explode shuffles dim× the corpus row count but only
    * (dim, cur, value) triples — at 100 TB prefer [[dimStats]]' no-
    * explode positional-aggregate shape if dim·bins fits one aggregate
    * row; this formulation keeps the grid sparse-safe at any dim.
    */
  def embPsi(embeddings: DataFrame, bins: Int = 10, alertE4: Long = 2000L): DataFrame = {
    val cur = pmod(
      Cols.hash60(concat(lit("embhalf:"), col("vec_id").cast("string"))), lit(2L))
    val base = Dedup.quantized(embeddings)
      .select(cur.as("__cur"), posexplode(col("qv")))
      .select((col("pos") + 1).cast("long").as("dim"), col("__cur"), col("col").as("__c"))
    val range = base.filter(col("__cur") === 0)
      .groupBy(col("dim"))
      .agg(min(col("__c")).as("__lo"), max(col("__c")).as("__hi"))
    val counts = base.join(broadcast(range), "dim")
      .select(col("dim"), col("__cur"), psiBin(bins).as("__bin"))
      .groupBy(col("dim"), col("__bin"))
      .agg(
        sum(when(col("__cur") === 0, 1L).otherwise(0L)).as("__nr"),
        sum(when(col("__cur") === 1, 1L).otherwise(0L)).as("__nc"))
    val grid = range.select(col("dim"), upTo(bins).as("__bin"))
    val filled = grid.join(counts, Seq("dim", "__bin"), "left")
      .na.fill(0L, Seq("__nr", "__nc"))
    val tot = filled.groupBy(col("dim"))
      .agg(sum(col("__nr")).as("n_ref"), sum(col("__nc")).as("n_cur"))
    psiScore(filled.join(tot, "dim"), Seq(col("dim")), bins, alertE4)
  }

  /** The three frozen pieces of a PSI reference: per-dim bin ranges,
    * per-(dim, bin) reference counts, per-dim reference totals — each an
    * aggregate bounded by dim (≤ 64) × bins (literal ≤ 10), safely
    * broadcastable. The frozen reference of [[embPsiIncremental]].
    */
  private def psiReferenceParts(
      refQ: DataFrame, bins: Int): (DataFrame, DataFrame, DataFrame) = {
    val base = refQ
      .select(posexplode(col("qv")))
      .select((col("pos") + 1).cast("long").as("dim"), col("col").as("__c"))
    val ranges = base.groupBy(col("dim"))
      .agg(min(col("__c")).as("__lo"), max(col("__c")).as("__hi"))
    val refCounts = base.join(broadcast(ranges), "dim")
      .select(col("dim"), psiBin(bins).as("__bin"))
      .groupBy(col("dim"), col("__bin")).agg(count(lit(1)).as("__nr"))
    val refTot = refCounts.groupBy(col("dim")).agg(sum(col("__nr")).as("n_ref"))
    (ranges, refCounts, refTot)
  }

  /** Reference-range bin index with edge clamping (the [[embPsi]] bin). */
  private def psiBin(bins: Int): Column = {
    val rawBin = graft.Cols.floorDiv(
      (col("__c") - col("__lo")) * bins, col("__hi") - col("__lo") + 1L)
    least(greatest(rawBin, lit(0L)), lit((bins - 1).toLong))
  }

  /** Per-(batch, dim) PSI of current batches against a FROZEN reference
    * histogram — Laplace-smoothed shares, e4 quantize-then-sum ln terms,
    * the [[embPsi]] math with the reference side precomputed. `cur`
    * carries (batch, qv); every aggregate downstream of the bin
    * assignment is bounded by batches × dim × bins.
    */
  private def psiVsReference(
      ranges: DataFrame, refCounts: DataFrame, refTot: DataFrame,
      cur: DataFrame, bins: Int = 10, alertE4: Long = 2000L): DataFrame = {
    val base = cur
      .select(col("batch"), posexplode(col("qv")))
      .select(col("batch"), (col("pos") + 1).cast("long").as("dim"), col("col").as("__c"))
    val counts = base.join(broadcast(ranges), "dim")
      .select(col("batch"), col("dim"), psiBin(bins).as("__bin"))
      .groupBy(col("batch"), col("dim"), col("__bin")).agg(count(lit(1)).as("__nc"))
    val tot = counts.groupBy(col("batch"), col("dim")).agg(sum(col("__nc")).as("n_cur"))
    // zero-filled (batch, dim, bin) grid from the totals side — a literal
    // ≤ bins fan-out, so empty bins still contribute their Laplace term
    val grid = tot.select(col("batch"), col("dim"), col("n_cur"), upTo(bins).as("__bin"))
    val filled = grid
      .join(counts, Seq("batch", "dim", "__bin"), "left")
      .join(broadcast(refCounts), Seq("dim", "__bin"), "left")
      .na.fill(0L, Seq("__nc", "__nr"))
      .join(broadcast(refTot), Seq("dim"))
    psiScore(filled, Seq(col("batch"), col("dim")), bins, alertE4)
  }

  /** The PSI sum over a zero-filled (keys, bin) grid carrying reference
    * and current bin counts `__nr`/`__nc` and totals `n_ref`/`n_cur`:
    * Laplace-smoothed shares `(n+1)/(N+bins)`, each bin's
    * `(p−q)·ln(p/q)` quantized to e4 THEN summed per key, and the
    * `drift_flag` above `alertE4`. Shared by [[embPsi]] and
    * [[psiVsReference]].
    */
  private def psiScore(filled: DataFrame, keys: Seq[Column], bins: Int,
      alertE4: Long): DataFrame = {
    val p = (col("__nr").cast("double") + 1.0) / (col("n_ref").cast("double") + bins)
    val q = (col("__nc").cast("double") + 1.0) / (col("n_cur").cast("double") + bins)
    val term = round((p - q) * log(p / q) * 10000).cast("long")
    filled
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .groupBy(keys ++ Seq(col("n_ref"), col("n_cur")): _*)
      .agg(sum(term).as("psi_e4"))
      .withColumn("drift_flag", when(col("psi_e4") > alertE4, 1L).otherwise(0L))
  }

  /** Incremental PSI drift, next to the dedup ledger
    * ([[graft.dedup.Dedup.ledgerFlags]]) and the incremental
    * decontamination screen: the reference half's per-dim histogram is
    * FROZEN (ranges, bin counts, totals — the artifact a production
    * monitor persists once), and the current half arrives as two
    * hash-assigned ingest batches, each scored independently against
    * that same frozen reference.
    * Unlike [[embPsi]] (one pooled current window), the trace shows
    * drift PER BATCH — the shape that catches a drift that starts
    * mid-stream and would be diluted in the pooled view.
    *
    * Scale: the reference parts are dim×bins aggregates (broadcast);
    * per batch the only corpus-sized work is the posexplode + bin
    * assignment feeding a map-side-combined (batch × dim × bins)
    * aggregate — the [[embPsi]] posture with the reference side
    * amortized across every batch ever scored.
    */
  def embPsiIncremental(
      embeddings: DataFrame, bins: Int = 10, alertE4: Long = 2000L): DataFrame = {
    val half = pmod(
      Cols.hash60(concat(lit("embhalf:"), col("vec_id").cast("string"))), lit(2L))
    val ingest = pmod(
      Cols.hash60(concat(lit("psibatch:"), col("vec_id").cast("string"))), lit(2L))
    val q = Dedup.quantized(embeddings).withColumn("__half", half)
    val (ranges, refCounts, refTot) =
      psiReferenceParts(q.filter(col("__half") === 0), bins)
    val cur = q.filter(col("__half") === 1).withColumn("batch", ingest)
    psiVsReference(ranges, refCounts, refTot, cur, bins, alertE4)
  }

  /** Per-dimension embedding statistics — the drift/health monitor an
    * embedding pipeline runs on every new batch (a collapsed dimension,
    * a mean shift, or an exploding scale shows up here before it poisons
    * retrieval). All in exact milli-quantized integer math: sums, mins,
    * maxes, sum-of-squares per dimension, and a floor-division mean —
    * bit-identical across engines and summation orders.
    *
    * Scale: ONE keyless aggregate with 4·dim positional algebraic
    * columns (map-side combined), reshaped to dim rows by exploding a
    * struct array — the same no-posexplode choice as [[centroids]]: the
    * alternative rows×dim explode would shuffle a 64× blowup of the
    * corpus just to compute 64 tiny rows.
    */
  def dimStats(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val q = Dedup.quantized(embeddings)
    val aggs = (0 until dim).flatMap { i =>
      val v = element_at(col("qv"), i + 1)
      Seq(
        sum(v).as(s"__s$i"),
        min(v).as(s"__mn$i"),
        max(v).as(s"__mx$i"),
        sum(v * v).as(s"__q$i"))
    }
    q.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array((0 until dim).map { i =>
        struct(
          lit((i + 1).toLong).as("dim"),
          col("__n").as("n_vecs"),
          col(s"__s$i").as("sum_milli"),
          col(s"__mn$i").as("min_milli"),
          col(s"__mx$i").as("max_milli"),
          col(s"__q$i").as("sumsq_milli"))
      }: _*)).as("d"))
      .select(
        col("d.dim"), col("d.n_vecs"), col("d.sum_milli"), col("d.min_milli"),
        col("d.max_milli"), col("d.sumsq_milli"),
        graft.Cols.floorDiv(col("d.sum_milli"), col("d.n_vecs")).as("avg_milli"))
  }

  /** Dimension-truncation retrieval agreement — the matryoshka question:
    * if vectors are cut to their first `dims` dimensions (the cheap index
    * a 100 TB deployment actually serves), does top-1 retrieval still
    * return the same neighbor the full vector would? Per query: the full
    * top-1, the truncated top-1, and an agreement flag — the empirical
    * basis for choosing a truncation width before re-indexing a corpus.
    *
    * Both ranking passes reuse the brute-force shape (query side
    * broadcast, corpus scanned once, no corpus shuffle); the truncated
    * pass carries only the `dims`-wide prefix through the join. Exact
    * quantized-integer cosines, rank ties broken by neighbor id.
    */
  def truncationAgreement(embeddings: DataFrame, dims: Int = 16): DataFrame = {
    val q = Dedup.quantized(embeddings)
    def top1(vecs: DataFrame, v: String, n: String, outId: String): DataFrame =
      prefixCosine(vecs, v, n, "__nid")
        .withColumn("__rank", queryRank(col("__cos").desc, col("__nid")))
        .filter(col("__rank") === 1)
        .select(col("query_id"), col("__nid").as(outId))
    val full = top1(q.select(col("vec_id"), col("qv"), col("norm2")), "qv", "norm2", "full_top1")
    val trunc = top1(prefixVecs(q, dims), "tv", "tn", "trunc_top1")
    full.join(trunc, "query_id")
      .select(
        col("query_id"), col("full_top1"), col("trunc_top1"),
        when(col("full_top1") === col("trunc_top1"), lit(1L)).otherwise(lit(0L)).as("agree"))
  }

  /** Matryoshka (MRL) recall curve: top-k search on PREFIX slices of the
    * embedding (dims 8 → 16 → 32 → 64), each scored against the full-
    * dimension exact top-k — the readout behind the "store the first d
    * dims, rerank with the rest" serving pattern of matryoshka-trained
    * embeddings. [[truncationAgreement]] asks whether ONE winner flips
    * at ONE cut; this is the full dial: where the curve plateaus is the
    * prefix length worth paying index bytes for (the d = full arm is
    * recall 10000 by construction — the curve's anchor). For embeddings
    * NOT trained matryoshka-style the curve collapsing early is itself
    * the finding: prefix dims carry no privileged information.
    *
    * Scale: each arm is the [[bruteForceTopK]] broadcast-query-batch
    * shape on a d-wide slice (declared all-pairs baseline; at 100 TB the
    * prefix index arm is served by an ANN index over the sliced
    * vectors); scoring is a membership join on (query, neighbor) over
    * query-sized tables, |dims|-row bounded union.
    */
  def mrlRecallCurve(embeddings: DataFrame, k: Int = TopK,
      dimsList: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(dimsList.nonEmpty && dimsList.forall(_ >= 1), "prefix dims must be positive")
    val q = Dedup.quantized(embeddings)
    def topK(vecs: DataFrame, v: String, n: String): DataFrame =
      prefixCosine(vecs, v, n)
        .withColumn("__rank", queryRank(col("__cos").desc, col("neighbor_id")))
        .filter(col("__rank") <= k)
        .select(col("query_id"), col("neighbor_id"))
    val truth = topK(q.select(col("vec_id"), col("qv"), col("norm2")), "qv", "norm2")
    val frames = dimsList.map { d =>
      recallArm(truth, topK(prefixVecs(q, d), "tv", "tn").withColumn("__hit", lit(1)),
        lit(d.toLong).as("dims"))
    }
    frames.reduce(_ unionAll _).orderBy(col("dims"))
  }

  /** 1-bit (binary) quantization of the corpus: each quantized vector's
    * sign pattern packed into two 32-bit words (`mask_lo` dims 1–32,
    * `mask_hi` dims 33–64) — 64 dims in 8 bytes, the 32× compression tier
    * below int8 SQ ([[sqTopK]]). Two words rather than one 64-bit mask so
    * neither engine touches the sign bit (bit 63 of a packed BIGINT would
    * overflow DuckDB's `1::BIGINT << 63`). Signs are taken on the
    * QUANTIZED value (`qv > 0`), so the mask is a pure function of the
    * same integer vector both engines already share; a dim beyond the
    * embedding width contributes 0 (try_element_at past the end is null,
    * and null > 0 is not true).
    */
  private def signMasks(q: DataFrame): DataFrame = {
    def mask(base: Int): Column =
      (0 until 32).map { i =>
        when(try_element_at(col("qv"), lit(base + i + 1)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    q.select(col("vec_id"), col("qv"), col("norm2"),
      mask(0).as("mask_lo"), mask(32).as("mask_hi"))
  }

  /** Binary-quantized ANN — the code-SCAN serving path of binary
    * quantization: every corpus code (8 bytes/vector) is scanned against
    * the broadcast query codes with integer Hamming distance (XOR +
    * popcount — the [[sqTopK]] declared-baseline shape, on a
    * 32×-smaller scan than the raw floats), the `overfetch·k` Hamming
    * shortlist per query is kept, and only the shortlist touches full
    * int8 vectors for the cosine rerank. This is how production vector
    * stores serve binary quantization: the full scan IS the index (8
    * bytes/vector streams at memory bandwidth with SIMD popcount), and
    * full-precision reads are bounded by |queries|·overfetch·k.
    * Deterministic end to end (sign masks from the shared integer
    * quantization, integer Hamming, quantized cosine, fixed tie-breaks)
    * — fully oracled despite being an approximate index.
    *
    * Exact-band blocking (multi-index hashing) was measured and
    * rejected for this corpus: random sign codes agree on a 16-bit band
    * with p ≈ 4·2⁻¹⁶, so the pigeonhole index returns ~no candidates —
    * it fits Hamming-RADIUS retrieval over near-duplicate codes (the
    * phash-chunk trick in [[graft.multimodal.Multimodal]]), not top-k
    * over a spread-out corpus.
    *
    * Scale: corpus scanned once against the broadcast strided query
    * batch ([[queryBatch]]); rerank lookups are id-keyed equi-joins on
    * the bounded shortlist. Recall is the [[binaryRecall]] readout; the
    * miss mode is sign-blind similarity (high cosine with disagreeing
    * signs on low-magnitude dims), which overfetch absorbs.
    */
  def binaryTopK(embeddings: DataFrame, k: Int = TopK,
                 overfetch: Int = 4): DataFrame = {
    val m = signMasks(Dedup.quantized(embeddings))
    // stage 1: Hamming shortlist from the code scan (codes only)
    val qCodes = broadcast(queryBatch(m)
      .select(col("vec_id").as("query_id"),
        col("mask_lo").as("q_lo"), col("mask_hi").as("q_hi")))
    val shortlist = m.select(col("vec_id").as("neighbor_id"), col("mask_lo"), col("mask_hi"))
      .join(qCodes, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (bit_count(col("mask_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("mask_hi").bitwiseXOR(col("q_hi")))).cast("long").as("hamming"))
      .withColumn("__hr", queryRank(col("hamming"), col("neighbor_id")))
      .filter(col("__hr") <= k * overfetch)
    // stage 2: full-vector rerank on the bounded shortlist — the
    // [[exactRerank]] lookups, neighbor side first, carrying `hamming`
    cutTopK(
      shortlist
        .join(m.select(col("vec_id").as("neighbor_id"), col("qv"), col("norm2")),
          Seq("neighbor_id"))
        .join(broadcast(queryVecs(m)), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("hamming"), exactCosine),
      k, "rank", col("cosine").desc, col("neighbor_id"))
  }

  /** Recall@k of the binary multi-index path ([[binaryTopK]]) against the
    * exact ranking ([[bruteForceTopK]]), per query — the quantitative
    * answer to "what does 32× compression cost on THIS corpus", next to
    * [[sqRecall]] (int8) and [[pqRecall]] (ADC) on the same dial. Both
    * constituents deterministic → fully oracled.
    */
  def binaryRecall(embeddings: DataFrame, k: Int = TopK,
                   overfetch: Int = 4): DataFrame =
    recallVsBrute(embeddings, binaryTopK(embeddings, k, overfetch), k)

  // Per-QUERY opt-in fan-out of the single-split embeddings scan (guide
  // §2.5): only the pair/rerank queries whose per-row vector math
  // measured heavier than the round-robin exchange wrap the scan; the
  // sub-second readout tail stays on the plain scan (VERDICT r15 #1).
  private def fannedEmb(s: SparkSession, d: String) =
    graft.Tables.fanOutScan(Tables.embeddings(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_dim_stats" -> ((s, d) => dimStats(Tables.embeddings(s, d))),
    // dims=40: mixed outcome on the fixtures (2/10 agree at sf0.01), so
    // both branches of the flag are driver-verified
    "emb_trunc_agreement" -> ((s, d) => truncationAgreement(Tables.embeddings(s, d), dims = 40)),
    "emb_centroids" -> ((s, d) => centroids(Tables.embeddings(s, d))),
    "ann_topk_brute" -> ((s, d) => bruteForceTopK(Tables.embeddings(s, d))),
    // exact L2 top-k for the same query batch — the magnitude-sensitive
    // serving mode; disagrees with cosine on unnormalized vectors
    "ann_topk_l2" -> ((s, d) => bruteForceTopKL2(Tables.embeddings(s, d))),
    // label-scoped exact search + the post-filter recall penalty readout
    "ann_topk_filtered" -> ((s, d) => filteredTopK(Tables.embeddings(s, d))),
    "emb_hard_negatives" -> ((s, d) => hardNegatives(fannedEmb(s, d))),
    "ann_topk_lsh" -> ((s, d) => lshTopK(s, Tables.embeddings(s, d))),
    "ann_range_lsh" -> ((s, d) => lshRangeSearch(s, Tables.embeddings(s, d))),
    "ann_recall_curve" -> ((s, d) => lshRecallCurve(s, Tables.embeddings(s, d))),
    "ann_bucket_stats" -> ((s, d) => lshBucketStats(s, Tables.embeddings(s, d))),
    "ann_sim_histogram" -> ((s, d) => lshSimHistogram(s, Tables.embeddings(s, d))),
    "ann_topk_ivf" -> ((s, d) => ivfTopK(Tables.embeddings(s, d))),
    "ann_rrf_fusion" -> ((s, d) => rrfFusion(Tables.embeddings(s, d))),
    "ann_topk_pq" -> ((s, d) => adcTopK(fannedEmb(s, d))),
    "ann_topk_ivfpq" -> ((s, d) => ivfPqTopK(Tables.embeddings(s, d))),
    "ann_topk_rerank" -> ((s, d) => adcRerank(fannedEmb(s, d))),
    "emb_quantize_int8" -> ((s, d) => quantizeInt8(fannedEmb(s, d))),
    "ann_topk_sq" -> ((s, d) => sqTopK(Tables.embeddings(s, d))),
    "ann_recall_sq" -> ((s, d) => sqRecall(Tables.embeddings(s, d))),
    "ann_topk_binary" -> ((s, d) => binaryTopK(fannedEmb(s, d))),
    "ann_recall_binary" -> ((s, d) => binaryRecall(fannedEmb(s, d))),
    "ann_topk_maxsim" -> ((s, d) => maxSimTopK(Tables.embeddings(s, d))),
    "ann_topk_maxsim_rerank" -> ((s, d) => maxSimRerank(fannedEmb(s, d))),
    "emb_ivf_balance" -> ((s, d) => ivfBalance(Tables.embeddings(s, d))),
    // incremental IVF maintenance: the 1-in-5 hash-split "ingest batch"
    // assigned to the frozen index-side centroids, per-cell drift readout
    "emb_ivf_append" -> ((s, d) => ivfAppend(Tables.embeddings(s, d))),
    "emb_pq" -> ((s, d) => productQuantize(fannedEmb(s, d))),
    // one Lloyd refinement of the PQ codebook: per (subspace, code)
    // refit counts, before/after quantization error, displacement
    "emb_pq_train" -> ((s, d) => pqTrainStep(Tables.embeddings(s, d))),
    // PQ Lloyd unrolled to convergence readout: per (round, subspace)
    // assignment error in and refit error out — monotone non-increasing
    "emb_pq_train2" -> ((s, d) => pqTrainConverge(Tables.embeddings(s, d))),
    // residual quantization: per-stage error + codeword usage — the
    // additive (two-level) quantizer next to PQ's subspace split
    "emb_rq_train" -> ((s, d) => rqTrain(Tables.embeddings(s, d))),
    // RQ serve path: corpus as (c1, c2) code pairs, queries precompute
    // 72 reconstruction distances — the additive ADC
    "ann_topk_rq" -> ((s, d) => rqTopK(Tables.embeddings(s, d))),
    // RQ recall vs exact brute-force truth (the "codebook too coarse"
    // measurement — near-zero by design at 72 cells)
    "ann_recall_rq" -> ((s, d) => rqRecall(Tables.embeddings(s, d))),
    // the production sandwich: 50-deep code shortlist + exact rerank
    "ann_topk_rq_rerank" -> ((s, d) => rqRerank(Tables.embeddings(s, d))),
    // graph-ANN build path: weak-LSH seed kNN graph + one NN-descent
    // (neighbors-of-neighbors) refinement round, recall audited per round
    "emb_nn_descent" -> ((s, d) => nnDescent(Tables.embeddings(s, d))),
    // the same build run to two refinement rounds — the convergence curve
    // (recall monotone per round by construction; emb_pq_train2 precedent)
    "emb_nn_descent2" -> ((s, d) => nnDescent(Tables.embeddings(s, d), rounds = 2)),
    // exact per-label anisotropy via ||sum v||^2 - sum ||v||^2 — no pairs
    "emb_isotropy" -> ((s, d) => isotropy(Tables.embeddings(s, d))),
    // diagonal whitening A/B: the same identity on raw vs standardized
    "emb_whiten_gain" -> ((s, d) => whitenGain(Tables.embeddings(s, d))),
    // rotational whitening: top-2 principal directions by power
    // iteration + deflation; raw/centered/rotated arms side by side
    "emb_whiten2" -> ((s, d) => whiten2(fannedEmb(s, d))),
    // per-step Rayleigh / trace-share / drift of the power iteration —
    // the measured "how many steps does whiten2 need" curve
    "emb_power_curve" -> ((s, d) => powerCurve(fannedEmb(s, d))),
    "emb_l2_normalize" -> ((s, d) => l2Normalize(fannedEmb(s, d))),
    "emb_knn_classify" -> ((s, d) => knnClassify(Tables.embeddings(s, d))),
    "emb_dim_corr" -> ((s, d) => dimCorrelations(Tables.embeddings(s, d))),
    "emb_centroid_shift" -> ((s, d) => centroidShift(Tables.embeddings(s, d))),
    "emb_silhouette" -> ((s, d) => silhouette(Tables.embeddings(s, d))),
    "emb_outliers" -> ((s, d) => centroidOutliers(Tables.embeddings(s, d))),
    "emb_kmeans_step" -> ((s, d) => kmeansStep(Tables.embeddings(s, d))),
    // spherical (cosine) Lloyd step on the l2Normalize grid: max-dot
    // assignment, mean within-cluster cosine, floor mean directions
    "emb_spherical_kmeans" -> ((s, d) => sphericalKmeansStep(Tables.embeddings(s, d))),
    "emb_cluster_purity" -> ((s, d) => clusterPurity(Tables.embeddings(s, d))),
    "emb_kmeans_step2" -> ((s, d) => kmeansStep2(Tables.embeddings(s, d))),
    "emb_source_norms" -> ((s, d) =>
      sourceNorms(Tables.embeddings(s, d), Tables.documents(s, d))),
    "emb_dim_fences" -> ((s, d) => dimFences(Tables.embeddings(s, d))),
    // per-dimension PSI between hash-split halves — the embedding-drift
    // monitor (ev_psi lifted to vector space), bounded by dims × bins
    "emb_psi" -> ((s, d) => embPsi(Tables.embeddings(s, d))),
    // per-ingest-batch PSI against the frozen reference histogram
    "emb_psi_incr" -> ((s, d) => embPsiIncremental(Tables.embeddings(s, d))),
    "emb_power_iter" -> ((s, d) => powerIterStep(Tables.embeddings(s, d))),
    "ann_recall_ivf" -> ((s, d) => ivfRecall(Tables.embeddings(s, d))),
    "ann_recall_pq" -> ((s, d) => pqRecall(Tables.embeddings(s, d))),
    "ann_recall_nprobe" -> ((s, d) => ivfPqRecallCurve(Tables.embeddings(s, d))),
    "emb_mrl_curve" -> ((s, d) => mrlRecallCurve(Tables.embeddings(s, d))),
  )

  /** DuckDB mirror of [[nnDescent]] at `rounds` refinement rounds: the
    * weak 2-table seed index CTEs end at `g0`; each round r appends
    * (undr → candr = 2-hop ∪ g{r−1} → scr → gr) — the same expansion,
    * rescore, and top-k cut as the Spark side — and every graph gets a
    * (str, hr) stats pair joined against the shared strided truth `tq`.
    */
  private def nnDescentOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s""", und$r AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM g${r - 1} UNION ALL SELECT dst AS src, src AS dst FROM g${r - 1})
         |), cand$r AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT x.src AS src, y.dst AS dst
         |    FROM und$r x JOIN und$r y ON x.dst = y.src AND x.src <> y.dst
         |    UNION ALL SELECT src, dst FROM g${r - 1})
         |), sc$r AS (
         |  SELECT c.src, c.dst,
         |    round(list_sum([qa.qv[i] * qb.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qa.norm2::DOUBLE) * sqrt(qb.norm2::DOUBLE)), 6) AS cosine
         |  FROM cand$r c JOIN n qa ON qa.vec_id = c.src JOIN n qb ON qb.vec_id = c.dst
         |), g$r AS MATERIALIZED (
         |  SELECT src, dst, cosine FROM (
         |    SELECT src, dst, cosine,
         |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM sc$r) WHERE rn <= $TopK
         |)""".stripMargin
    }.mkString
    val statCtes = (0 to rounds).map { r =>
      s""", st$r AS (
         |  SELECT count(DISTINCT src)::BIGINT AS n_nodes, count(*)::BIGINT AS n_edges,
         |    sum(round(cosine * 1000000)::BIGINT)::BIGINT AS sumcos
         |  FROM g$r
         |), h$r AS (
         |  SELECT count(*)::BIGINT AS hits FROM g$r g
         |  JOIN tq t ON g.src = t.query_id AND g.dst = t.neighbor_id
         |)""".stripMargin
    }.mkString
    val arms = (0 to rounds).map { r =>
      s"""SELECT $r::BIGINT AS round, n_nodes, n_edges,
         |  ((sumcos - (((sumcos % greatest(n_edges, 1)) + greatest(n_edges, 1)) % greatest(n_edges, 1)))
         |   // greatest(n_edges, 1))::BIGINT AS avg_cos_e6,
         |  truth_pairs,
         |  (hits * 10000 // greatest(truth_pairs, 1))::BIGINT AS recall_e4
         |FROM st$r, h$r, tn""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
       |  FROM embeddings
       |), n AS MATERIALIZED (
       |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
       |  FROM qz
       |), planes AS (
       |  SELECT p, list_transform(generate_series(0, 63),
       |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
       |  FROM (SELECT unnest(generate_series(0, ${2 * Dedup.LshBitsPerTable - 1})) AS p)
       |), proj AS (
       |  SELECT n.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
       |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
       |    list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
       |  FROM n CROSS JOIN planes pl
       |), bk AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
       |  FROM proj GROUP BY 1, 2
       |), cand0 AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM bk a JOIN bk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |), sc0 AS (
       |  SELECT c.src, c.dst,
       |    round(list_sum([qa.qv[i] * qb.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
       |          / (sqrt(qa.norm2::DOUBLE) * sqrt(qb.norm2::DOUBLE)), 6) AS cosine
       |  FROM cand0 c JOIN n qa ON qa.vec_id = c.src JOIN n qb ON qb.vec_id = c.dst
       |), g0 AS MATERIALIZED (
       |  SELECT src, dst, cosine FROM (
       |    SELECT src, dst, cosine,
       |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
       |    FROM sc0) WHERE rn <= $TopK
       |), tq AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum([q.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
       |              / (sqrt(q.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) DESC,
       |        c.vec_id) AS rn
       |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id % $QueryStride = 0) WHERE rn <= $TopK
       |), tn AS (SELECT count(*)::BIGINT AS truth_pairs FROM tq)""".stripMargin +
      roundCtes + statCtes + "\n" + arms
  }

  /** DuckDB mirror of [[dimCorrelations]]: one aggregate CTE of exact
    * integer sums, then one UNION ALL arm per dimension pair with the
    * identical double formula.
    */
  private def dimCorrOracle(dims: Int = 8): String = {
    val sums =
      (1 to dims).map(i => s"sum(qv[$i])::BIGINT AS s$i") ++
        (1 to dims).map(i => s"sum(qv[$i] * qv[$i])::BIGINT AS ss$i") ++
        (for { i <- 1 to dims; j <- (i + 1) to dims }
          yield s"sum(qv[$i] * qv[$j])::BIGINT AS p${i}_$j")
    val arms = for { i <- 1 to dims; j <- (i + 1) to dims } yield
      s"""SELECT ${i}::BIGINT AS dim_a, ${j}::BIGINT AS dim_b,
         |  round((n * p${i}_$j - s$i * s$j)::DOUBLE /
         |        (sqrt((n * ss$i - s$i * s$i)::DOUBLE) * sqrt((n * ss$j - s$j * s$j)::DOUBLE)),
         |        6) AS corr FROM a""".stripMargin
    s"""WITH q AS (
       |  SELECT list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
       |  FROM embeddings
       |), a AS (
       |  SELECT count(*)::BIGINT AS n, ${sums.mkString(", ")} FROM q
       |)
       |${arms.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** One unrolled Lloyd round of the emb_pq_train2 oracle: assign the
    * corpus against the round's subspace-grain codebook CTE, refit,
    * emit the per-(round, subspace) error readout, and derive the next
    * round's codebook with starved codes carrying their old centroid —
    * the same chain as the emb_pq_train oracle, parameterized by round.
    */
  private def pqRoundCtes(r: Int): String =
    s"""d$r AS (
       |  SELECT q.vec_id, c.j, c.cid,
       |    list_sum([(q.qv[c.j * 16 + i] - c.cvec[i]) * (q.qv[c.j * 16 + i] - c.cvec[i])
       |              for i in range(1, 17)])::BIGINT AS dist
       |  FROM q CROSS JOIN cents$r c
       |), codes$r AS (
       |  SELECT vec_id, j, cid AS code, dist FROM (
       |    SELECT vec_id, j, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
       |    FROM d$r
       |  ) WHERE rn = 1
       |), ne$r AS (
       |  SELECT j, code, count(*)::BIGINT AS n, sum(dist)::BIGINT AS err_assign
       |  FROM codes$r GROUP BY 1, 2
       |), sub$r AS (
       |  SELECT c.j, c.code, ii.i,
       |    sum(q.qv[c.j * 16 + ii.i])::BIGINT AS s,
       |    sum(q.qv[c.j * 16 + ii.i] * q.qv[c.j * 16 + ii.i])::BIGINT AS q2
       |  FROM codes$r c JOIN q USING (vec_id)
       |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) ii
       |  GROUP BY 1, 2, 3
       |), cent$r AS (
       |  SELECT s.j, s.code, s.i, s.s, s.q2,
       |    ((s.s - (((s.s % ne.n) + ne.n) % ne.n)) // ne.n)::BIGINT AS c
       |  FROM sub$r s JOIN ne$r ne ON ne.j = s.j AND ne.code = s.code
       |), rf$r AS (
       |  SELECT j, code, sum(q2)::BIGINT AS qq,
       |    sum(2 * c * s)::BIGINT AS crossv, sum(c * c)::BIGINT AS cc,
       |    list(c ORDER BY i) AS cvec
       |  FROM cent$r GROUP BY 1, 2
       |), ro$r AS (
       |  SELECT $r::BIGINT AS round, ne.j::BIGINT AS subspace,
       |    sum(ne.n)::BIGINT AS n_vecs,
       |    sum(ne.err_assign)::BIGINT AS err_assign,
       |    sum(rf.qq - rf.crossv + ne.n * rf.cc)::BIGINT AS err_refit
       |  FROM ne$r ne JOIN rf$r rf ON rf.j = ne.j AND rf.code = ne.code
       |  GROUP BY 1, 2
       |), cents${r + 1} AS (
       |  SELECT c.j, c.cid, coalesce(rf.cvec, c.cvec) AS cvec
       |  FROM cents$r c LEFT JOIN rf$r rf ON rf.j = c.j AND rf.code = c.cid
       |)""".stripMargin

  /** The RQ encode as a CTE chain (quantize → stage-1 assign → residual
    * → stage-2 codebook+zero → stage-2 assign), ending at `a2` — shared
    * by the emb_rq_train / ann_topk_rq / ann_recall_rq oracles.
    */
  private val rqBaseCtes: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
      |  FROM embeddings
      |), cb1 AS (
      |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
      |), d1 AS (
      |  SELECT q.vec_id, c.cid,
      |    list_sum([(q.qv[i] - c.cqv[i]) * (q.qv[i] - c.cqv[i])
      |              for i in range(1, 65)])::BIGINT AS dist
      |  FROM q CROSS JOIN cb1 c
      |), a1 AS (
      |  SELECT vec_id, cid, dist FROM (
      |    SELECT vec_id, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d1
      |  ) WHERE rn = 1
      |), rv AS (
      |  SELECT a1.vec_id, a1.cid AS c1, a1.dist AS d1v,
      |    [q.qv[i] - cb1.cqv[i] for i in range(1, 65)] AS rv
      |  FROM a1 JOIN q USING (vec_id) JOIN cb1 ON cb1.cid = a1.cid
      |), cb2 AS (
      |  SELECT vec_id AS cid2, rv AS c2v FROM rv
      |  WHERE vec_id >= 8 AND vec_id < 16
      |  UNION ALL SELECT -1, [0::BIGINT for i in range(1, 65)]
      |), d2 AS (
      |  SELECT rv.vec_id, c.cid2,
      |    list_sum([(rv.rv[i] - c.c2v[i]) * (rv.rv[i] - c.c2v[i])
      |              for i in range(1, 65)])::BIGINT AS dist
      |  FROM rv CROSS JOIN cb2 c
      |), a2 AS (
      |  SELECT vec_id, cid2, dist FROM (
      |    SELECT vec_id, cid2, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid2) AS rn
      |    FROM d2
      |  ) WHERE rn = 1
      |)""".stripMargin

  /** The RQ code-pair search as CTEs on top of [[rqBaseCtes]], ending at
    * ranked top-k `rqr (query_id, neighbor_id, rq_d2, rank)`.
    */
  private def rqSearchCtes(limit: Int = TopK): String =
    s""", codes AS (
       |  SELECT a1.vec_id, a1.cid AS c1, a2.cid2 AS c2
       |  FROM a1 JOIN a2 USING (vec_id)
       |), combos AS (
       |  SELECT cb1.cid AS a_c1, cb2.cid2 AS a_c2,
       |    [cb1.cqv[i] + cb2.c2v[i] for i in range(1, 65)] AS recon
       |  FROM cb1 CROSS JOIN cb2
       |), qd AS (
       |  SELECT q.vec_id AS query_id, cm.a_c1, cm.a_c2,
       |    list_sum([(q.qv[i] - cm.recon[i]) * (q.qv[i] - cm.recon[i])
       |              for i in range(1, 65)])::BIGINT AS rq_d2
       |  FROM q CROSS JOIN combos cm WHERE q.vec_id % $QueryStride = 0
       |), sc AS (
       |  SELECT qd.query_id, c.vec_id AS neighbor_id, qd.rq_d2
       |  FROM codes c JOIN qd ON qd.a_c1 = c.c1 AND qd.a_c2 = c.c2
       |  WHERE c.vec_id <> qd.query_id
       |), rqr AS (
       |  SELECT query_id, neighbor_id, rq_d2, rank FROM (
       |    SELECT query_id, neighbor_id, rq_d2,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rq_d2, neighbor_id) AS rank
       |    FROM sc
       |  ) WHERE rank <= $limit
       |)""".stripMargin

  /** Shared DuckDB CTE prelude for the power-iteration oracles
    * (emb_whiten2, emb_power_curve): quantize, per-dim moments,
    * pmod-floor means, the centered long table, and the centered-SS
    * seed direction vA0.
    */
  private def pcaBaseSql: String =
    """WITH q AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
      |  FROM embeddings
      |), lt AS MATERIALIZED (
      |  SELECT vec_id, ii.i AS i, qv[ii.i] AS x
      |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
      |), mom AS MATERIALIZED (
      |  SELECT i, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
      |    sum(x::HUGEINT * x)::HUGEINT AS q2
      |  FROM lt GROUP BY 1
      |), mu AS MATERIALIZED (
      |  SELECT i, ((s - (((s % n) + n) % n)) // n)::BIGINT AS mu FROM mom
      |), ct AS MATERIALIZED (
      |  SELECT lt.vec_id, lt.i, lt.x - mu.mu AS c
      |  FROM lt JOIN mu USING (i)
      |), v0r AS MATERIALIZED (
      |  SELECT i, (n::HUGEINT * q2 - s::HUGEINT * s) AS r FROM mom
      |), vA0 AS MATERIALIZED (
      |  SELECT i, ((r * 10000) // greatest((SELECT max(r) FROM v0r), 1))::BIGINT AS v
      |  FROM v0r
      |)""".stripMargin

  /** One e4-renormalized power step over `src` (ct or ce): matvec by the
    * previous direction, max-abs normalization, pmod floors for the
    * possibly-negative components.
    */
  private def pcaStepSql(src: String, p: String, k: Int): String =
    s""", s$p$k AS MATERIALIZED (
       |  SELECT t.vec_id, sum(t.c * v.v)::BIGINT AS sv
       |  FROM $src t JOIN v$p${k - 1} v USING (i) GROUP BY 1
       |), u$p$k AS MATERIALIZED (
       |  SELECT t.i, sum(t.c::HUGEINT * s.sv)::HUGEINT AS u
       |  FROM $src t JOIN s$p$k s USING (vec_id) GROUP BY 1
       |), m$p$k AS MATERIALIZED (
       |  SELECT greatest(max(abs(u)), 1)::HUGEINT AS m FROM u$p$k
       |), v$p$k AS MATERIALIZED (
       |  SELECT i, ((u * 10000
       |    - ((((u * 10000) % m.m) + m.m) % m.m)) // m.m)::BIGINT AS v
       |  FROM u$p$k CROSS JOIN m$p$k m
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // two full-dim assignment scans: stage 1 against the seed codebook,
    // stage 2 of the residuals against the residual codebook + zero
    "emb_rq_train" -> (rqBaseCtes +
      """, s1 AS (
        |  SELECT 1::BIGINT AS stage, count(*)::BIGINT AS n_vecs,
        |    sum(d1v)::BIGINT AS err_total,
        |    count(DISTINCT c1)::BIGINT AS n_codes_used
        |  FROM rv
        |), s2 AS (
        |  SELECT 2::BIGINT AS stage, count(*)::BIGINT AS n_vecs,
        |    sum(dist)::BIGINT AS err_total,
        |    count(DISTINCT cid2)::BIGINT AS n_codes_used
        |  FROM a2
        |)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin),
    // the code-pair ADC: per query 72 reconstruction distances, corpus
    // joined by its (c1, c2) codes only
    "ann_topk_rq" -> (rqBaseCtes + rqSearchCtes() +
      "\nSELECT query_id, neighbor_id, rq_d2, rank FROM rqr"),
    // two-stage: 72-cell code shortlist at 50, exact-cosine rerank — the
    // recovery the raw ann_recall_rq curve shows is necessary
    "ann_topk_rq_rerank" -> (rqBaseCtes + rqSearchCtes(50) +
      s""", nrm AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), rescored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM rqr sh
         |  JOIN nrm qq ON qq.vec_id = sh.query_id
         |  JOIN nrm nn ON nn.vec_id = sh.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM rescored
         |) WHERE rank <= $TopK""".stripMargin),
    // membership join of the RQ ranking against the exact brute truth
    "ann_recall_rq" -> (rqBaseCtes + rqSearchCtes() +
      s""", n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), br AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |        round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) DESC,
         |        c.vec_id) AS rank
         |    FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |    WHERE qq.vec_id % $QueryStride = 0
         |  ) WHERE rank <= $TopK
         |)
         |SELECT b.query_id, count(*) AS k, count(h.rank) AS n_hit,
         |  (count(h.rank) * 10000) // count(*) AS recall_e4
         |FROM br b LEFT JOIN rqr h USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin),
    "emb_pq_train2" -> (
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cb AS (
        |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
        |), cents1 AS (
        |  SELECT r.j::BIGINT AS j, cb.cid,
        |    cb.cqv[(r.j * 16 + 1):(r.j * 16 + 16)] AS cvec
        |  FROM cb CROSS JOIN range(0, 4) r(j)
        |), """.stripMargin +
        (1 to 2).map(pqRoundCtes).mkString(", ") + """
        |SELECT round, subspace, n_vecs, err_assign, err_refit FROM ro1
        |UNION ALL
        |SELECT round, subspace, n_vecs, err_assign, err_refit FROM ro2""".stripMargin),
    "emb_dim_stats" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), d AS (
        |  SELECT ii.i AS dim, qv[ii.i] AS v
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |)
        |SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n_vecs, sum(v)::BIGINT AS sum_milli,
        |  min(v)::BIGINT AS min_milli, max(v)::BIGINT AS max_milli,
        |  sum(v * v)::BIGINT AS sumsq_milli,
        |  ((sum(v) - (((sum(v) % count(*)) + count(*)) % count(*))) // count(*))::BIGINT AS avg_milli
        |FROM d GROUP BY 1""".stripMargin,
    // same cell_sums/cent construction as the ann_topk_ivf oracle
    // (remainder-corrected floor division on possibly-negative sums)
    // same centroid CTEs; median via quantile_cont (≡ Spark percentile)
    // brute and IVF rankings rebuilt side by side (IVF arms i_-prefixed),
    // scored by a membership join — both deterministic, so fully oracled
    "ann_recall_ivf" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, len(qq.qv))])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |), cell_sums AS (
         |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
         |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
         |  GROUP BY label, ii.i
         |), cent AS (
         |  SELECT label,
         |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
         |  FROM cell_sums GROUP BY label
         |), cent2 AS (
         |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2 FROM cent
         |), queries AS (
         |  SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_norm2
         |  FROM n WHERE vec_id % $QueryStride = 0
         |), probed AS (
         |  SELECT query_id, q_qv, q_norm2, label FROM (
         |    SELECT query_id, q_qv, q_norm2, c.label,
         |      row_number() OVER (PARTITION BY query_id ORDER BY
         |        round(list_sum([q_qv[i] * c.cv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(q_norm2::DOUBLE) * sqrt(c.cnorm2::DOUBLE)), 6) DESC,
         |        c.label) AS cell_rank
         |    FROM queries CROSS JOIN cent2 c) t
         |  WHERE cell_rank <= 2
         |), i_scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q_qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(q_norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM probed p JOIN n c ON c.label = p.label AND c.vec_id <> p.query_id
         |), i_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM i_scored
         |)
         |SELECT b.query_id, count(*) AS k, count(h.hit) AS n_hit,
         |  (count(h.hit) * 10000) // count(*) AS recall_e4
         |FROM (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $TopK) b
         |LEFT JOIN (SELECT query_id, neighbor_id, 1 AS hit FROM i_ranked WHERE rank <= $TopK) h
         |  USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    // v₁ = Xᵀ(X·1) in exact integers; remainder-corrected floor for the
    // (sign-carrying) e4 ratio
    "emb_power_iter" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), r AS (
        |  SELECT qv, list_sum(qv)::BIGINT AS rs FROM q
        |), v AS (
        |  SELECT ii.i::BIGINT AS dim, sum(qv[ii.i] * rs)::BIGINT AS component
        |  FROM r CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY 1
        |), mx AS (SELECT max(abs(component)) AS m FROM v)
        |SELECT dim, component,
        |  CASE WHEN m > 0 THEN
        |    ((component * 10000 - (((component * 10000 % m) + m) % m)) // m)::BIGINT
        |  END AS ratio_e4
        |FROM v CROSS JOIN mx""".stripMargin,
    // quarter-unit quartiles (exact doubles), eighth-unit Tukey fences —
    // every comparison is integer
    "emb_dim_fences" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), v AS (
        |  SELECT ii.i::BIGINT AS dim, qv[ii.i] AS val
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |), qs AS (
        |  SELECT dim, round(quantile_cont(val, 0.25) * 4, 0)::BIGINT AS q1_4,
        |              round(quantile_cont(val, 0.75) * 4, 0)::BIGINT AS q3_4
        |  FROM v GROUP BY 1
        |)
        |SELECT v.dim, count(*)::BIGINT AS n_vecs, min(q1_4) AS q1_4, min(q3_4) AS q3_4,
        |  count(CASE WHEN val * 8 < 5 * q1_4 - 3 * q3_4 THEN 1 END)::BIGINT AS n_low,
        |  count(CASE WHEN val * 8 > 5 * q3_4 - 3 * q1_4 THEN 1 END)::BIGINT AS n_high
        |FROM v JOIN qs USING (dim)
        |GROUP BY 1""".stripMargin,
    // the ev_psi oracle shape with event_type → dim and the calendar
    // midpoint → vec_id hash parity; remainder-corrected floor division
    // for the bin (the quantized value minus the reference lo can be
    // negative for current-half outliers)
    "emb_psi" ->
      """WITH q AS (
        |  SELECT ('0x' || substr(md5('embhalf:' || vec_id), 1, 15))::BIGINT % 2 AS cur,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), b AS (
        |  SELECT ii.i::BIGINT AS dim, cur, qv[ii.i] AS c
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |), rng AS (
        |  SELECT dim, min(c) AS lo, max(c) AS hi FROM b WHERE cur = 0 GROUP BY 1
        |), binned AS (
        |  SELECT b.dim, b.cur,
        |    least(greatest(
        |      (((b.c - rng.lo) * 10
        |        - (((((b.c - rng.lo) * 10) % (rng.hi - rng.lo + 1))
        |            + (rng.hi - rng.lo + 1)) % (rng.hi - rng.lo + 1)))
        |        / (rng.hi - rng.lo + 1)), 0), 9)::BIGINT AS bin
        |  FROM b JOIN rng USING (dim)
        |), cnt AS (
        |  SELECT dim, bin,
        |    sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
        |    sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END)::BIGINT AS nc
        |  FROM binned GROUP BY 1, 2
        |), grid AS (
        |  SELECT rng.dim, t.bin FROM rng, range(10) t(bin)
        |), filled AS (
        |  SELECT grid.dim, grid.bin,
        |    coalesce(cnt.nr, 0) AS nr, coalesce(cnt.nc, 0) AS nc
        |  FROM grid LEFT JOIN cnt
        |    ON grid.dim = cnt.dim AND grid.bin = cnt.bin
        |), tot AS (
        |  SELECT dim, sum(nr)::BIGINT AS n_ref, sum(nc)::BIGINT AS n_cur
        |  FROM filled GROUP BY 1
        |)
        |SELECT f.dim, t.n_ref, t.n_cur,
        |  sum(round(((f.nr + 1.0) / (t.n_ref + 10.0)
        |             - (f.nc + 1.0) / (t.n_cur + 10.0))
        |    * ln(((f.nr + 1.0) / (t.n_ref + 10.0))
        |         / ((f.nc + 1.0) / (t.n_cur + 10.0))) * 10000))::BIGINT AS psi_e4,
        |  (CASE WHEN sum(round(((f.nr + 1.0) / (t.n_ref + 10.0)
        |             - (f.nc + 1.0) / (t.n_cur + 10.0))
        |    * ln(((f.nr + 1.0) / (t.n_ref + 10.0))
        |         / ((f.nc + 1.0) / (t.n_cur + 10.0))) * 10000)) > 2000
        |   THEN 1 ELSE 0 END)::BIGINT AS drift_flag
        |FROM filled f JOIN tot t USING (dim)
        |WHERE t.n_ref > 0 AND t.n_cur > 0
        |GROUP BY 1, 2, 3""".stripMargin,
    // the emb_psi CTEs with the current half split into two psibatch
    // ingest batches, each binned against the SAME frozen reference
    // ranges/counts and scored independently
    "emb_psi_incr" ->
      """WITH q AS (
        |  SELECT ('0x' || substr(md5('embhalf:' || vec_id), 1, 15))::BIGINT % 2 AS half,
        |    ('0x' || substr(md5('psibatch:' || vec_id), 1, 15))::BIGINT % 2 AS batch,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), b AS (
        |  SELECT ii.i::BIGINT AS dim, half, batch, qv[ii.i] AS c
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |), rng AS (
        |  SELECT dim, min(c) AS lo, max(c) AS hi FROM b WHERE half = 0 GROUP BY 1
        |), rbin AS (
        |  SELECT b.dim,
        |    least(greatest(
        |      (((b.c - rng.lo) * 10
        |        - (((((b.c - rng.lo) * 10) % (rng.hi - rng.lo + 1))
        |            + (rng.hi - rng.lo + 1)) % (rng.hi - rng.lo + 1)))
        |        / (rng.hi - rng.lo + 1)), 0), 9)::BIGINT AS bin
        |  FROM b JOIN rng USING (dim) WHERE b.half = 0
        |), rcnt AS (
        |  SELECT dim, bin, count(*)::BIGINT AS nr FROM rbin GROUP BY 1, 2
        |), rtot AS (
        |  SELECT dim, sum(nr)::BIGINT AS n_ref FROM rcnt GROUP BY 1
        |), cbin AS (
        |  SELECT b.batch, b.dim,
        |    least(greatest(
        |      (((b.c - rng.lo) * 10
        |        - (((((b.c - rng.lo) * 10) % (rng.hi - rng.lo + 1))
        |            + (rng.hi - rng.lo + 1)) % (rng.hi - rng.lo + 1)))
        |        / (rng.hi - rng.lo + 1)), 0), 9)::BIGINT AS bin
        |  FROM b JOIN rng USING (dim) WHERE b.half = 1
        |), ccnt AS (
        |  SELECT batch, dim, bin, count(*)::BIGINT AS nc FROM cbin GROUP BY 1, 2, 3
        |), ctot AS (
        |  SELECT batch, dim, sum(nc)::BIGINT AS n_cur FROM ccnt GROUP BY 1, 2
        |), grid AS (
        |  SELECT ct.batch, ct.dim, ct.n_cur, t.bin
        |  FROM ctot ct CROSS JOIN range(10) t(bin)
        |), filled AS (
        |  SELECT g.batch, g.dim, g.n_cur, g.bin,
        |    coalesce(cc.nc, 0) AS nc, coalesce(rc.nr, 0) AS nr, rt.n_ref
        |  FROM grid g
        |  LEFT JOIN ccnt cc ON cc.batch = g.batch AND cc.dim = g.dim AND cc.bin = g.bin
        |  LEFT JOIN rcnt rc ON rc.dim = g.dim AND rc.bin = g.bin
        |  JOIN rtot rt ON rt.dim = g.dim
        |)
        |SELECT batch::BIGINT AS batch, dim, n_ref, n_cur,
        |  sum(round(((nr + 1.0) / (n_ref + 10.0)
        |             - (nc + 1.0) / (n_cur + 10.0))
        |    * ln(((nr + 1.0) / (n_ref + 10.0))
        |         / ((nc + 1.0) / (n_cur + 10.0))) * 10000))::BIGINT AS psi_e4,
        |  (CASE WHEN sum(round(((nr + 1.0) / (n_ref + 10.0)
        |             - (nc + 1.0) / (n_cur + 10.0))
        |    * ln(((nr + 1.0) / (n_ref + 10.0))
        |         / ((nc + 1.0) / (n_cur + 10.0))) * 10000)) > 2000
        |   THEN 1 ELSE 0 END)::BIGINT AS drift_flag
        |FROM filled
        |WHERE n_ref > 0 AND n_cur > 0
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    // deterministic k-seed Lloyd step: nearest centroid by exact integer
    // d², tie → smallest centroid id (min over equal-d² rows), then the
    // same integer floor-centroid construction as emb_centroids
    "emb_kmeans_step" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, qv,
        |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), init AS (
        |  SELECT vec_id AS cid, qv AS cqv, norm2 AS cn FROM n WHERE vec_id < 8
        |), d AS (
        |  SELECT n.vec_id, init.cid,
        |    (n.norm2
        |     - 2 * list_sum([n.qv[i] * init.cqv[i] for i in generate_series(1, len(n.qv))])::BIGINT
        |     + init.cn)::BIGINT AS d2
        |  FROM n CROSS JOIN init
        |), m AS (
        |  SELECT vec_id, min(d2) AS md FROM d GROUP BY 1
        |), asg AS (
        |  SELECT d.vec_id, min(d.cid) AS cluster_id, min(d.d2) AS d2
        |  FROM d JOIN m ON d.vec_id = m.vec_id AND d.d2 = m.md
        |  GROUP BY 1
        |), cells AS (
        |  SELECT cluster_id, ii.i AS i, sum(q.qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM asg JOIN q ON q.vec_id = asg.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY cluster_id, ii.i
        |), cent AS (
        |  SELECT cluster_id, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cells GROUP BY cluster_id
        |), inert AS (
        |  SELECT cluster_id, sum(d2)::BIGINT AS inertia FROM asg GROUP BY 1
        |)
        |SELECT cent.cluster_id, n_vecs, inertia,
        |  array_to_string(list_transform(cv, x -> x::VARCHAR), ',') AS centroid_milli
        |FROM cent JOIN inert USING (cluster_id)""".stripMargin,
    // the kmeans_step CTE skeleton on the l2_normalize unit grid:
    // max-dot assignment (tie -> smallest cid), per-cluster floor mean
    // direction + floor mean cosine (e8 = e4 grid dot)
    "emb_spherical_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, qv,
        |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), u AS (
        |  SELECT vec_id,
        |    list_transform(qv,
        |      x -> round(x::DOUBLE * 10000 / sqrt(norm2::DOUBLE))::BIGINT) AS nv
        |  FROM n WHERE norm2 > 0
        |), init AS (
        |  SELECT vec_id AS cid, nv AS cnv FROM u WHERE vec_id < 8
        |), d AS (
        |  SELECT u.vec_id, init.cid,
        |    list_sum([u.nv[i] * init.cnv[i] for i in generate_series(1, len(u.nv))])::BIGINT AS dot
        |  FROM u CROSS JOIN init
        |), m AS (
        |  SELECT vec_id, max(dot) AS mx FROM d GROUP BY 1
        |), asg AS (
        |  SELECT d.vec_id, min(d.cid) AS cluster_id, min(d.dot) AS dot
        |  FROM d JOIN m ON d.vec_id = m.vec_id AND d.dot = m.mx
        |  GROUP BY 1
        |), cells AS (
        |  SELECT cluster_id, ii.i AS i, sum(u.nv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM asg JOIN u ON u.vec_id = asg.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY cluster_id, ii.i
        |), cent AS (
        |  SELECT cluster_id, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cells GROUP BY cluster_id
        |), coh AS (
        |  SELECT cluster_id, sum(dot)::BIGINT AS sd, count(*)::BIGINT AS cnt
        |  FROM asg GROUP BY 1
        |)
        |SELECT cent.cluster_id, n_vecs,
        |  ((sd - (((sd % coh.cnt) + coh.cnt) % coh.cnt)) // coh.cnt)::BIGINT AS mean_cos_e8,
        |  array_to_string(list_transform(cv, x -> x::VARCHAR), ',') AS centroid_e4
        |FROM cent JOIN coh USING (cluster_id)""".stripMargin,
    // vec_id = doc_id lineage join onto the document source dimension
    "emb_source_norms" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(
        |      list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT),
        |      x -> x * x))::BIGINT AS norm2
        |  FROM embeddings
        |)
        |SELECT d.source, count(*)::BIGINT AS n_vecs,
        |  min(norm2)::BIGINT AS min_norm2, max(norm2)::BIGINT AS max_norm2,
        |  (sum(norm2) // count(*))::BIGINT AS mean_norm2
        |FROM q JOIN documents d ON d.doc_id = q.vec_id
        |GROUP BY 1""".stripMargin,
    // the step-1 CTEs verbatim, then a second assignment round against
    // the floor centroids + the squared centroid displacement readout
    "emb_kmeans_step2" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, qv,
        |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), init AS (
        |  SELECT vec_id AS cid, qv AS cqv, norm2 AS cn FROM n WHERE vec_id < 8
        |), d AS (
        |  SELECT n.vec_id, init.cid,
        |    (n.norm2
        |     - 2 * list_sum([n.qv[i] * init.cqv[i] for i in generate_series(1, len(n.qv))])::BIGINT
        |     + init.cn)::BIGINT AS d2
        |  FROM n CROSS JOIN init
        |), m AS (
        |  SELECT vec_id, min(d2) AS md FROM d GROUP BY 1
        |), asg AS (
        |  SELECT d.vec_id, min(d.cid) AS cluster_id, min(d.d2) AS d2
        |  FROM d JOIN m ON d.vec_id = m.vec_id AND d.d2 = m.md
        |  GROUP BY 1
        |), cells AS (
        |  SELECT cluster_id, ii.i AS i, sum(q.qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM asg JOIN q ON q.vec_id = asg.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY cluster_id, ii.i
        |), cent AS MATERIALIZED (
        |  SELECT cluster_id, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cells GROUP BY cluster_id
        |), c1 AS (
        |  SELECT cluster_id AS cid, cv,
        |    list_sum(list_transform(cv, x -> x * x))::BIGINT AS cn
        |  FROM cent
        |), d_2 AS (
        |  SELECT n.vec_id, c1.cid,
        |    (n.norm2
        |     - 2 * list_sum([n.qv[i] * c1.cv[i] for i in generate_series(1, len(n.qv))])::BIGINT
        |     + c1.cn)::BIGINT AS d2
        |  FROM n CROSS JOIN c1
        |), m_2 AS (
        |  SELECT vec_id, min(d2) AS md FROM d_2 GROUP BY 1
        |), asg_2 AS (
        |  SELECT d_2.vec_id, min(d_2.cid) AS cluster_id, min(d_2.d2) AS d2
        |  FROM d_2 JOIN m_2 ON d_2.vec_id = m_2.vec_id AND d_2.d2 = m_2.md
        |  GROUP BY 1
        |), cells_2 AS (
        |  SELECT cluster_id, ii.i AS i, sum(q.qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM asg_2 JOIN q ON q.vec_id = asg_2.vec_id
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY cluster_id, ii.i
        |), cent_2 AS (
        |  SELECT cluster_id, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cells_2 GROUP BY cluster_id
        |), inert_2 AS (
        |  SELECT cluster_id, sum(d2)::BIGINT AS inertia FROM asg_2 GROUP BY 1
        |)
        |SELECT cent_2.cluster_id, cent_2.n_vecs, inertia,
        |  list_sum([(cent.cv[i] - cent_2.cv[i]) * (cent.cv[i] - cent_2.cv[i])
        |            for i in generate_series(1, 64)])::BIGINT AS shift2_milli,
        |  array_to_string(list_transform(cent_2.cv, x -> x::VARCHAR), ',') AS centroid_milli
        |FROM cent_2
        |JOIN inert_2 USING (cluster_id)
        |JOIN cent ON cent.cluster_id = cent_2.cluster_id""".stripMargin,
    "emb_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cell_sums AS (
        |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY label, ii.i
        |), cent AS (
        |  SELECT label,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cell_sums GROUP BY label
        |), cw AS (
        |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cn
        |  FROM cent
        |), d AS (
        |  SELECT q.label,
        |    (list_sum(list_transform(q.qv, x -> x * x))::BIGINT
        |     - 2 * list_sum([q.qv[i] * cw.cv[i] for i in generate_series(1, 64)])::BIGINT
        |     + cw.cn) AS d2
        |  FROM q JOIN cw USING (label)
        |), m AS (
        |  SELECT label, round(quantile_cont(d2, 0.5), 4) AS median_d2 FROM d GROUP BY 1
        |)
        |SELECT d.label::BIGINT AS label, count(*) AS n_vecs, min(median_d2) AS median_d2,
        |  count(CASE WHEN d2::DOUBLE > 4.0 * median_d2 THEN 1 END) AS n_outliers
        |FROM d JOIN m USING (label)
        |GROUP BY 1""".stripMargin,
    // centroid CTEs + integer expanded squared distances; remainder-
    // corrected floors (scores and their sums go negative)
    "emb_silhouette" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cell_sums AS (
        |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY label, ii.i
        |), cent AS (
        |  SELECT label AS clabel,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cell_sums GROUP BY label
        |), cw AS (
        |  SELECT clabel, cv,
        |    list_sum(list_transform(cv, x -> x * x))::BIGINT AS cn
        |  FROM cent
        |), p AS (
        |  SELECT q.vec_id, q.label, cw.clabel,
        |    (list_sum(list_transform(q.qv, x -> x * x))::BIGINT
        |     - 2 * list_sum([q.qv[i] * cw.cv[i] for i in generate_series(1, 64)])::BIGINT
        |     + cw.cn) AS d2
        |  FROM q CROSS JOIN cw
        |), pv AS (
        |  SELECT vec_id, label,
        |    min(CASE WHEN clabel = label THEN d2 END)::BIGINT AS a2,
        |    min(CASE WHEN clabel <> label THEN d2 END)::BIGINT AS b2
        |  FROM p GROUP BY 1, 2
        |), sv AS (
        |  SELECT label,
        |    CASE WHEN b2 IS NULL THEN 0
        |         WHEN greatest(a2, b2) > 0 THEN
        |           ((b2 - a2) * 10000
        |            - ((((b2 - a2) * 10000) % greatest(a2, b2)) + greatest(a2, b2))
        |              % greatest(a2, b2))
        |           // greatest(a2, b2)
        |         ELSE 0 END AS s_e4
        |  FROM pv
        |)
        |SELECT label::BIGINT AS label, count(*) AS n_vecs,
        |  ((sum(s_e4) - (((sum(s_e4) % count(*)) + count(*)) % count(*))) // count(*))::BIGINT
        |    AS avg_silhouette_e4
        |FROM sv GROUP BY 1""".stripMargin,
    "emb_centroids" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cell_sums AS (
        |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY label, ii.i
        |), cent AS (
        |  SELECT label, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cell_sums GROUP BY label
        |)
        |SELECT label::BIGINT AS label, n_vecs,
        |  array_to_string(list_transform(cv, x -> x::VARCHAR), ',') AS centroid_milli,
        |  list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2
        |FROM cent""".stripMargin,
    // DuckDB integer `//` truncates toward zero (like Spark's `div`), so
    // the floor mirror subtracts the non-negative remainder first —
    // exactly the Cols.floorDiv construction. The double-% is pmod for
    // negative dividends.
    "emb_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, qv,
        |    greatest(list_max(list_transform(qv, x -> abs(x))), 1)::BIGINT AS scale_milli
        |  FROM q
        |)
        |SELECT vec_id, scale_milli,
        |  array_to_string(list_transform(qv,
        |    x -> (((x * 127) - ((((x * 127) % scale_milli) + scale_milli) % scale_milli))
        |          // scale_milli)::VARCHAR), ',') AS q8,
        |  list_max(list_transform(qv,
        |    x -> (((x * 127) % scale_milli) + scale_milli) % scale_milli))::BIGINT AS max_err
        |FROM s""".stripMargin,
    // the emb_quantize_int8 code construction (remainder-corrected floor
    // — components are signed) feeding the ann_topk_brute ranking shape,
    // scored ON THE CODES
    "ann_topk_sq" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), s AS (
         |  SELECT vec_id, qv,
         |    greatest(list_max(list_transform(qv, x -> abs(x))), 1)::BIGINT AS sc
         |  FROM q
         |), n AS (
         |  SELECT vec_id,
         |    list_transform(qv,
         |      x -> ((x * 127) - ((((x * 127) % sc) + sc) % sc)) // sc) AS c8
         |  FROM s
         |), m AS (
         |  SELECT vec_id, c8, list_sum(list_transform(c8, x -> x * x))::BIGINT AS cn2
         |  FROM n
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |    round(list_sum([qq.c8[i] * cc.c8[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.cn2::DOUBLE) * sqrt(cc.cn2::DOUBLE)), 6) AS cosine8
         |  FROM m qq JOIN m cc ON cc.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine8,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine8 DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    // brute (float-exact) and int8-code rankings rebuilt side by side,
    // scored by the ann_recall_ivf membership join
    "ann_recall_sq" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), b_scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), b_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM b_scored
         |), cod AS (
         |  SELECT vec_id,
         |    list_transform(qv,
         |      x -> ((x * 127) - ((((x * 127) % sc) + sc) % sc)) // sc) AS c8
         |  FROM (SELECT vec_id, qv,
         |          greatest(list_max(list_transform(qv, x -> abs(x))), 1)::BIGINT AS sc
         |        FROM q) t
         |), m AS (
         |  SELECT vec_id, c8, list_sum(list_transform(c8, x -> x * x))::BIGINT AS cn2
         |  FROM cod
         |), s_scored AS (
         |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |    round(list_sum([qq.c8[i] * cc.c8[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.cn2::DOUBLE) * sqrt(cc.cn2::DOUBLE)), 6) AS cosine8
         |  FROM m qq JOIN m cc ON cc.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), s_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine8 DESC, neighbor_id) AS rank
         |  FROM s_scored
         |)
         |SELECT b.query_id, count(*) AS k, count(h.hit) AS n_hit,
         |  (count(h.hit) * 10000) // count(*) AS recall_e4
         |FROM (SELECT query_id, neighbor_id FROM b_ranked WHERE rank <= $TopK) b
         |LEFT JOIN (SELECT query_id, neighbor_id, 1 AS hit
         |           FROM s_ranked WHERE rank <= $TopK) h
         |  USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    // sign masks as two 32-bit words (bit 63 of one packed BIGINT would
    // overflow the shift), all-pairs code scan for Hamming, shortlist,
    // then the brute cosine rerank on the shortlist
    "ann_topk_binary" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), m AS (
         |  SELECT vec_id, qv, norm2,
         |    list_sum([CASE WHEN qv[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
         |              for i in range(0, 32)])::BIGINT AS lo,
         |    list_sum([CASE WHEN qv[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
         |              for i in range(0, 32)])::BIGINT AS hi
         |  FROM n
         |), ham AS (
         |  SELECT qm.vec_id AS query_id, cm.vec_id AS neighbor_id,
         |    (bit_count(xor(cm.lo, qm.lo)) + bit_count(xor(cm.hi, qm.hi)))::BIGINT AS hamming
         |  FROM m qm JOIN m cm ON cm.vec_id <> qm.vec_id
         |  WHERE qm.vec_id % $QueryStride = 0
         |), sl AS (
         |  SELECT query_id, neighbor_id, hamming,
         |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
         |  FROM ham
         |), rr AS (
         |  SELECT s.query_id, s.neighbor_id, s.hamming,
         |    round(list_sum([qm.qv[i] * cm.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qm.norm2::DOUBLE) * sqrt(cm.norm2::DOUBLE)), 6) AS cosine
         |  FROM sl s
         |  JOIN m cm ON cm.vec_id = s.neighbor_id
         |  JOIN m qm ON qm.vec_id = s.query_id
         |  WHERE s.hr <= ${TopK * 4}
         |), ranked AS (
         |  SELECT query_id, neighbor_id, hamming, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM rr
         |)
         |SELECT query_id, neighbor_id, hamming, cosine, rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    // the binary pipeline above vs the brute ranking, scored by the
    // ann_recall_ivf membership join
    "ann_recall_binary" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), b_scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), b_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM b_scored
         |), m AS (
         |  SELECT vec_id, qv, norm2,
         |    list_sum([CASE WHEN qv[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
         |              for i in range(0, 32)])::BIGINT AS lo,
         |    list_sum([CASE WHEN qv[i + 33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END
         |              for i in range(0, 32)])::BIGINT AS hi
         |  FROM n
         |), ham AS (
         |  SELECT qm.vec_id AS query_id, cm.vec_id AS neighbor_id,
         |    (bit_count(xor(cm.lo, qm.lo)) + bit_count(xor(cm.hi, qm.hi)))::BIGINT AS hamming
         |  FROM m qm JOIN m cm ON cm.vec_id <> qm.vec_id
         |  WHERE qm.vec_id % $QueryStride = 0
         |), sl AS (
         |  SELECT query_id, neighbor_id, hamming,
         |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hr
         |  FROM ham
         |), rr AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    round(list_sum([qm.qv[i] * cm.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qm.norm2::DOUBLE) * sqrt(cm.norm2::DOUBLE)), 6) AS cosine
         |  FROM sl s
         |  JOIN m cm ON cm.vec_id = s.neighbor_id
         |  JOIN m qm ON qm.vec_id = s.query_id
         |  WHERE s.hr <= ${TopK * 4}
         |), bin_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM rr
         |)
         |SELECT b.query_id, count(*) AS k, count(h.hit) AS n_hit,
         |  (count(h.hit) * 10000) // count(*) AS recall_e4
         |FROM (SELECT query_id, neighbor_id FROM b_ranked WHERE rank <= $TopK) b
         |LEFT JOIN (SELECT query_id, neighbor_id, 1 AS hit
         |           FROM bin_ranked WHERE rank <= $TopK) h
         |  USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    // one aggregate over the |cells| table; all counts non-negative →
    // // is floor
    "emb_ivf_balance" ->
      """WITH c AS (
        |  SELECT label::BIGINT AS label, count(*)::BIGINT AS c
        |  FROM embeddings GROUP BY 1
        |)
        |SELECT count(*)::BIGINT AS n_cells, sum(c)::BIGINT AS n_vecs,
        |  min(c)::BIGINT AS min_cell, max(c)::BIGINT AS max_cell,
        |  ((max(c) * count(*) * 10000) // sum(c))::BIGINT AS imbalance_e4,
        |  ((sum(c)::HUGEINT * sum(c)) // sum(c * c))::BIGINT AS effective_cells
        |FROM c""".stripMargin,
    // the ann_recall_ivf centroid CTEs over the INDEX side only; the
    // append batch ranks the broadcast centroids per vector (same rounded
    // cosine + label tie-break), then |cells|-row share/drift arithmetic
    "emb_ivf_append" ->
      """WITH q AS (
        |  SELECT vec_id, label::BIGINT AS label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv,
        |    (('0x' || substr(md5('ivfappend:' || vec_id), 1, 15))::BIGINT % 5 = 0) AS is_app
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, qv, is_app,
        |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), idx AS (SELECT * FROM n WHERE NOT is_app
        |), app AS (SELECT * FROM n WHERE is_app
        |), cell_sums AS (
        |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM idx CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY label, ii.i
        |), cent AS (
        |  SELECT label,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cell_sums GROUP BY label
        |), cent2 AS (
        |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2 FROM cent
        |), assigned AS (
        |  SELECT vec_id, own_label, cell FROM (
        |    SELECT a.vec_id, a.label AS own_label, c.label AS cell,
        |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |        round(list_sum([a.qv[i] * c.cv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
        |              / (sqrt(a.norm2::DOUBLE) * sqrt(c.cnorm2::DOUBLE)), 6) DESC,
        |        c.label) AS rn
        |    FROM app a CROSS JOIN cent2 c) t
        |  WHERE rn = 1
        |), before AS (
        |  SELECT label AS cell, count(*)::BIGINT AS n_index FROM idx GROUP BY 1
        |), aa AS (
        |  SELECT cell, count(*)::BIGINT AS n_appended,
        |    count(CASE WHEN own_label <> cell THEN 1 END)::BIGINT AS n_label_mismatch
        |  FROM assigned GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT count(*) FROM idx)::BIGINT AS ti,
        |         (SELECT count(*) FROM app)::BIGINT AS ta
        |), j AS (
        |  SELECT b.cell, b.n_index,
        |    coalesce(a.n_appended, 0)::BIGINT AS n_appended,
        |    coalesce(a.n_label_mismatch, 0)::BIGINT AS n_label_mismatch,
        |    ti, ta
        |  FROM before b LEFT JOIN aa a USING (cell) CROSS JOIN tot
        |)
        |SELECT cell, n_index, n_appended,
        |  (n_index + n_appended)::BIGINT AS n_after,
        |  n_label_mismatch,
        |  ((n_index * 10000) // ti)::BIGINT AS share_before_e4,
        |  (((n_index + n_appended) * 10000) // (ti + ta))::BIGINT AS share_after_e4,
        |  ((n_appended * 10000) // n_index)::BIGINT AS growth_e4,
        |  (CASE WHEN n_appended > 0 THEN (n_label_mismatch * 10000) // n_appended END)::BIGINT
        |    AS mismatch_e4,
        |  (((n_index + n_appended) * 10000) // (ti + ta)
        |    - (n_index * 10000) // ti)::BIGINT AS drift_e4,
        |  (CASE WHEN coalesce((CASE WHEN n_appended > 0
        |                       THEN (n_label_mismatch * 10000) // n_appended END), 0) >= 5000
        |         OR (n_appended * 10000) // n_index >= 2500
        |        THEN 1 ELSE 0 END)::BIGINT AS needs_rebuild
        |FROM j""".stripMargin,
    // the ann_topk_rerank ADC-shortlist CTEs verbatim, with the MaxSim
    // rescoring from ann_topk_maxsim as the second stage
    "ann_topk_maxsim_rerank" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |    FROM s
         |  ) WHERE rank <= 25
         |), sub AS (
         |  SELECT vec_id, [qv[1 + t * 16:16 + t * 16] for t in [0, 1, 2, 3]] AS subs
         |  FROM q
         |), rescored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    list_sum([
         |      list_max([
         |        list_sum([qq.subs[qt][i] * nn.subs[dt][i]
         |                  for i in generate_series(1, 16)])
         |        for dt in [1, 2, 3, 4]])
         |      for qt in [1, 2, 3, 4]])::BIGINT AS maxsim
         |  FROM short sh
         |  JOIN sub qq ON qq.vec_id = sh.query_id
         |  JOIN sub nn ON nn.vec_id = sh.neighbor_id
         |)
         |SELECT query_id, neighbor_id, maxsim, rank FROM (
         |  SELECT query_id, neighbor_id, maxsim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY maxsim DESC, neighbor_id) AS rank
         |  FROM rescored
         |) WHERE rank <= $TopK""".stripMargin,
    // ColBERT-style MaxSim on 4×16 milli-quantized subvectors: Σ over
    // query subvecs of the max doc-subvec dot, all exact integers
    "ann_topk_maxsim" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), s AS (
         |  SELECT vec_id, [qv[1 + t * 16:16 + t * 16] for t in [0, 1, 2, 3]] AS subs
         |  FROM q
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, dd.vec_id AS neighbor_id,
         |    list_sum([
         |      list_max([
         |        list_sum([qq.subs[qt][i] * dd.subs[dt][i]
         |                  for i in generate_series(1, 16)])
         |        for dt in [1, 2, 3, 4]])
         |      for qt in [1, 2, 3, 4]])::BIGINT AS maxsim
         |  FROM s qq JOIN s dd ON dd.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, neighbor_id, maxsim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY maxsim DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    // replays PQ: codebook = subvectors of vec_ids < 8, exact integer
    // squared-L2 per 16-dim subspace, ties to the smallest centroid id
    "emb_pq" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cb AS (
        |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
        |), d AS (
        |  SELECT q.vec_id, cb.cid, r.j,
        |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
        |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
        |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
        |), p AS (
        |  SELECT vec_id, j, dist, cid,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
        |  FROM d
        |)
        |SELECT vec_id,
        |  max(CASE WHEN j = 0 THEN cid END)::BIGINT AS code_0,
        |  max(CASE WHEN j = 1 THEN cid END)::BIGINT AS code_1,
        |  max(CASE WHEN j = 2 THEN cid END)::BIGINT AS code_2,
        |  max(CASE WHEN j = 3 THEN cid END)::BIGINT AS code_3,
        |  sum(dist)::BIGINT AS recon_err
        |FROM p WHERE rn = 1 GROUP BY 1""".stripMargin,
    // the emb_pq assignment CTEs, then the Lloyd refit per (subspace,
    // code): floor-div integer centroid from per-dim sums, after-error
    // via Q − 2Σcᵢsᵢ + nΣcᵢ², displacement vs the seed code
    "emb_pq_train" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cb AS (
        |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
        |), d AS (
        |  SELECT q.vec_id, cb.cid, r.j,
        |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
        |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
        |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
        |), codes AS (
        |  SELECT vec_id, j, cid AS code, dist FROM (
        |    SELECT vec_id, j, cid, dist,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
        |    FROM d
        |  ) WHERE rn = 1
        |), ne AS (
        |  SELECT j, code, count(*)::BIGINT AS n, sum(dist)::BIGINT AS err_before
        |  FROM codes GROUP BY 1, 2
        |), sub AS (
        |  SELECT c.j, c.code, ii.i,
        |    sum(q.qv[c.j * 16 + ii.i])::BIGINT AS s,
        |    sum(q.qv[c.j * 16 + ii.i] * q.qv[c.j * 16 + ii.i])::BIGINT AS q2
        |  FROM codes c JOIN q USING (vec_id)
        |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) ii
        |  GROUP BY 1, 2, 3
        |), cent AS (
        |  SELECT s.j, s.code, s.i, s.s, s.q2,
        |    ((s.s - (((s.s % ne.n) + ne.n) % ne.n)) // ne.n)::BIGINT AS c
        |  FROM sub s JOIN ne ON ne.j = s.j AND ne.code = s.code
        |), rf AS (
        |  SELECT j, code, sum(q2)::BIGINT AS qq,
        |    sum(2 * c * s)::BIGINT AS crossv, sum(c * c)::BIGINT AS cc
        |  FROM cent GROUP BY 1, 2
        |), disp AS (
        |  SELECT c.j, c.code,
        |    sum((c.c - cb.cqv[c.j * 16 + c.i]) * (c.c - cb.cqv[c.j * 16 + c.i]))::BIGINT AS dsq
        |  FROM cent c JOIN cb ON cb.cid = c.code
        |  GROUP BY 1, 2
        |), grid AS (
        |  SELECT r.j::BIGINT AS subspace, cb.cid AS code
        |  FROM cb CROSS JOIN range(0, 4) r(j)
        |)
        |SELECT g.subspace, g.code,
        |  coalesce(ne.n, 0)::BIGINT AS n_assigned,
        |  ne.err_before::BIGINT AS err_before,
        |  (rf.qq - rf.crossv + ne.n * rf.cc)::BIGINT AS err_after,
        |  disp.dsq::BIGINT AS displacement_sq
        |FROM grid g
        |LEFT JOIN ne ON ne.j = g.subspace AND ne.code = g.code
        |LEFT JOIN rf ON rf.j = g.subspace AND rf.code = g.code
        |LEFT JOIN disp ON disp.j = g.subspace AND disp.code = g.code""".stripMargin,
    "ann_topk_brute" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, len(qq.qv))])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    // the brute CTEs with exact integer d^2 = |q|^2 - 2q.v + |v|^2 and an
    // ascending rank (ties -> smaller neighbor id)
    "ann_topk_l2" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    (qq.norm2
         |     - 2 * list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, len(qq.qv))])::BIGINT
         |     + c.norm2)::BIGINT AS d2
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, neighbor_id, d2,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    "emb_trunc_agreement" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, qv[1:40] AS tv,
         |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2,
         |    list_sum(list_transform(qv[1:40], x -> x * x))::BIGINT AS tnorm2
         |  FROM q
         |), fs AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS nid,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, len(qq.qv))])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cos
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id WHERE qq.vec_id % $QueryStride = 0
         |), fr AS (
         |  SELECT query_id, nid,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid) AS r
         |  FROM fs
         |), ts AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS nid,
         |    round(list_sum([qq.tv[i] * c.tv[i] for i in generate_series(1, 40)])::BIGINT::DOUBLE
         |          / (sqrt(qq.tnorm2::DOUBLE) * sqrt(c.tnorm2::DOUBLE)), 6) AS cos
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id WHERE qq.vec_id % $QueryStride = 0
         |), tr AS (
         |  SELECT query_id, nid,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid) AS r
         |  FROM ts
         |)
         |SELECT f.query_id, f.nid AS full_top1, t.nid AS trunc_top1,
         |  (CASE WHEN f.nid = t.nid THEN 1 ELSE 0 END)::BIGINT AS agree
         |FROM (SELECT query_id, nid FROM fr WHERE r = 1) f
         |JOIN (SELECT query_id, nid FROM tr WHERE r = 1) t USING (query_id)""".stripMargin,
    "emb_dim_corr" -> dimCorrOracle(),
    // same cell_sums/cent construction as emb_centroids, keyed by parity
    // half; the shift is an exact integer sum of squared differences
    "emb_centroid_shift" ->
      """WITH q AS (
        |  SELECT vec_id, label, vec_id % 2 AS half,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), cell AS (
        |  SELECT label, half, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY 1, 2, 3
        |), cent AS (
        |  SELECT label, half, max(cnt)::BIGINT AS n_vecs,
        |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
        |  FROM cell GROUP BY 1, 2
        |)
        |SELECT a.label::BIGINT AS label, a.n_vecs AS n_a, b.n_vecs AS n_b,
        |  list_sum([(a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i])
        |            for i in generate_series(1, 64)])::BIGINT AS shift2_milli
        |FROM cent a JOIN cent b ON a.label = b.label AND a.half = 0 AND b.half = 1""".stripMargin,
    // same multiply-then-divide order as Similarity.l2Normalize, so the
    // double arithmetic (and the correctly-rounded sqrt) is bit-identical
    "emb_l2_normalize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), d AS (
        |  SELECT vec_id, norm2, ii.i AS dim, qv[ii.i] AS v
        |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  WHERE norm2 > 0
        |)
        |SELECT vec_id, norm2 AS norm2_milli, dim::BIGINT AS dim,
        |  round(v::DOUBLE * 10000 / sqrt(norm2::DOUBLE))::BIGINT AS comp_e4
        |FROM d""".stripMargin,
    // the ann_topk_brute scoring with a majority vote on top: most votes,
    // then the smaller label — deterministic arg-max on both engines
    "emb_knn_classify" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, len(qq.qv))])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), ranked AS (
         |  SELECT query_id, nl, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |), votes AS (
         |  SELECT query_id, nl::BIGINT AS label, count(*) AS n_votes
         |  FROM ranked WHERE rank <= $TopK GROUP BY 1, 2
         |), best AS (
         |  SELECT query_id, label, n_votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, label) AS rk
         |  FROM votes
         |)
         |SELECT b.query_id, b.label AS pred_label, b.n_votes, t.label::BIGINT AS true_label
         |FROM best b JOIN n t ON t.vec_id = b.query_id
         |WHERE b.rk = 1""".stripMargin,
    // ADC mirror: the emb_pq code derivation (argmin over the deterministic
    // vec_id<8 codebook, ties to smallest cid) plus the per-query exact
    // integer distance table, summed per (query, vector) and ranked
    "ann_topk_pq" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, neighbor_id, adc_d2, rank FROM (
         |  SELECT query_id, neighbor_id, adc_d2,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |  FROM s
         |) WHERE rank <= $TopK""".stripMargin,
    // PQ recall mirror: the brute ranking and the whole ADC pipeline side
    // by side, scored by a membership join — same shape as ann_recall_ivf
    "ann_recall_pq" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), br AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |        round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) DESC,
         |        c.vec_id) AS rank
         |    FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |    WHERE qq.vec_id % $QueryStride = 0
         |  ) WHERE rank <= $TopK
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |), pqr AS (
         |  SELECT query_id, neighbor_id, 1 AS hit FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |    FROM s
         |  ) WHERE rank <= $TopK
         |)
         |SELECT b.query_id, count(*) AS k, count(h.hit) AS n_hit,
         |  (count(h.hit) * 10000) // count(*) AS recall_e4
         |FROM br b LEFT JOIN pqr h USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    // RRF fusion mirror: both ranking passes rebuilt (full-dim + 16-dim
    // truncated prefix), integer contributions floor(1e6/(60+rank)), full
    // outer join, fused rank. BIGINT // BIGINT stays BIGINT in DuckDB
    // (only sum() promotes), so no HUGEINT appears anywhere.
    "ann_rrf_fusion" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), tn AS (
         |  SELECT vec_id, qv[1:16] AS tv,
         |    list_sum(list_transform(qv[1:16], x -> x * x))::BIGINT AS tnorm2
         |  FROM q
         |), fr AS (
         |  SELECT * FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |        round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) DESC,
         |        c.vec_id) AS rank_full
         |    FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |    WHERE qq.vec_id % $QueryStride = 0
         |  ) WHERE rank_full <= 20
         |), tr AS (
         |  SELECT * FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |        round(list_sum([qq.tv[i] * c.tv[i] for i in generate_series(1, 16)])::BIGINT::DOUBLE
         |              / (sqrt(qq.tnorm2::DOUBLE) * sqrt(c.tnorm2::DOUBLE)), 6) DESC,
         |        c.vec_id) AS rank_trunc
         |    FROM tn qq JOIN tn c ON c.vec_id <> qq.vec_id
         |    WHERE qq.vec_id % $QueryStride = 0
         |  ) WHERE rank_trunc <= 20
         |), fused AS (
         |  SELECT query_id, neighbor_id, rank_full, rank_trunc,
         |    coalesce(1000000 // (60 + rank_full), 0)
         |      + coalesce(1000000 // (60 + rank_trunc), 0) AS rrf_e6
         |  FROM fr FULL OUTER JOIN tr USING (query_id, neighbor_id)
         |), ranked AS (
         |  SELECT query_id, neighbor_id, rank_full, rank_trunc, rrf_e6,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, neighbor_id)
         |      AS fused_rank
         |  FROM fused
         |)
         |SELECT * FROM ranked WHERE fused_rank <= $TopK""".stripMargin,
    // the pair-free identity Σ_{i≠j} vi·vj = ||Σv||² − Σ||v||²; negative
    // numerators floor via the pmod form, moments ride DuckDB's hugeint
    "emb_isotropy" ->
      """WITH q AS (
        |  SELECT label::BIGINT AS label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT label, qv, list_sum(list_transform(qv, x -> x * x))::HUGEINT AS norm2
        |  FROM q
        |), pd AS (
        |  SELECT label, ii.i, sum(qv[ii.i])::HUGEINT AS s
        |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT label, sum(s * s)::HUGEINT AS gram FROM pd GROUP BY 1
        |), m AS (
        |  SELECT label, count(*)::BIGINT AS n_vecs, sum(norm2)::HUGEINT AS sumn
        |  FROM n GROUP BY 1
        |), j AS (
        |  SELECT m.label, m.n_vecs, m.sumn, g.gram,
        |    g.gram - m.sumn AS pnum,
        |    m.n_vecs::HUGEINT * (m.n_vecs - 1) AS pden,
        |    (g.gram - m.sumn) * 1000000 AS anum,
        |    (m.n_vecs - 1)::HUGEINT * m.sumn AS aden
        |  FROM m JOIN g USING (label)
        |  WHERE m.n_vecs > 1
        |)
        |SELECT label, n_vecs,
        |  (sumn // n_vecs)::BIGINT AS avg_norm2,
        |  ((pnum - (((pnum % pden) + pden) % pden)) // pden)::BIGINT AS avg_pair_dot,
        |  (CASE WHEN sumn > 0
        |        THEN (anum - (((anum % aden) + aden) % aden)) // aden END)::BIGINT AS aniso_e6
        |FROM j""".stripMargin,
    // raw vs diagonally-whitened arms through the same pair-free identity;
    // the one shared double is sigma's rounded sqrt, all floors pmod-form
    "emb_whiten_gain" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), lt AS (
        |  SELECT vec_id, ii.i AS dim, qv[ii.i] AS x
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
        |), st AS (
        |  SELECT dim, count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
        |    sum(x::HUGEINT * x)::HUGEINT AS q2
        |  FROM lt GROUP BY 1
        |), sg AS (
        |  SELECT dim,
        |    ((s - (((s % n) + n) % n)) // n)::BIGINT AS mean,
        |    greatest(round(sqrt((n::HUGEINT * q2 - s::HUGEINT * s)::DOUBLE / (n * n)))::BIGINT, 1) AS sigma
        |  FROM st
        |), ar AS (
        |  SELECT vec_id, dim, 'raw' AS arm, x AS w FROM lt
        |  UNION ALL
        |  SELECT l.vec_id, l.dim, 'whitened' AS arm,
        |    (((l.x - g.mean) * 1000
        |      - (((((l.x - g.mean) * 1000) % g.sigma) + g.sigma) % g.sigma)) // g.sigma)::BIGINT AS w
        |  FROM lt l JOIN sg g USING (dim)
        |), pd AS (
        |  SELECT arm, dim, sum(w)::HUGEINT AS sd FROM ar GROUP BY 1, 2
        |), gr AS (
        |  SELECT arm, sum(sd * sd)::HUGEINT AS gram FROM pd GROUP BY 1
        |), nm AS (
        |  SELECT arm, count(DISTINCT vec_id)::BIGINT AS n_vecs,
        |    sum(w::HUGEINT * w)::HUGEINT AS sumn
        |  FROM ar GROUP BY 1
        |), j AS (
        |  SELECT nm.arm, nm.n_vecs, nm.sumn, gr.gram,
        |    gr.gram - nm.sumn AS pnum,
        |    nm.n_vecs::HUGEINT * (nm.n_vecs - 1) AS pden,
        |    (gr.gram - nm.sumn) * 1000000 AS anum,
        |    (nm.n_vecs - 1)::HUGEINT * nm.sumn AS aden
        |  FROM nm JOIN gr USING (arm)
        |  WHERE nm.n_vecs > 1
        |)
        |SELECT arm, n_vecs,
        |  (sumn // n_vecs)::BIGINT AS avg_norm2,
        |  ((pnum - (((pnum % pden) + pden) % pden)) // pden)::BIGINT AS avg_pair_dot,
        |  (CASE WHEN sumn > 0
        |        THEN (anum - (((anum % aden) + aden) % aden)) // aden END)::BIGINT AS aniso_e6
        |FROM j""".stripMargin,
    // the whiten2 chain replays in DuckDB: per-dim moments, the
    // centered-SS seed, three e4-renormalized power-step layers per
    // pass (deflation between passes), then the three-arm identity;
    // every possibly-negative floor uses the pmod form
    "emb_whiten2" -> {
      val passA = (1 to 3).map(pcaStepSql("ct", "A", _)).mkString
      val deflate =
        """, vv1 AS MATERIALIZED (
          |  SELECT greatest(sum(v::HUGEINT * v), 1)::HUGEINT AS vv FROM vA3
          |), pj1 AS MATERIALIZED (
          |  SELECT t.vec_id, sum(t.c * v.v)::BIGINT AS pj
          |  FROM ct t JOIN vA3 v USING (i) GROUP BY 1
          |), ce AS MATERIALIZED (
          |  SELECT t.vec_id, t.i,
          |    t.c - ((p.pj * v.v
          |      - ((((p.pj * v.v) % w.vv) + w.vv) % w.vv)) // w.vv) AS c
          |  FROM ct t JOIN pj1 p USING (vec_id) JOIN vA3 v USING (i)
          |  CROSS JOIN vv1 w
          |), v0rB AS MATERIALIZED (
          |  SELECT i, sum(c::HUGEINT * c)::HUGEINT AS r FROM ce GROUP BY 1
          |), vB0 AS MATERIALIZED (
          |  SELECT i, ((r * 10000) // greatest((SELECT max(r) FROM v0rB), 1))::BIGINT AS v
          |  FROM v0rB
          |)""".stripMargin
      val passB = (1 to 3).map(pcaStepSql("ce", "B", _)).mkString
      val arms =
        """, vv2 AS MATERIALIZED (
          |  SELECT greatest(sum(v::HUGEINT * v), 1)::HUGEINT AS vv FROM vB3
          |), pj2 AS MATERIALIZED (
          |  SELECT t.vec_id, sum(t.c * v.v)::BIGINT AS pj
          |  FROM ce t JOIN vB3 v USING (i) GROUP BY 1
          |), wrot AS MATERIALIZED (
          |  SELECT t.vec_id, t.i,
          |    t.c - ((p.pj * v.v
          |      - ((((p.pj * v.v) % w.vv) + w.vv) % w.vv)) // w.vv) AS w
          |  FROM ce t JOIN pj2 p USING (vec_id) JOIN vB3 v USING (i)
          |  CROSS JOIN vv2 w
          |), ar AS MATERIALIZED (
          |  SELECT 'raw' AS arm, vec_id, i, x AS w FROM lt
          |  UNION ALL SELECT 'centered', vec_id, i, c FROM ct
          |  UNION ALL SELECT 'rotated', vec_id, i, w FROM wrot
          |), pd AS MATERIALIZED (
          |  SELECT arm, i, sum(w)::HUGEINT AS sd FROM ar GROUP BY 1, 2
          |), gr AS MATERIALIZED (
          |  SELECT arm, sum(sd * sd)::HUGEINT AS gram FROM pd GROUP BY 1
          |), dsv AS MATERIALIZED (
          |  SELECT ar.arm, ar.vec_id,
          |    sum(ar.w * v1.v)::BIGINT AS d1, sum(ar.w * v2.v)::BIGINT AS d2
          |  FROM ar JOIN vA3 v1 USING (i) JOIN vB3 v2 USING (i)
          |  GROUP BY 1, 2
          |), qs AS MATERIALIZED (
          |  SELECT d.arm,
          |    sum((d.d1::HUGEINT * d.d1) // w1.vv)::HUGEINT AS q1,
          |    sum((d.d2::HUGEINT * d.d2) // w2.vv)::HUGEINT AS q2
          |  FROM dsv d CROSS JOIN vv1 w1 CROSS JOIN vv2 w2
          |  GROUP BY 1
          |), nm AS MATERIALIZED (
          |  SELECT arm, count(DISTINCT vec_id)::BIGINT AS n_vecs,
          |    sum(w::HUGEINT * w)::HUGEINT AS sumn
          |  FROM ar GROUP BY 1
          |), j AS (
          |  SELECT nm.arm, nm.n_vecs, nm.sumn, gr.gram, qs.q1, qs.q2,
          |    (gr.gram - nm.sumn) * 1000000 AS anum,
          |    (nm.n_vecs - 1)::HUGEINT * nm.sumn AS aden
          |  FROM nm JOIN gr USING (arm) JOIN qs USING (arm)
          |  WHERE nm.n_vecs > 1
          |)
          |SELECT arm, n_vecs,
          |  (sumn // n_vecs)::BIGINT AS avg_norm2,
          |  (CASE WHEN sumn > 0
          |        THEN (anum - (((anum % aden) + aden) % aden)) // aden END)::BIGINT AS aniso_e6,
          |  (CASE WHEN sumn > 0
          |        THEN ((q1 + q2) * 1000000) // sumn END)::BIGINT AS top2_share_e6
          |FROM j""".stripMargin
      pcaBaseSql + passA + deflate + passB + arms
    },
    // the pcaBaseSql pass-A pyramid at 4 steps with a per-step readout
    // row: Rayleigh = Σ(c·v)²/‖v‖², its share of the scatter trace, and
    // the e4-grid drift vs the previous direction
    "emb_power_curve" -> {
      val passA = (1 to 4).map(pcaStepSql("ct", "A", _)).mkString
      val trace =
        """, trc AS MATERIALIZED (
          |  SELECT sum(q2 - 2::HUGEINT * mu.mu * mom.s
          |    + mom.n::HUGEINT * mu.mu * mu.mu)::HUGEINT AS tr
          |  FROM mom JOIN mu USING (i)
          |)""".stripMargin
      val readouts = (1 to 4).map { k =>
        s""", r$k AS MATERIALIZED (
           |  SELECT $k::BIGINT AS step,
           |    (SELECT sum(sv::HUGEINT * sv) FROM sA$k)::HUGEINT AS rnum,
           |    (SELECT greatest(sum(v::HUGEINT * v), 1) FROM vA${k - 1})::HUGEINT AS vv,
           |    (SELECT sum(abs(a.v - b.v))
           |     FROM vA$k a JOIN vA${k - 1} b USING (i))::BIGINT AS drift
           |)""".stripMargin
      }.mkString
      val rows = (1 to 4).map { k =>
        s"""SELECT step, (rnum // vv)::BIGINT AS rayleigh,
           |  (CASE WHEN tr > 0 THEN (rnum * 1000000) // (vv * tr) END)::BIGINT AS top_share_e6,
           |  drift AS drift_e4
           |FROM r$k CROSS JOIN trc""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "")
      pcaBaseSql + passA + trace + readouts + rows
    },
    // the full NN-descent chain replays in DuckDB: the 2-table seed index
    // (plane ids 0..7 of the shared md5 family), top-5 cut, then one
    // (und → 2-hop ∪ edges → rescore → re-cut) CTE block per round, and
    // a stats arm per graph vs the strided exact truth; negative cosine
    // sums floor via the pmod form
    "emb_nn_descent" -> nnDescentOracle(1),
    "emb_nn_descent2" -> nnDescentOracle(2),
    // ann_topk_lsh IS oracled (r6): approximate only vs the brute-force
    // ground truth — the index itself is deterministic (md5-derived
    // hyperplanes, integer projections, exact candidate cosine), so the
    // whole bucket→candidate→rank pipeline replays bit-for-bit in DuckDB.
    // Plane p's component on dim i mirrors Similarity.planeComponent; the
    // plane id layout is p = table*bits + bit with tables=8, bits=4.
    "ann_topk_lsh" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), planes AS (
         |  SELECT p, list_transform(generate_series(0, 63),
         |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${Dedup.LshTables * Dedup.LshBitsPerTable - 1})) AS p)
         |), proj AS (
         |  SELECT n.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
         |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
         |    list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
         |  FROM n CROSS JOIN planes pl
         |), bk AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY 1, 2
         |), cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM bk qb JOIN bk cb
         |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id % $QueryStride = 0
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM cand c
         |  JOIN n qq ON qq.vec_id = c.query_id
         |  JOIN n nn ON nn.vec_id = c.neighbor_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    // the ann_topk_lsh CTEs with a radius filter instead of a rank cut
    "ann_range_lsh" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), planes AS (
         |  SELECT p, list_transform(generate_series(0, 63),
         |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${Dedup.LshTables * Dedup.LshBitsPerTable - 1})) AS p)
         |), proj AS (
         |  SELECT n.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
         |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
         |    list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
         |  FROM n CROSS JOIN planes pl
         |), bk AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY 1, 2
         |), cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM bk qb JOIN bk cb
         |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id % $QueryStride = 0
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM cand c
         |  JOIN n qq ON qq.vec_id = c.query_id
         |  JOIN n nn ON nn.vec_id = c.neighbor_id
         |)
         |SELECT * FROM scored WHERE cosine >= 0.35""".stripMargin,
    // bucket-size rollup per hash table; Σ size² IS the candidate-join
    // cost the bucketed pair join pays
    "ann_bucket_stats" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), planes AS (
         |  SELECT p, list_transform(generate_series(0, 63),
         |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${Dedup.LshTables * Dedup.LshBitsPerTable - 1})) AS p)
         |), proj AS (
         |  SELECT q.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
         |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
         |    list_sum([q.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
         |  FROM q CROSS JOIN planes pl
         |), bk AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY 1, 2
         |), bs AS (
         |  SELECT tbl, bucket, count(*)::BIGINT AS s FROM bk GROUP BY 1, 2
         |)
         |SELECT tbl::BIGINT AS tbl, count(*)::BIGINT AS n_buckets,
         |  sum(s)::BIGINT AS n_vecs, max(s)::BIGINT AS max_bucket,
         |  sum(s * s)::BIGINT AS join_cost
         |FROM bs GROUP BY 1""".stripMargin,
    // the ann_range_lsh scored CTEs, binned into ten fixed 0.2 bins
    "ann_sim_histogram" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), planes AS (
         |  SELECT p, list_transform(generate_series(0, 63),
         |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${Dedup.LshTables * Dedup.LshBitsPerTable - 1})) AS p)
         |), proj AS (
         |  SELECT n.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
         |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
         |    list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
         |  FROM n CROSS JOIN planes pl
         |), bk AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY 1, 2
         |), cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM bk qb JOIN bk cb
         |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id % $QueryStride = 0
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM cand c
         |  JOIN n qq ON qq.vec_id = c.query_id
         |  JOIN n nn ON nn.vec_id = c.neighbor_id
         |)
         |SELECT bin, (bin * 2 - 10)::BIGINT AS lo_e1, (bin * 2 - 8)::BIGINT AS hi_e1,
         |  count(*)::BIGINT AS n_pairs
         |FROM (SELECT least(floor((cosine + 1.0) * 5.0)::BIGINT, 9) AS bin FROM scored) b
         |GROUP BY 1""".stripMargin,
    // brute + LSH rankings rebuilt side by side; NULL l_rank (miss)
    // falls out of the CASE — macro recall pooled over queries per k arm
    "ann_recall_curve" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), b_scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), b_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM b_scored
         |), planes AS (
         |  SELECT p, list_transform(generate_series(0, 63),
         |    i -> (('0x' || substr(md5('plane:' || p || ':' || i), 1, 15))::BIGINT % 2001) - 1000) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${Dedup.LshTables * Dedup.LshBitsPerTable - 1})) AS p)
         |), proj AS (
         |  SELECT n.vec_id, pl.p // ${Dedup.LshBitsPerTable} AS tbl,
         |    pl.p % ${Dedup.LshBitsPerTable} AS bit,
         |    list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)])::BIGINT AS dot
         |  FROM n CROSS JOIN planes pl
         |), bk AS (
         |  SELECT vec_id, tbl,
         |    sum(CASE WHEN dot > 0 THEN 1 << bit ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY 1, 2
         |), cand AS (
         |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM bk qb JOIN bk cb
         |    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id % $QueryStride = 0
         |), l_scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM cand c
         |  JOIN n qq ON qq.vec_id = c.query_id
         |  JOIN n nn ON nn.vec_id = c.neighbor_id
         |), l_ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM l_scored
         |), tr AS (
         |  SELECT b.query_id, b.rank AS b_rank, l.rank AS l_rank
         |  FROM (SELECT * FROM b_ranked WHERE rank <= $TopK) b
         |  LEFT JOIN (SELECT * FROM l_ranked WHERE rank <= $TopK) l
         |    USING (query_id, neighbor_id)
         |), e AS (
         |  SELECT k, query_id, b_rank, l_rank
         |  FROM tr CROSS JOIN (SELECT unnest([1, 3, 5]) AS k)
         |  WHERE b_rank <= k
         |)
         |SELECT k::BIGINT AS k, count(DISTINCT query_id)::BIGINT AS n_queries,
         |  count(*)::BIGINT AS n_truth,
         |  sum(CASE WHEN l_rank <= k THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |  (sum(CASE WHEN l_rank <= k THEN 1 ELSE 0 END) * 10000 // count(*))::BIGINT AS recall_e4
         |FROM e GROUP BY 1""".stripMargin,
    "ann_topk_ivf" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), cell_sums AS (
         |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
         |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
         |  GROUP BY label, ii.i
         |), cent AS (
         |  -- exact floor division (DuckDB integer // truncates toward zero,
         |  -- so subtract the non-negative remainder first, as Cols.floorDiv
         |  -- does — a negative non-multiple sum would otherwise be off by 1)
         |  SELECT label,
         |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
         |  FROM cell_sums GROUP BY label
         |), cent2 AS (
         |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2 FROM cent
         |), queries AS (
         |  SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_norm2
         |  FROM n WHERE vec_id % $QueryStride = 0
         |), probed AS (
         |  SELECT query_id, q_qv, q_norm2, label FROM (
         |    SELECT query_id, q_qv, q_norm2, c.label,
         |      row_number() OVER (PARTITION BY query_id ORDER BY
         |        round(list_sum([q_qv[i] * c.cv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(q_norm2::DOUBLE) * sqrt(c.cnorm2::DOUBLE)), 6) DESC,
         |        c.label) AS cell_rank
         |    FROM queries CROSS JOIN cent2 c) t
         |  WHERE cell_rank <= 2
         |), scored AS (
         |  SELECT query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([q_qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(q_norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM probed p JOIN n c ON c.label = p.label AND c.vec_id <> p.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT * FROM ranked WHERE rank <= $TopK""".stripMargin,
    // two-stage rerank: the ADC CTEs produce a 25-deep shortlist, exact
    // cosine re-ranks it — the serving sandwich, fully deterministic
    "ann_topk_rerank" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |    FROM s
         |  ) WHERE rank <= 25
         |), rescored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM short sh
         |  JOIN n qq ON qq.vec_id = sh.query_id
         |  JOIN n nn ON nn.vec_id = sh.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM rescored
         |) WHERE rank <= $TopK""".stripMargin,
    // hard negatives: the ann_topk_rerank ADC shortlist CTEs at
    // overfetch·k = 20, pruned to label <> query label, exact-cosine
    // re-ranked; the positive anchor is the label-equality max cosine
    "emb_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |    FROM s
         |  ) WHERE rank <= 20
         |), rescored AS (
         |  SELECT sh.query_id, sh.neighbor_id, nn.label AS neg_label,
         |    round(list_sum([qq.qv[i] * nn.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(nn.norm2::DOUBLE)), 6) AS cosine
         |  FROM short sh
         |  JOIN n qq ON qq.vec_id = sh.query_id
         |  JOIN n nn ON nn.vec_id = sh.neighbor_id
         |  WHERE nn.label <> qq.label
         |), negs AS (
         |  SELECT query_id, rank, neighbor_id, neg_label::BIGINT AS neg_label, cosine FROM (
         |    SELECT query_id, neighbor_id, neg_label, cosine,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM rescored
         |  ) WHERE rank <= $TopK
         |), pos AS (
         |  SELECT qq.vec_id AS query_id,
         |    max(round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6)) AS pos_top1_cosine
         |  FROM n qq JOIN n c ON c.label = qq.label AND c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |  GROUP BY 1
         |)
         |SELECT negs.query_id, negs.rank, negs.neighbor_id, negs.neg_label,
         |  negs.cosine, pos.pos_top1_cosine,
         |  (CASE WHEN pos.pos_top1_cosine IS NULL THEN NULL
         |        WHEN negs.cosine >= pos.pos_top1_cosine THEN 1 ELSE 0 END)::BIGINT AS harder_than_pos
         |FROM negs LEFT JOIN pos USING (query_id)""".stripMargin,
    // filtered search: the exact arm is the label-equality join; the
    // post-filter arm rebuilds the ann_topk_rerank ADC shortlist CTEs
    // (rank <= overfetch·k = 20) and prunes by label; recall is a
    // membership count — every stage deterministic, so fully oracled
    "ann_topk_filtered" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), es AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.label = qq.label AND c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), etop AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM es
         |  ) WHERE rank <= $TopK
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, j, cid AS code FROM (
         |    SELECT vec_id, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c JOIN adc a ON a.j = c.j AND a.cid = c.code
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS srank
         |    FROM s
         |  ) WHERE srank <= 20
         |), shortf AS (
         |  SELECT sh.query_id, sh.neighbor_id
         |  FROM short sh
         |  JOIN n qn ON qn.vec_id = sh.query_id
         |  JOIN n cn ON cn.vec_id = sh.neighbor_id
         |  WHERE cn.label = qn.label
         |), hits AS (
         |  SELECT e.query_id, count(*)::BIGINT AS post_hits
         |  FROM etop e
         |  JOIN shortf f ON f.query_id = e.query_id AND f.neighbor_id = e.neighbor_id
         |  GROUP BY 1
         |), ex AS (
         |  SELECT query_id, count(*)::BIGINT AS n_exact,
         |    max(CASE WHEN rank = 1 THEN neighbor_id END)::BIGINT AS top1_id
         |  FROM etop GROUP BY 1
         |), lc AS (
         |  SELECT label, count(*)::BIGINT AS lcnt FROM n GROUP BY 1
         |)
         |SELECT qq.vec_id AS query_id, qq.label::BIGINT AS label,
         |  (lc.lcnt - 1)::BIGINT AS n_eligible,
         |  coalesce(ex.n_exact, 0)::BIGINT AS n_exact,
         |  ex.top1_id,
         |  coalesce(h.post_hits, 0)::BIGINT AS post_hits,
         |  (CASE WHEN coalesce(ex.n_exact, 0) > 0
         |    THEN (coalesce(h.post_hits, 0) * 10000) // ex.n_exact END)::BIGINT AS recall_e4
         |FROM n qq
         |JOIN lc ON lc.label = qq.label
         |LEFT JOIN ex ON ex.query_id = qq.vec_id
         |LEFT JOIN hits h ON h.query_id = qq.vec_id
         |WHERE qq.vec_id % $QueryStride = 0
         |ORDER BY query_id""".stripMargin,
    // IVF-PQ composition: the ann_topk_ivf probe CTEs select the cells,
    // the ann_topk_pq code/ADC CTEs rank within them — both verbatim
    "ann_topk_ivfpq" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), cell_sums AS (
         |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
         |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
         |  GROUP BY label, ii.i
         |), cent AS (
         |  SELECT label,
         |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
         |  FROM cell_sums GROUP BY label
         |), cent2 AS (
         |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2 FROM cent
         |), queries AS (
         |  SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_norm2
         |  FROM n WHERE vec_id % $QueryStride = 0
         |), probed AS (
         |  SELECT query_id, label FROM (
         |    SELECT query_id, c.label,
         |      row_number() OVER (PARTITION BY query_id ORDER BY
         |        round(list_sum([q_qv[i] * c.cv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |              / (sqrt(q_norm2::DOUBLE) * sqrt(c.cnorm2::DOUBLE)), 6) DESC,
         |        c.label) AS cell_rank
         |    FROM queries CROSS JOIN cent2 c) t
         |  WHERE cell_rank <= 2
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, q.label, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, label, j, cid AS code FROM (
         |    SELECT vec_id, label, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), s AS (
         |  SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
         |  FROM codes c
         |  JOIN probed p ON p.label = c.label
         |  JOIN adc a ON a.j = c.j AND a.cid = c.code AND a.query_id = p.query_id
         |  WHERE c.vec_id <> a.query_id
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, neighbor_id, adc_d2, rank FROM (
         |  SELECT query_id, neighbor_id, adc_d2,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rank
         |  FROM s
         |) WHERE rank <= $TopK""".stripMargin,
    // per-dims arms: prefix-sliced cosine ranking (norms inlined on the
    // slice) scored against the shared full-dim brute truth (bt)
    "emb_mrl_curve" -> {
      val arms = Seq(8, 16, 32, 64).map { d =>
        s"""SELECT $d::BIGINT AS dims, count(*)::BIGINT AS n_truth,
           |  count(h.query_id)::BIGINT AS n_hit,
           |  (CASE WHEN count(*) > 0
           |    THEN (count(h.query_id) * 10000) // count(*) END)::BIGINT AS recall_e4
           |FROM bt
           |LEFT JOIN (
           |  SELECT query_id, nid FROM (
           |    SELECT qq.vec_id AS query_id, c.vec_id AS nid,
           |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
           |        round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, $d)])::BIGINT::DOUBLE
           |              / (sqrt(list_sum(list_transform(qq.qv[1:$d], x -> x * x))::BIGINT::DOUBLE)
           |                 * sqrt(list_sum(list_transform(c.qv[1:$d], x -> x * x))::BIGINT::DOUBLE)),
           |              6) DESC,
           |        c.vec_id) AS r
           |    FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
           |    WHERE qq.vec_id % $QueryStride = 0
           |  ) WHERE r <= $TopK
           |) h ON h.query_id = bt.query_id AND h.nid = bt.neighbor_id""".stripMargin
      }
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), bs AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), bt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM bs
         |  ) WHERE rank <= $TopK
         |)
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY dims""".stripMargin
    },
    // the kmeansStep seed/assignment CTEs (d2 argmin, ties to smaller
    // cid), a (cluster, label) contingency, and a ranked majority pick
    "emb_cluster_purity" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |), cents AS (
        |  SELECT vec_id AS cid, qv AS cqv, norm2 AS cn FROM n WHERE vec_id < 8
        |), a AS (
        |  SELECT v.vec_id, v.label, c.cid,
        |    v.norm2
        |      - 2 * list_sum([v.qv[i] * c.cqv[i] for i in generate_series(1, 64)])::BIGINT
        |      + c.cn AS d2
        |  FROM n v CROSS JOIN cents c
        |), best AS (
        |  SELECT vec_id, label, cid FROM (
        |    SELECT vec_id, label, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a
        |  ) WHERE rn = 1
        |), cl AS (
        |  SELECT cid AS cluster_id, label, count(*) AS cnt FROM best GROUP BY 1, 2
        |), m AS (
        |  SELECT cluster_id, label AS majority_label, cnt AS majority_n FROM (
        |    SELECT cluster_id, label, cnt,
        |      row_number() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, label) AS rn
        |    FROM cl
        |  ) WHERE rn = 1
        |), t AS (
        |  SELECT cluster_id, sum(cnt)::BIGINT AS n_vecs, count(*)::BIGINT AS n_labels
        |  FROM cl GROUP BY 1
        |)
        |SELECT t.cluster_id, t.n_vecs, t.n_labels,
        |  m.majority_label::BIGINT AS majority_label,
        |  m.majority_n::BIGINT AS majority_n,
        |  ((m.majority_n * 10000) // t.n_vecs)::BIGINT AS purity_e4
        |FROM t JOIN m USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin,
    // the ann_topk_ivfpq CTE chain shared across |nprobes| arms (each arm
    // re-ranks with its own cell_rank cut), scored against the brute
    // ground-truth side (bt) by membership join — the ann_recall_pq shape
    "ann_recall_nprobe" -> {
      val arms = Seq(1, 2, 4).map { np =>
        s"""SELECT $np::BIGINT AS nprobe,
           |  count(*)::BIGINT AS n_truth,
           |  count(h.query_id)::BIGINT AS n_hit,
           |  (CASE WHEN count(*) > 0
           |    THEN (count(h.query_id) * 10000) // count(*) END)::BIGINT AS recall_e4
           |FROM bt
           |LEFT JOIN (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT s.query_id, s.neighbor_id,
           |      row_number() OVER (PARTITION BY s.query_id ORDER BY s.adc_d2, s.neighbor_id) AS rank
           |    FROM (
           |      SELECT a.query_id, c.vec_id AS neighbor_id, sum(a.d2)::BIGINT AS adc_d2
           |      FROM codes c
           |      JOIN (
           |        SELECT query_id, label FROM (
           |          SELECT query_id, c2.label,
           |            row_number() OVER (PARTITION BY query_id ORDER BY
           |              round(list_sum([q_qv[i] * c2.cv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
           |                    / (sqrt(q_norm2::DOUBLE) * sqrt(c2.cnorm2::DOUBLE)), 6) DESC,
           |              c2.label) AS cell_rank
           |          FROM queries CROSS JOIN cent2 c2) tt
           |        WHERE cell_rank <= $np
           |      ) p ON p.label = c.label
           |      JOIN adc a ON a.j = c.j AND a.cid = c.code AND a.query_id = p.query_id
           |      WHERE c.vec_id <> a.query_id
           |      GROUP BY 1, 2
           |    ) s
           |  ) WHERE rank <= $TopK
           |) h ON h.query_id = bt.query_id AND h.neighbor_id = bt.neighbor_id""".stripMargin
      }
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv, list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), cell_sums AS (
         |  SELECT label, ii.i AS i, sum(qv[ii.i])::BIGINT AS s, count(*) AS cnt
         |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
         |  GROUP BY label, ii.i
         |), cent AS (
         |  SELECT label,
         |    list((((s - (((s % cnt) + cnt) % cnt)) // cnt))::BIGINT ORDER BY i) AS cv
         |  FROM cell_sums GROUP BY label
         |), cent2 AS (
         |  SELECT label, cv, list_sum(list_transform(cv, x -> x * x))::BIGINT AS cnorm2 FROM cent
         |), queries AS (
         |  SELECT vec_id AS query_id, qv AS q_qv, norm2 AS q_norm2
         |  FROM n WHERE vec_id % $QueryStride = 0
         |), cb AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 8
         |), d AS (
         |  SELECT q.vec_id, q.label, cb.cid, r.j,
         |    list_sum([(q.qv[i] - cb.cqv[i]) * (q.qv[i] - cb.cqv[i])
         |              for i in range(1 + r.j * 16, 17 + r.j * 16)])::BIGINT AS dist
         |  FROM q CROSS JOIN cb CROSS JOIN range(0, 4) r(j)
         |), codes AS (
         |  SELECT vec_id, label, j, cid AS code FROM (
         |    SELECT vec_id, label, j, cid,
         |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
         |    FROM d
         |  ) WHERE rn = 1
         |), adc AS (
         |  SELECT vec_id AS query_id, cid, j, dist AS d2 FROM d
         |  WHERE vec_id % $QueryStride = 0
         |), bs AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum([qq.qv[i] * c.qv[i] for i in generate_series(1, 64)])::BIGINT::DOUBLE
         |          / (sqrt(qq.norm2::DOUBLE) * sqrt(c.norm2::DOUBLE)), 6) AS cosine
         |  FROM n qq JOIN n c ON c.vec_id <> qq.vec_id
         |  WHERE qq.vec_id % $QueryStride = 0
         |), bt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM bs
         |  ) WHERE rank <= $TopK
         |)
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY nprobe""".stripMargin
    },
  )
}
