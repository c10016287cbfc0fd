package graft.dedup

import graft.{Cols, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * All hashing is md5-derived ([[Cols.hash60]]) so results are deterministic
  * and bit-identical to the DuckDB oracle — no engine-private hash functions
  * in any result the driver compares.
  *
  * Scale design:
  *  - Exact dedup is one hash aggregate on the content hash (partial agg
  *    collapses duplicates map-side before the shuffle).
  *  - MinHash/LSH follows the shingle→minhash→band→bucket-join shape: the
  *    only join is on band buckets, whose size LSH keeps tiny; candidate
  *    verification touches candidate pairs only, never all pairs.
  *  - n-gram Jaccard joins on shared shingles — quadratic only within a
  *    shingle's posting list, the classic candidate-pair bound. A hot
  *    shingle (stop-phrase) would skew this join at 100 TB: AQE skew-join
  *    handles moderate skew, and a df-cap filter (drop shingles appearing
  *    in > X% of docs) is the standard mitigation, applied here via
  *    [[MaxShingleDf]].
  *  - SimHash is a narrow scan + one aggregate (60 algebraic sums).
  *  - Embedding near-dup quantizes to 64-bit ints so dot products are
  *    exact; the brute-force pair scan is the correctness baseline, the
  *    LSH bucketing in [[graft.sim.Similarity]] is the scale path.
  */
object Dedup {

  val NumPerms = 16
  val BandRows = 4 // 4 bands × 4 rows
  val JaccardThreshold = 0.5
  val EstThreshold = 0.5
  val CosineThreshold = 0.4
  val SimhashBits = 60 // 15 hex chars of md5 — fits a signed 64-bit long

  /** Default posting-list df-cap for [[ngramJaccard]]: shingles appearing
    * in more than this many documents are dropped before the pair join.
    * Near-dup pairs share many *rare* shingles, so recall is unaffected at
    * sane values, while the join work drops from Σdf² over an unbounded
    * tail to Σmin(df, cap)² — the difference between a bounded candidate
    * join and an effectively-cartesian one when a stop-phrase shingle
    * appears in 1% of a 100 TB corpus. The registered query runs with this
    * cap ON, and the DuckDB oracle applies the identical filter.
    */
  val MaxShingleDf = 50

  /** Posting-list df-cap for [[charGramNamePairs]]: character 3-grams
    * appearing in more than this many distinct names are dropped before
    * the pair join ([[dfCapped]]), as [[MaxShingleDf]] does for shingles.
    */
  val MaxGramDf = 1000

  /** The rows of `rows` whose `key` occurs in at most `maxDf` rows — the
    * df-cap every posting-list join here applies before its self-join, so
    * a stop-shingle's |posting|² never enters the pair space.
    */
  private def dfCapped(rows: DataFrame, key: String, maxDf: Int): DataFrame = {
    val rare = rows.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col(key))
    rows.join(rare, key)
  }

  /** The df-capped shingle posting overlap shared by the n-gram pair
    * operators: for every doc pair sharing a kept shingle, `n_common`
    * (shared kept shingles) with each side's kept-shingle count as
    * `ca.n_shingles` and `cb.n_shingles`. Quadratic only within a kept
    * shingle's posting list, so the pair space is Σmin(df, cap)².
    */
  private def postingOverlap(sh0: DataFrame): DataFrame = {
    val sh = dfCapped(sh0, "shingle", MaxShingleDf)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_common"))
      .join(counts.as("ca"), col("doc_id_1") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_id_2") === col("cb.doc_id"))
  }

  /** Exact dedup on normalized content: groups of byte-identical documents
    * keep the lowest doc_id (the canonical survivor).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(Cols.normalizeText(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Canonical-document selection over near-identical content groups:
    * documents sharing a 60-bit SimHash signature (Hamming-0 blocking —
    * [[simhash]]) form a group, and the survivor is the member with the
    * HIGHEST caller-supplied score (doc_id ascending tie-break) — the
    * "keep the best copy" policy a curation pipeline wants when
    * near-duplicates differ in quality. `scores` must carry (doc_id,
    * quality). Byte-identical duplicates always share a signature, so
    * [[exact]]'s groups are a refinement of these (but there the score
    * can't differ; here near-dup members genuinely rank).
    *
    * Scale: the signature is one narrow scan + algebraic agg; the score
    * join is doc_id-keyed; then one window over the signature. Group
    * sizes are near-dup multiplicities (small), so the per-group sort is
    * trivial and skew-free by construction.
    */
  def canonical(docs: DataFrame, scores: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("simhash"))
      .orderBy(col("quality").desc, col("doc_id"))
    val grp = org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))
    simhash(docs)
      .join(scores.select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(grp).cast("long"))
      .filter(col("rn") === 1)
      .select(col("simhash"), col("doc_id").as("keep_doc_id"),
        col("quality"), col("n_copies"))
  }

  /** Distinct word-3-gram shingles, one row per (doc_id, shingle).
    *
    * Two deliberate plan shapes:
    *  - `repartition` first: a small documents table often arrives as one
    *    parquet file = one partition, which would serialize the expensive
    *    shingle+hash map work on a single core (at 100 TB inputs span many
    *    files and this is a near-no-op).
    *  - tokens are materialized behind a projection boundary so the shingle
    *    lambda references an attribute — keeping the regex normalization
    *    evaluated once per row even when the downstream aggregate stage
    *    falls back to interpreted (non-codegen) eval.
    */
  private[graft] def shingleRows(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), Cols.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(Cols.shinglesOfTokens(col("toks"), 3)).as("shingle"))

  /** n-gram Jaccard near-dup pairs: candidate pairs share ≥1 shingle
    * (posting-list join, [[postingOverlap]]), similarity = |∩| / |∪| over
    * distinct shingle sets, thresholded. Shingles appearing in more than
    * [[MaxShingleDf]] documents are dropped before the join; the DuckDB
    * oracle applies the identical filter, so the query stays hash-checked.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame =
    ngramJaccardFrom(shingleRows(docs), threshold)

  /** [[ngramJaccard]] over an already-built shingle table (the
    * [[taggedMethodPairs]] shared-index seam). */
  private[graft] def ngramJaccardFrom(
      sh0: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    postingOverlap(sh0)
      .select(
        col("doc_id_1"),
        col("doc_id_2"),
        round(
          col("n_common").cast("double") /
            (col("ca.n_shingles") + col("cb.n_shingles") - col("n_common")).cast("double"),
          4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Jaccard threshold sensitivity sweep: surviving pair count and
    * affected-document count at every candidate threshold in ONE pass
    * over the candidate-pair table — the "where do we set θ" calibration
    * a dedup rollout runs before committing to a cut. Similarities are
    * exact integer e4 (floor), so every row is engine-exact; thresholds
    * with zero survivors still report (0, 0) rows.
    *
    * Scale: the candidate pairs come from the same df-capped posting-list
    * join as [[ngramJaccard]] (identical skew bound); the sweep itself is
    * a |thresholds|-row broadcast fan-out over the pair table plus one
    * hash agg — parameter sweeps never re-scan the corpus.
    */
  def thresholdSweep(
      docs: DataFrame,
      thresholdsE4: Seq[Long] = Seq(3000L, 4000L, 5000L, 6000L, 7000L, 8000L, 9000L)): DataFrame = {
    import docs.sparkSession.implicits._
    val pairs = postingOverlap(shingleRows(docs))
      .select(
        col("doc_id_1"), col("doc_id_2"),
        Cols.floorDiv(
          col("n_common") * 10000L,
          col("ca.n_shingles") + col("cb.n_shingles") - col("n_common")).as("jaccard_e4"))
    val thetas = thresholdsE4.toDF("theta_e4")
    val survivors = pairs
      .crossJoin(broadcast(thetas))
      .filter(col("jaccard_e4") >= col("theta_e4"))
      .select(col("theta_e4"), explode(array(col("doc_id_1"), col("doc_id_2"))).as("doc_id"))
      .groupBy(col("theta_e4"))
      .agg(
        Cols.floorDiv(count(lit(1)), lit(2L)).as("n_pairs"),
        count_distinct(col("doc_id")).as("n_docs"))
    thetas
      .join(survivors, Seq("theta_e4"), "left_outer")
      .select(
        col("theta_e4"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Asymmetric containment near-dup pairs: |A∩B|/|A| and |A∩B|/|B| in
    * exact integer ten-thousandths — the SUB-document duplication signal
    * (a short doc wholly embedded in a longer one scores containment
    * ≈ 1.0 while symmetric Jaccard dilutes toward |A|/|B|). Pairs are
    * emitted when EITHER direction clears `thresholdE4`.
    *
    * Same df-capped posting-list join as [[ngramJaccard]] — shared
    * shingle rows, shared skew bound — so the pair space stays
    * posting-list-bounded at 100 TB; only the scoring arithmetic differs
    * (all-integer here, no doubles at all).
    */
  def containment(docs: DataFrame, thresholdE4: Long = 5000L): DataFrame =
    postingOverlap(shingleRows(docs))
      .select(
        col("doc_id_1"),
        col("doc_id_2"),
        graft.Cols.floorDiv(col("n_common") * 10000, col("ca.n_shingles"))
          .as("containment_1_e4"),
        graft.Cols.floorDiv(col("n_common") * 10000, col("cb.n_shingles"))
          .as("containment_2_e4"))
      .filter(greatest(col("containment_1_e4"), col("containment_2_e4")) >= thresholdE4)

  /** Exact shingle-set Jaccard join via PREFIX FILTERING (the
    * SSJoin/PPJoin family): identical output to the un-capped all-shingles
    * Jaccard baseline at `thresholdE4`, but candidate pairs come only from
    * documents sharing a shingle in their df-ascending prefix. Order every
    * document's distinct shingles by the global (df, shingle) total order
    * (rarest first) and keep the first |S| − ⌈θ|S|⌉ + 1; the prefix-filter
    * lemma guarantees any pair with Jaccard ≥ θ shares a prefix shingle,
    * so the pruning is LOSSLESS — unlike [[ngramJaccard]]'s df-cap, which
    * trades recall on stop-shingle-only pairs for a hard skew bound.
    *
    * Scale: the posting lists that drive the candidate join are built on
    * each document's RAREST shingles, so list lengths (and the Σdf² join
    * work) collapse without dropping vocabulary; frequent shingles never
    * enter a prefix unless a document is almost entirely made of them.
    * A size-compatibility predicate (θ|B| ≤ |A| ≤ |B|/θ — also implied by
    * Jaccard ≥ θ, also lossless) prunes candidates INSIDE the join before
    * the distinct. Per-doc shingle arrays are bounded by document length
    * (collect is per-row, not per-corpus); verification touches candidate
    * pairs only, via one sorted-array intersection per pair.
    */
  def prefixJaccard(docs: DataFrame, thresholdE4: Long = 8000L): DataFrame = {
    val sh = shingleRows(docs)
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per doc: full distinct shingle set, rarest-first under (df, shingle)
    val docSets = sh.join(dfs, "shingle")
      .groupBy(col("doc_id"))
      .agg(
        array_sort(collect_list(struct(col("df"), col("shingle")))).as("ord"),
        count(lit(1)).as("n_sh"))
      .select(
        col("doc_id"),
        transform(col("ord"), s => s.getField("shingle")).as("ss"),
        col("n_sh"))
    // prefix length n − ⌈θn⌉ + 1; ⌈θn⌉ = (n·θE4 + 9999) div 10000 (n > 0)
    val prefLen = col("n_sh") - Cols.floorDiv(col("n_sh") * thresholdE4 + 9999L, 10000L) + 1
    val prefRows = docSets
      .select(col("doc_id"), col("n_sh"),
        explode(slice(col("ss"), lit(1), prefLen)).as("shingle"))
    val cands = prefRows.as("a")
      .join(prefRows.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") * 10000 >= col("b.n_sh") * thresholdE4 &&
          col("b.n_sh") * 10000 >= col("a.n_sh") * thresholdE4)
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    cands
      .join(docSets.select(col("doc_id").as("doc_id_1"),
        col("ss").as("ss_a"), col("n_sh").as("n_a")), "doc_id_1")
      .join(docSets.select(col("doc_id").as("doc_id_2"),
        col("ss").as("ss_b"), col("n_sh").as("n_b")), "doc_id_2")
      .select(
        col("doc_id_1"), col("doc_id_2"),
        // array_intersect, not the sorted merge walk: ss is df-ordered
        // (prefix order), and carrying a second, value-sorted array
        // through the thrice-reused docSets exchange measured SLOWER
        // than the hash-based intersect — the walk pays off only where
        // a sorted array already exists (minhashQuality)
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long").as("__c"),
        col("n_a"), col("n_b"))
      .select(
        col("doc_id_1"), col("doc_id_2"),
        Cols.floorDiv(col("__c") * 10000, col("n_a") + col("n_b") - col("__c"))
          .as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)
  }

  /** Incremental ingest dedup: the incoming batch (odd doc_id — the
    * deterministic fixture stand-in for today's crawl) screened against
    * the existing corpus (even doc_id) in two tiers. `dup_exact` when the
    * normalized content hash already exists in the corpus (match_id = the
    * smallest such corpus doc), else `dup_near` when the 60-bit SimHash
    * signature collides (Hamming-0 blocking, [[canonical]]'s grouping
    * tier), else `new`. This is the nightly-crawl screen: only survivors
    * marked `new` enter the corpus.
    *
    * Scale: both tiers are MEMBERSHIP joins against corpus-side hash
    * aggregates — keyed equi-joins, no pair space at all. At 100 TB the
    * corpus side is a bucketed table keyed by hash, the batch probes it
    * directly, and a bloom filter on corpus hashes prefilters the (much
    * smaller) batch before the shuffle.
    */
  def incremental(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), md5(Cols.normalizeText(col("text"))).as("__h"))
    val sigs = simhash(docs)
    val corpusH = hashed.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .groupBy(col("__h")).agg(min(col("doc_id")).as("__match_exact"))
    val corpusS = sigs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("__match_near"))
    hashed.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .join(sigs, "doc_id")
      .join(corpusH, Seq("__h"), "left")
      .join(corpusS, Seq("simhash"), "left")
      .select(
        col("doc_id"),
        when(col("__match_exact").isNotNull, lit("dup_exact"))
          .when(col("__match_near").isNotNull, lit("dup_near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("__match_exact"), col("__match_near")).as("match_id"))
  }

  /** Fuzzy name matching (the entity-resolution primitive): char-3-gram
    * Jaccard over the DISTINCT normalized name vocabulary, emitted as
    * scored pairs. Word shingles are useless on short strings ("small
    * ring" vs "small ping"); overlapping character trigrams are the
    * classic q-gram blocking for typo/variant matching.
    *
    * Scale: names repeat — the vocabulary is orders below the row count,
    * so the pair space is |distinct names|², not |rows|², and the df-cap
    * on grams ([[MaxGramDf]]) bounds posting-list skew from stop-grams
    * exactly like the word-shingle operators. Match the vocabulary once,
    * then join match groups back to rows by name.
    */
  def charGramNamePairs(df: DataFrame, nameCol: String, thresholdE4: Long = 4000L): DataFrame = {
    val names = df.select(graft.Cols.normalizeText(col(nameCol)).as("norm")).distinct()
    val n = col("norm")
    val gramArr = when(
      length(n) >= 3,
      array_distinct(transform(sequence(lit(1), length(n) - 2), i => n.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val grams = dfCapped(names.select(n, explode(gramArr).as("gram")), "gram", MaxGramDf)
    val counts = grams.groupBy(col("norm")).agg(count(lit(1)).as("n_grams"))
    grams.select(col("norm").as("name_a"), col("gram"))
      .join(grams.select(col("norm").as("name_b"), col("gram")), "gram")
      .filter(col("name_a") < col("name_b"))
      .groupBy(col("name_a"), col("name_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(counts.select(col("norm").as("name_a"), col("n_grams").as("n_a")), "name_a")
      .join(counts.select(col("norm").as("name_b"), col("n_grams").as("n_b")), "name_b")
      .select(
        col("name_a"), col("name_b"),
        graft.Cols.floorDiv(col("n_common") * 10000, col("n_a") + col("n_b") - col("n_common"))
          .as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)
  }

  /** Edit-distance-verified fuzzy name pairs: [[charGramNamePairs]]'s
    * q-gram blocking as the cheap candidate tier, then an exact
    * Levenshtein bound as the verifier — the classic block-then-verify
    * entity-resolution pipeline in one lazy plan. Gram Jaccard admits
    * anagram-ish false positives ("stale pale" vs "pale stale"); a ≤
    * `maxEdits` edit distance kills them while keeping typo variants.
    *
    * Scale: Levenshtein is O(len²) per pair — running it on all C(n,2)
    * name pairs is the trap; here it prices only the gram-blocked
    * candidates (codegen'd built-in, no UDF).
    */
  def charGramNamePairsVerified(
      df: DataFrame,
      nameCol: String,
      thresholdE4: Long = 4000L,
      maxEdits: Int = 3): DataFrame =
    charGramNamePairs(df, nameCol, thresholdE4)
      .withColumn("edit_distance", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("edit_distance") <= maxEdits)

  /** End-to-end entity resolution: block ([[charGramNamePairs]]) →
    * verify (Levenshtein bound) → CLUSTER (the [[nearDupClusters]]
    * contraction machinery) — name variants collapse into entity groups
    * with a deterministic canonical representative (minimum 60-bit name
    * hash). This is the full ER pipeline a catalog/CRM dedup runs, built
    * entirely from the already-proven pieces.
    *
    * Scale: everything runs on the DISTINCT name vocabulary (orders
    * below row count); clustering contracts geometrically like the
    * document version. Collision risk of the 60-bit id space is
    * |vocab|²/2⁶¹ — negligible below ~10⁸ distinct names.
    */
  def nameEntities(
      df: DataFrame,
      nameCol: String,
      thresholdE4: Long = 4000L,
      maxEdits: Int = 3): DataFrame = {
    val vocab = df
      .select(graft.Cols.normalizeText(col(nameCol)).as("name")).distinct()
      .select(col("name"), graft.Cols.hash60(col("name")).as("doc_id"))
    val pairs = charGramNamePairsVerified(df, nameCol, thresholdE4, maxEdits)
      .select(
        graft.Cols.hash60(col("name_a")).as("doc_id_1"),
        graft.Cols.hash60(col("name_b")).as("doc_id_2"))
    nearDupClusters(vocab.select(col("doc_id")), pairs)
      .join(vocab, "doc_id")
      .select(
        col("name"), col("cluster_id").as("entity_id"),
        col("is_canonical"), col("cluster_size"))
  }

  /** Sorted-neighborhood near-dup pairs (the classic SNM pass): documents
    * sort by a normalized-prefix key inside 2-char prefix blocks, each
    * document pairs with the next `windowSize − 1` in sort order, and the
    * candidates are scored with exact shingle-Jaccard (integer e4) and
    * thresholded. Complements the posting-list family: SNM finds
    * duplicates that share a PREFIX even when a stop-phrase df-cap would
    * drop their common shingles, and its candidate count is strictly
    * |docs| × (windowSize − 1) — no quadratic tail at all.
    *
    * Scale: the sort runs per block (prefix blocking is what makes SNM
    * distributable — no global total order, one shuffle on the block
    * key), candidate generation is `windowSize − 1` lead() columns over
    * that sort, and only candidate pairs reach the shingle join.
    */
  def sortedNeighborPairs(
      docs: DataFrame,
      windowSize: Int = 4,
      thresholdE4: Long = 3000L,
      keyLen: Int = 24,
      blockLen: Int = 2): DataFrame = {
    require(windowSize >= 2, "windowSize must pair each doc with at least one neighbor")
    val keyed = docs.select(
      col("doc_id"),
      substring(Cols.normalizeText(col("text")), 1, keyLen).as("__key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("__key"), 1, blockLen))
      .orderBy(col("__key"), col("doc_id"))
    val withLeads = keyed.select(
      col("doc_id") +:
        (1 until windowSize).map(k => lead(col("doc_id"), k).over(w).as(s"__lead$k")): _*)
    val pairs = withLeads
      .select(
        col("doc_id"),
        explode(array((1 until windowSize).map(k => col(s"__lead$k")): _*)).as("__cand"))
      .filter(col("__cand").isNotNull)
      .select(
        least(col("doc_id"), col("__cand")).as("doc_id_1"),
        greatest(col("doc_id"), col("__cand")).as("doc_id_2"))
    val sh = shingleRows(docs)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val inter = pairs
      .join(sh.as("a"), col("doc_id_1") === col("a.doc_id"))
      .join(sh.as("b"),
        col("doc_id_2") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(counts.as("ca"), col("doc_id_1") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_id_2") === col("cb.doc_id"))
      .select(
        col("doc_id_1"), col("doc_id_2"),
        graft.Cols.floorDiv(
          col("n_common") * 10000,
          col("ca.n_shingles") + col("cb.n_shingles") - col("n_common")).as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)
  }

  /** Dedup impact report: what near-dup clustering actually buys — doc
    * and TOKEN counts before/after keeping one canonical per cluster,
    * with the token savings in exact integer e4. Token savings is the
    * number a training-data pipeline budgets by (dedup exists to stop
    * paying for — and training on — the same tokens twice).
    *
    * Scale: rides [[nearDupClusters]] (geometric contraction) plus one
    * narrow token-count scan joined on doc_id; the report is one row.
    */
  def dedupImpact(docs: DataFrame): DataFrame = {
    val labels = nearDupClusters(docs, simhashNearDups(docs))
    val toks = docs.select(
      col("doc_id"), size(Cols.tokens(col("text"))).cast("long").as("__n_toks"))
    labels
      .join(toks, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("is_canonical") === 1, 1)).as("n_kept_docs"),
        sum(col("__n_toks")).as("n_tokens"),
        sum(when(col("is_canonical") === 1, col("__n_toks"))).as("n_kept_tokens"))
      .withColumn(
        "token_savings_e4",
        graft.Cols.floorDiv(
          (col("n_tokens") - col("n_kept_tokens")) * 10000, col("n_tokens")))
  }

  /** Cross-source near-duplicate contamination matrix: SimHash near-dup
    * pairs ([[simhashNearDups]]) rolled up by the (unordered) source
    * pair — "how much of source A is recycled in source B", the report
    * that decides which crawl snapshots actually add new content to a
    * training mix. Same-source rows (source_a = source_b) measure
    * internal redundancy.
    *
    * Scale: inherits the pigeonhole-bucketed pair join's bounds; the
    * source lookups are doc_id-keyed joins and the final aggregate is
    * |sources|² rows.
    */
  def crossSourceDupMatrix(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    simhashNearDups(docs, maxHamming)
      .join(src.select(col("doc_id").as("doc_id_1"), col("source").as("__sa")), "doc_id_1")
      .join(src.select(col("doc_id").as("doc_id_2"), col("source").as("__sb")), "doc_id_2")
      .select(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** MinHash signatures: for each of the 16 permutations, the min of the
    * seeded 60-bit hash over the document's shingle set. Returned as a
    * 16-element array column `sig` ordered by permutation index.
    *
    * One pass, no row explosion: each (doc, shingle) row carries its
    * 16-hash array and the signature is 16 positional `min` aggregates —
    * partial aggregation collapses everything map-side, so the only
    * shuffle is |docs| rows of 16 longs (vs shuffling |shingles|×16 rows
    * with an explode + re-collect formulation).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(shingleRows(docs))

  /** [[minhashSignatures]] over an already-built shingle table — the
    * seam that lets a caller share ONE materialized shingle index across
    * blocking families ([[taggedMethodPairs]]).
    */
  private[graft] def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    // Each permutation's hash is its own scalar aggregate input — NOT an
    // element_at() into a 16-element array column. The array formulation
    // reads nicely but costs 16× the hashing: aggregate input expressions
    // are evaluated independently per row, so each of the 16 positional
    // mins would re-evaluate the full 16-hash transform (256 md5/row,
    // interpreted — measured 218s at sf0.1 vs ~5s for this shape).
    val mins = (0 until NumPerms)
      .map(i => min(Cols.hash60(i, col("shingle"))).as(s"m$i"))
    sh
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(
        col("doc_id"),
        array((0 until NumPerms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc_id, sig, band, bucket) rows for a signature table — the LSH
    * bucket index grain shared by [[minhashLsh]] (self-join within one
    * corpus) and [[ledgerFlags]] (probe of incoming docs against the
    * historical index).
    */
  private def bandRows(sigs: DataFrame): DataFrame = {
    val nBands = NumPerms / BandRows
    sigs.select(
      col("doc_id"),
      col("sig"),
      explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(
        col("doc_id"),
        col("sig"),
        col("band"),
        md5(concat_ws(
          ",",
          slice(col("sig"), col("band") * BandRows + 1, lit(BandRows)).cast("array<string>")))
          .as("bucket"))
  }

  /** MinHash + LSH near-dup candidates: band the signature (4 bands × 4
    * rows), bucket-join on (band, md5(band values)), then estimate Jaccard
    * as the fraction of matching signature positions. Only bucket
    * collisions are ever paired — the whole point of LSH at scale.
    */
  def minhashLsh(docs: DataFrame, estThreshold: Double = EstThreshold): DataFrame =
    // The signature table is the MinHash index: tiny (16 longs per doc) and
    // referenced four times below (bands ×2 via the self-join, est ×2) —
    // cache it instead of recomputing the shingle explosion each time.
    // At scale this is exactly the index you'd persist.
    lshFromSigs(minhashSignatures(docs).cache(), estThreshold)

  /** [[minhashLsh]] over an already-built (cached/checkpointed)
    * signature table. */
  private def lshFromSigs(sigs: DataFrame, estThreshold: Double): DataFrame = {
    val bands = bandRows(sigs)
    val cand = bands.as("a")
      .join(
        bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"),
        col("a.sig").as("sig1"),
        col("b.sig").as("sig2"))
      .distinct()
    cand
      .select(
        col("doc_id_1"),
        col("doc_id_2"),
        round(
          size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
            .cast("double") / lit(NumPerms.toDouble),
          4).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** Flag incoming band rows against a HISTORICAL band ledger: bucket
    * collisions become (new, old) candidate pairs, scored by the same
    * matching-position Jaccard estimate as [[minhashLsh]]. No doc-id
    * inequality — the sides are disjoint corpora by construction, and a
    * re-ingested doc_id flagging its own previous version is precisely
    * the ledger's job. The probe step of [[ledgerFlags]].
    *
    * Scale: work ∝ bucket collisions between the BATCH and the ledger —
    * the batch side is an ingest increment (orders below the ledger), so
    * this is a posting-probe of the index, never corpus×corpus.
    */
  private def flagAgainstBands(
      newBands: DataFrame, ledger: DataFrame, estThreshold: Double): DataFrame = {
    val cand = newBands.as("a")
      .join(
        ledger.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(
        col("a.doc_id").as("doc_id_new"),
        col("b.doc_id").as("doc_id_old"),
        col("a.sig").as("sig1"),
        col("b.sig").as("sig2"))
      .distinct()
    cand
      .select(
        col("doc_id_new"),
        col("doc_id_old"),
        round(
          size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
            .cast("double") / lit(NumPerms.toDouble),
          4).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** Incremental-dedup LEDGER, batch twin: near-dups of `newDocs`
    * (today's ingest) against `oldDocs` (the already-ingested corpus),
    * scored exactly like [[minhashLsh]] but joining ONLY across the two
    * corpora — the production shape for continuously-ingested corpora,
    * where each increment probes the persisted bucket index instead of
    * re-pairing the whole corpus.
    */
  def ledgerFlags(
      newDocs: DataFrame, oldDocs: DataFrame,
      estThreshold: Double = EstThreshold): DataFrame =
    flagAgainstBands(
      bandRows(minhashSignatures(newDocs)),
      bandRows(minhashSignatures(oldDocs)),
      estThreshold)

  /** Ledger-health readout over simulated ingest batches (the
    * simulated-batch device of [[ledgerFlags]], widened to `nBatches`):
    * per ingest batch, what its partition holds (docs, band rows,
    * distinct buckets) AND what a probe arriving at that batch id has
    * to scan — partitions, total ledger rows, and the worst per-bucket
    * collision list (`probe_bucket_max`, the longest posting list one
    * incoming band row can meet). The three probe columns are the
    * when-to-compact curve: partitions grow one per batch until a
    * compaction folds them.
    *
    * Scale: the banding is the [[ledgerFlags]] pipeline; the probe view
    * is a bounded ×nBatches unfold (each band row visible to the ≤
    * nBatches−1 later probe ids — a broadcast of the literal id table,
    * never data×data) feeding two hash aggregates; everything after is
    * |batches| rows.
    */
  def ledgerStats(docs: DataFrame, nBatches: Int = 4): DataFrame = {
    val tagged = docs.select(col("doc_id"),
      pmod(
        graft.Cols.hash60(concat(lit("batch:"), col("doc_id").cast("string"))),
        lit(nBatches.toLong)).as("__batch"))
    val bands = bandRows(minhashSignatures(docs))
      .join(tagged, "doc_id")
    val own = bands.groupBy(col("__batch").as("batch"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("band"), col("bucket")).as("n_buckets"))
    val ids = broadcast(
      docs.sparkSession.range(0L, nBatches.toLong).select(col("id").as("batch")))
    val probed = ids.join(bands, col("__batch") < col("batch"), "left")
    val pAgg = probed.groupBy(col("batch"))
      .agg(
        count(col("doc_id")).as("probe_rows"),
        countDistinct(col("__batch")).as("n_partitions_probed"))
    val pBk = probed.filter(col("doc_id").isNotNull)
      .groupBy(col("batch"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("bk"))
      .groupBy(col("batch"))
      .agg(max(col("bk")).as("probe_bucket_max"))
    own.join(pAgg, Seq("batch"))
      .join(pBk, Seq("batch"), "left")
      .na.fill(0L, Seq("probe_bucket_max"))
      .select(
        col("batch"), col("n_docs"), col("n_rows"), col("n_buckets"),
        col("n_partitions_probed"), col("probe_rows"), col("probe_bucket_max"))
  }

  /** Distinct shingle set per doc as a sorted array + its size — the
    * exact-verification side table candidate-pair operators join against.
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    shingleRows(docs)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("ss"), count(lit(1)).as("n_sh"))

  /** MinHash estimator calibration: every LSH candidate pair scored by
    * BOTH the 16-permutation estimate and the exact shingle Jaccard, with
    * the signed error — the "is my sketch lying to me" report run before
    * trusting `est_jaccard` as a dedup gate at scale. est is k/16 so
    * `est_e4 = 625·k` is exact; the exact side is the same integer floor
    * Jaccard as [[prefixJaccard]].
    *
    * Scale: candidates come from the LSH buckets (never all pairs); the
    * exact verification joins each candidate to two per-doc shingle
    * arrays — work ∝ candidates, the [[embeddingNearDupsLsh]] discipline.
    */
  def minhashQuality(docs: DataFrame, estThreshold: Double = EstThreshold): DataFrame = {
    val sets = shingleSets(docs)
    minhashLsh(docs, estThreshold)
      .join(sets.select(col("doc_id").as("doc_id_1"),
        col("ss").as("__sa"), col("n_sh").as("__na")), "doc_id_1")
      .join(sets.select(col("doc_id").as("doc_id_2"),
        col("ss").as("__sb"), col("n_sh").as("__nb")), "doc_id_2")
      .select(
        col("doc_id_1"), col("doc_id_2"),
        round(col("est_jaccard") * 10000).cast("long").as("est_e4"),
        Cols.sortedIntersectCount(col("__sa"), col("__sb")).as("__c"),
        col("__na"), col("__nb"))
      .select(
        col("doc_id_1"), col("doc_id_2"), col("est_e4"),
        Cols.floorDiv(col("__c") * 10000, col("__na") + col("__nb") - col("__c"))
          .as("exact_e4"))
      .withColumn("err_e4", col("est_e4") - col("exact_e4"))
  }

  /** MinHash-LSH dedup-gate calibration: precision/recall of the banded
    * LSH candidate set, cut at each estimate threshold, against the EXACT
    * ground-truth pair table (df-capped shingle Jaccard ≥ `truthThetaE4`)
    * — the curve a dedup rollout reads before committing to an
    * `est_jaccard` gate. [[thresholdSweep]] says how much each θ removes;
    * this says how much of it is RIGHT: `fp` counts bucket collisions the
    * estimate keeps that aren't true dups, and `fn` counts BOTH failure
    * modes at once — true pairs the banding never surfaced AND surfaced
    * pairs the estimate cut drops (est of a never-surfaced pair reads as
    * −1, below every threshold).
    *
    * est_e4 = 625·(matching permutations) is exact (k/16 is a binary
    * fraction); the truth side is the identical integer floor Jaccard as
    * [[thresholdSweep]]; precision/recall are floor e4 with null on an
    * empty denominator (no predictions / no truth).
    *
    * Scale: two blocking-bounded pair tables (LSH buckets / df-capped
    * posting lists — never doc×doc), one pair-keyed full-outer join, a
    * |thresholds|-row broadcast fan-out, one hash agg: the
    * [[thresholdSweep]] posture with a ground-truth second input.
    */
  def lshPrCurve(
      docs: DataFrame,
      thresholdsE4: Seq[Long] = Seq(2500L, 3750L, 5000L, 6250L, 7500L, 8750L),
      truthThetaE4: Long = 5000L): DataFrame = {
    import docs.sparkSession.implicits._
    // ONE materialized shingle index feeds the prediction side's minhash
    // signatures AND the truth side's df-cap + posting join + counts —
    // otherwise shingleRows evaluates ~5× in this plan (the
    // taggedMethodPairs discipline; measured 4.4 → 3.0 s at sf0.1)
    val sh0 = shingleRows(docs).localCheckpoint()
    val sigs = minhashSignaturesFrom(sh0).localCheckpoint()
    // every LSH candidate with its estimate — threshold 0 disables the gate
    val pred = lshFromSigs(sigs, 0.0)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("est_jaccard") * 10000).cast("long").as("est_e4"))
    val truth = postingOverlap(sh0)
      .filter(Cols.floorDiv(col("n_common") * 10000L,
        col("ca.n_shingles") + col("cb.n_shingles") - col("n_common")) >= truthThetaE4)
      .select(col("doc_id_1"), col("doc_id_2"), lit(1L).as("__true"))
    val joined = pred
      .join(truth, Seq("doc_id_1", "doc_id_2"), "full_outer")
      .select(
        coalesce(col("est_e4"), lit(-1L)).as("est_e4"),
        coalesce(col("__true"), lit(0L)).as("__true"))
    val thetas = thresholdsE4.toDF("theta_e4")
    val agg = joined.crossJoin(broadcast(thetas))
      .groupBy(col("theta_e4"))
      .agg(
        count(when(col("est_e4") >= col("theta_e4") && col("__true") === 1L, 1)).as("tp"),
        count(when(col("est_e4") >= col("theta_e4") && col("__true") === 0L, 1)).as("fp"),
        count(when(col("est_e4") < col("theta_e4") && col("__true") === 1L, 1)).as("fn"))
    val out = thetas.join(agg, Seq("theta_e4"), "left_outer")
      .select(
        col("theta_e4"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(
        col("theta_e4"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          Cols.floorDiv(col("tp") * 10000L, col("tp") + col("fp")))
          .otherwise(lit(null).cast("long")).as("precision_e4"),
        when(col("tp") + col("fn") > 0,
          Cols.floorDiv(col("tp") * 10000L, col("tp") + col("fn")))
          .otherwise(lit(null).cast("long")).as("recall_e4"))
      .orderBy(col("theta_e4"))
      // |thresholds|-row readout: materialize it, then free the
      // invocation-scoped shingle and signature indexes (the
      // lshBandDesign discipline) — the returned lazy frame must not
      // keep two corpus-sized block sets pinned across invocations
      .localCheckpoint()
    graft.LocalCheckpoints.free(sigs)
    graft.LocalCheckpoints.free(sh0)
    out
  }

  /** LSH band-GEOMETRY design table — the question [[lshPrCurve]] leaves
    * open: the estimate threshold tunes the gate AFTER candidates exist,
    * but (bands × rows-per-band) decides which pairs become candidates
    * at all. For every split of the 16-permutation signature —
    * (16×1), (8×2), (4×4), (2×8), (1×16) — the banding self-join runs
    * for real and is scored against the exact df-capped shingle-Jaccard
    * ground truth (the [[lshPrCurve]] truth): candidate volume (the
    * index COST — each candidate is a verify-stage pair), tp/fp/fn,
    * precision, recall. `threshold_e4` is the config's S-curve midpoint
    * (1/b)^(1/r), declared as a literal in both engines (625, 3536,
    * 7071, 9170, 10000) so no cross-engine pow. Read before committing
    * to a band layout: wide-band configs (16×1) recall everything and
    * drown in false candidates; tall ones (1×16) are near-exact-match.
    *
    * Buckets above `maxBucket` members are dropped WHOLE (the basket
    * family's group-size cap, mirrored in the oracle's QUALIFY): a bucket
    * at that size carries no discriminative value and its |bucket|² pair
    * fan-out is exactly what a production index refuses to enumerate.
    *
    * Scale: one cached signature table (16 longs/doc) feeds all five
    * configs; the config fan-out is Σb = 31 bands per doc; every
    * self-join is bucket-equi-keyed and cap-bounded; the truth table is
    * df-capped posting joins; the final rollup is 5 rows against a
    * 1-row broadcast truth count.
    */
  def lshBandDesign(
      docs: DataFrame,
      truthThetaE4: Long = 5000L,
      maxBucket: Int = 1000): DataFrame = {
    import docs.sparkSession.implicits._
    // (bands, rowsPerBand, s-curve midpoint e4 as a shared literal)
    val configs = Seq((16, 1, 625L), (8, 2, 3536L), (4, 4, 7071L),
      (2, 8, 9170L), (1, 16, 10000L))
    // localCheckpoint, not cache: the signature table is purely
    // invocation-scoped here (unlike the documented persistent index in
    // [[minhashLsh]]), so the 5-row readout is materialized eagerly below
    // and the signatures are freed before returning — the bpeTrain
    // discipline; a .cache() leaked one corpus-sized signature table into
    // session storage per invocation (ADVICE r9). The shingle index is
    // shared between the signature build and the truth side's df-cap +
    // posting join (the taggedMethodPairs discipline) and freed with it.
    val sh0 = shingleRows(docs).localCheckpoint()
    val sigs = minhashSignaturesFrom(sh0).localCheckpoint()
    val cand = configs.map { case (nb, r, thr) =>
      val bands0 = sigs
        .select(col("doc_id"), col("sig"),
          explode(sequence(lit(0), lit(nb - 1))).as("band"))
        .select(col("doc_id"), col("band"),
          md5(concat_ws(",",
            slice(col("sig"), col("band") * r + 1, lit(r)).cast("array<string>")))
            .as("bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bucket"))
      val bands = bands0
        .withColumn("__bs", count(lit(1)).over(w))
        .filter(col("__bs") <= maxBucket)
        .drop("__bs")
      bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
        .distinct()
        .select(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(thr).as("threshold_e4"), col("doc_id_1"), col("doc_id_2"))
    }.reduce(_ unionAll _)
    // exact ground truth: df-capped shingle Jaccard ≥ truthThetaE4
    val truth = postingOverlap(sh0)
      .filter(Cols.floorDiv(col("n_common") * 10000L,
        col("ca.n_shingles") + col("cb.n_shingles") - col("n_common")) >= truthThetaE4)
      .select(col("doc_id_1"), col("doc_id_2"), lit(1L).as("__t"))
    val nTruth = broadcast(truth.agg(count(lit(1)).as("__nt")))
    val cfgDf = configs
      .map { case (nb, r, thr) => (nb.toLong, r.toLong, thr) }
      .toDF("bands", "rows_per_band", "threshold_e4")
    val perCfg = cand
      .join(truth, Seq("doc_id_1", "doc_id_2"), "left")
      .groupBy(col("bands"), col("rows_per_band"), col("threshold_e4"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("__t"), lit(0L))).as("tp"))
    val out = cfgDf
      .join(perCfg, Seq("bands", "rows_per_band", "threshold_e4"), "left")
      .na.fill(0L, Seq("n_candidates", "tp"))
      .crossJoin(nTruth)
      .select(
        col("bands"), col("rows_per_band"), col("threshold_e4"),
        col("n_candidates"), col("tp"),
        (col("n_candidates") - col("tp")).as("fp"),
        (col("__nt") - col("tp")).as("fn"),
        when(col("n_candidates") > 0,
          Cols.floorDiv(col("tp") * 10000L, col("n_candidates")))
          .otherwise(lit(null).cast("long")).as("precision_e4"),
        when(col("__nt") > 0,
          Cols.floorDiv(col("tp") * 10000L, col("__nt")))
          .otherwise(lit(null).cast("long")).as("recall_e4"))
      .orderBy(col("bands").desc)
      // 5-row readout: materialize it, then free the invocation-scoped
      // shingle and signature indexes
      .localCheckpoint()
    graft.LocalCheckpoints.free(sigs)
    graft.LocalCheckpoints.free(sh0)
    out
  }

  /** Near-dup METHOD agreement matrix: the pairwise overlap of the pair
    * sets flagged by the three blocking families — MinHash LSH
    * (probabilistic sketch), SimHash Hamming ≤ 3 (exact pigeonhole), and
    * df-capped n-gram Jaccard (posting lists). 9 rows
    * (method_a, method_b, n_pairs): the diagonal is each method's own
    * pair count, off-diagonals the agreements — the report that justifies
    * (or indicts) swapping one blocking tier for a cheaper one.
    *
    * Scale: each input is an already-bounded candidate-pair set, orders
    * below the corpus; the agreement join is keyed by the pair itself.
    */
  def methodAgreement(docs: DataFrame): DataFrame = {
    val (tagged, freeIndexes) = taggedMethodPairs(docs)
    val out = tagged.as("a")
      .join(tagged.as("b"),
        col("a.doc_id_1") === col("b.doc_id_1") && col("a.doc_id_2") === col("b.doc_id_2"))
      .groupBy(col("a.method").as("method_a"), col("b.method").as("method_b"))
      .agg(count(lit(1)).as("n_pairs"))
      // ≤ 9-row readout: materialize, then free the invocation-scoped
      // shingle/signature indexes (lshBandDesign discipline)
      .localCheckpoint()
    freeIndexes()
    out
  }

  /** The (method, pair) union of the three blocking families, shared by
    * [[methodAgreement]] and [[ensembleImpact]]. The second element frees
    * the invocation-scoped shingle/signature checkpoints — callers
    * materialize their small readout, then invoke it, so the returned
    * frame never pins corpus-sized block sets across invocations. */
  private def taggedMethodPairs(docs: DataFrame): (DataFrame, () => Unit) = {
    // ONE materialized shingle index for the two shingle-grain families:
    // the minhash signatures and the n-gram posting join would otherwise
    // evaluate the normalize+tokenize+explode scan ~5× between them.
    // localCheckpoint (row blocks), NOT cache() — the columnar encode of
    // an exploded string table costs more than it saves here (all at
    // sf0.1, noise ≤ 1.1: baseline 7.9/6.0 s ensemble/agreement, cache()
    // 8.1/12.7 s, localCheckpoint 5.2/3.7 s). The retained blocks are
    // the persisted-index artifact, the [[winnowOverlap]] precedent.
    val sh = shingleRows(docs).localCheckpoint()
    val sigs = minhashSignaturesFrom(sh).localCheckpoint()
    val pairs = lshFromSigs(sigs, EstThreshold)
      .select(lit("minhash").as("method"), col("doc_id_1"), col("doc_id_2"))
      .unionAll(simhashNearDups(docs)
        .select(lit("simhash").as("method"), col("doc_id_1"), col("doc_id_2")))
      .unionAll(ngramJaccardFrom(sh)
        .select(lit("ngram").as("method"), col("doc_id_1"), col("doc_id_2")))
    (pairs, () => { graft.LocalCheckpoints.free(sigs); graft.LocalCheckpoints.free(sh) })
  }

  /** Ensemble dedup impact: the three blocking families' pair sets
    * combined under the three standard voting rules — union (any method
    * flags), majority (≥ 2 agree), intersection (all 3 agree) — with,
    * per rule, the surviving pair count, the documents touched, and the
    * documents that a keep-lowest-id pair rule would drop (distinct
    * higher ids; transitive-closure removal is [[nearDupClusters]]' job).
    * [[methodAgreement]] reports how much the methods overlap; this is
    * the decision readout on top of it — what each voting rule would
    * actually DO to the corpus, the number a precision-vs-recall dedup
    * rollout argues about.
    *
    * Scale: the three pair inputs are each blocking-bounded (buckets /
    * pigeonhole bands / df-capped posting lists — never doc×doc); voting
    * is one hash agg on the pair key; the rule fan-out is a 3-row
    * broadcast; distinct-doc counting explodes each pair to its two
    * endpoints — all work ∝ candidate pairs.
    */
  def ensembleImpact(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val (tagged, freeIndexes) = taggedMethodPairs(docs)
    val votes = tagged
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(count_distinct(col("method")).as("__votes"))
    val modes = Seq(("union", 1L), ("majority", 2L), ("intersection", 3L))
      .toDF("mode", "min_votes")
    val exploded = votes.crossJoin(broadcast(modes))
      .filter(col("__votes") >= col("min_votes"))
      .select(col("mode"), col("min_votes"),
        explode(array(
          struct(col("doc_id_1").as("id"), lit(0L).as("hi")),
          struct(col("doc_id_2").as("id"), lit(1L).as("hi")))).as("__e"))
    val agg = exploded
      .groupBy(col("mode"), col("min_votes"))
      .agg(
        // each surviving pair contributes exactly its two endpoints
        Cols.floorDiv(count(lit(1)), lit(2L)).as("n_pairs"),
        count_distinct(col("__e.id")).as("n_docs"),
        count_distinct(when(col("__e.hi") === 1L, col("__e.id"))).as("n_drop_candidates"))
    val out = modes.join(agg, Seq("mode", "min_votes"), "left_outer")
      .select(
        col("mode"), col("min_votes"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_drop_candidates"), lit(0L)).as("n_drop_candidates"))
      .orderBy(col("min_votes"))
      // 3-row readout: materialize, then free the invocation-scoped
      // shingle/signature indexes (lshBandDesign discipline)
      .localCheckpoint()
    freeIndexes()
    out
  }

  /** Planted-duplicate recall harness: every corpus document is cloned
    * with its LAST token dropped (clone id = doc_id + `offset`), the
    * clones are unioned in, and the MinHash LSH pair set is scored on how
    * many planted (original, clone) pairs it recovers — the recall
    * regression a dedup deployment runs BEFORE trusting its LSH
    * parameters on a new corpus. Documents under 4 tokens are not planted
    * (their clone would have no shingles — unfindable by construction).
    * One row: (n_planted, n_found, recall_e4). Deterministic end-to-end:
    * the perturbation is structural, no RNG anywhere.
    *
    * Scale: clone construction is map-only; the candidate path is the
    * registered LSH scale path itself; scoring is one membership join on
    * the planted pair key and a 1-row aggregate.
    */
  def recallHarness(docs: DataFrame, offset: Long = 1000000L): DataFrame = {
    val toks = docs.select(col("doc_id"), Cols.tokens(col("text")).as("__t"))
    val clones = toks.filter(size(col("__t")) >= 4)
      .select(
        (col("doc_id") + offset).as("doc_id"),
        concat_ws(" ", slice(col("__t"), lit(1), size(col("__t")) - 1)).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(clones)
    val pairs = minhashLsh(corpus)
      .select(col("doc_id_1"), col("doc_id_2"), lit(1).as("__hit"))
    clones
      .select((col("doc_id") - offset).as("doc_id_1"), col("doc_id").as("doc_id_2"))
      .join(pairs, Seq("doc_id_1", "doc_id_2"), "left")
      .agg(count(lit(1)).as("n_planted"), count(col("__hit")).as("n_found"))
      .select(
        col("n_planted"), col("n_found"),
        when(col("n_planted") > 0,
          Cols.floorDiv(col("n_found") * 10000, col("n_planted"))).as("recall_e4"))
  }

  /** Cluster-size histogram over the near-dup components: how many
    * families of each size the corpus carries, and how many documents
    * they absorb — the one-glance answer to "is duplication a few huge
    * families or a long tail of pairs", which decides whether canonical
    * selection or aggressive pruning is the right response.
    *
    * Scale: two hash aggregates on top of [[nearDupClusters]]' label
    * table (|docs| rows in, |distinct sizes| rows out).
    */
  def clusterSizeHistogram(docs: DataFrame, pairs: DataFrame): DataFrame =
    nearDupClusters(docs, pairs)
      .groupBy(col("cluster_size"))
      .agg(
        count_distinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))

  /** SimHash: 60-bit signature where bit j is the majority vote of bit j
    * across the hashes of the document's distinct tokens. Hamming-close
    * signatures ⇒ similar token sets. Computed as 60 algebraic sums (one
    * hash aggregate, no explode of bits).
    */
  def simhash(docs: DataFrame): DataFrame = {
    // fan out the single-split scan before the tokenize+md5 map work
    // (guide §2.5; see Tables.fanOutScan — no-op on real inputs)
    val toks = graft.Tables.fanOutScan(docs)
      .select(col("doc_id"), explode(array_distinct(Cols.tokens(col("text")))).as("tok"))
      .withColumn("h", Cols.hash60(col("tok")))
    val bitSums: Seq[Column] = (0 until SimhashBits).map { j =>
      // +1 for a set bit, -1 for clear: majority ⇔ positive sum
      sum(pmod(shiftright(col("h"), j), lit(2)) * lit(2) - lit(1)).as(s"b$j")
    }
    val summed = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    summed.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within a Hamming bound, via exact pigeonhole
    * bucketing: the 60-bit signature splits into `maxHamming + 1` chunks,
    * and any pair within the bound must agree exactly on at least one
    * chunk — so the bucket join has COMPLETE recall. Unlike the
    * probabilistic LSH paths this is an exact operator; the oracle is the
    * plain all-pairs formulation and the results are identical.
    *
    * Scale: candidates are per-(chunk, value) bucket products. On
    * realistic corpora signatures are near-uniform and each 15-bit chunk
    * fans out over 32k buckets (~n²/32k per chunk); this synthetic
    * corpus's low-entropy vocabulary compresses the signature space, so
    * the measured pruning here is ~5.5× — the operator's bound degrades
    * gracefully with signature entropy rather than breaking.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = SimhashBits / nChunks
    val sigs = simhash(docs)
    val chunkCols = (0 until nChunks).map(c =>
      shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1)))
    val chunks = sigs.select(
      col("doc_id"),
      col("simhash"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "cv")))
    // Hamming test INSIDE the join, BEFORE the pair distinct: the
    // distinct's exchange otherwise carries every bucket-product
    // candidate (multiplied up to nChunks× per agreeing pair) only for
    // the filter to drop most of them afterwards — the XOR+popcount is
    // a few cycles per candidate, so verifying in the join output and
    // deduping survivors shuffles the near-dup pair set instead of the
    // candidate set (guide §2.3: shuffle fewer bytes). Identical output:
    // hamming is a function of the pair, so dedup before or after the
    // test selects the same pairs.
    chunks.as("a")
      .join(
        chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(
        col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
  }

  /** Embedding near-dup pairs by quantized cosine: embeddings quantized to
    * integer milli-units so dot products and norms are exact 64-bit sums —
    * deterministic across engines and summation orders; only the final
    * divide is floating point.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = CosineThreshold): DataFrame = {
    val q = quantized(embeddings)
    q.as("a")
      .join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_id_1"),
        col("b.vec_id").as("vec_id_2"),
        cosineQ(col("a.qv"), col("a.norm2"), col("b.qv"), col("b.norm2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic deduplication (the SemDeDup recipe: Abbas et al. 2023,
    * arXiv:2303.09540): exact cosine comparison WITHIN each coarse
    * cluster only — here the embedding table's `label` cells, the same
    * coarse quantizer the IVF index probes. A vector is removed when a
    * LOWER-id vector in its cell sits above the cosine threshold
    * (keep-first, fully deterministic), and the readout is the per-cell
    * dedup ledger: size, removed, kept.
    *
    * This is the scale path the all-pairs [[embeddingNearDups]] baseline
    * exists to validate: the pair join is label-equality (hash join, no
    * BNLJ), so the quadratic is bounded per cell — |cell|² instead of
    * |corpus|². Cells larger than `maxCellSize` are dropped in-plan (the
    * basket family's group-size cap, mirrored in the oracle): at 100 TB
    * an oversized cell means the coarse quantizer needs more centroids,
    * not a bigger join. Cross-cluster near-dups are by construction the quantizer's
    * misses — the SemDeDup contract.
    */
  def semanticDedup(
      embeddings: DataFrame, threshold: Double = CosineThreshold,
      maxCellSize: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    val cell = quantized(embeddings)
      .withColumn("__csz", count(lit(1)).over(w))
      .filter(col("__csz") <= maxCellSize)
      .drop("__csz")
    val removed = cell.as("a")
      .join(cell.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .filter(
        cosineQ(col("a.qv"), col("a.norm2"), col("b.qv"), col("b.norm2"))
          >= threshold)
      .select(col("b.label").as("label"), col("b.vec_id").as("vec_id"))
      .distinct()
      .groupBy(col("label"))
      .agg(count(lit(1)).as("__removed"))
    cell.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(removed, Seq("label"), "left")
      .select(
        col("label"), col("n_vecs"),
        coalesce(col("__removed"), lit(0L)).as("n_removed"),
        (col("n_vecs") - coalesce(col("__removed"), lit(0L))).as("n_kept"))
  }

  /** SemDeDup threshold sweep — the "decide before you commit" readout
    * for [[semanticDedup]], exactly what [[thresholdSweep]] is for the
    * shingle-Jaccard gate and [[lshPrCurve]] for the MinHash estimate:
    * the SAME within-cell pair cosine table scored at every candidate
    * threshold at once, reporting per θ the surviving pair count, the
    * documents a keep-lowest-id rule would drop, the kept corpus size,
    * and the e4 keep rate — the deletion-budget curve a semantic-dedup
    * rollout argues about before picking its θ. Removal is monotone in
    * θ by construction (spec-pinned).
    *
    * Scale: ONE within-cell pair table (|cell|²-capped, the
    * [[semanticDedup]] bound), a |thresholds|-row broadcast fan-out,
    * two hash aggregates, one 1-row corpus-total broadcast. The pair
    * cosines are computed once, not once per threshold.
    */
  def semanticSweep(
      embeddings: DataFrame,
      thetasE2: Seq[Long] = Seq(30L, 40L, 50L, 60L, 70L),
      maxCellSize: Int = 1000): DataFrame = {
    import embeddings.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    val cell = quantized(embeddings)
      .withColumn("__csz", count(lit(1)).over(w))
      .filter(col("__csz") <= maxCellSize)
      .drop("__csz")
    val pairs = cell.as("a")
      .join(cell.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("b.vec_id").as("__vb"),
        cosineQ(col("a.qv"), col("a.norm2"), col("b.qv"), col("b.norm2")).as("__cos"))
    val th = thetasE2.toDF("theta_e2")
    val hit = pairs.crossJoin(broadcast(th))
      .filter(col("__cos") >= col("theta_e2").cast("double") / 100.0)
    val np = hit.groupBy(col("theta_e2")).agg(count(lit(1)).as("n_pairs"))
    val nr = hit.select(col("theta_e2"), col("__vb")).distinct()
      .groupBy(col("theta_e2")).agg(count(lit(1)).as("n_removed"))
    val tot = broadcast(cell.agg(count(lit(1)).as("__n")))
    th.join(np, Seq("theta_e2"), "left")
      .join(nr, Seq("theta_e2"), "left")
      .na.fill(0L, Seq("n_pairs", "n_removed"))
      .crossJoin(tot)
      .select(
        col("theta_e2"), col("n_pairs"), col("n_removed"),
        (col("__n") - col("n_removed")).as("n_kept"),
        Cols.floorDiv((col("__n") - col("n_removed")) * 10000L, col("__n"))
          .as("keep_rate_e4"))
      .orderBy(col("theta_e2"))
  }

  /** Train/val/test split-leakage audit: near-duplicate pairs that
    * STRADDLE a split boundary — the classic eval-contamination bug
    * where a test document's near-copy sits in train and the benchmark
    * silently measures memorization. Composes the [[simhashNearDups]]
    * pair table with the content-free hash split
    * ([[graft.text.TextAnalysis.splitAssign]]); each unordered split
    * pair reports its near-dup pair count and a `leak` flag (1 when the
    * splits differ). A clean pipeline wants every `leak = 1` row at 0 —
    * or runs dedup BEFORE splitting, which this audit verifies.
    *
    * Scale: the pair table is the banded simhash path (never all-pairs);
    * the split columns attach through two equi-joins on doc id and the
    * rollup is a hash aggregate to ≤ C(|splits|+1, 2) rows.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val sp = graft.text.TextAnalysis.splitAssign(docs)
      .select(col("doc_id"), col("split"))
    simhashNearDups(docs)
      .join(
        sp.select(col("doc_id").as("doc_id_1"), col("split").as("__sa")),
        Seq("doc_id_1"))
      .join(
        sp.select(col("doc_id").as("doc_id_2"), col("split").as("__sb")),
        Seq("doc_id_2"))
      .groupBy(
        least(col("__sa"), col("__sb")).as("split_1"),
        greatest(col("__sa"), col("__sb")).as("split_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(
        col("split_1"), col("split_2"), col("n_pairs"),
        when(col("split_1") =!= col("split_2"), 1L).otherwise(0L).as("leak"))
  }

  /** Hyperplane-LSH table/bit geometry for [[embeddingNearDupsLsh]].
    * 8 tables × 4 bits is tuned for the testdata's unusually *low* near-dup
    * threshold (0.4 cosine ≈ 66°, where any LSH prunes weakly): measured
    * recall 0.81 with a 2.4× candidate reduction at sf0.01 (pinned by
    * ApproxSpec). At production near-dup thresholds (cosine ≥ 0.9,
    * p_bit ≈ 0.86) the same construction with 8-bit tables reaches ~0.93
    * recall while cutting candidates by ~n²/32 — the standard OR-of-ANDs
    * amplification dial.
    */
  val LshTables = 8
  val LshBitsPerTable = 4

  /** Embedding near-dup pairs via hyperplane-LSH candidate generation +
    * exact cosine verification — the 100 TB path beside the all-pairs
    * baseline [[embeddingNearDups]].
    *
    * Shape: each vector is hashed into `tables` buckets (one per table;
    * bucket = sign pattern of `bits` deterministic hyperplane projections);
    * candidate pairs share a (table, bucket); exact quantized cosine is
    * computed on candidates only, so precision is exact and recall is the
    * tunable. Everything is md5-derived and integer-exact, which is what
    * makes this — unlike most LSH implementations — oracle-checkable
    * bit-for-bit against DuckDB.
    */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      threshold: Double = CosineThreshold,
      tables: Int = LshTables,
      bits: Int = LshBitsPerTable,
      dim: Int = 64): DataFrame = {
    import graft.sim.Similarity.planeComponent
    val q = quantized(embeddings)
    // per-table bucket ids; planes are driver-built literal arrays folded
    // into the plan as constants (tables × bits × dim longs — tiny)
    val bucketCols: Seq[Column] = (0 until tables).map { t =>
      (0 until bits).map { b =>
        val plane = array((0 until dim).map(i => lit(planeComponent(t * bits + b, i))): _*)
        when(longDot(col("qv"), plane) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val bucketed = q.select(
      col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
    // distinct candidate ids first (a pair can collide in several tables),
    // then join the vectors back in for the exact verification pass
    val cand = bucketed.as("a")
      .join(
        bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"))
      .distinct()
    cand
      .join(q.as("qa"), col("vec_id_1") === col("qa.vec_id"))
      .join(q.as("qb"), col("vec_id_2") === col("qb.vec_id"))
      .select(
        col("vec_id_1"),
        col("vec_id_2"),
        cosineQ(col("qa.qv"), col("qa.norm2"), col("qb.qv"), col("qb.norm2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-duplicate cluster assignment: connected components over a
    * near-dup pair graph, with canonical-survivor election (lowest doc_id
    * in the component) — the step a real dedup pipeline runs after pair
    * generation, since near-dup is not transitive but the keep/drop
    * decision must be.
    *
    * Algorithm: min-merge with GRAPH CONTRACTION (the MapReduce CC
    * pattern of Kiveris et al.'s "Connected Components in MapReduce and
    * Beyond", simplified to min-star merges). Each round, every current
    * representative adopts its smallest neighbor if smaller (a star
    * merge), the representative map is path-halved, the full label table
    * re-points through it, and — the scale-critical step — the EDGE SET
    * IS CONTRACTED to the quotient graph (endpoints relabeled, self-loops
    * and duplicates dropped). Near-dup graphs are unions of near-cliques,
    * so the first contraction collapses almost everything: the edge list
    * shrinks geometrically and later rounds run on a vanishing remainder,
    * vs O(rounds × |E|) for plain label propagation over the full edge
    * list every round. Terminates when no edges remain (every component
    * is a single representative = its minimum); rounds = O(log n).
    * Everything is joins + aggregates — the driver loop only checks a
    * scalar emptiness count per round (the Pregel pattern, not a data
    * collect). [[graft.Rounds]] checkpoints each round to truncate the
    * growing lineage.
    *
    * @param pairs near-dup pairs with columns `doc_id_1`, `doc_id_2`
    *   (e.g. [[simhashNearDups]], [[minhashLsh]], [[ngramJaccard]])
    */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // every merge contracts at least one edge to a self-loop, so a
    // non-empty edge set always shrinks: the fixpoint is the empty set
    val edges = graft.Rounds.from(pairs
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .union(pairs.select(col("doc_id_2").as("src"), col("doc_id_1").as("dst"))))
    // The label table stays a LAZY plan: a left-deep chain of re-point
    // joins against the (small, checkpointed) per-round merge maps,
    // materialized ONCE after convergence. Checkpointing the full-width
    // |docs| label table every round was the third substantive job per
    // round (VERDICT r3 #6); now a round runs exactly two jobs — the
    // merge-map checkpoint (tiny) and the contracted-edge checkpoint —
    // plus a block-cached count for the fixpoint test.
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
    val roundMaps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    edges.iterate(maxIters, untilFixpoint = true) { (e, _) =>
      // star merge on the contracted graph: representative → min neighbor
      // (strictly smaller only, so the component min never re-points)
      val merge = e
        .groupBy(col("src"))
        .agg(min(col("dst")).as("m"))
        .filter(col("m") < col("src"))
        .select(col("src").as("o"), col("m").as("n"))
      // path-halve the map itself (o→n, n→n2 ⇒ o→n2) so merge chains
      // shorten within the round; the map is tiny (≤ #merged reps).
      // Checkpointed because three consumers read it: the label chain
      // (at final materialization) and both contraction endpoints.
      val halved = merge.as("x")
        .join(merge.select(col("o").as("o2"), col("n").as("n2")), col("x.n") === col("o2"), "left")
        .select(col("x.o").as("o"), coalesce(col("n2"), col("x.n")).as("n"))
        .localCheckpoint()
      roundMaps += halved
      // re-point every doc whose representative merged — plan-only, no job
      labels = labels
        .join(halved, col("cluster_id") === col("o"), "left")
        .select(col("doc_id"), coalesce(col("n"), col("cluster_id")).as("cluster_id"))
      // contract: relabel both endpoints into the quotient graph, drop
      // self-loops and duplicate edges — the edge set shrinks geometrically
      e.join(halved.withColumnsRenamed(Map("o" -> "so", "n" -> "sn")), col("src") === col("so"), "left")
        .join(halved.withColumnsRenamed(Map("o" -> "do", "n" -> "dn")), col("dst") === col("do"), "left")
        .select(
          coalesce(col("sn"), col("src")).as("src"),
          coalesce(col("dn"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    val remaining = edges.rowCount
    edges.close()
    // one full-width job total: materialize the converged labels so the
    // merge maps can be freed. Partially merged labels are WRONG labels
    // (non-minimal cluster ids, broken canonical election): refuse them.
    if (remaining == 0 && roundMaps.nonEmpty) labels = graft.Rounds.materialize(labels)
    roundMaps.foreach(graft.LocalCheckpoints.free)
    if (remaining != 0)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within $maxIters rounds " +
          s"($remaining quotient edges remain); raise maxIters")
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    labels.select(
      col("doc_id"),
      col("cluster_id"),
      when(col("doc_id") === col("cluster_id"), lit(1L)).otherwise(lit(0L)).as("is_canonical"),
      count(lit(1)).over(byCluster).as("cluster_size"))
  }

  /** Exact integer dot product — the codegen'd native expression
    * (graft.functions.LongDotProduct, registered by GraftSession.tune).
    */
  private[graft] def longDot(a: Column, b: Column): Column =
    call_function("graft_long_dot", a, b)

  /** Embeddings with quantized integer vector `qv` and its exact squared
    * norm `norm2`.
    *
    * No scan fan-out here: quantization itself is cheap (64 multiplies
    * per row), so whether the single-split scan is worth a round-robin
    * exchange depends on the CONSUMER's per-row work — the registry
    * wraps the embeddings table in [[graft.Tables.fanOutScan]] for the
    * measured-heavy pair/rerank queries and leaves the ~40 sub-second
    * readout consumers on the plain scan (VERDICT r15 #1: a blanket
    * fan-out default taxed them 1.2–2.0×). Beyond that tail tax, a
    * STRIDED query batch (corpus/QueryStride rows) must never fan out:
    * a repartition below the stride filter buys nothing and costs the
    * broadcast its bound — with the exchange in the subtree the
    * optimizer prunes/moves the pmod filter off the broadcast side and
    * the build side degenerates to the full corpus (BroadcastBoundSpec
    * caught exactly this on ann_range_lsh, r15).
    */
  private[graft] def quantized(embeddings: DataFrame): DataFrame = {
    val q = embeddings.select(
      col("vec_id"),
      // int64 from the start: the parquet int32 would otherwise leak into
      // result schemas, where DuckDB answers BIGINT (type-contract spec)
      col("label").cast("long").as("label"),
      transform(col("embedding"), x => round(x.cast("double") * lit(1000)).cast("long")).as("qv"))
    q.withColumn("norm2", longDot(col("qv"), col("qv")))
  }

  /** Rounded cosine between two quantized vectors with precomputed norms. */
  private[graft] def cosineQ(qa: Column, na2: Column, qb: Column, nb2: Column): Column =
    round(
      longDot(qa, qb).cast("double") /
        (sqrt(na2.cast("double")) * sqrt(nb2.cast("double"))),
      6)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => exact(Tables.documents(s, d))),
    "dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      canonical(docs, graft.text.TextAnalysis.qualityScore(docs))
    }),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(Tables.documents(s, d))),
    "dedup_threshold_sweep" -> ((s, d) => thresholdSweep(Tables.documents(s, d))),
    "dedup_prefix_jaccard" -> ((s, d) => prefixJaccard(Tables.documents(s, d))),
    "dedup_incremental" -> ((s, d) => incremental(Tables.documents(s, d))),
    "dedup_sorted_neighbor" -> ((s, d) => sortedNeighborPairs(Tables.documents(s, d))),
    "part_fuzzy_verified" -> ((s, d) =>
      charGramNamePairsVerified(Tables.part(s, d), "p_name")),
    "part_entities" -> ((s, d) => nameEntities(Tables.part(s, d), "p_name")),
    "dedup_containment" -> ((s, d) => containment(Tables.documents(s, d))),
    "part_fuzzy_names" -> ((s, d) => charGramNamePairs(Tables.part(s, d), "p_name")),
    "dedup_minhash_lsh" -> ((s, d) => minhashLsh(Tables.documents(s, d))),
    // incremental-dedup ledger, batch twin: hash-split "today's ingest"
    // probes the "already-ingested" half's bucket index — cross-corpus
    // pairs only
    "dedup_ledger" -> ((s, d) => {
      val b = pmod(
        Cols.hash60(concat(lit("batch:"), col("doc_id").cast("string"))), lit(2L))
      val tagged = Tables.documents(s, d).withColumn("__batch", b)
      ledgerFlags(
        tagged.filter(col("__batch") === 1).drop("__batch"),
        tagged.filter(col("__batch") === 0).drop("__batch"))
    }),
    // per-batch ledger health + probe-cost curve (partitions/rows/worst
    // bucket a probe scans) — the when-to-compact readout
    "tbl_ledger_stats" -> ((s, d) => ledgerStats(Tables.documents(s, d))),
    "dedup_minhash_quality" -> ((s, d) => minhashQuality(Tables.documents(s, d))),
    "dedup_lsh_pr_curve" -> ((s, d) => lshPrCurve(Tables.documents(s, d))),
    "dedup_lsh_band_design" -> ((s, d) => lshBandDesign(Tables.documents(s, d))),
    "dedup_recall_harness" -> ((s, d) => recallHarness(Tables.documents(s, d))),
    "dedup_method_agreement" -> ((s, d) => methodAgreement(Tables.documents(s, d))),
    "dedup_ensemble" -> ((s, d) => ensembleImpact(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => simhash(Tables.documents(s, d))),
    "dedup_simhash_pairs" -> ((s, d) => simhashNearDups(Tables.documents(s, d))),
    "dedup_source_matrix" -> ((s, d) => crossSourceDupMatrix(Tables.documents(s, d))),
    "dedup_split_leakage" -> ((s, d) => splitLeakage(Tables.documents(s, d))),
    "dedup_impact" -> ((s, d) => dedupImpact(Tables.documents(s, d))),
    // all-pairs quantized cosine: the one embeddings consumer whose
    // per-row work (|corpus|² longDot) dwarfs the fan-out exchange —
    // opt-in scan fan-out at the registry (guide §2.5; r15 A/B 2.36 s →
    // 0.32 s with it; the cell-bounded semantic paths measured flat)
    "dedup_embedding" -> ((s, d) =>
      embeddingNearDups(graft.Tables.fanOutScan(Tables.embeddings(s, d)))),
    "dedup_semantic" -> ((s, d) => semanticDedup(Tables.embeddings(s, d))),
    // SemDeDup threshold sweep: one within-cell pair cosine table scored
    // at every candidate θ — the deletion-budget curve
    "dedup_semantic_sweep" -> ((s, d) => semanticSweep(Tables.embeddings(s, d))),
    "dedup_embedding_lsh" -> ((s, d) =>
      embeddingNearDupsLsh(graft.Tables.fanOutScan(Tables.embeddings(s, d)))),
    "dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      nearDupClusters(docs, simhashNearDups(docs))
    }),
    "dedup_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      clusterSizeHistogram(docs, simhashNearDups(docs))
    }),
    // 1/cluster_size sampling weights rolled up per source — the
    // epoch-plan numbers after near-dup clustering
    "dedup_sample_weights" -> ((s, d) => dedupSampleWeights(Tables.documents(s, d))),
    // the full corpus-build chain in one query: cluster → split →
    // decontam-drop → 1/cluster_size weights → pack (VERDICT r14 #5)
    "dedup_corpus_build" -> ((s, d) => corpusBuild(Tables.documents(s, d))),
  )

  /** Dedup-aware sampling weights rolled up per source — the epoch-plan
    * input after near-dup clustering: sampling every document with weight
    * `1 / cluster_size` keeps each CLUSTER's expected contribution at one
    * copy, so duplicated boilerplate stops dominating the mixture without
    * hard-dropping any member. Per source: doc counts, how many sit in a
    * >1 cluster, raw tokens, and the effective (weighted) doc and token
    * masses in exact e4 — the numbers a mixture/epoch planner consumes
    * (clusters spanning sources split their weight across them, which is
    * the correct expectation semantics).
    *
    * Scale: the [[nearDupClusters]] contraction (band-bucketed simhash
    * pairs, never all-pairs) plus one doc-keyed join and a |sources|-row
    * rollup.
    */
  def dedupSampleWeights(docs: DataFrame): DataFrame = {
    val cl = nearDupClusters(docs, simhashNearDups(docs))
    val tk = docs.select(
      col("doc_id"), col("source"),
      size(Cols.tokens(col("text"))).cast("long").as("__toks"))
    cl.join(tk, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("cluster_size") > 1L, lit(1))).as("n_dup_docs"),
        sum(col("__toks")).as("raw_tokens"),
        sum(Cols.floorDiv(lit(10000L), col("cluster_size"))).as("eff_docs_e4"),
        sum(Cols.floorDiv(col("__toks") * 10000L, col("cluster_size"))).as("eff_tokens_e4"))
  }

  /** End-to-end corpus-build composition — the full LLM-training-data
    * chain in ONE query, proving the stages COMPOSE (each is verified
    * alone elsewhere; the hand-offs are where schema drift hides —
    * VERDICT r14 #5):
    *
    *  1. near-dup clustering ([[simhashNearDups]] → [[nearDupClusters]]):
    *     every doc gets its cluster size;
    *  2. hash split assignment ([[graft.text.TextAnalysis.splitAssign]]):
    *     content-free 80/10/10 train/valid/test;
    *  3. decontamination drop: a TRAIN doc is dropped when it shares a
    *     winnow fingerprint ([[graft.text.TextAnalysis.winnowFingerprints]],
    *     k=4/w=4) with any TEST-split doc, where the fingerprint carries
    *     signal (train df ≤ 50 — the [[graft.text.TextAnalysis.winnowLeakage]]
    *     boilerplate cap). Held-out docs are never dropped (they ARE the
    *     benchmark side);
    *  4. sampling weights: survivors weigh `1/cluster_size` (STAGE-1
    *     cluster sizes — expectation semantics, [[dedupSampleWeights]]);
    *  5. packing: survivors pack per split in doc_id order at the
    *     2048-token budget ([[graft.text.TextAnalysis.packSequences]]
    *     rule; dropped docs consume no budget).
    *
    * Readout per (source, split): kept/dropped doc counts, raw and
    * 1/cluster_size-effective token masses (exact e4 floors), and the
    * distinct packs the source touches.
    *
    * Scale: stage 1 is the band-bucketed cluster contraction (never
    * all-pairs); stage 3 is fingerprint-keyed semi-joins with the test
    * side small by construction; the doc-grain base fans out to the pack
    * window and the rollup, so it `localCheckpoint`s once (narrow,
    * doc-sized). The pack window shuffles on split — 3 partitions here;
    * at 100 TB you'd widen the key to (split, shard) exactly as
    * [[graft.text.TextAnalysis.packSequences]] documents.
    */
  def corpusBuild(docs: DataFrame): DataFrame = {
    import graft.text.TextAnalysis
    val cl = nearDupClusters(docs, simhashNearDups(docs))
      .select(col("doc_id"), col("cluster_size"))
    val sp = TextAnalysis.splitAssign(docs).select(col("doc_id"), col("split"))
    val fpSplit = TextAnalysis.winnowFingerprints(docs).join(sp, "doc_id")
    val testFp = fpSplit.filter(col("split") === "test")
      .select(col("fingerprint")).distinct()
    val trainVocab = fpSplit.filter(col("split") === "train")
      .groupBy(col("fingerprint")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= 50L).select(col("fingerprint"))
    val contam = fpSplit.filter(col("split") === "train")
      .join(testFp, Seq("fingerprint"), "leftsemi")
      .join(trainVocab, Seq("fingerprint"), "leftsemi")
      .select(col("doc_id")).distinct()
      .withColumn("__contam", lit(1L))
    val base = docs
      .select(col("doc_id"), col("source"),
        size(Cols.tokens(col("text"))).cast("long").as("__toks"))
      .join(sp, "doc_id")
      .join(cl, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("__kept", col("__contam").isNull)
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val packed = base.filter(col("__kept"))
      .withColumn("__cum", coalesce(sum(col("__toks")).over(w), lit(0L)))
      .select(col("doc_id"), Cols.floorDiv(col("__cum"), lit(2048L)).as("__pack"))
    base.join(packed, Seq("doc_id"), "left")
      .groupBy(col("source"), col("split"))
      .agg(
        count(when(col("__kept"), lit(1))).as("n_docs_kept"),
        count(when(!col("__kept"), lit(1))).as("n_contam_dropped"),
        coalesce(sum(when(col("__kept"), col("__toks"))), lit(0L)).as("raw_tokens"),
        coalesce(sum(when(col("__kept"),
          Cols.floorDiv(col("__toks") * 10000L, col("cluster_size")))), lit(0L))
          .as("eff_tokens_e4"),
        countDistinct(col("__pack")).as("n_packs_touched"))
  }

  private val tokCte =
    """WITH t AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                          for i in generate_series(1, len(toks) - 2)])) AS shingle
      |  FROM t
      |)""".stripMargin

  private def h60(expr: String): String = s"('0x' || substr(md5($expr), 1, 15))::BIGINT"

  /** DuckDB mirror of [[simhash]]: token hashes → 60 bit-majority sums →
    * signature, ending in a `sigs(doc_id, simhash)` CTE.
    */
  private lazy val simhashCte: String = {
    val bitSums = (0 until SimhashBits)
      .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS b$j").mkString(",\n         ")
    val sig = (0 until SimhashBits)
      .map(j => s"CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, ${h60("tk")} AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tk FROM t) u
       |), sums AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM tok GROUP BY doc_id
       |), sigs AS (
       |  SELECT doc_id, ($sig)::BIGINT AS simhash FROM sums
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |       min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // mirrors canonical(docs, TextAnalysis.qualityScore(docs)): simhash
    // signature groups (simhashCte) + the txt_quality oracle's CTEs + a
    // best-per-group window
    "dedup_canonical" -> {
      val stopList = graft.text.TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""$simhashCte, st AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_tokens,
         |    round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE / len(toks), 4) AS stopword_ratio,
         |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS type_token_ratio
         |  FROM t
         |), q AS (
         |  SELECT doc_id,
         |    round((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END +
         |           CASE WHEN stopword_ratio > 0.02 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END +
         |           CASE WHEN type_token_ratio > 0.3 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END), 2) AS quality
         |  FROM st
         |), ranked AS (
         |  SELECT sigs.simhash, sigs.doc_id, q.quality,
         |    row_number() OVER (PARTITION BY sigs.simhash ORDER BY q.quality DESC, sigs.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY sigs.simhash) AS n_copies
         |  FROM sigs JOIN q USING (doc_id)
         |)
         |SELECT simhash, doc_id AS keep_doc_id, quality, n_copies::BIGINT AS n_copies
         |FROM ranked WHERE rn = 1""".stripMargin
    },
    // oracle is the PLAIN all-shingles join — the prefix filter is an
    // optimization, not a semantics change, so the outputs must be equal
    "dedup_prefix_jaccard" ->
      s"""$tokCte, cnt AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id_1, doc_id_2,
         |       ((n_common * 10000) // (ca.n + cb.n - n_common))::BIGINT AS jaccard_e4
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = doc_id_1
         |JOIN cnt cb ON cb.doc_id = doc_id_2
         |WHERE (n_common * 10000) // (ca.n + cb.n - n_common) >= 8000""".stripMargin,
    "dedup_incremental" ->
      s"""$simhashCte, hashed AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
         |  FROM documents
         |), ch AS (
         |  SELECT h, min(doc_id) AS match_exact FROM hashed WHERE doc_id % 2 = 0 GROUP BY h
         |), cs AS (
         |  SELECT simhash, min(doc_id) AS match_near FROM sigs WHERE doc_id % 2 = 0 GROUP BY simhash
         |)
         |SELECT b.doc_id,
         |  CASE WHEN ch.match_exact IS NOT NULL THEN 'dup_exact'
         |       WHEN cs.match_near IS NOT NULL THEN 'dup_near'
         |       ELSE 'new' END AS status,
         |  coalesce(ch.match_exact, cs.match_near) AS match_id
         |FROM hashed b
         |JOIN sigs USING (doc_id)
         |LEFT JOIN ch ON ch.h = b.h
         |LEFT JOIN cs ON cs.simhash = sigs.simhash
         |WHERE b.doc_id % 2 = 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$tokCte, rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id_1, doc_id_2,
         |       round(n_common::DOUBLE / (ca.n_shingles + cb.n_shingles - n_common), 4) AS jaccard
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = doc_id_1
         |JOIN cnt cb ON cb.doc_id = doc_id_2
         |WHERE round(n_common::DOUBLE / (ca.n_shingles + cb.n_shingles - n_common), 4) >= $JaccardThreshold""".stripMargin,
    // same df-capped candidate CTEs as dedup_ngram_jaccard, exact e4
    // similarity, |thresholds|-row fan-out with zero-filled arms
    "dedup_threshold_sweep" ->
      s"""$tokCte, rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT doc_id_1, doc_id_2,
         |    ((n_common * 10000) // (ca.n_shingles + cb.n_shingles - n_common))::BIGINT AS jaccard_e4
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = doc_id_1
         |  JOIN cnt cb ON cb.doc_id = doc_id_2
         |), th AS (
         |  SELECT unnest([3000, 4000, 5000, 6000, 7000, 8000, 9000])::BIGINT AS theta_e4
         |), x AS (
         |  SELECT th.theta_e4, unnest([p.doc_id_1, p.doc_id_2]) AS doc_id
         |  FROM pairs p JOIN th ON p.jaccard_e4 >= th.theta_e4
         |), a AS (
         |  SELECT theta_e4, (count(*) // 2)::BIGINT AS n_pairs,
         |    count(DISTINCT doc_id)::BIGINT AS n_docs
         |  FROM x GROUP BY 1
         |)
         |SELECT th.theta_e4, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs,
         |  coalesce(a.n_docs, 0)::BIGINT AS n_docs
         |FROM th LEFT JOIN a USING (theta_e4)""".stripMargin,
    // char-trigram vocabulary matching; the df-cap (1000) mirrors
    // charGramNamePairs' default and never binds on the fixture
    "part_fuzzy_names" ->
      """WITH n AS (
        |  SELECT DISTINCT trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS norm FROM part
        |), g0 AS (
        |  SELECT norm,
        |    unnest(list_distinct([substr(norm, i, 3)
        |                          for i in generate_series(1, len(norm) - 2)])) AS gram
        |  FROM n
        |), rare AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 1000
        |), g AS (
        |  SELECT g0.norm, g0.gram FROM g0 JOIN rare USING (gram)
        |), cnt AS (
        |  SELECT norm, count(*) AS c FROM g GROUP BY 1
        |), inter AS (
        |  SELECT a.norm AS name_a, b.norm AS name_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.norm < b.norm
        |  GROUP BY 1, 2
        |)
        |SELECT name_a, name_b,
        |  (n_common * 10000) // (ca.c + cb.c - n_common) AS jaccard_e4
        |FROM inter
        |JOIN cnt ca ON ca.norm = name_a
        |JOIN cnt cb ON cb.norm = name_b
        |WHERE (n_common * 10000) // (ca.c + cb.c - n_common) >= 4000""".stripMargin,
    // the fuzzy-names oracle + DuckDB's levenshtein (same classic DP
    // distance as Spark's built-in) as the verify tier
    "part_fuzzy_verified" ->
      """WITH n AS (
        |  SELECT DISTINCT trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS norm FROM part
        |), g0 AS (
        |  SELECT norm,
        |    unnest(list_distinct([substr(norm, i, 3)
        |                          for i in generate_series(1, len(norm) - 2)])) AS gram
        |  FROM n
        |), rare AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 1000
        |), g AS (
        |  SELECT g0.norm, g0.gram FROM g0 JOIN rare USING (gram)
        |), cnt AS (
        |  SELECT norm, count(*) AS c FROM g GROUP BY 1
        |), inter AS (
        |  SELECT a.norm AS name_a, b.norm AS name_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.norm < b.norm
        |  GROUP BY 1, 2
        |)
        |SELECT name_a, name_b,
        |  (n_common * 10000) // (ca.c + cb.c - n_common) AS jaccard_e4,
        |  levenshtein(name_a, name_b)::BIGINT AS edit_distance
        |FROM inter
        |JOIN cnt ca ON ca.norm = name_a
        |JOIN cnt cb ON cb.norm = name_b
        |WHERE (n_common * 10000) // (ca.c + cb.c - n_common) >= 4000
        |  AND levenshtein(name_a, name_b) <= 3""".stripMargin,
    // the verified-pairs CTEs mapped onto 60-bit name ids + the same
    // recursive-CTE closure the dedup_clusters oracle uses
    "part_entities" ->
      """WITH RECURSIVE n AS (
        |  SELECT DISTINCT trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS norm FROM part
        |), v AS (
        |  SELECT norm, ('0x' || substr(md5(norm), 1, 15))::BIGINT AS id FROM n
        |), g0 AS (
        |  SELECT norm,
        |    unnest(list_distinct([substr(norm, i, 3)
        |                          for i in generate_series(1, len(norm) - 2)])) AS gram
        |  FROM n
        |), rare AS (
        |  SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 1000
        |), g AS (
        |  SELECT g0.norm, g0.gram FROM g0 JOIN rare USING (gram)
        |), cnt AS (
        |  SELECT norm, count(*) AS c FROM g GROUP BY 1
        |), inter AS (
        |  SELECT a.norm AS name_a, b.norm AS name_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.norm < b.norm
        |  GROUP BY 1, 2
        |), fp AS (
        |  SELECT name_a, name_b
        |  FROM inter
        |  JOIN cnt ca ON ca.norm = name_a
        |  JOIN cnt cb ON cb.norm = name_b
        |  WHERE (n_common * 10000) // (ca.c + cb.c - n_common) >= 4000
        |    AND levenshtein(name_a, name_b) <= 3
        |), edges AS (
        |  SELECT va.id AS a, vb.id AS b
        |  FROM fp JOIN v va ON va.norm = fp.name_a JOIN v vb ON vb.norm = fp.name_b
        |  UNION
        |  SELECT vb.id, va.id
        |  FROM fp JOIN v va ON va.norm = fp.name_a JOIN v vb ON vb.norm = fp.name_b
        |), reach(x, m) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT reach.x, e.b FROM reach JOIN edges e ON reach.m = e.a
        |), cl AS (
        |  SELECT x AS id, min(m) AS entity_id FROM reach GROUP BY x
        |)
        |SELECT v.norm AS name, cl.entity_id,
        |  (CASE WHEN cl.id = cl.entity_id THEN 1 ELSE 0 END)::BIGINT AS is_canonical,
        |  (count(*) OVER (PARTITION BY cl.entity_id))::BIGINT AS cluster_size
        |FROM cl JOIN v ON v.id = cl.id""".stripMargin,
    // the SNM pass: prefix-block row_number ranks, rank-window self-join
    // for candidates, then the same (uncapped) shingle CTEs score exact
    // integer-e4 Jaccard; counts non-negative → `//` is floor
    "dedup_sorted_neighbor" ->
      s"""$tokCte, k AS (
         |  SELECT doc_id, substr(norm, 1, 24) AS key FROM t
         |), r AS (
         |  SELECT doc_id, key,
         |    row_number() OVER (PARTITION BY substr(key, 1, 2) ORDER BY key, doc_id) AS rk,
         |    substr(key, 1, 2) AS block
         |  FROM k
         |), pr AS (
         |  SELECT least(a.doc_id, b.doc_id) AS doc_id_1,
         |         greatest(a.doc_id, b.doc_id) AS doc_id_2
         |  FROM r a JOIN r b ON a.block = b.block AND b.rk > a.rk AND b.rk <= a.rk + 3
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT doc_id_1, doc_id_2, count(*) AS n_common
         |  FROM pr
         |  JOIN sh sa ON sa.doc_id = doc_id_1
         |  JOIN sh sb ON sb.doc_id = doc_id_2 AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id_1, doc_id_2,
         |       (n_common * 10000) // (ca.n_shingles + cb.n_shingles - n_common) AS jaccard_e4
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = doc_id_1
         |JOIN cnt cb ON cb.doc_id = doc_id_2
         |WHERE (n_common * 10000) // (ca.n_shingles + cb.n_shingles - n_common) >= 3000""".stripMargin,
    // same df-capped posting-list CTEs as the jaccard oracle; all-integer
    // scoring (counts non-negative → truncating `//` is floor)
    "dedup_containment" ->
      s"""$tokCte, rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id_1, doc_id_2,
         |       (n_common * 10000) // ca.n_shingles AS containment_1_e4,
         |       (n_common * 10000) // cb.n_shingles AS containment_2_e4
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = doc_id_1
         |JOIN cnt cb ON cb.doc_id = doc_id_2
         |WHERE greatest((n_common * 10000) // ca.n_shingles,
         |               (n_common * 10000) // cb.n_shingles) >= 5000""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""$tokCte, h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |)
         |SELECT doc_id_1, doc_id_2,
         |       round(len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                             x -> x))::DOUBLE / $NumPerms, 4) AS est_jaccard
         |FROM cand
         |WHERE round(len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                            x -> x))::DOUBLE / $NumPerms, 4) >= $EstThreshold""".stripMargin,
    // the dedup_minhash_lsh CTEs with the self-join replaced by the
    // cross-corpus probe: batch-1 (new) bands join batch-0 (old) bands,
    // no doc-id inequality
    "dedup_ledger" ->
      s"""$tokCte, bt AS (
         |  SELECT doc_id, ${h60("'batch:' || doc_id")} % 2 AS b FROM documents
         |), h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_new, o.doc_id AS doc_id_old,
         |         a.sig AS sig1, o.sig AS sig2
         |  FROM bands a JOIN bt ba ON ba.doc_id = a.doc_id AND ba.b = 1
         |       JOIN bands o ON a.band = o.band AND a.bucket = o.bucket
         |       JOIN bt bo ON bo.doc_id = o.doc_id AND bo.b = 0
         |)
         |SELECT doc_id_new, doc_id_old,
         |       round(len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                             x -> x))::DOUBLE / $NumPerms, 4) AS est_jaccard
         |FROM cand
         |WHERE round(len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                            x -> x))::DOUBLE / $NumPerms, 4) >= $EstThreshold""".stripMargin,
    // the dedup_ledger banding at nBatches=4, then per batch the owned
    // partition stats and the `batch < id` probe view (LEFT non-equi join
    // against the 4-row id table so batch 0's probe reads zeros)
    "tbl_ledger_stats" ->
      s"""$tokCte, bt AS (
         |  SELECT doc_id, ${h60("'batch:' || doc_id")} % 4 AS b FROM documents
         |), h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), bb2 AS (
         |  SELECT bands.doc_id, bands.band, bands.bucket, bt.b
         |  FROM bands JOIN bt USING (doc_id)
         |), own AS (
         |  SELECT b AS batch, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |    count(*)::BIGINT AS n_rows,
         |    count(DISTINCT band || ':' || bucket)::BIGINT AS n_buckets
         |  FROM bb2 GROUP BY 1
         |), probed AS (
         |  SELECT r.batch, bb2.doc_id, bb2.band, bb2.bucket, bb2.b
         |  FROM range(0, 4) r(batch) LEFT JOIN bb2 ON bb2.b < r.batch
         |), pagg AS (
         |  SELECT batch, count(doc_id)::BIGINT AS probe_rows,
         |    count(DISTINCT b)::BIGINT AS n_partitions_probed
         |  FROM probed GROUP BY 1
         |), pbk AS (
         |  SELECT batch, max(bk)::BIGINT AS probe_bucket_max FROM (
         |    SELECT batch, band, bucket, count(*)::BIGINT AS bk
         |    FROM probed WHERE doc_id IS NOT NULL GROUP BY 1, 2, 3
         |  ) GROUP BY 1
         |)
         |SELECT o.batch, o.n_docs, o.n_rows, o.n_buckets,
         |  pagg.n_partitions_probed, pagg.probe_rows,
         |  coalesce(pbk.probe_bucket_max, 0)::BIGINT AS probe_bucket_max
         |FROM own o
         |JOIN pagg ON pagg.batch = o.batch
         |LEFT JOIN pbk ON pbk.batch = o.batch""".stripMargin,
    "dedup_simhash" -> s"$simhashCte\nSELECT doc_id, simhash FROM sigs",
    // est_e4 = 625·(matching permutations) — exact (k/16 is a binary
    // fraction); exact side = un-capped shingle jaccard on candidates only
    "dedup_minhash_quality" ->
      s"""$tokCte, h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT doc_id_1, doc_id_2,
         |    len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                    x -> x))::BIGINT * 625 AS est_e4
         |  FROM cand
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT mh.doc_id_1, mh.doc_id_2, mh.est_e4,
         |  ((coalesce(c, 0) * 10000) // (ca.n + cb.n - coalesce(c, 0)))::BIGINT AS exact_e4,
         |  (mh.est_e4 - (coalesce(c, 0) * 10000) // (ca.n + cb.n - coalesce(c, 0)))::BIGINT AS err_e4
         |FROM mh
         |LEFT JOIN inter ON d1 = doc_id_1 AND d2 = doc_id_2
         |JOIN cnt ca ON ca.doc_id = doc_id_1
         |JOIN cnt cb ON cb.doc_id = doc_id_2
         |WHERE mh.est_e4 >= ${(EstThreshold * 10000).toLong}""".stripMargin,
    // the dedup_minhash_quality candidate/estimate CTEs (ungated) full-
    // outer-joined against the df-capped exact pair table at truth θ =
    // 5000, swept over the |thresholds| grid with count FILTER (BIGINT,
    // never a HUGEINT sum) and zero-filled arms like dedup_threshold_sweep
    "dedup_lsh_pr_curve" ->
      s"""$tokCte, h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT doc_id_1, doc_id_2,
         |    len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                    x -> x))::BIGINT * 625 AS est_e4
         |  FROM cand
         |), rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), truth AS (
         |  SELECT doc_id_1, doc_id_2, 1 AS tt
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = doc_id_1
         |  JOIN cnt cb ON cb.doc_id = doc_id_2
         |  WHERE (n_common * 10000) // (ca.n_shingles + cb.n_shingles - n_common) >= 5000
         |), j AS (
         |  SELECT coalesce(mh.est_e4, -1) AS est_e4, coalesce(t.tt, 0) AS is_true
         |  FROM mh FULL JOIN truth t USING (doc_id_1, doc_id_2)
         |), th AS (
         |  SELECT unnest([2500, 3750, 5000, 6250, 7500, 8750])::BIGINT AS theta_e4
         |), a AS (
         |  SELECT th.theta_e4,
         |    count(*) FILTER (WHERE j.est_e4 >= th.theta_e4 AND j.is_true = 1)::BIGINT AS tp,
         |    count(*) FILTER (WHERE j.est_e4 >= th.theta_e4 AND j.is_true = 0)::BIGINT AS fp,
         |    count(*) FILTER (WHERE j.est_e4 < th.theta_e4 AND j.is_true = 1)::BIGINT AS fn
         |  FROM th CROSS JOIN j GROUP BY 1
         |)
         |SELECT th.theta_e4,
         |  coalesce(a.tp, 0)::BIGINT AS tp,
         |  coalesce(a.fp, 0)::BIGINT AS fp,
         |  coalesce(a.fn, 0)::BIGINT AS fn,
         |  (CASE WHEN coalesce(a.tp, 0) + coalesce(a.fp, 0) > 0
         |    THEN (coalesce(a.tp, 0) * 10000) // (coalesce(a.tp, 0) + coalesce(a.fp, 0))
         |    END)::BIGINT AS precision_e4,
         |  (CASE WHEN coalesce(a.tp, 0) + coalesce(a.fn, 0) > 0
         |    THEN (coalesce(a.tp, 0) * 10000) // (coalesce(a.tp, 0) + coalesce(a.fn, 0))
         |    END)::BIGINT AS recall_e4
         |FROM th LEFT JOIN a USING (theta_e4)
         |ORDER BY theta_e4""".stripMargin,
    // the pr_curve signature/truth CTEs, banding parametrized by the
    // 5-row config table; oversized buckets dropped whole via QUALIFY
    // (the basket family's group-size cap); thresholds are shared literals
    "dedup_lsh_band_design" ->
      s"""$tokCte, h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), cfg AS (
         |  SELECT * FROM (VALUES (16::BIGINT, 1::BIGINT, 625::BIGINT),
         |    (8, 2, 3536), (4, 4, 7071), (2, 8, 9170), (1, 16, 10000))
         |    t(bands, rows_per_band, threshold_e4)
         |), bands AS (
         |  SELECT cfg.bands, cfg.rows_per_band, sig.doc_id, bb.band,
         |    md5(array_to_string(
         |      sig.sig[(bb.band * cfg.rows_per_band + 1)::INT :
         |              (bb.band * cfg.rows_per_band + cfg.rows_per_band)::INT], ',')) AS bucket
         |  FROM sig
         |  CROSS JOIN cfg
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, (cfg.bands - 1)::INT)) AS band) bb
         |  QUALIFY count(*) OVER (PARTITION BY cfg.bands, cfg.rows_per_band, bb.band,
         |    md5(array_to_string(
         |      sig.sig[(bb.band * cfg.rows_per_band + 1)::INT :
         |              (bb.band * cfg.rows_per_band + cfg.rows_per_band)::INT], ','))) <= 1000
         |), cand AS (
         |  SELECT DISTINCT a.bands, a.rows_per_band,
         |    a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
         |  FROM bands a JOIN bands b
         |    ON a.bands = b.bands AND a.rows_per_band = b.rows_per_band
         |    AND a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n_shingles FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), truth AS MATERIALIZED (
         |  SELECT doc_id_1, doc_id_2
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = doc_id_1
         |  JOIN cnt cb ON cb.doc_id = doc_id_2
         |  WHERE (n_common * 10000) // (ca.n_shingles + cb.n_shingles - n_common) >= 5000
         |), nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
         |agg AS (
         |  SELECT cand.bands, cand.rows_per_band,
         |    count(*)::BIGINT AS n_candidates,
         |    count(truth.doc_id_1)::BIGINT AS tp
         |  FROM cand LEFT JOIN truth USING (doc_id_1, doc_id_2)
         |  GROUP BY 1, 2
         |)
         |SELECT cfg.bands, cfg.rows_per_band, cfg.threshold_e4,
         |  coalesce(agg.n_candidates, 0)::BIGINT AS n_candidates,
         |  coalesce(agg.tp, 0)::BIGINT AS tp,
         |  (coalesce(agg.n_candidates, 0) - coalesce(agg.tp, 0))::BIGINT AS fp,
         |  (nt.n_truth - coalesce(agg.tp, 0))::BIGINT AS fn,
         |  (CASE WHEN coalesce(agg.n_candidates, 0) > 0
         |    THEN (coalesce(agg.tp, 0) * 10000) // agg.n_candidates END)::BIGINT
         |    AS precision_e4,
         |  (CASE WHEN nt.n_truth > 0
         |    THEN (coalesce(agg.tp, 0) * 10000) // nt.n_truth END)::BIGINT AS recall_e4
         |FROM cfg
         |LEFT JOIN agg ON agg.bands = cfg.bands AND agg.rows_per_band = cfg.rows_per_band
         |CROSS JOIN nt
         |ORDER BY cfg.bands DESC""".stripMargin,
    // clone = last token dropped; LSH pair set rebuilt over the union
    "dedup_recall_harness" ->
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, toks FROM t0
         |  UNION ALL
         |  SELECT doc_id + 1000000, toks[1:len(toks)-1] FROM t0 WHERE len(toks) >= 4
         |), sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                          for i in generate_series(1, len(toks) - 2)])) AS shingle
         |  FROM u
         |), h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT doc_id_1, doc_id_2, 1 AS hit FROM cand
         |  WHERE len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                        x -> x)) * 625 >= ${(EstThreshold * 10000).toLong}
         |), planted AS (
         |  SELECT doc_id AS doc_id_1, doc_id + 1000000 AS doc_id_2
         |  FROM t0 WHERE len(toks) >= 4
         |)
         |SELECT count(*) AS n_planted, count(hit) AS n_found,
         |  CASE WHEN count(*) > 0 THEN (count(hit) * 10000) // count(*) END AS recall_e4
         |FROM planted LEFT JOIN mh USING (doc_id_1, doc_id_2)""".stripMargin,
    // all three pair sets rebuilt on simhashCte's token table, then the
    // 3×3 agreement join keyed by the pair itself
    "dedup_method_agreement" ->
      s"""$simhashCte, sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                          for i in generate_series(1, len(toks) - 2)])) AS shingle
         |  FROM t
         |), h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT doc_id_1, doc_id_2 FROM cand
         |  WHERE len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                        x -> x)) * 625 >= ${(EstThreshold * 10000).toLong}
         |), shp AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), ng AS (
         |  SELECT doc_id_1, doc_id_2
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = doc_id_1
         |  JOIN cnt cb ON cb.doc_id = doc_id_2
         |  WHERE round(c::DOUBLE / (ca.n + cb.n - c), 4) >= $JaccardThreshold
         |), tagged AS (
         |  SELECT 'minhash' AS method, doc_id_1, doc_id_2 FROM mh
         |  UNION ALL SELECT 'simhash', doc_id_1, doc_id_2 FROM shp
         |  UNION ALL SELECT 'ngram', doc_id_1, doc_id_2 FROM ng
         |)
         |SELECT a.method AS method_a, b.method AS method_b, count(*) AS n_pairs
         |FROM tagged a JOIN tagged b
         |  ON a.doc_id_1 = b.doc_id_1 AND a.doc_id_2 = b.doc_id_2
         |GROUP BY 1, 2""".stripMargin,
    // the method_agreement pair CTEs + per-pair vote counts, joined to
    // the 3-row voting-rule table with zero-filled arms
    "dedup_ensemble" ->
      s"""$simhashCte, sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                          for i in generate_series(1, len(toks) - 2)])) AS shingle
         |  FROM t
         |), h AS (
         |  SELECT doc_id, p.perm AS perm, min(${h60("p.perm || ':' || shingle")}) AS v
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS perm) p
         |  GROUP BY doc_id, p.perm
         |), sig AS (
         |  SELECT doc_id, list(v ORDER BY perm) AS sig FROM h GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, sig, bb.band AS band,
         |         md5(array_to_string(sig[bb.band*$BandRows+1 : bb.band*$BandRows+$BandRows], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumPerms / BandRows - 1})) AS band) bb
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |         a.sig AS sig1, b.sig AS sig2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT doc_id_1, doc_id_2 FROM cand
         |  WHERE len(list_filter([sig1[i] = sig2[i] for i in generate_series(1, $NumPerms)],
         |                        x -> x)) * 625 >= ${(EstThreshold * 10000).toLong}
         |), shp AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), rare AS (
         |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $MaxShingleDf
         |), shf AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         |), cnt AS (
         |  SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), ng AS (
         |  SELECT doc_id_1, doc_id_2
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = doc_id_1
         |  JOIN cnt cb ON cb.doc_id = doc_id_2
         |  WHERE round(c::DOUBLE / (ca.n + cb.n - c), 4) >= $JaccardThreshold
         |), tagged AS (
         |  SELECT 'minhash' AS method, doc_id_1, doc_id_2 FROM mh
         |  UNION ALL SELECT 'simhash', doc_id_1, doc_id_2 FROM shp
         |  UNION ALL SELECT 'ngram', doc_id_1, doc_id_2 FROM ng
         |), votes AS (
         |  SELECT doc_id_1, doc_id_2, count(DISTINCT method) AS v
         |  FROM tagged GROUP BY 1, 2
         |), modes AS (
         |  SELECT * FROM (VALUES ('union', 1), ('majority', 2), ('intersection', 3))
         |    m(mode, min_votes)
         |), surv AS (
         |  SELECT m.mode, m.min_votes, v.doc_id_1, v.doc_id_2
         |  FROM votes v JOIN modes m ON v.v >= m.min_votes
         |), np AS (
         |  SELECT mode, min_votes, count(*)::BIGINT AS n_pairs FROM surv GROUP BY 1, 2
         |), nd AS (
         |  SELECT mode, min_votes, count(DISTINCT id)::BIGINT AS n_docs FROM (
         |    SELECT mode, min_votes, doc_id_1 AS id FROM surv
         |    UNION ALL SELECT mode, min_votes, doc_id_2 FROM surv
         |  ) GROUP BY 1, 2
         |), dr AS (
         |  SELECT mode, min_votes, count(DISTINCT doc_id_2)::BIGINT AS n_drop_candidates
         |  FROM surv GROUP BY 1, 2
         |)
         |SELECT m.mode, m.min_votes::BIGINT AS min_votes,
         |  coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
         |  coalesce(nd.n_docs, 0)::BIGINT AS n_docs,
         |  coalesce(dr.n_drop_candidates, 0)::BIGINT AS n_drop_candidates
         |FROM modes m
         |LEFT JOIN np USING (mode, min_votes)
         |LEFT JOIN nd USING (mode, min_votes)
         |LEFT JOIN dr USING (mode, min_votes)
         |ORDER BY min_votes""".stripMargin,
    // connected components as a transitive-closure recursive CTE — exact
    // but O(Σ|component|²) rows, fine as a small-scale oracle for the
    // iterative min-propagation the Spark side runs
    "dedup_clusters" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
         |), cl AS (
         |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
         |)
         |SELECT doc_id, cluster_id,
         |  (CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)::BIGINT AS is_canonical,
         |  (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size
         |FROM cl""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
         |), cl AS (
         |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
         |), sizes AS (
         |  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  sum(cluster_size)::BIGINT AS n_docs
         |FROM sizes GROUP BY 1""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""$simhashCte
         |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // the dedup_clusters closure + per-doc token lengths and source,
    // rolled up to 1/cluster_size expectation weights (exact e4 floors)
    "dedup_sample_weights" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
         |), cl AS (
         |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
         |), w AS (
         |  SELECT cl.doc_id, d.source, len(t.toks)::BIGINT AS n_toks,
         |    (count(*) OVER (PARTITION BY cl.cluster_id))::BIGINT AS csz
         |  FROM cl JOIN t USING (doc_id) JOIN documents d USING (doc_id)
         |)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  count(CASE WHEN csz > 1 THEN 1 END)::BIGINT AS n_dup_docs,
         |  sum(n_toks)::BIGINT AS raw_tokens,
         |  sum(10000 // csz)::BIGINT AS eff_docs_e4,
         |  sum((n_toks * 10000) // csz)::BIGINT AS eff_tokens_e4
         |FROM w GROUP BY 1""".stripMargin,
    // the full chain: the dedup_clusters closure + the txt_winnow_leakage
    // fingerprint/split CTEs + contaminated-train drop + 1/cluster_size
    // weights + the txt_pack_sequences cumulative window over survivors
    "dedup_corpus_build" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
         |), cl AS (
         |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
         |), nrm AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    [${h60("substr(norm, i, 4)")}
         |     for i in generate_series(1, length(norm) - 3)] AS h
         |  FROM nrm WHERE length(norm) >= 7
         |), sel AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([list_min(h[i:i+3])
         |                          for i in generate_series(1, len(h) - 3)])) AS fp
         |  FROM f
         |), sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |), testfp AS (
         |  SELECT DISTINCT fp FROM sel JOIN sp USING (doc_id) WHERE split = 'test'
         |), trainvocab AS (
         |  SELECT fp FROM sel JOIN sp USING (doc_id)
         |  WHERE split = 'train' GROUP BY fp HAVING count(*) <= 50
         |), contam AS (
         |  SELECT DISTINCT s.doc_id FROM sel s
         |  JOIN sp USING (doc_id)
         |  JOIN testfp USING (fp)
         |  JOIN trainvocab USING (fp)
         |  WHERE sp.split = 'train'
         |), base AS (
         |  SELECT d.doc_id, d.source, sp.split, len(t.toks)::BIGINT AS n_toks,
         |    (count(*) OVER (PARTITION BY cl.cluster_id))::BIGINT AS csz,
         |    (c.doc_id IS NULL) AS kept
         |  FROM documents d
         |  JOIN t USING (doc_id)
         |  JOIN sp USING (doc_id)
         |  JOIN cl USING (doc_id)
         |  LEFT JOIN contam c ON c.doc_id = d.doc_id
         |), pk AS (
         |  SELECT doc_id,
         |    coalesce(sum(n_toks) OVER (
         |      PARTITION BY split ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS pack_id
         |  FROM base WHERE kept
         |)
         |SELECT source, split,
         |  count(*) FILTER (WHERE kept)::BIGINT AS n_docs_kept,
         |  count(*) FILTER (WHERE NOT kept)::BIGINT AS n_contam_dropped,
         |  coalesce(sum(n_toks) FILTER (WHERE kept), 0)::BIGINT AS raw_tokens,
         |  coalesce(sum((n_toks * 10000) // csz) FILTER (WHERE kept), 0)::BIGINT AS eff_tokens_e4,
         |  count(DISTINCT pk.pack_id)::BIGINT AS n_packs_touched
         |FROM base LEFT JOIN pk USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    // the dedup_clusters closure + token lengths from the shared t CTE;
    // canonical ≡ doc_id = cluster_id (the component min)
    "dedup_impact" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
         |), reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
         |), cl AS (
         |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
         |), tk AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n_toks FROM t
         |), j AS (
         |  SELECT cl.doc_id, cl.cluster_id, tk.n_toks FROM cl JOIN tk USING (doc_id)
         |), agg AS (
         |  SELECT count(*)::BIGINT AS n_docs,
         |    count(CASE WHEN doc_id = cluster_id THEN 1 END)::BIGINT AS n_kept_docs,
         |    sum(n_toks)::BIGINT AS n_tokens,
         |    sum(CASE WHEN doc_id = cluster_id THEN n_toks END)::BIGINT AS n_kept_tokens
         |  FROM j
         |)
         |SELECT n_docs, n_kept_docs, n_tokens, n_kept_tokens,
         |  ((n_tokens - n_kept_tokens) * 10000) // n_tokens AS token_savings_e4
         |FROM agg""".stripMargin,
    // the simhash-pairs oracle rolled up by unordered source pair
    "dedup_source_matrix" ->
      s"""$simhashCte, pr AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_dup_pairs
         |FROM pr
         |JOIN documents da ON da.doc_id = pr.d1
         |JOIN documents db ON db.doc_id = pr.d2
         |GROUP BY 1, 2""".stripMargin,
    // the simhash-pairs oracle rolled up by unordered SPLIT pair (the
    // txt_split_assign md5 bucketing), leak = the splits differ
    "dedup_split_leakage" ->
      s"""$simhashCte, pr AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents
         |)
         |SELECT least(sa.split, sb.split) AS split_1,
         |       greatest(sa.split, sb.split) AS split_2,
         |       count(*) AS n_pairs,
         |       (CASE WHEN least(sa.split, sb.split) <> greatest(sa.split, sb.split)
         |             THEN 1 ELSE 0 END)::BIGINT AS leak
         |FROM pr
         |JOIN sp sa ON sa.doc_id = pr.d1
         |JOIN sp sb ON sb.doc_id = pr.d2
         |GROUP BY 1, 2""".stripMargin,
    "dedup_embedding" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv,
         |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |)
         |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         |  round(list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, len(a.qv))])::BIGINT::DOUBLE
         |        / (sqrt(a.norm2::DOUBLE) * sqrt(b.norm2::DOUBLE)), 6) AS cosine
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE round(list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, len(a.qv))])::BIGINT::DOUBLE
         |            / (sqrt(a.norm2::DOUBLE) * sqrt(b.norm2::DOUBLE)), 6) >= $CosineThreshold""".stripMargin,
    // SemDeDup: the dedup_embedding scoring restricted to label cells
    // (QUALIFY ≡ the Spark-side maxCellSize cap), keep-first removal,
    // per-cell ledger
    "dedup_semantic" ->
      s"""WITH q AS (
         |  SELECT vec_id, label::BIGINT AS label,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, label, qv,
         |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |  QUALIFY count(*) OVER (PARTITION BY label) <= 1000
         |), r AS (
         |  SELECT DISTINCT b.label, b.vec_id
         |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, len(a.qv))])::BIGINT::DOUBLE
         |              / (sqrt(a.norm2::DOUBLE) * sqrt(b.norm2::DOUBLE)), 6)
         |        >= $CosineThreshold
         |), c AS (SELECT label, count(*)::BIGINT AS n_vecs FROM n GROUP BY 1),
         |rc AS (SELECT label, count(*)::BIGINT AS n_removed FROM r GROUP BY 1)
         |SELECT c.label, n_vecs,
         |  coalesce(n_removed, 0)::BIGINT AS n_removed,
         |  (n_vecs - coalesce(n_removed, 0))::BIGINT AS n_kept
         |FROM c LEFT JOIN rc USING (label)""".stripMargin,
    // the dedup_semantic cell/pair CTEs with the cosine kept as a column,
    // fanned out to the θ ladder; keep-lowest removal per θ
    "dedup_semantic_sweep" ->
      """WITH q AS (
        |  SELECT vec_id, label::BIGINT AS label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, qv,
        |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
        |  FROM q
        |  QUALIFY count(*) OVER (PARTITION BY label) <= 1000
        |), p AS (
        |  SELECT b.vec_id AS vb,
        |    round(list_sum([a.qv[i] * b.qv[i] for i in generate_series(1, len(a.qv))])::BIGINT::DOUBLE
        |          / (sqrt(a.norm2::DOUBLE) * sqrt(b.norm2::DOUBLE)), 6) AS cos
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |), t AS (
        |  SELECT unnest([30, 40, 50, 60, 70])::BIGINT AS theta_e2
        |), hit AS (
        |  SELECT t.theta_e2, p.vb FROM p CROSS JOIN t
        |  WHERE p.cos >= t.theta_e2::DOUBLE / 100.0
        |), np AS (
        |  SELECT theta_e2, count(*)::BIGINT AS n_pairs FROM hit GROUP BY 1
        |), nr AS (
        |  SELECT theta_e2, count(DISTINCT vb)::BIGINT AS n_removed FROM hit GROUP BY 1
        |), tot AS (
        |  SELECT count(*)::BIGINT AS nn FROM n
        |)
        |SELECT t.theta_e2,
        |  coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
        |  coalesce(nr.n_removed, 0)::BIGINT AS n_removed,
        |  (tot.nn - coalesce(nr.n_removed, 0))::BIGINT AS n_kept,
        |  (((tot.nn - coalesce(nr.n_removed, 0)) * 10000) // tot.nn)::BIGINT AS keep_rate_e4
        |FROM t LEFT JOIN np USING (theta_e2) LEFT JOIN nr USING (theta_e2) CROSS JOIN tot""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
         |  FROM embeddings
         |), n AS (
         |  SELECT vec_id, qv,
         |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS norm2
         |  FROM q
         |), planes AS (
         |  SELECT pp.p AS p,
         |    list(((('0x' || substr(md5('plane:' || pp.p || ':' || ii.i), 1, 15))::BIGINT % 2001) - 1000)
         |         ORDER BY ii.i) AS pv
         |  FROM (SELECT unnest(generate_series(0, ${LshTables * LshBitsPerTable - 1})) AS p) pp
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) ii
         |  GROUP BY pp.p
         |), bucketed AS (
         |  SELECT n.vec_id, tt.t AS tbl,
         |    sum(CASE WHEN list_sum([n.qv[i] * pl.pv[i] for i in generate_series(1, 64)]) > 0
         |             THEN (1::BIGINT << bb.b) ELSE 0 END) AS bucket
         |  FROM n
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t) tt
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${LshBitsPerTable - 1})) AS b) bb
         |  JOIN planes pl ON pl.p = tt.t * $LshBitsPerTable + bb.b
         |  GROUP BY n.vec_id, tt.t
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
         |  FROM bucketed a JOIN bucketed b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT vec_id_1, vec_id_2,
         |  round(list_sum([qa.qv[i] * qb.qv[i] for i in generate_series(1, len(qa.qv))])::BIGINT::DOUBLE
         |        / (sqrt(qa.norm2::DOUBLE) * sqrt(qb.norm2::DOUBLE)), 6) AS cosine
         |FROM cand
         |JOIN n qa ON qa.vec_id = vec_id_1
         |JOIN n qb ON qb.vec_id = vec_id_2
         |WHERE round(list_sum([qa.qv[i] * qb.qv[i] for i in generate_series(1, len(qa.qv))])::BIGINT::DOUBLE
         |            / (sqrt(qa.norm2::DOUBLE) * sqrt(qb.norm2::DOUBLE)), 6) >= $CosineThreshold""".stripMargin,
  )
}
