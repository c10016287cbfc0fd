package graft.ops

import graft.Cols.dec38
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping techniques a 100 TB deployment
  * leans on beyond what AQE does automatically.
  *
  * - [[saltedAggregate]]: two-phase aggregation for hot grouping keys.
  *   AQE's skew handling splits skewed *join* partitions, but a skewed
  *   *aggregation* key still funnels one reducer; salting fans the hot key
  *   across `saltFactor` partial groups and re-combines. Works for any
  *   algebraic aggregate (sum/count/min/max).
  * - [[saltedJoin]]: replicate the small side per salt so a skewed big-side
  *   join key spreads over `saltFactor` tasks (classic hot-row fix when
  *   broadcast isn't possible).
  * - Bucketing (demonstrated in ScaleSpec): co-located storage for
  *   repeated equi-joins on the same key — both sides bucketed by the join
  *   key read shuffle-free (`write.bucketBy(n, key).sortBy(key)`).
  */
object Scale {

  /** Deterministic salt in [0, saltFactor): hash of the row's full key
    * list, so reruns salt identically (no rand() — results must replay).
    */
  def salt(saltFactor: Int, cols: Column*): Column =
    pmod(hash(cols: _*), lit(saltFactor))

  /** Two-phase (salted) count + sum over a possibly-skewed grouping key.
    *
    * Phase 1 groups by (key, salt) — a hot key's rows split across
    * saltFactor partial groups on different reducers; phase 2 combines
    * partials by key. Result is identical to a plain
    * `groupBy(key).agg(count, sum(valueCol))` (both are distributive);
    * only the shuffle shape changes.
    */
  def saltedCountSum(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      saltFactor: Int): DataFrame =
    df
      .withColumn("__salt", salt(saltFactor, df.columns.map(col).toSeq: _*))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_value"))

  /** Key-skew diagnostic: the one-row report that answers "should this key
    * be salted / is this join AQE-skew territory" BEFORE a job ships —
    * total rows, distinct keys, the hottest key's row count, its share in
    * exact ppm, and the p99 per-key count as the EXACT rank statistic
    * (the count at rank ceil(0.99·n_keys) in ascending order) — all
    * integer, so the report hashes identically on any engine; an
    * interpolated `percentile()` double would not. One hash aggregate to
    * |keys| rows, then a rank pass via
    * [[graft.ops.Sharded.rankAndPrefix]] — range-sharded so even a
    * billion-key table never sorts through one window partition — and
    * two 1-row broadcast joins.
    */
  def keySkew(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("__c"))
    val stats = counts.agg(
      sum(col("__c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("__c")).as("max_key_rows"))
    // rank statistic over the |keys|-row count table, distributed: the
    // rank VALUE at the target is identical for any tie order, and the
    // key tiebreak keeps the shard sort total
    val ranked = graft.ops.Sharded
      .rankAndPrefix(counts, Seq(col("__c"), col(key)), lit(0L))
      .select(col("__c").as("p99_key_rows"), col("__i").as("__rn"))
    val target = stats.select(
      graft.Cols.floorDiv(col("n_keys") * 99L + 99L, lit(100L)).as("__target"))
    val p99 = ranked
      .join(broadcast(target), col("__rn") === col("__target"))
      .select(col("p99_key_rows"))
    stats
      .crossJoin(broadcast(p99))
      .select(
        col("n_rows"), col("n_keys"), col("max_key_rows"),
        graft.Cols.floorDiv(col("max_key_rows") * 1000000L, col("n_rows")).as("top_share_ppm"),
        col("p99_key_rows"))
  }

  /** Zone map over a bucketed layout: per bucket (the deterministic
    * engine-stable `hash60(key) mod nBuckets` — the same bucketing the
    * partitioned writers use), the row count, distinct keys, and the
    * min/max of a sort column in epoch millis. This is the table a
    * planner prunes with: a probe for `[t1, t2]` scans only buckets whose
    * `[min_ts_ms, max_ts_ms]` envelope intersects it, and a point lookup
    * for one key reads exactly one bucket. At 100 TB the map is a few KB
    * per directory while the data it spares is the whole point —
    * file-level min/max is what parquet row-group stats give a single
    * file; this is the directory-level equivalent the engine owns.
    *
    * One hash aggregate to |buckets| rows, map-side combined.
    */
  def zoneMap(df: DataFrame, key: String, tsMsCol: String, nBuckets: Int = 16): DataFrame =
    df
      .select(
        pmod(graft.Cols.hash60(col(key)), lit(nBuckets.toLong)).as("bucket"),
        col(key), col(tsMsCol).as("__ts_ms"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col(key)).as("n_keys"),
        min(col("__ts_ms")).as("min_ts_ms"),
        max(col("__ts_ms")).as("max_ts_ms"))

  /** Bloom-filter design advisor over the [[zoneMap]] bucketing: per
    * bucket, the exact key NDV and the filter a writer should attach to
    * that directory for a 1 % point-lookup false-positive target —
    * `m_bits = ceil(n · (−ln 0.01 / ln² 2))` and the optimal hash count
    * `k = round((m/n) · ln 2)` (≈ 7 at 1 %). This is the sizing table
    * behind `ev_bloom_semi_join`'s runtime filter: build cost and bytes
    * per directory, decided from measured NDV instead of a guessed row
    * count (a filter sized on rows over-allocates ~linearly with the
    * key-duplication factor).
    *
    * All arithmetic is integer: the two transcendental constants are the
    * fixed e6 literals `BitsPerKeyE6 = round(−ln(0.01)/ln²2 · 1e6)` and
    * `Ln2E6 = round(ln 2 · 1e6)`, identical in the oracle. The n·bpk and
    * m·1e6 products widen to decimal(38,0) (HUGEINT in the oracle) —
    * they'd wrap int64 near 1e12 keys per bucket — and the reduced e6
    * ratio keeps the k computation itself in longs.
    *
    * One hash aggregate to |buckets| rows, map-side combined — the NDV is
    * exact (count_distinct), which is affordable because it shares the
    * bucket shuffle with the zone map itself.
    */
  def bloomDesign(df: DataFrame, key: String, nBuckets: Int = 16): DataFrame = {
    val BitsPerKeyE6 = 9585058L // round(-ln(0.01) / ln²(2) · 1e6)
    val Ln2E6 = 693147L // round(ln(2) · 1e6)
    df
      .select(pmod(graft.Cols.hash60(col(key)), lit(nBuckets.toLong)).as("bucket"), col(key))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col(key)).as("n_keys"))
      // m = ceil(n · bpk): floorDiv(n·bpk + (1e6−1), 1e6) — the products
      // n·bpk and m·1e6 pass 2⁶³ near 1e12 keys, so they widen to
      // decimal(38,0) (the welchScreen discipline); m_bits itself
      // (~9.6 bits/key) fits a long to ~9.6e17 keys
      .withColumn(
        "m_bits",
        graft.Cols.floorDiv(
          dec38(col("n_keys")) * BitsPerKeyE6 + 999999L,
          dec38(lit(1000000L))).cast("long"))
      // k = round((m/n)·ln2), via the reduced e6 ratio r = floor(m·1e6/n)
      .withColumn(
        "__r_e6",
        graft.Cols.floorDiv(
          dec38(col("m_bits")) * 1000000L,
          dec38(col("n_keys"))).cast("long"))
      .withColumn(
        "k_hashes",
        graft.Cols.floorDiv(
          graft.Cols.floorDiv(col("__r_e6") * Ln2E6, 1000000L) + 500000L, 1000000L))
      .withColumn("n_bytes", graft.Cols.floorDiv(col("m_bits") + 7L, 8L))
      .select(
        col("bucket"), col("n_rows"), col("n_keys"),
        col("m_bits"), col("k_hashes"), col("n_bytes"))
  }

  /** k-anonymity audit over a set of quasi-identifier columns: every
    * combination cell with its row count and a suppress flag for cells
    * below `k` — the small-cell report a privacy review runs before a
    * table (or an aggregate export) leaves the fence, and the partner of
    * the row-level PII scrub ([[graft.text.TextAnalysis.piiScrub]]): that
    * one masks direct identifiers, this one bounds re-identification by
    * the indirect ones.
    *
    * One hash aggregate to |cells| rows; the flag is a plain column so
    * downstream can either drop flagged cells or coarsen the grid.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long = 8L): DataFrame =
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .select(quasiIds.map(col) :+ col("n_rows") :+
        when(col("n_rows") < k, lit(1L)).otherwise(lit(0L)).as("suppress"): _*)

  /** Differential-privacy release planner over the quasi-identifier grid
    * — the budgeting table a privacy review reads BEFORE noising a
    * release (the DP partner of the [[kAnonymity]]/[[lDiversity]]
    * audits, which govern the un-noised path). The planned workload is
    * the three count marginals of the (nation, segment) grid — by
    * nation, by segment, and the full cross — released under SEQUENTIAL
    * composition: each gets ε/releases. Per release: cell count, the
    * smallest/largest true count, the Laplace scale `b = Δf/ε_i` (count
    * queries, sensitivity 1 — b is also the expected |noise|), and the
    * worst-case relative error `b / min_cell` — the number that says
    * which marginal survives noising and which drowns (small cells at
    * ε/3 read pure noise, exactly the cells k-anonymity flags).
    *
    * No randomness here — the plan is deterministic arithmetic over
    * exact counts (actual noising happens at release time, outside the
    * engine); ε arithmetic is integer e6/e4 with driver-side literal
    * division.
    *
    * Scale: one hash aggregate to the |cells| grid; each marginal is a
    * re-aggregate of THAT table (exchange-shared, the coOccurrence
    * multi-consumer posture); readouts are 1-row aggregates unioned.
    */
  def dpBudgetPlan(
      customer: DataFrame, epsilonE6: Long = 1000000L, releases: Long = 3L): DataFrame = {
    require(releases > 0 && epsilonE6 > 0)
    val epsShareE6 = epsilonE6 / releases
    val noiseBE4 = 10000000000L / epsShareE6 // b·1e4 = 1e6·1e4 / εᵢ_e6
    val cells = customer
      .groupBy(
        col("c_nationkey").cast("long").as("nation"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
    def arm(name: String, m: DataFrame): DataFrame =
      m.agg(
        count(lit(1)).as("n_cells"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"))
        .select(
          lit(name).as("release"), col("n_cells"), col("min_cell"), col("max_cell"),
          lit(epsShareE6).as("eps_share_e6"),
          lit(noiseBE4).as("noise_b_e4"),
          graft.Cols.floorDiv(lit(noiseBE4), col("min_cell")).as("worst_rel_err_e4"))
    arm("by_nation", cells.groupBy(col("nation")).agg(sum(col("n")).as("n")))
      .unionAll(arm("by_segment", cells.groupBy(col("segment")).agg(sum(col("n")).as("n"))))
      .unionAll(arm("full_cross", cells))
  }

  /** l-diversity audit — [[kAnonymity]]'s partner check: a cell can be
    * large (k-anonymous) yet still leak if every row in it shares one
    * sensitive value, so each quasi-identifier cell also reports the
    * number of DISTINCT sensitive values and a flag for cells below `l`.
    * Releasing a k-anonymous, non-diverse table lets an attacker learn
    * the sensitive attribute without re-identifying anyone — this is the
    * audit that catches it.
    *
    * Same single hash aggregate as the k-anonymity audit (one
    * count_distinct added); output is |cells| rows.
    */
  def lDiversity(
      df: DataFrame, quasiIds: Seq[String], sensitive: String, l: Long = 2L): DataFrame =
    df.groupBy(quasiIds.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col(sensitive)).as("n_sensitive"))
      .select(quasiIds.map(col) :+ col("n_rows") :+ col("n_sensitive") :+
        when(col("n_sensitive") < l, lit(1L)).otherwise(lit(0L)).as("not_diverse"): _*)

  /** Morton (Z-order) layout audit: the low 8 bits of two dimensions —
    * key mod 256 and epoch-day mod 256 — bit-interleave into a 16-bit
    * Z-value (key bits on even positions, time bits on odd), and the
    * 16 top-nibble Z-ranges report their row count plus both dims'
    * min/max. Because a Z-range prefix fixes the high bits of BOTH
    * dimensions at once, every bucket is a bounded 64×64 rectangle in
    * (key, day) space — which is the whole trick: files clustered by Z
    * carry tight min/max stats on two columns simultaneously, so scans
    * filtered on EITHER dimension prune, where single-column range
    * clustering (`repartitionByRange` + `sortWithinPartitions`) prunes
    * only its sort key.
    *
    * Pure integer bit math (no UDF, codegen'd), one hash aggregate to
    * 16 rows. At 100 TB this Z-value is the clustering/sort key of the
    * write path; the audit table is what proves the layout holds.
    */
  def zorderLayout(df: DataFrame, key: String, tsMsCol: String): DataFrame = {
    val ub = pmod(col(key).cast("long"), lit(256L))
    val tb = pmod(graft.Cols.floorDiv(col(tsMsCol), 86400000L), lit(256L))
    val z = (0 until 8)
      .map(i =>
        shiftleft(shiftright(ub, i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(tb, i).bitwiseAND(lit(1L)), 2 * i + 1))
      .reduce(_ + _)
    df
      .select(ub.as("__ub"), tb.as("__tb"), z.as("__z"))
      .groupBy(graft.Cols.floorDiv(col("__z"), 4096L).as("zbucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("__ub")).as("min_key8"),
        max(col("__ub")).as("max_key8"),
        min(col("__tb")).as("min_day8"),
        max(col("__tb")).as("max_day8"))
  }

  /** Order-independent key checksum of one table: row count, the XOR
    * fold and the exact sum of the engine's 60-bit row-key hash, and the
    * hash min/max as a range witness — the primitive for verifying a
    * replica, a migration, or either end of a 100 TB transfer WITHOUT
    * sorting or shipping rows. Count + sum + xor over a keyed hash is a
    * strong multiset witness: a dropped, duplicated, or key-mangled row
    * moves at least one of them, and two engines can each compute their
    * side independently (the hash is the cross-engine
    * [[graft.Cols.hash60]]).
    *
    * One keyless aggregate, map-side combined — the bytes that move are
    * six numbers per table, never the data. A plain `sum(h)` of
    * 2⁶⁰-scale hashes would exceed int64 within 8 rows, so the sum is
    * split into two int64-safe halves — `sum(h >> 30)` and
    * `sum(h & (2³⁰−1))`, each ≤ 2³⁰·n_rows — which together carry the
    * full 90-bit sum exactly and stay hash-stable on every engine (no
    * int128/decimal anywhere).
    */
  def rowChecksum(df: DataFrame, name: String, keyCols: Seq[String]): DataFrame =
    df
      .select(graft.Cols.hash60(
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)).as("h"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("h_xor"),
        sum(shiftright(col("h"), 30)).as("h_sum_hi"),
        sum(col("h").bitwiseAND(lit(0x3FFFFFFFL))).as("h_sum_lo"),
        min(col("h")).as("h_min"),
        max(col("h")).as("h_max"))
      .select(
        lit(name).as("tbl"), col("n_rows"), col("h_xor"),
        col("h_sum_hi"), col("h_sum_lo"), col("h_min"), col("h_max"))

  /** Bloom-filter pre-filtered left-semi join: the hand-rolled runtime
    * filter for "keep only the big-side rows whose key appears in a
    * (much smaller, but not broadcast-join-small) key set" — the
    * decontamination / allowlist shape of a 100 TB pipeline.
    *
    * Why not a plain semi join: a shuffle semi-join moves EVERY big-side
    * row to a reducer just to discard most of them. Here the key set is
    * first folded into a bloom filter (one compact binary, built by a
    * partial+final aggregate), attached to the big-side scan as a
    * `might_contain` FILTER via a scalar subquery — the same
    * ScalarSubquery + BloomFilterMightContain shape Catalyst's
    * InjectRuntimeFilter emits for selective joins, constructed
    * explicitly so the pre-filter is guaranteed, not heuristic. The
    * exact semi join then runs on the survivors only; bloom false
    * positives (rate set by `expectedItems` vs the default 8M bits) are
    * removed there, so results are IDENTICAL to the plain semi join —
    * only the shuffle volume changes.
    *
    * Everything stays in-plan: no driver-side `stat.bloomFilter`
    * collect, no `.collect()` of the key set. Keys hash through
    * `xxhash64` on both sides (Catalyst's own runtime-filter hashing).
    */
  def bloomSemiJoin(
      big: DataFrame,
      keys: DataFrame,
      key: String,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomDf = keys.agg(
      column(
        new BloomFilterAggregate(
          expression(xxhash64(col(key))),
          expression(lit(expectedItems))).toAggregateExpression()).as("__bloom"))
    val mightContain = BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      expression(xxhash64(col(key))))
    big.filter(column(mightContain))
      .join(keys, Seq(key), "left_semi")
      // a semi join returns the left schema; keep the left's column ORDER
      // too (Spark's USING-style join moves the key first)
      .select(big.columns.map(col).toSeq: _*)
  }

  /** Skew-resistant equi-join: the big side gets a deterministic salt from
    * its whole row; the small side is exploded `saltFactor`× so every
    * (key, salt) pair finds its match. Join key spreads over saltFactor
    * tasks instead of one.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltFactor: Int): DataFrame = {
    val bigSalted = big.withColumn("__salt", salt(saltFactor, big.columns.map(col).toSeq: _*))
    val smallExploded = small.withColumn(
      "__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    bigSalted
      .join(smallExploded, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Deterministic per-key sample: each key's `k` rows with the smallest
    * engine-portable 60-bit hash of `idCol` (doc-id ascending tie-break) —
    * the reproducible sample a pipeline can re-derive bit-identically on
    * any engine, any run, any cluster size. Hash-rank sampling, not
    * `rand()`: at 100 TB a sample that can't be replayed can't be
    * debugged, diffed across runs, or used as a frozen eval set.
    *
    * Scale: one shuffle on the key + a per-key top-k window. The per-key
    * sort is bounded by the hottest key's row count; when a single key
    * dominates the table, pre-filter with `hash60(id) < threshold` sized
    * so ≥ k rows survive with high probability, then rank the survivors —
    * same result, the full sort never happens (documented tier; the exact
    * window is the registered semantics).
    */
  def samplePerKey(df: DataFrame, keyCol: String, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(graft.Cols.hash60(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** t-closeness audit — the third leg of the release-privacy trio
    * ([[kAnonymity]]: cells big enough; [[lDiversity]]: cells varied
    * enough; this: cell value distributions CLOSE enough to the global
    * one). A cell can be k-anonymous and l-diverse yet still leak —
    * "this nation's balances are all in the top bucket" — which only a
    * distribution distance catches (Li et al., ICDE 2007).
    *
    * The sensitive numeric attribute quantizes to `nBuckets` equal-width
    * cent buckets between the global min/max (broadcast 1-row bounds —
    * the declared grid that bounds everything downstream), and the
    * distance is the ordered-value EMD on that grid:
    * `t = (1/(m−1)) Σ_{i<m−1} |cumP(i) − cumQ(i)|` with P the cell's
    * bucket distribution, Q the global one. Clearing denominators keeps
    * it exact: `t_e6 = ⌊Σ|N·cumgᵢ − n_g·cumᵢ|·10⁶ / (n_g·N·(m−1))⌋`,
    * every term an integer (widened to decimal(38,0): the summed product
    * reaches m·N·n_g·10⁶). Cells with `t_e6 > tE6Threshold` flag
    * `not_close`.
    *
    * Scale: two hash aggregates (cell×bucket counts, global bucket
    * counts), a bounded ×`nBuckets` grid fan-out per cell so EMPTY
    * buckets still step the global CDF, per-cell running sums over that
    * nBuckets-row partition, and broadcast 1-row bounds/total scalars.
    * Output is |cells| rows; nothing scales past |cells|·nBuckets.
    */
  def tCloseness(
      df: DataFrame, quasiIds: Seq[String], sensitive: String,
      nBuckets: Int = 16, tE6Threshold: Long = 200000L): DataFrame = {
    require(nBuckets >= 2, "EMD needs at least two grid points")
    val cents = round(col(sensitive) * 100).cast("long")
    val bounds = broadcast(df.agg(
      min(cents).as("__lo"), (max(cents) - min(cents) + 1L).as("__w")))
    val bucketed = df
      .select(quasiIds.map(col) :+ cents.as("__c"): _*)
      .crossJoin(bounds)
      .select(quasiIds.map(col) :+
        graft.Cols.floorDiv((col("__c") - col("__lo")) * nBuckets, col("__w")).as("__b"): _*)
    val cellBucket = bucketed
      .groupBy(quasiIds.map(col) :+ col("__b"): _*)
      .agg(count(lit(1)).as("__cg"))
    val globalBucket = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__cglob"))
    val cells = bucketed.groupBy(quasiIds.map(col): _*).agg(count(lit(1)).as("n_rows"))
    val total = broadcast(bucketed.agg(count(lit(1)).as("__n")))
    val dense = cells
      .select(quasiIds.map(col) :+ col("n_rows") :+
        explode(sequence(lit(0L), lit((nBuckets - 1).toLong))).as("__b"): _*)
      .join(cellBucket, quasiIds :+ "__b", "left")
      .join(globalBucket, Seq("__b"), "left")
      .crossJoin(total)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiIds.map(col): _*).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val summed = dense
      .withColumn("__cumg", sum(coalesce(col("__cg"), lit(0L))).over(w))
      .withColumn("__cum", sum(coalesce(col("__cglob"), lit(0L))).over(w))
      .filter(col("__b") < nBuckets - 1)
      .groupBy(quasiIds.map(col) :+ col("n_rows") :+ col("__n"): _*)
      .agg(sum(abs(
        dec38(col("__n")) * dec38(col("__cumg"))
          - dec38(col("n_rows")) * dec38(col("__cum")))).as("__s"))
    val tE6 = graft.Cols.floorDiv(
      col("__s") * dec38(lit(1000000L)),
      dec38(col("n_rows") * col("__n") * (nBuckets - 1L))).cast("long")
    summed.select(quasiIds.map(col) :+ col("n_rows") :+ tE6.as("t_e6") :+
      when(tE6 > tE6Threshold, 1L).otherwise(0L).as("not_close"): _*)
  }

  /** Shard rebalancing plan: when the cluster grows `nodesBefore` →
    * `nodesBefore + 1`, how much data moves under (a) naive modulo
    * placement — `bucket % n`, which reshuffles almost everything — vs
    * (b) rendezvous/HRW hashing — each bucket lives on
    * `argmax_node hash(bucket, node)`, so ONLY buckets whose argmax is
    * the new node move (expected 1/(n+1) of the data). The two-row
    * readout (strategy, buckets moved, rows moved, moved share e4) is
    * the capacity-planning number a storage migration quotes.
    *
    * Deterministic: placement scores are the library [[graft.Cols.hash60]]
    * (ties broken toward the larger node id by the lexicographic
    * struct max — unreachable with 60-bit scores, but defined).
    *
    * Scale: one hash aggregate to the `nBuckets`-row bucket table
    * (map-side combined — raw keys never leave their partitions), then
    * per-bucket placement is a pure ×(2n+1)-hash expression and the
    * summary is one tiny aggregate over `nBuckets` rows.
    */
  def rebalancePlan(
      df: DataFrame, keyCol: String,
      nBuckets: Int = 1024, nodesBefore: Int = 5): DataFrame = {
    require(nodesBefore >= 1)
    val bkt = pmod(
      graft.Cols.hash60(concat(lit("shard:"), col(keyCol).cast("string"))),
      lit(nBuckets.toLong))
    val counts = df.select(bkt.as("__bkt")).groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__rows"))
    def hrwNode(n: Int): Column =
      array_max(array((0 until n).map(i =>
        struct(
          graft.Cols.hash60(concat(col("__bkt").cast("string"), lit(s":n$i"))).as("s"),
          lit(i.toLong).as("node"))): _*)).getField("node")
    val flagged = counts.select(
      col("__rows"),
      (pmod(col("__bkt"), lit(nodesBefore.toLong))
        =!= pmod(col("__bkt"), lit(nodesBefore + 1L))).as("__mod_moved"),
      (hrwNode(nodesBefore) =!= hrwNode(nodesBefore + 1)).as("__hrw_moved"))
    flagged
      .select(
        col("__rows"),
        explode(array(
          struct(lit("mod").as("strategy"), col("__mod_moved").as("moved")),
          struct(lit("rendezvous").as("strategy"), col("__hrw_moved").as("moved"))))
          .as("__s"))
      .groupBy(col("__s.strategy").as("strategy"))
      .agg(
        sum(when(col("__s.moved"), 1L).otherwise(0L)).as("n_buckets_moved"),
        sum(when(col("__s.moved"), col("__rows")).otherwise(0L)).as("n_rows_moved"),
        graft.Cols.floorDiv(
          sum(when(col("__s.moved"), col("__rows")).otherwise(0L)) * 10000L,
          sum(col("__rows"))).as("moved_share_e4"))
  }

  /** Z-order layout dry run over the orders table: Morton-interleave the
    * two hot predicate columns (custkey, order day) and compare per-file
    * min/max spans against the naive date-clustered layout — the
    * data-skipping readout an OPTIMIZE-ZORDER decision is based on.
    * The DECISION partner of [[zorderLayout]]: that one audits the
    * bucket rectangles of a layout already chosen (mod-256 grid); this
    * one quotes, on the real key ranges, what switching WOULD buy
    * against the incumbent single-column clustering.
    *
    * Each row's keys normalize to a 16-bit grid cell against the in-plan
    * min/max (a 1-row broadcast; production reads the table's range
    * metadata — at 100 TB use range-rank quantiles instead of min/max if
    * the keys are heavy-tailed), the two cells interleave bit by bit
    * into a 32-bit Morton code, and rows land in `nFiles` target files
    * by the code's top bits; the naive layout buckets by the date cell
    * alone. Per layout, the summed per-file key spans ARE the expected
    * scan amplification under file-level min/max skipping (a file
    * matches a point predicate iff the point falls inside its span):
    * date clustering gives perfect day spans and useless custkey spans;
    * z-order trades slightly wider day spans for custkey spans orders
    * of magnitude narrower — skipping works on BOTH predicates.
    *
    * Scale: map-only normalize + interleave (pure bit arithmetic,
    * codegen'd), one hash agg to ≤ 2·nFiles (layout, file) cells, one
    * 2-row rollup. Nothing data-sized ever sorts or broadcasts.
    */
  def zorderPlan(orders: DataFrame, nFiles: Int = 64): DataFrame = {
    require(nFiles >= 2 && (nFiles & (nFiles - 1)) == 0 && nFiles <= 65536,
      "nFiles must be a power of two (file id = top Morton bits)")
    val fileBits = Integer.numberOfTrailingZeros(nFiles)
    val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
    val base = orders.select(col("o_custkey").as("__x"), day.as("__y"))
    val bounds = broadcast(base.agg(
      min(col("__x")).as("__xlo"),
      greatest(max(col("__x")) - min(col("__x")), lit(1L)).as("__xw"),
      min(col("__y")).as("__ylo"),
      greatest(max(col("__y")) - min(col("__y")), lit(1L)).as("__yw")))
    val g = base.crossJoin(bounds).select(
      col("__x"), col("__y"),
      graft.Cols.floorDiv((col("__x") - col("__xlo")) * 65535L, col("__xw")).as("__xn"),
      graft.Cols.floorDiv((col("__y") - col("__ylo")) * 65535L, col("__yw")).as("__yn"))
    val morton = (0 until 16).map { i =>
      shiftright(col("__xn"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(col("__yn"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    val perFile = g
      .select(col("__x"), col("__y"),
        explode(array(
          struct(lit("zorder").as("layout"),
            shiftright(morton, 32 - fileBits).as("file")),
          struct(lit("bydate").as("layout"),
            shiftright(col("__yn"), 16 - fileBits).as("file")))).as("__f"))
      .groupBy(col("__f.layout").as("layout"), col("__f.file").as("file"))
      .agg(
        count(lit(1)).as("__rows"),
        (max(col("__x")) - min(col("__x"))).as("__xspan"),
        (max(col("__y")) - min(col("__y"))).as("__yspan"))
    perFile.groupBy(col("layout"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("__rows")).as("n_rows"),
        sum(col("__xspan")).as("sum_custkey_span"),
        sum(col("__yspan")).as("sum_day_span"))
      .orderBy(col("layout"))
  }

  /** k-anonymity GENERALIZATION planner — the step BEFORE
    * [[kAnonymity]]'s audit: that audit reports which cells violate k at
    * one quasi-identifier precision; this one walks the numeric
    * generalization ladder and prices each rung. The account balance is
    * coarsened through cent buckets of $1 → $10 → $100 → $1000 → dropped
    * entirely (levels 0–4), and each level reports its cell count, minimum
    * cell, violating-cell count, rows a suppress-release would redact
    * (`n_suppressed_rows` — the utility COST of stopping at that rung),
    * a `meets_k` flag, and `chosen` = 1 on the first level that fully
    * satisfies k — the minimal-generalization answer a release process
    * actually needs. Monotonicity (coarser never increases violations'
    * row mass... not guaranteed in general for cell COUNTS, which is
    * why every rung is measured rather than assumed).
    *
    * Scale: a bounded ×5 level explode feeding ONE map-side-combined
    * aggregate to the (level × cells) grain, a 5-row per-level rollup,
    * and a 1-row broadcast of the chosen level.
    */
  def anonymizationPlan(customer: DataFrame, k: Long = 8L): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    val leveled = customer
      .select(col("c_nationkey").cast("long").as("__nat"),
        col("c_mktsegment").as("__seg"), cents.as("__c"))
      .select(col("__nat"), col("__seg"), col("__c"),
        explode(sequence(lit(0L), lit(4L))).as("level"))
      .withColumn("__bucket",
        when(col("level") === 0L, col("__c"))
          .when(col("level") === 1L, graft.Cols.floorDiv(col("__c"), lit(1000L)))
          .when(col("level") === 2L, graft.Cols.floorDiv(col("__c"), lit(10000L)))
          .when(col("level") === 3L, graft.Cols.floorDiv(col("__c"), lit(100000L)))
          .otherwise(lit(0L)))
    val cells = leveled
      .groupBy(col("level"), col("__nat"), col("__seg"), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
    val perLevel = cells.groupBy(col("level"))
      .agg(
        count(lit(1)).as("n_cells"),
        min(col("__n")).as("min_cell"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating_cells"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("n_suppressed_rows"))
      .withColumn("meets_k",
        when(col("n_violating_cells") === 0L, 1L).otherwise(0L))
    val chosen = broadcast(perLevel.agg(
      min(when(col("meets_k") === 1L, col("level"))).as("__chosen")))
    perLevel.crossJoin(chosen)
      .select(
        col("level"),
        element_at(
          array(lit("cent"), lit("10_dollar"), lit("100_dollar"),
            lit("1000_dollar"), lit("dropped")),
          (col("level") + 1L).cast("int")).as("balance_bucket"),
        col("n_cells"), col("min_cell"), col("n_violating_cells"),
        col("n_suppressed_rows"), col("meets_k"),
        when(col("__chosen").isNotNull && col("level") === col("__chosen"), 1L)
          .otherwise(0L).as("chosen"))
  }

  /** Sampling-based profile accuracy readout — the question a 100 TB
    * table forces before every stats job: can a deterministic 1-in-`rate`
    * hash sample stand in for the full scan? Per event type, the EXACT
    * row count and e4 cent mean beside the sample's scaled-up estimates,
    * with the errors in e4 (`n_err_e4` relative on count, `mean_err_e4`
    * absolute on the mean). The sample membership is a pure hash
    * predicate (`hash60("smp:"+event_id) % rate = 0`) — reproducible by
    * any engine, no RNG, and at 100 TB it pushes into the scan as a
    * cheap filter, so the "estimate" column really does cost ~1/rate of
    * the exact one. A type whose sample is EMPTY keeps its row with null
    * estimates — the readout that says "this stratum needs a bigger
    * rate", which is precisely what the query exists to surface.
    *
    * Scale: ONE map-side-combined aggregate computes both arms
    * (conditional sums — no join, no second scan); output is
    * |event_type| rows.
    */
  def sampleAccuracy(events: DataFrame, rate: Int = 100): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val inSample =
      pmod(graft.Cols.hash60(concat(lit("smp:"), col("event_id"))), lit(rate.toLong)) === 0
    val g = events
      .select(col("event_type"), cents.as("__c"),
        inSample.cast("long").as("__s"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__c")).as("__sc"),
        sum(col("__s")).as("__ns"),
        sum(col("__s") * col("__c")).as("__scs"))
    val meanE4 = graft.Cols.floorDiv(col("__sc") * 10000L, col("n"))
    val sMeanE4 = graft.Cols.floorDiv(col("__scs") * 10000L, col("__ns"))
    g.select(
      col("event_type"), col("n"), meanE4.as("mean_e4"),
      col("__ns").as("n_sampled"),
      when(col("__ns") > 0, col("__ns") * rate).as("est_n"),
      when(col("__ns") > 0, sMeanE4).as("sample_mean_e4"),
      when(col("__ns") > 0,
        graft.Cols.floorDiv(
          abs(col("__ns") * rate - col("n")) * 10000L, col("n"))).as("n_err_e4"),
      when(col("__ns") > 0, abs(sMeanE4 - meanE4)).as("mean_err_e4"))
  }

  /** Retention/vacuum planner — the time-based maintenance pass next to
    * the layout passes ([[graft.ops.Stats.compactionPlan]] sizes files,
    * [[zorderPlan]] orders them; this decides WHICH PARTITIONS STILL
    * EXIST): the table's month partitions aged against the observed max
    * order date (an in-plan 1-row broadcast — retention is always
    * relative to "now", and the data's own high-water mark is the
    * deterministic now), each priced and sentenced by the declared
    * policy ladder: ≤ `retainMonths` old → retain (hot storage),
    * ≤ `archiveMonths` → archive (cold tier), older → expire (delete at
    * the next vacuum). Per partition: rows, the distinct hash-bucket
    * file count (the [[graft.ops.Stats.compactionPlan]] file model),
    * age, action, and the running `cum_expired_rows` reclaim ledger in
    * partition order — the number the vacuum job reports before it
    * deletes anything.
    *
    * Scale: one map-side-combined aggregate to the |months| grain; the
    * running total is a window over calendar-bounded rows (~84 for
    * seven years — never the data grain).
    */
  def vacuumPlan(orders: DataFrame,
      retainMonths: Long = 12L, archiveMonths: Long = 36L): DataFrame = {
    val monthId = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast("long")
    val perMonth = orders
      .select(monthId.as("month_id"),
        pmod(graft.Cols.hash60(col("o_orderkey").cast("string")), lit(4L)).as("__f"))
      .groupBy(col("month_id"))
      .agg(count(lit(1)).as("n_rows"), count_distinct(col("__f")).as("n_files"))
    val maxM = broadcast(perMonth.agg(max(col("month_id")).as("__maxm")))
    val aged = perMonth.crossJoin(maxM)
      .select(
        col("month_id"), col("n_rows"), col("n_files"),
        (col("__maxm") - col("month_id")).as("age_months"))
      .withColumn("action",
        when(col("age_months") <= retainMonths, lit("retain"))
          .when(col("age_months") <= archiveMonths, lit("archive"))
          .otherwise(lit("expire")))
    // |months|-row running ledger (calendar-bounded window)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("month_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    aged.withColumn("cum_expired_rows",
      sum(when(col("action") === "expire", col("n_rows")).otherwise(0L)).over(w))
  }
}
