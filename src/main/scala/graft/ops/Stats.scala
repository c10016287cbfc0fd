package graft.ops

import graft.Cols
import graft.Cols.dec38
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nonparametric / concentration statistics, all integer-exact so the
  * DuckDB oracle hashes bit-for-bit (the round-3/round-5 lesson: any
  * cross-engine double or int128 in a result column eventually diverges).
  *
  * - [[mannWhitney]]: rank-sum A/B test — the nonparametric partner of
  *   [[Analytics.abLift]]'s proportion z-test (does the VALUE distribution
  *   differ between arms, not just the converter rate).
  * - [[hhi]]: Herfindahl–Hirschman concentration per group — the
  *   "one whale or many minnows" readout that pairs with
  *   [[Scale.keySkew]]'s hottest-key share.
  * - [[gini]]: spend-inequality coefficient over per-customer revenue.
  * - [[hourSpearman]]: rank correlation between two hourly activity
  *   series over the 24-row hour-of-day domain.
  * - [[compactionPlan]]: next-fit small-file bin packing — the layout
  *   maintenance planner a 100 TB table runs nightly.
  * - [[ksTest]]: two-sample Kolmogorov–Smirnov D between the hash arms —
  *   the distribution-shape screen beside [[mannWhitney]] (location) and
  *   [[welchScreen]] (mean).
  * - [[hazardCurve]]: discrete-time churn hazard with explicit right
  *   censoring — the survival-analysis life table.
  */
object Stats {

  /** Mann–Whitney U between the two deterministic experiment arms
    * (`arm = hash60('ab:' || user_id) % 2` — the same salted split as
    * [[Analytics.abLift]]), per event type, over the event `value`.
    *
    * Rank sums use midrank tie handling kept in INTEGERS by doubling:
    * for a distinct value v with `below(v)` observations strictly less
    * and `c(v)` tied, each tied observation's doubled midrank is
    * `2·below + c + 1`, so `r2_a = Σ_v c_a(v)·(2·below(v) + c(v) + 1)`
    * is exactly twice arm A's rank sum. Then `u2_a = r2_a − n_a(n_a+1)`
    * is twice the U statistic (≥ 0 by construction) and
    * `auc_e4 = ⌊u2_a·10⁴ / (2·n_a·n_b)⌋` is the common-language effect
    * size P(A > B) + ½P(A = B) in e4 — 5000 means "no shift".
    *
    * Integer ranges (the [[hhi]]/[[gini]] discipline): the numerator
    * `u2_a·10⁴ ≈ 2·n_a·n_b·10⁴` fits int64 only while `n_a·n_b ≲ 4.6·10¹⁴`
    * — roughly 2·10⁷ events per arm per type. Beyond that Spark wraps
    * silently while DuckDB raises, so the engines would diverge; at that
    * scale compute auc from per-arm MEAN doubled ranks
    * (`(r2_a/n_a − n_a − 1)·10⁴ / (2·n_b)`, floored once) — same
    * statistic, n_b-sized numerator.
    *
    * Scale: one hash aggregate to |event_type × distinct value| rows
    * (map-side combined), then a per-type running-sum window over that
    * already-aggregated table — the same bounded rank-pass posture as
    * [[Scale.keySkew]]; nothing scales with raw event count.
    */
  def mannWhitney(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val perValue = events
      .select(col("event_type"), arm.as("__arm"), col("value"))
      .groupBy(col("event_type"), col("value"))
      .agg(
        count(lit(1)).as("c"),
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("c_a"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perValue
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col("event_type"))
      .agg(
        sum(col("c_a")).as("n_a"),
        sum(col("c") - col("c_a")).as("n_b"),
        sum(col("c_a") * (lit(2L) * col("below") + col("c") + 1L)).as("r2_a"))
      .select(
        col("event_type"), col("n_a"), col("n_b"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
        when(col("n_a") * col("n_b") > 0,
          Cols.floorDiv(
            (col("r2_a") - col("n_a") * (col("n_a") + 1L)) * 10000L,
            lit(2L) * col("n_a") * col("n_b"))).as("auc_e4"))
  }

  /** Herfindahl–Hirschman concentration of events across users, per event
    * type: `hhi_ppm = ⌊Σc²·10⁶ / t²⌋` (10⁶ = single-user monopoly) and
    * the inverse-Simpson "effective user count" `⌊t² / Σc²⌋` — how many
    * equal-share users would produce this concentration. Pairs with
    * [[Scale.keySkew]]: that reports the single hottest key, this reports
    * the whole distribution's concentration in one number.
    *
    * Integer ranges: Σc² ≤ t², so `Σc²·10⁶` fits int64 up to t ≈ 3·10⁶
    * rows per group; beyond that (100 TB, billions of rows per type) run
    * the same aggregate over per-key ppm shares — documented, same shape.
    *
    * Scale: two hash aggregates (user counts, then per-type moments),
    * both map-side combined; output is |event_type| rows.
    */
  def hhi(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("__s2"))
      .select(
        col("event_type"), col("n_users"), col("n_events"),
        Cols.floorDiv(col("__s2") * 1000000L, col("n_events") * col("n_events"))
          .as("hhi_ppm"),
        Cols.floorDiv(col("n_events") * col("n_events"), col("__s2"))
          .as("effective_users"))

  /** Gini coefficient of per-customer spend (whole dollars, floor of the
    * exact cents so both engines truncate identically):
    * `g_e4 = ⌊(2·Σ(i·xᵢ) − (n+1)·Σx)·10⁴ / (n·Σx)⌋` with spend ranked
    * ascending, ties broken by customer key — the standard rank-covariance
    * form, exact in int64 at dollar granularity up to ~10⁹ customer-dollars
    * of Σ(i·x) headroom.
    *
    * Output is one row: n_customers, total_spend, gini_e4 (0 = perfectly
    * equal, → 10⁴ as one customer takes everything).
    *
    * Scale: one hash aggregate to |customers| rows, then the global rank
    * comes from [[Sharded.rankAndPrefix]] — range-partitioned shards rank
    * independently and broadcast shard offsets reassemble the global `i`,
    * so no single-partition sort appears even at 10⁹ customers; one
    * 1-row reduce at the end.
    */
  def gini(orders: DataFrame): DataFrame = {
    val spend = orders
      .groupBy(col("o_custkey"))
      .agg(Cols.floorDiv(
        sum(round(col("o_totalprice") * 100).cast("long")), 100L).as("x"))
    // value = lit(0): gini reads only the global rank __i, so the
    // per-shard running sum and value-mass offsets would be dead work
    Sharded.rankAndPrefix(spend, Seq(col("x"), col("o_custkey")), lit(0L))
      .withColumn("i", col("__i"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("x")).as("total_spend"),
        sum(col("i") * col("x")).as("__ix"))
      .select(
        col("n_customers"), col("total_spend"),
        Cols.floorDiv(
          (lit(2L) * col("__ix") - (col("n_customers") + 1L) * col("total_spend")) * 10000L,
          col("n_customers") * col("total_spend")).as("gini_e4"))
  }

  /** Exact rank-statistic percentiles of the event value in cents — the
    * value at rank ⌈p·n/100⌉ in (value, event_id) ascending order, NOT an
    * interpolated `percentile()` double — over the FULL event grain.
    * Where [[graft.ops.Scale.keySkew]] ranks the aggregated key table,
    * this ranks raw data: [[Sharded.rankAndPrefix]] range-partitions the
    * event-grain rows so even a trillion-row table never sorts through
    * one window partition, and the ⌈p·n⌉ target ranks fold in as a
    * broadcast |pcts|-row table derived from an in-plan count. The
    * rank VALUE at each target is identical for any shard-boundary
    * placement, so the report hashes identically on any engine.
    */
  def exactValueRanks(events: DataFrame, pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val vals = events.select(
      round(col("value") * 100).cast("long").as("cents"), col("event_id"))
    val ranked = Sharded.rankAndPrefix(
      vals, Seq(col("cents"), col("event_id")), lit(0L))
    val targets = broadcast(
      vals.agg(count(lit(1)).as("__n"))
        .select(explode(array(pcts.map(p =>
          struct(
            lit(p.toLong).as("pct"),
            Cols.floorDiv(lit(p.toLong) * col("__n") + 99L, 100L).as("__target"))): _*))
          .as("t"))
        .select(col("t.pct"), col("t.__target")))
    ranked
      .join(targets, col("__i") === col("__target"))
      .select(col("pct"), col("__target").as("rank"), col("cents").as("value_cents"))
  }

  /** Spearman rank correlation between hourly total activity and hourly
    * purchase activity over the 24-row hour-of-day domain — "do busy
    * hours buy". Midranks are doubled to stay integer (ties in hourly
    * counts are possible), so `d2 = Σ(rx₂ − ry₂)² = 4·Σd²` and
    * `rho_e4 = 10⁴ − ⌊6·d2·10⁴ / (4·n·(n²−1))⌋` — the classic Σd² form;
    * the tie-correction factor is deliberately omitted (documented
    * convention, identical in both engines; hourly counts rarely tie).
    *
    * Scale: one hash aggregate to 24 rows, then rank windows over 24
    * rows — negligible regardless of input size.
    */
  def hourSpearman(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(Cols.floorDiv(pmod(col("ts_ms"), lit(86400000L)), 3600000L).as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
    // doubled midrank = 2·rank + (ties − 1): rank() gives the first
    // position of a tie run, counting ties completes the midrank
    def rank2(c: String): org.apache.spark.sql.Column = {
      val r = rank().over(Window.orderBy(col(c))).cast("long")
      val t = count(lit(1)).over(Window.partitionBy(col(c)))
      lit(2L) * r + (t - 1L)
    }
    hourly
      .select(
        col("hour"), col("n_events"), col("n_purchases"),
        rank2("n_events").as("rx2"), rank2("n_purchases").as("ry2"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum((col("rx2") - col("ry2")) * (col("rx2") - col("ry2"))).as("d2"))
      .select(
        col("n_hours"), col("d2"),
        (lit(10000L) - Cols.floorDiv(
          lit(6L) * col("d2") * 10000L,
          lit(4L) * col("n_hours") * (col("n_hours") * col("n_hours") - 1L)))
          .as("rho_e4"))
  }

  /** Count-Min sketch heavy-hitter readout: build the `depth × width`
    * sketch (independent md5 hash rows — deterministic, so unlike most
    * sketches this one carries an exact cross-engine oracle), then for
    * the `topK` exact-heaviest keys report exact count, CM estimate
    * (min over rows), and the overcount — the one-sided-error diagnostic
    * that tells you whether `width` is sized for the traffic. The CM
    * guarantee holds by construction: estimate ≥ exact always;
    * overcount ~ (n_rows − exact)/width per hash row before the min.
    *
    * Scale: the sketch is ONE hash aggregate to depth·width rows
    * (map-side combined — this is the whole point of CM at 100 TB: the
    * reduce state is 1024 cells regardless of key cardinality), then the
    * tiny sketch broadcasts into the topK keys' estimate join. The exact
    * top-K pass exists only because this is a *diagnostic* of the
    * sketch; production reads the sketch alone. The heaviest keys come
    * from `orderBy().limit(topK)` — TakeOrderedAndProject, per-partition
    * heaps — and the rank VALUE is recomputed by a window over the
    * already-limited topK rows, never over the full key table.
    */
  def countMinEstimates(
      events: DataFrame,
      key: String = "user_id",
      depth: Int = 4,
      width: Int = 256,
      topK: Int = 20): DataFrame = {
    def buckets = array((0 until depth).map { r =>
      pmod(Cols.hash60(concat(lit(s"cm$r:"), col(key))), lit(width.toLong))
    }: _*)
    val sketch = events
      .select(posexplode(buckets).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val top = events
      .groupBy(col(key))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col(key))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("exact_n").desc, col(key))).cast("long"))
    top
      .select(col(key), col("exact_n"), col("rank"),
        posexplode(buckets).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col(key), col("exact_n"), col("rank"))
      .agg(min(col("c")).as("cm_est"))
      .select(
        col(key), col("rank"), col("exact_n"), col("cm_est"),
        (col("cm_est") - col("exact_n")).as("overcount"))
  }

  /** Small-file compaction plan: treat the table's hash buckets
    * (`hash60(key) mod nBuckets` — the same engine-stable bucketing the
    * zone map and partitioned writers use) as "files" with their row
    * counts, and pack them in bucket order into target-size bins by
    * NEXT-FIT on the running sum: `bin = ⌊running_rows_before / target⌋`.
    * Output per bin: file count, total rows, and the contiguous
    * [first_bucket, last_bucket] range a compaction job would coalesce —
    * the nightly layout-maintenance plan that turns ten thousand small
    * files into target-size ones without a full rewrite.
    *
    * Deterministic (no bin-packing heuristic ties), and contiguous ranges
    * mean each compaction task reads a sequential bucket span. Scale: one
    * hash aggregate to nBuckets rows, then an nBuckets-row window —
    * the plan costs nothing next to the data it reorganizes.
    */
  def compactionPlan(
      df: DataFrame,
      key: String,
      nBuckets: Int = 64,
      targetRows: Long = 2000L): DataFrame = {
    val files = df
      .select(pmod(Cols.hash60(col(key)), lit(nBuckets.toLong)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("__before", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .withColumn("bin", Cols.floorDiv(col("__before"), targetRows))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("total_rows"),
        min(col("bucket")).as("first_bucket"),
        max(col("bucket")).as("last_bucket"))
  }

  /** Welch's unequal-variance t² screen between the two deterministic
    * experiment arms (`hash60('ab:'||user_id) % 2`, the [[mannWhitney]]
    * split), per event type — the parametric partner of the rank-sum
    * test: does the mean VALUE differ, weighted by how noisy each arm is.
    *
    * Quantized-Welch, the [[graft.text.TextAnalysis]] unigram discipline:
    * each stage floors ONCE into a declared integer scale, so both
    * engines run the identical pipeline instead of chasing float
    * rounding. On per-arm cent sums S, squared-cent sums Q, counts n:
    * `var_i = ⌊(nᵢQᵢ − Sᵢ²) / (nᵢ(nᵢ−1))⌋` (numerator ≥ 0 by
    * Cauchy–Schwarz, so the floor is exact), `se2_e8 = ⌊var₀·10⁸/n₀⌋ +
    * ⌊var₁·10⁸/n₁⌋`, `t2_e4 = ⌊(m₀ₑ₄−m₁ₑ₄)²·10⁴ / se2_e8⌋` with the
    * squared-difference product widened to decimal(38,0). The flag
    * compares t2_e4 against 1.96²·10⁴ = 38416 (the z≈1.96 two-sided 5%
    * line — Welch df is large here). Degenerate inputs: an event type
    * where either arm has < 2 observations is DROPPED from the output
    * (no variance is defined, so no screen verdict exists — the
    * `n0 > 1 && n1 > 1` filter below, pinned by the oracle and
    * StatsSpec); a type that survives with zero pooled variance keeps
    * its row with a null t² and flag 0.
    *
    * Scale: ONE map-side-combined aggregate per event type computes all
    * six conditional moments — no pivot, no self-join; output is
    * |event_type| rows. `nᵢQᵢ` is widened to decimal(38,0): cents⁴-scale
    * products pass int64 around 10⁸ rows per type.
    */
  /** Sequential probability ratio test (Wald SPRT) trace — the
    * SEQUENTIAL member of the arm-test family ([[welchScreen]] /
    * [[ksTest]] / [[didScreen]] are fixed-horizon: they assume you look
    * once; a live experiment dashboard looks every day, and repeated
    * peeking at a fixed-horizon test inflates false positives — the
    * SPRT is the test DESIGNED to be peeked at). Per (event_type, arm),
    * the daily Bernoulli success trace (success = value over the
    * declared 3500-cent line, ≈ the corpus median, so the H₀ rate is
    * the literal p₀ = 0.50; H₁: p₁ = 0.55 the minimum detectable
    * lift): cumulative log-likelihood ratio
    * `llr = s·ln(p₁/p₀) + (n−s)·ln((1−p₁)/(1−p₀))` with the two ln
    * factors as e4-quantized literals (953, −1054 — identical in both
    * engines, no transcendental at query time), against Wald's
    * α = β = 0.05 boundaries ±ln(19) = ±29444 e4. The decision column
    * is the dashboard verdict at each day: accept_h1 / accept_h0 /
    * continue.
    *
    * Scale: one map-side-combined aggregate to the (type × arm × day)
    * grain, then a cumulative window partitioned by (type, arm) over
    * calendar-bounded days — never the raw event grain.
    */
  def sprtTrace(events: DataFrame, successCents: Long = 3500L): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val day = Cols.floorDiv(col("ts_ms"), lit(86400000L))
    val daily = events
      .select(
        col("event_type"), arm.as("arm"), day.as("day"),
        (round(col("value") * 100).cast("long") > successCents).cast("long").as("__succ"))
      .groupBy(col("event_type"), col("arm"), col("day"))
      .agg(count(lit(1)).as("n_day"), sum(col("__succ")).as("s_day"))
    val w = Window.partitionBy(col("event_type"), col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_cum", sum(col("n_day")).over(w))
      .withColumn("s_cum", sum(col("s_day")).over(w))
      .withColumn("llr_e4",
        col("s_cum") * lit(953L) + (col("n_cum") - col("s_cum")) * lit(-1054L))
      .withColumn("decision",
        when(col("llr_e4") >= 29444L, lit("accept_h1"))
          .when(col("llr_e4") <= -29444L, lit("accept_h0"))
          .otherwise(lit("continue")))
  }

  /** Two-sided CUSUM drift monitor — the SEQUENTIAL changepoint next to
    * [[graft.ops.TimeSeries]]'s binary-segmentation changepoint (that
    * one finds the best split in hindsight; CUSUM is the control chart
    * that raises the alarm WHILE the shift happens, the metric-drift
    * partner of [[sprtTrace]]'s experiment verdicts): per event type,
    * daily mean cents deviate from the type's mean-of-daily-means, and
    * the two one-sided cumulative sums `c⁺ = max(0, c⁺ + dev)`,
    * `c⁻ = max(0, c⁻ − dev)` walk the calendar; the readout reports
    * both maxima and the first day either crossed the declared
    * `thresholdCents` control limit.
    *
    * The recursion (each day's state depends on the previous day's) is
    * not a window frame — it folds as an `aggregate` expression over
    * the per-type day array, which is CALENDAR-bounded (≤ |days| rows
    * per type, the [[ord_hazard]] class of bound), never data-sized.
    *
    * Scale: one map-side-combined aggregate to the (type × day) grain,
    * one |types|-row equi-join for the reference mean, one
    * collect-and-fold per type over ≤ |days| elements.
    */
  def cusum(events: DataFrame, thresholdCents: Long = 2000L): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val day = Cols.floorDiv(col("ts_ms"), lit(86400000L))
    val daily = events
      .select(col("event_type"), day.as("day"), cents.as("__c"))
      .groupBy(col("event_type"), col("day"))
      .agg(Cols.floorDiv(sum(col("__c")), count(lit(1))).as("__m"))
    val ref = daily.groupBy(col("event_type"))
      .agg(Cols.floorDiv(sum(col("__m")), count(lit(1))).as("__gm"),
        count(lit(1)).as("n_days"))
    val dev = daily.join(ref, "event_type")
      .select(col("event_type"), col("n_days"), col("day"),
        (col("__m") - col("__gm")).as("__dev"))
    val arr = sort_array(collect_list(struct(col("day"), col("__dev"))))
    val h = lit(thresholdCents)
    val folded = aggregate(
      arr,
      struct(lit(0L).as("cp"), lit(0L).as("cn"), lit(0L).as("mp"), lit(0L).as("mn"),
        lit(null).cast("long").as("ad")),
      (acc, x) => {
        val cp = greatest(acc.getField("cp") + x.getField("__dev"), lit(0L))
        val cn = greatest(acc.getField("cn") - x.getField("__dev"), lit(0L))
        struct(cp.as("cp"), cn.as("cn"),
          greatest(acc.getField("mp"), cp).as("mp"),
          greatest(acc.getField("mn"), cn).as("mn"),
          coalesce(acc.getField("ad"),
            when(cp > h || cn > h, x.getField("day"))).as("ad"))
      })
    dev.groupBy(col("event_type"), col("n_days"))
      .agg(folded.as("__f"))
      .select(
        col("event_type"), col("n_days"),
        col("__f.mp").as("max_cusum_pos"),
        col("__f.mn").as("max_cusum_neg"),
        col("__f.ad").as("alarm_day"),
        when(col("__f.ad").isNotNull, 1L).otherwise(0L).as("alarm"))
  }

  /** Holt double-exponential smoothing backtest — does a level+trend
    * smoother beat the naive carry-forward on this series? Per event
    * type, the daily count series folds through Holt's recurrences with
    * α = β = ½ in exact e4 integers (level `l ← ⌊(10⁴·y + l + b)/2⌋`,
    * trend `b ← ⌊(l − l_prev + b)/2⌋`, one-step forecast `l + b`), and
    * the readout compares its one-step-ahead MAE against the naive-1
    * (`ŷ_t = y_{t−1}`) MAE on the SAME scored days — `holt_wins` is the
    * adopt/don't-adopt verdict, the same comparison role
    * [[graft.ops.Analytics.forecastBaseline]] plays for the weekly
    * seasonal naive. The recursion folds as an `aggregate` expression
    * over the per-type day array — calendar-bounded, the [[cusum]]
    * idiom — never a data-sized window.
    *
    * Scale: one map-side-combined aggregate to the (type × day) grain,
    * one collect-and-fold per type over ≤ |days| elements.
    */
  def holtBacktest(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), lit(86400000L))
    val daily = events
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("__y"))
    val arr = sort_array(collect_list(struct(col("day"), col("__y"))))
    // state: (level_e4, trend_e4, prev_y, holt_abs_err_sum_e4,
    //         naive_abs_err_sum_e4, n_scored)
    val zero = struct(lit(0L).as("l"), lit(0L).as("b"), lit(-1L).as("py"),
      lit(0L).as("he"), lit(0L).as("ne"), lit(0L).as("n"))
    val folded = aggregate(
      arr, zero,
      (acc, x) => {
        val y = x.getField("__y")
        val first = acc.getField("py") === -1L
        val fc = acc.getField("l") + acc.getField("b")
        val lNew = Cols.floorDiv(y * 10000L + fc, lit(2L))
        val bNew = Cols.floorDiv(lNew - acc.getField("l") + acc.getField("b"), lit(2L))
        struct(
          when(first, y * 10000L).otherwise(lNew).as("l"),
          when(first, lit(0L)).otherwise(bNew).as("b"),
          y.as("py"),
          (acc.getField("he") + when(first, 0L).otherwise(abs(y * 10000L - fc))).as("he"),
          (acc.getField("ne") + when(first, 0L)
            .otherwise(abs(y - acc.getField("py")) * 10000L)).as("ne"),
          (acc.getField("n") + when(first, 0L).otherwise(1L)).as("n"))
      })
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), folded.as("__f"))
      .filter(col("__f.n") > 0)
      .select(
        col("event_type"), col("n_days"), col("__f.n").as("n_scored"),
        Cols.floorDiv(col("__f.he"), col("__f.n")).as("holt_mae_e4"),
        Cols.floorDiv(col("__f.ne"), col("__f.n")).as("naive_mae_e4"))
      .withColumn("holt_wins",
        when(col("holt_mae_e4") < col("naive_mae_e4"), 1L).otherwise(0L))
  }

  /** Holt–Winters (additive, weekly) backtest against plain Holt — the
    * model-selection readout that answers "does weekly seasonality earn
    * its seven extra state slots on THIS metric": both recursions run
    * in ONE fold over the same calendar-bounded per-type day array
    * (the [[holtBacktest]] discipline, state widened to level + trend +
    * seven day-of-week seasonals + the plain-Holt twin), each day
    * scored by its one-step-ahead forecast error BEFORE the update.
    * α = β = γ = ½ (floor halving keeps everything exact integer e4);
    * seasonals start at 0, so Holt–Winters degrades gracefully to Holt
    * until each weekday slot has been seen — no warm-up season is
    * assumed, and the fold never indexes outside its own array. The
    * seasonal slot keys on the CALENDAR day-of-week (pmod(day, 7)), so
    * a gap in the data cannot shift every subsequent slot.
    *
    * Scale: identical posture to [[holtBacktest]] — one (type × day)
    * aggregate, then a per-type fold over a calendar-bounded array;
    * the raw event grain never sorts and no window ever spans data
    * size.
    */
  def holtWintersBacktest(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), lit(86400000L))
    val daily = events
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("__y"))
    val arr = sort_array(collect_list(struct(col("day"), col("__y"))))
    def fdiv2(c: Column): Column = Cols.floorDiv(c, lit(2L))
    val zero = struct(
      Seq(lit(0L).as("st"), lit(0L).as("l"), lit(0L).as("b")) ++
        (0 to 6).map(i => lit(0L).as(s"s$i")) ++
        Seq(lit(0L).as("lh"), lit(0L).as("bh"),
          lit(0L).as("hwe"), lit(0L).as("he"), lit(0L).as("n")): _*)
    val folded = aggregate(
      arr, zero,
      (acc, x) => {
        val y = x.getField("__y") * 10000L
        val dow = pmod(x.getField("day"), lit(7L))
        val first = acc.getField("st") === 0L
        val (l, b) = (acc.getField("l"), acc.getField("b"))
        val sdow = (1 to 6).foldLeft(when(dow === 0L, acc.getField("s0"))) {
          (w, i) => w.when(dow === i.toLong, acc.getField(s"s$i"))
        }
        val fc = l + b + sdow
        val l2 = fdiv2(y - sdow + l + b)
        val b2 = fdiv2(l2 - l + b)
        val (lh, bh) = (acc.getField("lh"), acc.getField("bh"))
        val fch = lh + bh
        val lh2 = fdiv2(y + lh + bh)
        val bh2 = fdiv2(lh2 - lh + bh)
        struct(
          Seq(
            lit(1L).as("st"),
            when(first, y).otherwise(l2).as("l"),
            when(first, 0L).otherwise(b2).as("b")) ++
            (0 to 6).map { i =>
              val si = acc.getField(s"s$i")
              when(first, 0L)
                .otherwise(when(dow === i.toLong, fdiv2(y - l2 + si)).otherwise(si))
                .as(s"s$i")
            } ++
            Seq(
              when(first, y).otherwise(lh2).as("lh"),
              when(first, 0L).otherwise(bh2).as("bh"),
              (acc.getField("hwe") + when(first, 0L).otherwise(abs(y - fc))).as("hwe"),
              (acc.getField("he") + when(first, 0L).otherwise(abs(y - fch))).as("he"),
              (acc.getField("n") + when(first, 0L).otherwise(1L)).as("n")): _*)
      })
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), folded.as("__f"))
      .filter(col("__f.n") > 0)
      .select(
        col("event_type"), col("n_days"), col("__f.n").as("n_scored"),
        Cols.floorDiv(col("__f.hwe"), col("__f.n")).as("hw_mae_e4"),
        Cols.floorDiv(col("__f.he"), col("__f.n")).as("holt_mae_e4"))
      .withColumn("hw_wins",
        when(col("hw_mae_e4") < col("holt_mae_e4"), 1L).otherwise(0L))
  }

  /** Chapman capture–recapture estimator — the classic two-sample trick
    * for sizing a population you can only sample (total distinct
    * entities behind two partial crawls, dedupe coverage, mark-resight
    * audience sizing): two independent deterministic 1-in-`rate` EVENT
    * samples are the two "captures"; per event type, `n1`/`n2` distinct
    * users caught per sample, `m` users caught by both, and the Chapman
    * estimate `N̂ = ⌊(n1+1)(n2+1)/(m+1)⌋ − 1`. Because the corpus is
    * fully observed here, the readout also scores the estimator against
    * the TRUE distinct count — and because active users are likelier
    * caught (heterogeneous catchability, the bias every real
    * mark-resight study fights), the signed `err_e4` is the calibration
    * number that says how far the two-sample trick can be trusted on
    * this activity distribution before it is used where the truth is
    * unknowable.
    *
    * Scale: one (type, user) grain aggregate carrying two sample flags
    * (the hash predicates push into the scan), one |types|-row rollup.
    */
  def captureRecapture(events: DataFrame, rate: Long = 10L): DataFrame = {
    def caught(salt: String): Column =
      (pmod(Cols.hash60(concat(lit(salt), col("event_id").cast("string"))), lit(rate))
        === 0L).cast("long")
    val perUser = events
      .select(col("event_type"), col("user_id"),
        caught("cr1:").as("__h1"), caught("cr2:").as("__h2"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(max(col("__h1")).as("__in1"), max(col("__h2")).as("__in2"))
    perUser
      .groupBy(col("event_type"))
      .agg(
        sum(col("__in1")).as("n1"),
        sum(col("__in2")).as("n2"),
        sum(col("__in1") * col("__in2")).as("m"),
        count(lit(1)).as("n_actual"))
      .withColumn("n_hat",
        Cols.floorDiv((col("n1") + 1L) * (col("n2") + 1L), col("m") + 1L) - 1L)
      .withColumn("err_e4",
        Cols.floorDiv((col("n_hat") - col("n_actual")) * 10000L, col("n_actual")))
  }

  /** Deterministic HyperLogLog distinct estimate — the sketch path for
    * distincts at 100 TB, built from first principles so BOTH engines
    * compute the identical integers (engine-native HLL sketches differ
    * across implementations, so `approx_count_distinct` can never be
    * cross-engine oracled; this one can). Per user: a salted 60-bit md5
    * hash splits into an `m`-way bucket (low bits) and a 52-bit
    * geometric observable (rho = trailing zeros + 1 of the high bits —
    * P(rho ≥ k) = 2⁻ᵏ, the HLL register distribution); per (type,
    * bucket) the register is `max(rho)`, and the estimate is the
    * standard harmonic mean α·m²/Σ2^(−reg) with the transcendental-free
    * quantize-then-sum idiom: each 2^(−reg) term is the EXACT integer
    * `10¹² >> reg`, and α·m²·10¹² is one precomputed literal, identical
    * in both engines. rho stays exact integer via `length(bin(w & −w))`
    * — no log2, no floats anywhere.
    *
    * Small cardinalities (n ≲ 2.5m) use the standard linear-counting
    * correction est = m·ln(m/zeros) — but ln must never run at query
    * time (libm last-ulp differences would break the cross-engine hash
    * contract), so the correction is a precomputed 255-entry integer
    * lookup ([[HllLinearCount]], zeros has only 255 possible values
    * when a group exists) indexed by `n_zero_buckets`; the oracle SQL
    * is GENERATED from the same Scala constant, so both engines read
    * literally identical tables.
    *
    * Scale: max-registers aggregate map-side-combines to ≤ |types|·m
    * rows (the whole point vs exact count_distinct's shuffle of every
    * key); the grid join backfills empty buckets at |types|·m grain;
    * everything downstream is |types| rows. Duplicates need no distinct
    * pass — max(rho) is idempotent.
    */
  def hllDistinct(events: DataFrame, m: Int = 256): DataFrame = {
    require(m == 256, s"alpha literal below is precomputed for m = 256 (got $m)")
    // floor(α_m · m² · 10¹²) with α_m = 0.7213/(1 + 1.079/m), exact
    // rational arithmetic: 7213·256000·65536·10¹² / (10000·257079)
    val AlphaNum = 47072712671202237L
    val RawFloor = 640L // 2.5·m: below this, raw HLL biases high — linear count
    val regs = events
      .select(col("event_type"),
        Cols.hash60(concat(lit("hll:"), col("user_id").cast("string"))).as("__h"))
      .select(col("event_type"),
        pmod(col("__h"), lit(m.toLong)).as("bucket"),
        Cols.floorDiv(col("__h"), lit(m.toLong)).as("__w"))
      .select(col("event_type"), col("bucket"),
        when(col("__w") === 0L, lit(53L))
          .otherwise(length(bin(col("__w").bitwiseAND(-col("__w")))).cast("long"))
          .as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
    val grid = events.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("bucket"))
    grid.join(regs, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("reg"))
      .groupBy(col("event_type"))
      .agg(
        sum(expr("shiftright(CAST(1000000000000 AS BIGINT), CAST(reg AS INT))")).as("__s"),
        sum(when(col("reg") === 0L, 1L).otherwise(0L)).as("n_zero_buckets"))
      .select(col("event_type"), col("n_zero_buckets"),
        Cols.floorDiv(lit(AlphaNum), col("__s")).as("__raw"))
      .select(col("event_type"), col("n_zero_buckets"),
        when(col("n_zero_buckets") > 0L && col("__raw") <= RawFloor,
          element_at(
            array(HllLinearCount.map(lit(_)): _*),
            col("n_zero_buckets").cast("int")))
          .otherwise(col("__raw")).as("approx_users"))
  }

  /** Linear-counting table for [[hllDistinct]]'s small-range regime:
    * entry z (1-based) is floor(256·ln(256/z)). Computed once here and
    * interpolated into the oracle SQL, so the engines cannot drift.
    */
  val HllLinearCount: IndexedSeq[Long] =
    (1 to 255).map(z => math.floor(256.0 * math.log(256.0 / z)).toLong)

  /** Deterministic hash-sample quantiles — the sample path for
    * percentiles at 100 TB (exact sort-based percentiles touch every
    * row; engine-native approx_percentile sketches differ across
    * engines and can never be cross-engine oracled). A salted 1-in-
    * `rate` md5 EVENT sample (the [[captureRecapture]] predicate — it
    * pushes into the scan) feeds the same exact interpolated-percentile
    * machinery as ev_value_quantiles, over rate× less data. Sampling
    * error is quantitative and spec-gated (ApproxSpec: the sampled p50/
    * p95 sit inside the exact [p−0.02, p+0.02] quantile band), and
    * `n_sampled` is emitted so a reader can size the rank error √n
    * themselves.
    */
  def sampledQuantiles(events: DataFrame, rate: Long = 10L): DataFrame =
    events
      .filter(pmod(
        Cols.hash60(concat(lit("evq:"), col("event_id").cast("string"))),
        lit(rate)) === 0L)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_sampled"),
        round(expr("percentile(value, 0.5)"), 4).as("p50_approx"),
        round(expr("percentile(value, 0.95)"), 4).as("p95_approx"))

  /** Robust daily anomaly screen — median/MAD instead of mean/stddev, so
    * the anomalies themselves cannot inflate the yardstick that is
    * supposed to catch them (one 10× day moves a mean-based z-score's
    * own baseline; it moves the median not at all): per (type, day),
    * the daily count against the type's LOWER median and the lower
    * median of absolute deviations, flagged when
    * `|c − med| > mult · max(MAD, 1)`. Lower medians (element at
    * ⌈n/2⌉ of the sorted array) keep everything exact integer — no
    * midpoint averaging, no floats.
    *
    * Scale: one aggregate to the (type × day) grain, then two
    * calendar-bounded sorted-array folds per type (the [[cusum]] array
    * idiom) — the raw event grain never sorts.
    */
  def madAnomalies(events: DataFrame, mult: Long = 3L): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), lit(86400000L))
    val daily = events
      .groupBy(col("event_type"), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
    val med = daily.groupBy(col("event_type"))
      .agg(Cols.lowerMedian(col("n_events")).as("med"))
    val withMed = daily.join(med, "event_type")
      .withColumn("dev", abs(col("n_events") - col("med")))
    val mad = withMed.groupBy(col("event_type"))
      .agg(Cols.lowerMedian(col("dev")).as("mad"))
    withMed.join(mad, "event_type")
      .select(
        col("event_type"), col("day"), col("n_events"), col("med"),
        col("mad"), col("dev"),
        when(col("dev") > lit(mult) * greatest(col("mad"), lit(1L)), 1L)
          .otherwise(0L).as("is_anomaly"))
  }

  def welchScreen(events: DataFrame, t2E4Threshold: Long = 38416L): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val cents = round(col("value") * 100).cast("long")
    val g = events
      .select(col("event_type"), arm.as("__arm"), cents.as("__c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__arm") === 0, col("__c")).otherwise(0L)).as("s0"),
        sum(when(col("__arm") === 1, col("__c")).otherwise(0L)).as("s1"),
        sum(when(col("__arm") === 0, dec38(col("__c")) * dec38(col("__c")))
          .otherwise(dec38(lit(0L)))).as("q0"),
        sum(when(col("__arm") === 1, dec38(col("__c")) * dec38(col("__c")))
          .otherwise(dec38(lit(0L)))).as("q1"))
    def varOf(n: Column, s: Column, q: Column): Column =
      Cols.floorDiv(dec38(n) * q - dec38(s) * dec38(s), dec38(n) * dec38(n - 1L)).cast("long")
    val withVar = g
      .filter(col("n0") > 1 && col("n1") > 1)
      .select(
        col("event_type"), col("n0"), col("n1"),
        Cols.floorDiv(col("s0") * 10000L, col("n0")).as("mean0_e4"),
        Cols.floorDiv(col("s1") * 10000L, col("n1")).as("mean1_e4"),
        varOf(col("n0"), col("s0"), col("q0")).as("__v0"),
        varOf(col("n1"), col("s1"), col("q1")).as("__v1"))
      .withColumn("se2_e8",
        // var·10⁸ widened to decimal(38,0): a cents² variance near 10¹⁰
        // would put the int64 product within a factor of 10 of wrapping
        Cols.floorDiv(dec38(col("__v0")) * dec38(lit(100000000L)), dec38(col("n0")))
          + Cols.floorDiv(dec38(col("__v1")) * dec38(lit(100000000L)), dec38(col("n1"))))
    val dd = col("mean0_e4") - col("mean1_e4")
    val t2 = when(col("se2_e8") > 0,
      Cols.floorDiv(dec38(dd) * dec38(dd) * dec38(lit(10000L)), dec38(col("se2_e8"))).cast("long"))
    withVar.select(
      col("event_type"), col("n0"), col("n1"),
      col("mean0_e4"), col("mean1_e4"), col("se2_e8"),
      t2.as("t2_e4"),
      when(t2.isNotNull && t2 > t2E4Threshold, 1L).otherwise(0L).as("significant"))
  }

  /** Sample-ratio-mismatch (SRM) guard — the sanity check an experiment
    * platform runs BEFORE reading any treatment effect: with a 50/50
    * split, are the realized arm sizes consistent with fair
    * randomization? Per event type, distinct exposed users per arm and
    * the 1-df equal-expected χ² `⌊(n_a − n_b)²·10⁴ / (n_a + n_b)⌋`,
    * flagged above `chi2E4Threshold` (default 1.96² — a flagged row
    * means the assignment itself is broken and every downstream readout
    * ([[mannWhitney]], [[welchScreen]], [[ksTest]], abLift) is suspect.
    *
    * Integer range: the numerator fits int64 to ~10⁷ users per arm;
    * beyond that widen to decimal — same note as [[mannWhitney]].
    *
    * Scale: one distinct-aggregate to (type, user) grain — map-side
    * combined — then a hash aggregate to |event_type| rows.
    */
  def srmCheck(events: DataFrame, chi2E4Threshold: Long = 38416L): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val diff = col("n_a") - col("n_b")
    events
      .select(col("event_type"), col("user_id"), arm.as("__arm"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(
        col("event_type"), col("n_a"), col("n_b"),
        Cols.floorDiv(diff * diff * 10000L, col("n_a") + col("n_b")).as("chi2_e4"))
      .withColumn("srm_flag",
        when(col("chi2_e4") > chi2E4Threshold, 1L).otherwise(0L))
  }

  /** (z₀.₉₇₅ + z₀.₈₀)² in e4 — the 5 %-two-sided / 80 %-power design
    * constant (2.8016² = 7.84896…), declared once so both engines use
    * the identical rational.
    */
  val PowerZ2E4 = 78490L

  /** Experiment DESIGN readout — what effect could this traffic even
    * detect: per event type, the pooled value variance (cents²), the
    * squared minimum detectable effect at 80 % power / 5 % significance
    * `mde2 = ⌊z²·σ²·(n₀+n₁) / (n₀·n₁)⌋` (e4, exact integers; the one
    * human-readable `mde_cents` double is `round(√(mde2/10⁴), 4)` — a
    * sqrt of an already-agreed integer, bit-identical cross-engine),
    * and the required users PER ARM to detect a 5 % shift of the pooled
    * mean: `⌊2σ²z²·400 / (μ²·10⁴)⌋ + 1` (strictly-above floor — no
    * cross-engine ceil on a raw double). Completes the experimentation
    * lifecycle: design (this) → assignment sanity ([[srmCheck]]) →
    * effect readout ([[welchScreen]]/[[mannWhitney]]/[[ksTest]]/CUPED).
    *
    * Scale: the same ONE map-side-combined moment aggregate as
    * [[welchScreen]]; output is |event_type| rows.
    */
  def powerMde(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val cents = round(col("value") * 100).cast("long")
    val g = events
      .select(col("event_type"), arm.as("__arm"), cents.as("__c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__arm") === 0, col("__c")).otherwise(0L)).as("s0"),
        sum(when(col("__arm") === 1, col("__c")).otherwise(0L)).as("s1"),
        sum(when(col("__arm") === 0, dec38(col("__c")) * dec38(col("__c")))
          .otherwise(dec38(lit(0L)))).as("q0"),
        sum(when(col("__arm") === 1, dec38(col("__c")) * dec38(col("__c")))
          .otherwise(dec38(lit(0L)))).as("q1"))
    def varOf(n: Column, s: Column, q: Column): Column =
      Cols.floorDiv(dec38(n) * q - dec38(s) * dec38(s), dec38(n) * dec38(n - 1L)).cast("long")
    val withVar = g
      .filter(col("n0") > 1 && col("n1") > 1)
      .select(
        col("event_type"), col("n0"), col("n1"), col("s0"), col("s1"),
        varOf(col("n0"), col("s0"), col("q0")).as("__v0"),
        varOf(col("n1"), col("s1"), col("q1")).as("__v1"))
      .withColumn("var_pooled",
        Cols.floorDiv(
          dec38(col("n0") - 1L) * dec38(col("__v0")) + dec38(col("n1") - 1L) * dec38(col("__v1")),
          dec38(col("n0") + col("n1") - 2L)).cast("long"))
      .withColumn("__mean",
        Cols.floorDiv(col("s0") + col("s1"), col("n0") + col("n1")))
    val mde2 = Cols.floorDiv(
      dec38(lit(PowerZ2E4)) * dec38(col("var_pooled")) * dec38(col("n0") + col("n1")),
      dec38(col("n0")) * dec38(col("n1"))).cast("long")
    withVar.select(
      col("event_type"), col("n0"), col("n1"), col("var_pooled"),
      mde2.as("mde2_cents2_e4"),
      round(sqrt(mde2.cast("double") / 10000.0), 4).as("mde_cents"),
      when(col("__mean") =!= 0,
        (Cols.floorDiv(
          dec38(lit(2L)) * dec38(col("var_pooled")) * dec38(lit(PowerZ2E4)) * dec38(lit(400L)),
          dec38(col("__mean")) * dec38(col("__mean")) * dec38(lit(10000L))).cast("long")
          + 1L)).as("n_per_arm_5pct"))
  }

  /** Difference-in-differences screen between the deterministic hash
    * arms (the [[welchScreen]] split), per event type: the corpus
    * calendar is cut at its in-plan midpoint (`⌊(min+max)/2⌋` epoch ms,
    * a 1-row broadcast — pre ≤ mid < post), and the estimator is the
    * classic 2×2 `(m̄₁ᵖᵒˢᵗ − m̄₁ᵖʳᵉ) − (m̄₀ᵖᵒˢᵗ − m̄₀ᵖʳᵉ)` on e4 cent
    * means — the treatment-effect readout that differences OUT any
    * shared time trend the raw post-period comparison ([[welchScreen]])
    * would absorb into its effect. With a hash-random split the two
    * diffs should agree; a DiD far from the Welch mean gap flags a
    * time-confounded metric. An event type missing ANY of the four
    * cells is dropped (no trend to difference — same contract as
    * [[welchScreen]]'s under-populated-arm drop); all four cell means
    * are exact `⌊s·10⁴/n⌋` rationals, so did_e4 is integer-exact.
    *
    * Scale: one map-side-combined aggregate computes all eight cell
    * moments per event type (no pivot, no self-join); the midpoint is a
    * 1-row aggregate crossJoined in-plan (never a driver-side collect).
    * Output is |event_type| rows.
    */
  def didScreen(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val cents = round(col("value") * 100).cast("long")
    val mid = events.agg(
      Cols.floorDiv(min(col("ts_ms")) + max(col("ts_ms")), lit(2L)).as("__mid"))
    val cells = events
      .crossJoin(broadcast(mid))
      .select(
        col("event_type"), arm.as("__arm"),
        (col("ts_ms") > col("__mid")).cast("long").as("__post"),
        cents.as("__c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__arm") === 0 && col("__post") === 0, 1L).otherwise(0L)).as("n0_pre"),
        sum(when(col("__arm") === 0 && col("__post") === 1, 1L).otherwise(0L)).as("n0_post"),
        sum(when(col("__arm") === 1 && col("__post") === 0, 1L).otherwise(0L)).as("n1_pre"),
        sum(when(col("__arm") === 1 && col("__post") === 1, 1L).otherwise(0L)).as("n1_post"),
        sum(when(col("__arm") === 0 && col("__post") === 0, col("__c")).otherwise(0L)).as("__s00"),
        sum(when(col("__arm") === 0 && col("__post") === 1, col("__c")).otherwise(0L)).as("__s01"),
        sum(when(col("__arm") === 1 && col("__post") === 0, col("__c")).otherwise(0L)).as("__s10"),
        sum(when(col("__arm") === 1 && col("__post") === 1, col("__c")).otherwise(0L)).as("__s11"))
    def m(s: Column, n: Column): Column = Cols.floorDiv(s * 10000L, n)
    cells
      .filter(col("n0_pre") > 0 && col("n0_post") > 0 &&
        col("n1_pre") > 0 && col("n1_post") > 0)
      .select(
        col("event_type"),
        col("n0_pre"), col("n0_post"), col("n1_pre"), col("n1_post"),
        m(col("__s00"), col("n0_pre")).as("mean0_pre_e4"),
        m(col("__s01"), col("n0_post")).as("mean0_post_e4"),
        m(col("__s10"), col("n1_pre")).as("mean1_pre_e4"),
        m(col("__s11"), col("n1_post")).as("mean1_post_e4"))
      .withColumn("did_e4",
        (col("mean1_post_e4") - col("mean1_pre_e4"))
          - (col("mean0_post_e4") - col("mean0_pre_e4")))
  }

  /** Poisson(1) bootstrap CDF thresholds `⌊P(X ≤ k)·2⁶⁰⌋` for k = 0..6,
    * declared once so both engines draw the identical weight from a
    * 60-bit hash: a row's replicate weight is the COUNT of thresholds at
    * or below its hash (h < T₀ → 0, T₀ ≤ h < T₁ → 1, …, ≥ T₆ → 7; the
    * truncated tail mass P(X ≥ 8) ≈ 10⁻⁵ lands on weight 7 identically
    * in both engines).
    */
  val BootCdf60: Seq[Long] = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L)

  /** Poisson-bootstrap confidence band per event type — the resampling
    * method that actually runs at 100 TB: classical bootstrap needs n
    * draws WITH replacement per replicate (a shuffle per replicate, or
    * a global sort), while the Poisson approximation gives every row an
    * independent Poisson(1) weight per replicate, so ALL `reps`
    * replicates ride one scan. Weights are deterministic (60-bit hash of
    * `boot:<event_id>:<replicate>` against [[BootCdf60]] — no RNG state,
    * bit-identical in the oracle), replicate means are exact
    * `⌊s·10⁴/n⌋` cent rationals, and the band is the nearest-rank
    * 2.5 %/97.5 % order statistic, which at B = 32 is exactly the
    * replicate min/max; `boot_var_e8` is the exact integer variance of
    * the replicate means (decimal(38,0) moments — 32 squared e4 means
    * overflow int64). Replicates with zero total weight are dropped
    * (P ≈ e⁻ⁿ — only an effectively empty type can produce one; the
    * `replicates` column makes any drop visible).
    *
    * Scale: one scan with a bounded ×`reps` explode feeding a map-side
    * combined aggregate — shuffle traffic is |event_type|·reps rows, not
    * |events|·reps; then a |event_type|-row join of two tiny aggregates.
    * No per-replicate pass, no driver-side RNG, no collect.
    */
  def bootstrapCi(events: DataFrame, reps: Int = 32): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val point = events
      .select(col("event_type"), cents.as("__c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("__s"))
      .select(col("event_type"), col("n"),
        Cols.floorDiv(col("__s") * 10000L, col("n")).as("mean_e4"))
    val h = Cols.hash60(
      concat_ws(":", lit("boot"), col("event_id"), col("__b")))
    val w = BootCdf60.map(t => (h >= t).cast("long")).reduce(_ + _)
    val repMeans = events
      .select(col("event_type"), col("event_id"), cents.as("__c"),
        explode(sequence(lit(0), lit(reps - 1))).as("__b"))
      .select(col("event_type"), col("__b"), col("__c"), w.as("__w"))
      .groupBy(col("event_type"), col("__b"))
      .agg(sum(col("__w")).as("__nb"),
        sum(col("__w") * col("__c")).as("__sb"))
      .filter(col("__nb") > 0)
      .select(col("event_type"),
        Cols.floorDiv(col("__sb") * 10000L, col("__nb")).as("__m"))
    val boot = repMeans
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("replicates"),
        min(col("__m")).as("boot_lo_e4"),
        max(col("__m")).as("boot_hi_e4"),
        sum(col("__m")).as("__sm"),
        sum(dec38(col("__m")) * dec38(col("__m"))).as("__qm"))
      .select(col("event_type"), col("replicates"),
        col("boot_lo_e4"), col("boot_hi_e4"),
        when(col("replicates") > 1,
          Cols.floorDiv(
            dec38(col("replicates")) * col("__qm") - dec38(col("__sm")) * dec38(col("__sm")),
            dec38(col("replicates")) * dec38(col("replicates") - 1L)).cast("long"))
          .as("boot_var_e8"))
    point.join(boot, Seq("event_type"))
  }

  /** Re-randomization test + Benjamini–Hochberg step-up across event
    * types — the multiple-testing layer the per-type screens
    * ([[welchScreen]], [[mannWhitney]]) lack: run m tests at q = 5 % each
    * and ~m·q false alarms page someone weekly. Everything stays exact
    * integer, avoiding the p-value CDF entirely:
    *
    *  - per type, the observed arm mean-difference (e4 cents, the abLift
    *    assignment hash) is compared against `reps` deterministic
    *    re-randomizations (arm = hash60("perm:b:user") — the Poisson-
    *    bootstrap discipline: no RNG state, bit-identical in the oracle);
    *    the exact permutation p-value is the COUNT
    *    `p = (1 + #{b : |diff_b| ≥ |diff_obs|}) / (1 + #valid reps)`.
    *  - BH at q = qNum/qDen: rank types by p ascending (e6-quantized key,
    *    ties by type name), reject ranks ≤ i* where i* is the largest i
    *    with `p_num·qDen·m ≤ i·qNum·p_den` — the step-up rule as a pure
    *    integer inequality. `significant_raw` (p ≤ q, uncorrected) sits
    *    beside `significant_bh` so the report shows what the correction
    *    changed.
    *
    * Replicates where a re-randomization empties an arm are dropped and
    * `p_den` shrinks accordingly (visible in the output).
    *
    * Scale: one scan with a bounded ×`reps` explode into a map-side
    * combined aggregate — shuffle traffic is |types|·reps rows (the
    * [[bootstrapCi]] shape); the BH windows run over the |types|-row
    * p-value table only (PlanAudit.BoundedGlobalWindow).
    */
  def permFdr(
      events: DataFrame, reps: Int = 64,
      qNum: Long = 1L, qDen: Long = 20L): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    def armSums(df: DataFrame, keys: Seq[Column]): DataFrame =
      df.groupBy(keys: _*)
        .agg(
          sum(when(col("__a") === 0, 1L).otherwise(0L)).as("__n0"),
          sum(when(col("__a") === 1, 1L).otherwise(0L)).as("__n1"),
          sum(when(col("__a") === 0, col("__c")).otherwise(0L)).as("__s0"),
          sum(when(col("__a") === 1, col("__c")).otherwise(0L)).as("__s1"))
        .filter(col("__n0") > 0 && col("__n1") > 0)
        .withColumn(
          "__diff_e4",
          Cols.floorDiv(col("__s0") * 10000L, col("__n0"))
            - Cols.floorDiv(col("__s1") * 10000L, col("__n1")))
    val obs = armSums(
      events.select(
        col("event_type"),
        pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L)).as("__a"),
        cents.as("__c")),
      Seq(col("event_type")))
      .select(
        col("event_type"), col("__n0").as("n0"), col("__n1").as("n1"),
        col("__diff_e4").as("obs_diff_e4"))
    val repStats = armSums(
      events
        .select(
          col("event_type"), col("user_id"), cents.as("__c"),
          explode(sequence(lit(0), lit(reps - 1))).as("__b"))
        .select(
          col("event_type"), col("__b"), col("__c"),
          pmod(
            Cols.hash60(concat_ws(":", lit("perm"), col("__b"), col("user_id"))),
            lit(2L)).as("__a")),
      Seq(col("event_type"), col("__b")))
    val pvals = repStats
      .join(broadcast(obs), "event_type")
      .groupBy(col("event_type"))
      .agg(
        max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        max(col("obs_diff_e4")).as("obs_diff_e4"),
        count(lit(1)).as("__nv"),
        sum(when(abs(col("__diff_e4")) >= abs(col("obs_diff_e4")), 1L)
          .otherwise(0L)).as("__ge"))
      .select(
        col("event_type"), col("n0"), col("n1"), col("obs_diff_e4"),
        (col("__ge") + 1L).as("p_num"), (col("__nv") + 1L).as("p_den"))
      .withColumn("p_e6", Cols.floorDiv(col("p_num") * 1000000L, col("p_den")))
    val byP = Window.orderBy(col("p_e6"), col("event_type"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = pvals
      .withColumn("rnk", row_number().over(byP).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn(
        "__qual",
        when(
          col("p_num") * qDen * col("__m") <= col("rnk") * qNum * col("p_den"),
          col("rnk")).otherwise(lit(0L)))
      .withColumn("__istar", max(col("__qual")).over(wAll))
    ranked.select(
      col("event_type"), col("n0"), col("n1"), col("obs_diff_e4"),
      col("p_num"), col("p_den"), col("p_e6"), col("rnk"),
      when(col("p_num") * qDen <= col("p_den") * qNum, 1L).otherwise(0L)
        .as("significant_raw"),
      when(col("rnk") <= col("__istar"), 1L).otherwise(0L)
        .as("significant_bh"))
  }

  /** Population-stability-index drift screen per event type — the
    * model-monitoring standard for "has this feature's distribution
    * moved": the corpus calendar is cut at its in-plan midpoint (the
    * [[didScreen]] cut), the REFERENCE half's cent-value range defines
    * `bins` equal-width buckets (current-half outliers clamp into the
    * edge buckets — the production convention, nothing is dropped), and
    * `psi = Σ_bins (p − q)·ln(p/q)` over Laplace-smoothed shares
    * `p = (n_bin + 1)/(n_half + bins)` (smoothing keeps every log finite
    * on empty cells, which the zero-filled grid makes explicit). Each
    * bin's term is rounded to e4 then summed — the [[graft.text.TextAnalysis.charEntropy]]
    * quantize-then-sum discipline that keeps the one transcendental
    * (`ln`) cross-engine stable. Flag above `alertE4` (0.2 — the
    * conventional "significant shift" line).
    *
    * Scale: a 1-row midpoint broadcast, a |event_type|-row broadcast of
    * the reference ranges, ONE map-side-combined count to the
    * |event_type|·bins grid, and bounded ×bins grid fill — no window, no
    * sort, no second scan of the raw events.
    */
  def psi(events: DataFrame, bins: Int = 10, alertE4: Long = 2000L): DataFrame = {
    val mid = events.agg(
      Cols.floorDiv(min(col("ts_ms")) + max(col("ts_ms")), lit(2L)).as("__mid"))
    val base = events.crossJoin(broadcast(mid))
      .select(col("event_type"),
        (col("ts_ms") > col("__mid")).cast("long").as("__cur"),
        round(col("value") * 100).cast("long").as("__c"))
    val range = base.filter(col("__cur") === 0)
      .groupBy(col("event_type"))
      .agg(min(col("__c")).as("__lo"), max(col("__c")).as("__hi"))
    val rawBin = Cols.floorDiv(
      (col("__c") - col("__lo")) * bins, col("__hi") - col("__lo") + 1L)
    val bin = least(greatest(rawBin, lit(0L)), lit((bins - 1).toLong))
    val counts = base.join(broadcast(range), "event_type")
      .select(col("event_type"), col("__cur"), bin.as("__bin"))
      .groupBy(col("event_type"), col("__bin"))
      .agg(
        sum(when(col("__cur") === 0, 1L).otherwise(0L)).as("__nr"),
        sum(when(col("__cur") === 1, 1L).otherwise(0L)).as("__nc"))
    val grid = range.select(col("event_type"),
      explode(sequence(lit(0L), lit((bins - 1).toLong))).as("__bin"))
    val filled = grid.join(counts, Seq("event_type", "__bin"), "left")
      .na.fill(0L, Seq("__nr", "__nc"))
    val tot = filled.groupBy(col("event_type"))
      .agg(sum(col("__nr")).as("n_ref"), sum(col("__nc")).as("n_cur"))
    val p = (col("__nr").cast("double") + 1.0) /
      (col("n_ref").cast("double") + bins)
    val q = (col("__nc").cast("double") + 1.0) /
      (col("n_cur").cast("double") + bins)
    val term = round((p - q) * log(p / q) * 10000).cast("long")
    filled.join(tot, "event_type")
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .groupBy(col("event_type"), col("n_ref"), col("n_cur"))
      .agg(sum(term).as("psi_e4"))
      .withColumn("drift_flag",
        when(col("psi_e4") > alertE4, 1L).otherwise(0L))
  }

  /** Growth-accounting decomposition per event type — the "WHY did the
    * metric move" readout between the calendar halves (the [[didScreen]]
    * cut): `Δtotal = volume effect + rate effect`, where the volume
    * effect prices the count change at the REFERENCE mean
    * (`⌊(n₁−n₀)·s₀·10⁴/n₀⌋`, one decimal-widened floor) and the rate
    * effect is the exact complement (`Δ·10⁴ − volume` — the standard
    * remainder convention, so the identity holds to the unit instead of
    * accumulating two floors' residue). A type missing either half drops
    * (nothing to decompose — the [[welchScreen]] convention). This is
    * the first question every metrics review asks of a moved KPI: more
    * events, or bigger ones?
    *
    * Scale: the same ONE map-side-combined half-split aggregate as
    * [[didScreen]]; output is |event_type| rows.
    */
  def growthDecomposition(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val mid = events.agg(
      Cols.floorDiv(min(col("ts_ms")) + max(col("ts_ms")), lit(2L)).as("__mid"))
    val g = events
      .crossJoin(broadcast(mid))
      .select(col("event_type"),
        (col("ts_ms") > col("__mid")).cast("long").as("__cur"),
        cents.as("__c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__cur") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__cur") === 1, 1L).otherwise(0L)).as("n_cur"),
        sum(when(col("__cur") === 0, col("__c")).otherwise(0L)).as("sum_ref_cents"),
        sum(when(col("__cur") === 1, col("__c")).otherwise(0L)).as("sum_cur_cents"))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
    val deltaE4 = dec38(col("sum_cur_cents") - col("sum_ref_cents")) * dec38(lit(10000L))
    val volE4 = Cols.floorDiv(
      dec38(col("n_cur") - col("n_ref")) * dec38(col("sum_ref_cents")) * dec38(lit(10000L)),
      dec38(col("n_ref")))
    g.select(
      col("event_type"), col("n_ref"), col("n_cur"),
      col("sum_ref_cents"), col("sum_cur_cents"),
      (col("sum_cur_cents") - col("sum_ref_cents")).as("delta_cents"),
      volE4.cast("long").as("volume_effect_e4"),
      (deltaE4 - volE4).cast("long").as("rate_effect_e4"))
  }

  /** Seasonality-STRENGTH readout per event type — one number for "how
    * weekly is this metric": the share of daily-count variance explained
    * by day-of-week means, `η² = SS_between / SS_total` over the daily
    * series, in e4. Uses the computational identities
    * `SS_t·N = N·Σx² − S²` and `SS_b·N = N·Σ_g S_g²/n_g − S²`; the one
    * per-group division is quantized once (`⌊S_g²·10⁶/n_g⌋`,
    * quantize-then-sum) and everything else is exact decimal(38,0).
    * Alongside it the peak and trough weekdays with their exact e4 mean
    * daily counts (ties: higher mean, then smaller weekday — pinned).
    * [[graft.ops.TimeSeries.seasonalResiduals]] flags individual
    * anomalous days; this grades whether the weekly model is worth
    * fitting at all (η² near 0 → `ev_chi2_hour`-style profiles are
    * noise; near 1 → gap-fill and forecasts MUST be dow-aware).
    *
    * Scale: one aggregate to the (type, day) grain — bounded by the
    * calendar, not the row count — then a ≤ 7-row-per-type rollup;
    * windows only over the 7-row weekday grid.
    */
  def seasonalityStrength(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("__day"))
      .agg(count(lit(1)).as("__x"))
      .withColumn("__dow", pmod(col("__day"), lit(7L)))
    val perDow = daily.groupBy(col("event_type"), col("__dow"))
      .agg(count(lit(1)).as("__ng"), sum(col("__x")).as("__sg"))
      .withColumn("__mean_e4", Cols.floorDiv(col("__sg") * 10000L, col("__ng")))
    val wPeak = Window.partitionBy(col("event_type"))
      .orderBy(col("__mean_e4").desc, col("__dow"))
    val wTrough = Window.partitionBy(col("event_type"))
      .orderBy(col("__mean_e4"), col("__dow"))
    val peaks = perDow
      .withColumn("__rp", row_number().over(wPeak))
      .withColumn("__rt", row_number().over(wTrough))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("__rp") === 1, col("__dow"))).as("peak_dow"),
        max(when(col("__rp") === 1, col("__mean_e4"))).as("peak_mean_e4"),
        max(when(col("__rt") === 1, col("__dow"))).as("trough_dow"),
        max(when(col("__rt") === 1, col("__mean_e4"))).as("trough_mean_e4"))
    val moments = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("__x")).as("__s"),
        sum(dec38(col("__x")) * dec38(col("__x"))).as("__q"))
    val groupTerm = perDow.groupBy(col("event_type"))
      .agg(sum(Cols.floorDiv(
        dec38(col("__sg")) * dec38(col("__sg")) * dec38(lit(1000000L)), dec38(col("__ng"))))
        .as("__a"))
    val num = col("__a") * dec38(col("n_days")) -
      dec38(col("__s")) * dec38(col("__s")) * dec38(lit(1000000L))
    val den = (dec38(col("n_days")) * col("__q") - dec38(col("__s")) * dec38(col("__s"))) *
      dec38(lit(1000000L))
    moments.join(groupTerm, "event_type").join(peaks, "event_type")
      .select(
        col("event_type"), col("n_days"),
        // the quantized group term can undershoot by < 1 per group, so a
        // truly flat series may go fractionally negative; clamping the
        // NUMERATOR keeps the division positive (plain floor in any
        // engine — no negative-// mirror hazard)
        when(den > 0,
          Cols.floorDiv(greatest(num, dec38(lit(0L))) * dec38(lit(10000L)), den)
            .cast("long")).as("eta2_e4"),
        col("peak_dow"), col("peak_mean_e4"),
        col("trough_dow"), col("trough_mean_e4"))
  }

  /** Two-sample Kolmogorov–Smirnov D between the deterministic hash
    * arms (the [[mannWhitney]]/[[welchScreen]] split), per event type —
    * the distribution-SHAPE member of the experimentation family:
    * Mann–Whitney detects a location shift, Welch a mean shift, KS any
    * CDF divergence (variance, bimodality, tail weight).
    *
    * Exact integers end-to-end: on the per-(type, cent-value) count
    * table, the empirical-CDF gap at value v is
    * `|n_b·cumA(v) − n_a·cumB(v)|` (both CDFs cleared of their 1/n
    * denominators), and `d_e6 = ⌊max_v |…|·10⁶ / (n_a·n_b)⌋` — the sup
    * statistic in e6 without a single intermediate double. The max over
    * v only needs CDF steps, so the aggregated value grid suffices.
    * The gap product is widened to decimal(38,0): int64 would wrap once
    * `n_a·n_b·10⁶` passes 9.2·10¹⁸ (≈ 3·10⁶ events per arm per type).
    *
    * Scale: one hash aggregate to the |type × cent-value| grid (map-side
    * combined — quantizing to cents bounds the grid by the value range,
    * not the row count, unlike a raw-double grain), then per-type
    * running-sum windows over that aggregated table — the [[mannWhitney]]
    * rank-pass posture. Output is |event_type| rows.
    */
  def ksTest(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val perValue = events
      .select(
        col("event_type"), arm.as("__arm"),
        round(col("value") * 100).cast("long").as("__v"))
      .groupBy(col("event_type"), col("__v"))
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("cb"))
    val run = Window.partitionBy(col("event_type")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    perValue
      .withColumn("__cuma", sum(col("ca")).over(run))
      .withColumn("__cumb", sum(col("cb")).over(run))
      .withColumn("__na", sum(col("ca")).over(tot))
      .withColumn("__nb", sum(col("cb")).over(tot))
      .groupBy(col("event_type"))
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(abs(
          dec38(col("__cuma")) * dec38(col("__nb"))
            - dec38(col("__cumb")) * dec38(col("__na")))).as("__dn"))
      .select(
        col("event_type"), col("n_a"), col("n_b"),
        when(
          col("n_a") * col("n_b") > 0,
          Cols.floorDiv(
            col("__dn") * dec38(lit(1000000L)),
            dec38(col("n_a") * col("n_b"))).cast("long")).as("d_e6"))
  }

  /** Discrete-time churn hazard curve — the survival-analysis readout
    * (a Kaplan–Meier life table without the cumulative-survival column,
    * which would need a cross-engine product of rationals): per
    * active-span length t in days, how many users were still observable
    * at t (`n_risk`), how many churned exactly there (`n_churned`), and
    * the hazard `⌊n_churned·10⁴ / n_risk⌋`.
    *
    * Right-censoring is explicit: the observation window ends
    * `horizonDays` before the last event day (the censor day), a user
    * counts as CHURNED only when they have no activity after it, and a
    * still-active user contributes a censored span `censor − first_day`
    * (alive through the whole observable window) — without this, every
    * user "churns" at their last event and the tail hazard reads 100 %.
    *
    * Scale: one hash aggregate to |users| conditional min/max spans
    * (map-side combined; the censor day rides along as a broadcast 1-row
    * scalar), a second to the |span-length| histogram — bounded by the
    * CALENDAR, not the data — and the at-risk suffix sum is one window
    * over that calendar-sized table.
    */
  def hazardCurve(
      events: DataFrame, userCol: String, day: Column,
      horizonDays: Int): DataFrame = {
    require(horizonDays >= 1, "a zero horizon makes every user churn at its last event")
    val censor = broadcast(
      events.agg((max(day) - horizonDays).as("__censor")))
    val spans = events
      .select(col(userCol).as("user_id"), day.as("__day"))
      .crossJoin(censor)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("__day") <= col("__censor"), col("__day"))).as("__first"),
        max(when(col("__day") <= col("__censor"), col("__day"))).as("__last"),
        max(when(col("__day") > col("__censor"), 1L).otherwise(0L)).as("__after"),
        max(col("__censor")).as("__cens"))
      .filter(col("__first").isNotNull)
      .select(
        when(col("__after") === 1L, col("__cens") - col("__first"))
          .otherwise(col("__last") - col("__first")).as("day_offset"),
        (lit(1L) - col("__after")).as("__churn"))
    val hist = spans.groupBy(col("day_offset"))
      .agg(count(lit(1)).as("__n_obs"), sum(col("__churn")).as("n_churned"))
    // suffix sum over the |span-length| histogram: bounded by calendar
    // days by construction (PlanAudit.BoundedGlobalWindow)
    val w = Window.orderBy(col("day_offset").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_risk", sum(col("__n_obs")).over(w))
      .select(
        col("day_offset"), col("n_risk"), col("n_churned"),
        Cols.floorDiv(col("n_churned") * 10000L, col("n_risk")).as("hazard_e4"))
  }
}
