package graft

import graft.ops.Clickstream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — query registry + DuckDB oracle SQL (see SURVEY.md §2,
  * the builder prompt, and Verify.scala).
  *
  * Every query here returns hash-stable output: integer columns are 64-bit
  * in both engines, floating aggregates are rounded, arrays are canonicalized
  * to sorted comma-joined strings, and all hashing is md5-derived so Spark
  * and DuckDB agree bit-for-bit (Cols.hash60).
  */
object SparkEntry {

  import Clickstream.{DefaultGapMs => GAP, DefaultKpiWindowMs => WIN}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Clickstream.sessionize(Tables.events(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    clickstreamQueries ++
      graft.relational.RelationalQueries.queries ++
      graft.text.TextAnalysis.queries ++
      graft.dedup.Dedup.queries ++
      graft.sim.Similarity.queries ++
      graft.multimodal.Multimodal.queries

  private def clickstreamQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cs_sessionize" -> ((s, dir) =>
      Clickstream.sessionize(Tables.events(s, dir))),
    // the typed-Aggregator (accumulator) formulation of the same pipeline —
    // same oracle as cs_sessionize, proving the UDAF twin on real data
    "cs_sessionize_typed" -> ((s, dir) =>
      Clickstream.sessionizeTyped(Tables.events(s, dir))),
    "cs_buy_sessions" -> ((s, dir) =>
      Clickstream.buySessions(Clickstream.sessionize(Tables.events(s, dir)))),
    "cs_user_kpis" -> ((s, dir) =>
      Clickstream.userKpis(Clickstream.sessionize(Tables.events(s, dir)))),
    "cs_departments" -> ((s, dir) =>
      Clickstream.departments(Clickstream.sessionize(Tables.events(s, dir)))),
    "ev_type_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))),
    // as-of (point-in-time) join: each purchase picks up the user's most
    // recent prior status event — single-sort union+window implementation
    "ev_asof_status" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      val statuses = ev.filter(col("event_type").isin("signup", "error"))
        .select(
          col("user_id"), col("ts_ms"),
          col("event_type").as("status"), col("ts_ms").as("status_ts_ms"))
      graft.ops.AsOfJoin.asOfLeft(
        purchases, statuses, key = "user_id", tsCol = "ts_ms",
        payload = Seq("status", "status_ts_ms"))
    }),
    // forward as-of join: each purchase picks up the user's NEXT status
    // event (the event-to-outcome join) — same single-sort union machinery
    // as ev_asof_status, descending order
    "ev_asof_next" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      val statuses = ev.filter(col("event_type").isin("signup", "error"))
        .select(
          col("user_id"), col("ts_ms"),
          col("event_type").as("status"), col("ts_ms").as("status_ts_ms"))
      graft.ops.AsOfJoin.asOfLeft(
        purchases, statuses, key = "user_id", tsCol = "ts_ms",
        payload = Seq("status", "status_ts_ms"), forward = true)
    }),
    // per-column data-quality profile in ONE pass: a single aggregate
    // computes every column's null/distinct counts, exploded to the report
    "ev_profile" -> ((s, dir) =>
      graft.ops.Profile.profile(
        Tables.events(s, dir).drop("ts"),
        Seq("event_id", "user_id", "event_type", "value", "props", "ts_ms"))),
    // the should-I-salt diagnostic: hottest-key share and p99 per-key count
    "ev_key_skew" -> ((s, dir) =>
      graft.ops.Scale.keySkew(Tables.events(s, dir), "user_id")),
    // directory-level zone map over the engine's own bucketing: the table
    // a planner prunes time-range and point-lookup scans with
    "ev_zone_map" -> ((s, dir) =>
      graft.ops.Scale.zoneMap(Tables.events(s, dir), "user_id", "ts_ms")),
    // per-bucket bloom-filter sizing from exact NDV: bits, hashes, bytes
    // for a 1% point-lookup FPP — all integer (fixed e6 ln constants)
    "tbl_bloom_design" -> ((s, dir) =>
      graft.ops.Scale.bloomDesign(Tables.events(s, dir), "user_id")),
    // Z-order layout audit: 16 Z-ranges, each a bounded 64x64 rectangle
    // in (key mod 256, day mod 256) space — two-column pruning in one key
    "ev_zorder_layout" -> ((s, dir) =>
      graft.ops.Scale.zorderLayout(Tables.events(s, dir), "user_id", "ts_ms")),
    // small-cell privacy audit over the quasi-identifier grid
    "cust_k_anon" -> ((s, dir) =>
      graft.ops.Scale.kAnonymity(
        Tables.customer(s, dir)
          .withColumn("c_nationkey", org.apache.spark.sql.functions.col("c_nationkey").cast("long")),
        Seq("c_nationkey", "c_mktsegment"))),
    // the step before the k-anon audit: walk the balance generalization
    // ladder, price each rung, flag the first fully-k-anonymous one
    "cust_anon_plan" -> ((s, dir) =>
      graft.ops.Scale.anonymizationPlan(Tables.customer(s, dir))),
    // DP release planner: Laplace scale + worst-cell relative error for
    // the three grid marginals under sequential eps/3 composition
    "cust_dp_budget" -> ((s, dir) =>
      graft.ops.Scale.dpBudgetPlan(Tables.customer(s, dir))),
    // the k-anonymity partner: large cells can still leak when every row
    // shares one sensitive value — flag cells with < 2 distinct segments
    "cust_l_diversity" -> ((s, dir) =>
      graft.ops.Scale.lDiversity(
        Tables.customer(s, dir)
          .withColumn("c_nationkey", org.apache.spark.sql.functions.col("c_nationkey").cast("long")),
        Seq("c_nationkey"), "c_mktsegment")),
    // third leg of the privacy trio: t-closeness of each nation's
    // balance distribution vs the global one — exact-integer EMD on a
    // 16-bucket cent grid
    "cust_t_closeness" -> ((s, dir) =>
      graft.ops.Scale.tCloseness(
        Tables.customer(s, dir)
          .withColumn("c_nationkey", org.apache.spark.sql.functions.col("c_nationkey").cast("long")),
        Seq("c_nationkey"), "c_acctbal")),
    // HLL sketch distinct counting — the approximate path for distincts at
    // 100 TB (exact count_distinct shuffles every key; the sketch merges
    // at |types|·m register grain). Deterministic from-first-principles
    // HLL (md5 buckets + trailing-zero registers + quantized harmonic
    // mean), so unlike engine-native approx_count_distinct it oracles
    // EXACTLY; ApproxSpec additionally bounds its error against exact,
    // and keeps the native-sketch gate for the Spark API surface.
    "ev_approx_users" -> ((s, dir) =>
      graft.ops.Stats.hllDistinct(Tables.events(s, dir))),
    // sampled percentiles — the mergeable companion to the exact
    // sort-based ev_value_quantiles: a deterministic 1-in-10 md5 event
    // sample (predicate pushes into the scan) through the same exact
    // percentile machinery. Oracles exactly (unlike the engine-native
    // approx_percentile sketch, which ApproxSpec still gates locally).
    "ev_approx_quantiles" -> ((s, dir) =>
      graft.ops.Stats.sampledQuantiles(Tables.events(s, dir))),
    // skew-resistant two-phase aggregation — identical results to a plain
    // GROUP BY (the oracle), different shuffle shape (ScaleSpec pins it)
    "ev_salted_value_sum" -> ((s, dir) =>
      graft.ops.Scale.saltedCountSum(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", saltFactor = 8)
        .select(col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))),
    // exact percentiles (sort-based interpolation — same formula as
    // DuckDB's quantile_cont, so it oracles exactly unlike the
    // approx_percentile sketch)
    "ev_value_quantiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))),
    // pivot: event-type counts as columns, one row per user bucket
    // (explicit value list keeps the schema static — the scalable pivot;
    // value discovery would need an extra pass and a dynamic schema)
    "ev_type_pivot" -> ((s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      Tables.events(s, dir)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10L)))
        .groupBy(col("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(
          col("user_bucket") +:
            types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),
    // semi-structured extraction: the props column is a JSON string;
    // get_json_object is codegen'd path extraction — no UDF, no
    // intermediate struct materialization for a single-field pull.
    // The average is exact integer ten-thousandths (sum*10000 floor-div
    // count) — round(avg(..)) depended on cross-engine double
    // bit-equality and was the one red row in CORRECTNESS_r03 (the
    // driver's DuckDB build rounds the last ulp differently).
    "ev_props_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .withColumn("avg_k_e4", graft.Cols.floorDiv(col("sum_k") * 10000, col("n_events")))
        // declared column order must match the oracle's: the driver's hash
        // is column-order sensitive (rows/schema checks are not) — this was
        // the one red row in CORRECTNESS_r04
        .select(col("event_type"), col("n_events"), col("sum_k"),
          col("avg_k_e4"), col("min_k"), col("max_k"))),
    // skew-resistant salted equi-join — identical results to the plain
    // join (the oracle); the big side fans each hot key over saltFactor
    // tasks, the small dimension replicates (ScaleSpec pins the fan-out).
    // event_type has 5 values — exactly the hot-key shape where an
    // unsalted shuffle join funnels 20% of a 100 TB table into one task.
    "ev_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"), round(sum(col("value")), 2).as("type_sum"))
      graft.ops.Scale.saltedJoin(ev, dim, "event_type", saltFactor = 8)
        .select(col("event_id"), col("event_type"), col("type_n"), col("type_sum"))
    }),
    // exact heavy hitters: users contributing ≥0.5% of all events. The
    // support threshold is computed IN-PLAN (cross join with a broadcast
    // 1-row count) — no driver-side count, so the operator composes
    // lazily like everything else. At 100 TB the same shape works: one
    // hash agg + a scalar broadcast.
    "ev_heavy_hitters" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("__total"))))
        .filter(col("n_events") * 200 >= col("__total"))
        .select(col("user_id"), col("n_events"))
    }),
    // incremental heavy hitters: per simulated ingest batch, the users
    // holding ≥ 0.5% of everything seen SO FAR (cumulative partial-count
    // merge, the batch ≤ id cut)
    "ev_heavy_incr" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .select(col("user_id"),
          pmod(
            graft.Cols.hash60(concat(lit("cb:"), col("event_id").cast("string"))),
            lit(4L)).as("__batch"))
        .groupBy(col("__batch"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val ids = broadcast(s.range(0L, 4L).select(col("id").as("batch")))
      val cum = ids.join(per, col("__batch") <= col("batch"))
        .groupBy(col("batch"), col("user_id"))
        .agg(sum(col("n")).as("n_events"))
      val tot = cum.groupBy(col("batch")).agg(sum(col("n_events")).as("total_events"))
      cum.join(tot, "batch")
        .filter(col("n_events") * 200L >= col("total_events"))
        .select(col("batch"), col("user_id"), col("n_events"), col("total_events"))
    }),
    // ordered funnel with a 24 h conversion window: view → click →
    // purchase, each stage strictly after the previous and within 24 h of
    // funnel entry — a chain of shrinking per-stage aggregates, counts
    // unioned as 1-row aggregates (no driver actions)
    "cs_funnel" -> ((s, dir) =>
      graft.ops.Analytics.funnel(
        Tables.events(s, dir),
        stages = Seq("view", "click", "purchase"),
        withinMs = Some(86400000L))),
    // cohort retention triangle: users by first-seen day, distinct-counted
    // on each later active day
    "cs_retention" -> ((s, dir) =>
      graft.ops.Analytics.retention(Tables.events(s, dir))),
    // exponential-decay fit of the censored blended retention curve:
    // exact-integer Theil-Sen slope + half-life in days e4
    "cs_retention_halflife" -> ((s, dir) =>
      graft.ops.Analytics.retentionHalflife(Tables.events(s, dir))),
    // first-order Markov transition matrix over per-user event sequences,
    // with the per-from-type share in exact integer e4
    "ev_transitions" -> ((s, dir) =>
      graft.ops.Analytics.transitions(Tables.events(s, dir))),
    // entropy rate of that chain, per state: conditional entropy (bits,
    // quantize-then-sum e6), empirical weight, and the π·H contribution
    "ev_markov_entropy" -> ((s, dir) =>
      graft.ops.Analytics.markovEntropy(Tables.events(s, dir))),
    // pairwise audience overlap (distinct-user Jaccard) between event types
    "ev_segment_overlap" -> ((s, dir) =>
      graft.ops.Analytics.segmentOverlap(Tables.events(s, dir))),
    // hour-of-day seasonality profile per type (UTC, pure integer math)
    "ev_hour_profile" -> ((s, dir) =>
      graft.ops.Analytics.hourProfile(Tables.events(s, dir))),
    // equi-width histogram over the global value range, bounds in-plan
    "ev_histogram" -> ((s, dir) =>
      graft.ops.Profile.histogram(Tables.events(s, dir), "event_type", "value")),
    // calendar rolling 7-day activity per type (RANGE frame — gap days
    // age out), all-integer outputs
    "ev_rolling_daily" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingDaily(Tables.events(s, dir), "event_type", "ts_ms")),
    // top user journeys: most common length-3 event-type paths
    "ev_top_paths" -> ((s, dir) =>
      graft.ops.Analytics.topPaths(Tables.events(s, dir))),
    // inter-arrival gap statistics per type of the later event
    "ev_interarrival" -> ((s, dir) =>
      graft.ops.Analytics.interArrival(Tables.events(s, dir))),
    // peak concurrent sessions per day — day-decomposed sweep line
    "ev_concurrency" -> ((s, dir) =>
      graft.ops.Analytics.sessionConcurrency(Tables.events(s, dir))),
    // hash-armed two-proportion z² per event type, decimal-exact
    "ev_ab_lift" -> ((s, dir) =>
      graft.ops.Analytics.abLift(Tables.events(s, dir))),
    // nonparametric partner of ev_ab_lift: rank-sum U test on the value
    // distribution between the same hash arms, integer doubled midranks
    "ev_mann_whitney" -> ((s, dir) =>
      graft.ops.Stats.mannWhitney(Tables.events(s, dir))),
    // parametric partner of ev_mann_whitney: quantized Welch t² on the
    // same arms — mean shift weighted by per-arm variance, exact e4
    "ev_welch_screen" -> ((s, dir) =>
      graft.ops.Stats.welchScreen(Tables.events(s, dir))),
    // the multiple-testing layer over the arm-test family: exact-count
    // re-randomization p-values (64 hash-deterministic replicates) +
    // integer Benjamini-Hochberg step-up at q=5% across types
    // fan the single-split scan out first (guide §2.5): the ×64-replicate
    // hash explode is the map-heavy case — it ran as ONE 4.3 s task on
    // the single-row-group scan (measured per stage in r16), vs ~0.4 s spread
    "ev_perm_fdr" -> ((s, dir) =>
      graft.ops.Stats.permFdr(Tables.fanOutScan(Tables.events(s, dir)))),
    // sequential member of the arm-test family: Wald SPRT daily LLR
    // trace per (type, arm) with accept/continue verdicts — the test
    // designed to be peeked at, unlike the fixed-horizon screens
    "ev_sprt" -> ((s, dir) =>
      graft.ops.Stats.sprtTrace(Tables.events(s, dir))),
    // two-sided CUSUM control chart over daily MEANS with an alarm at
    // the declared control limit — the sequential monitoring partner of
    // ev_cusum (count-deviation argmax locator) and ev_changepoint
    "ev_cusum_chart" -> ((s, dir) =>
      graft.ops.Stats.cusum(Tables.events(s, dir))),
    // Holt level+trend smoothing backtest vs the naive-1 carry-forward,
    // exact e4 integer recurrences folded over the day array
    "ev_holt" -> ((s, dir) =>
      graft.ops.Stats.holtBacktest(Tables.events(s, dir))),
    // Holt–Winters (additive weekly) vs plain Holt, both recursions in
    // one calendar-bounded fold — the does-seasonality-help readout
    "ev_holt_winters" -> ((s, dir) =>
      graft.ops.Stats.holtWintersBacktest(Tables.events(s, dir))),
    // Chapman two-sample population estimator over the calendar halves,
    // self-scored against the true distinct count
    "ev_capture_recapture" -> ((s, dir) =>
      graft.ops.Stats.captureRecapture(Tables.events(s, dir))),
    // robust median/MAD daily anomaly screen: the yardstick the
    // anomalies themselves cannot inflate
    "ev_anomaly_mad" -> ((s, dir) =>
      graft.ops.Stats.madAnomalies(Tables.events(s, dir))),
    // distribution-SHAPE member of the arm-test family: exact-integer
    // two-sample Kolmogorov–Smirnov sup statistic in e6
    "ev_ks_test" -> ((s, dir) =>
      graft.ops.Stats.ksTest(Tables.events(s, dir))),
    // sample-ratio-mismatch guard: distinct exposed users per arm,
    // equal-expected χ² vs the declared 50/50 split
    "ev_srm_check" -> ((s, dir) =>
      graft.ops.Stats.srmCheck(Tables.events(s, dir))),
    // experiment design: pooled variance → squared MDE at 80%/5% and
    // the users-per-arm needed to detect a 5% mean shift
    "ev_power_mde" -> ((s, dir) =>
      graft.ops.Stats.powerMde(Tables.events(s, dir))),
    // difference-in-differences on the hash arms across the in-plan
    // calendar midpoint — the time-trend-robust effect readout
    "ev_did" -> ((s, dir) =>
      graft.ops.Stats.didScreen(Tables.events(s, dir))),
    // Poisson-bootstrap CI band per event type: 32 hash-deterministic
    // Poisson(1)-weighted replicates in ONE scan (bounded ×32 explode,
    // map-side combined) — the resampling method that runs at 100 TB
    // same ×reps hash-explode shape as ev_perm_fdr — fan the scan out
    "ev_bootstrap_ci" -> ((s, dir) =>
      graft.ops.Stats.bootstrapCi(Tables.fanOutScan(Tables.events(s, dir)))),
    // population-stability-index drift screen: reference-half equal-width
    // cent bins, Laplace-smoothed shares, e4 quantize-then-sum ln terms
    "ev_psi" -> ((s, dir) =>
      graft.ops.Stats.psi(Tables.events(s, dir))),
    // can a 1% deterministic hash sample profile this table: exact vs
    // scaled sample count/mean per type, one conditional-sum aggregate
    "tbl_sample_accuracy" -> ((s, dir) =>
      graft.ops.Scale.sampleAccuracy(Tables.events(s, dir))),
    // how weekly is each metric: day-of-week variance share (exact-
    // integer eta-squared) + peak/trough weekdays with e4 means
    "ev_seasonality_strength" -> ((s, dir) =>
      graft.ops.Stats.seasonalityStrength(Tables.events(s, dir))),
    // why did the metric move: delta split into volume effect (count
    // change at the reference mean) + exact-complement rate effect
    "ev_growth_decomposition" -> ((s, dir) =>
      graft.ops.Stats.growthDecomposition(Tables.events(s, dir))),
    // weekly new/retained/resurrected/churned user ledger — churn only
    // counted through the last observed week (1-row broadcast max)
    "ev_lifecycle_matrix" -> ((s, dir) =>
      graft.ops.TimeSeries.lifecycleMatrix(Tables.events(s, dir))),
    // discrete-time customer-churn hazard life table with explicit right
    // censoring (1-year repurchase horizon over the order calendar) —
    // the survival-analysis readout
    "ord_hazard" -> ((s, dir) =>
      graft.ops.Stats.hazardCurve(
        Tables.orders(s, dir), "o_custkey",
        graft.Cols.floorDiv(
          org.apache.spark.sql.functions.unix_millis(
            col("o_orderdate").cast("timestamp")),
          graft.ops.TimeSeries.DayMs),
        horizonDays = 365)),
    // lead-lag cross-correlation purchase×error at ±3 days: exact decimal
    // moments, one rounded-double division (the cosine discipline)
    "ev_xcorr" -> ((s, dir) =>
      graft.ops.TimeSeries.xcorrDaily(Tables.events(s, dir), "purchase", "error")),
    // CUPED: pre-period spend covariate, pooled theta, per-arm adjusted
    // means — 38-digit decimal moments, exact signed e4/e6 floors
    "ev_cuped" -> ((s, dir) =>
      graft.ops.Analytics.cuped(Tables.events(s, dir))),
    // exact rank-statistic p50/p90/p99 of the raw event value: the
    // range-sharded rank pass over DATA-sized input (ev_value_quantiles
    // is the interpolated percentile() twin)
    "ev_exact_value_ranks" -> ((s, dir) =>
      graft.ops.Stats.exactValueRanks(Tables.events(s, dir))),
    // whole-distribution concentration (HHI + effective users) per type —
    // the partner of ev_key_skew's single-hottest-key share
    "ev_hhi" -> ((s, dir) =>
      graft.ops.Stats.hhi(Tables.events(s, dir))),
    // spend-inequality coefficient over per-customer revenue, exact e4
    "cust_gini" -> ((s, dir) =>
      graft.ops.Stats.gini(Tables.orders(s, dir))),
    // do busy hours buy: Spearman rank correlation on the 24-hour domain
    "ev_hour_spearman" -> ((s, dir) =>
      graft.ops.Stats.hourSpearman(Tables.events(s, dir))),
    // nightly layout maintenance: next-fit bin packing of hash-bucket
    // "files" into target-size compaction bins, contiguous ranges
    "tbl_compaction_plan" -> ((s, dir) =>
      graft.ops.Stats.compactionPlan(Tables.events(s, dir), "user_id")),
    // grow-the-cluster data-movement quote: naive modulo placement vs
    // rendezvous hashing when 5 nodes become 6
    "tbl_rebalance_plan" -> ((s, dir) =>
      graft.ops.Scale.rebalancePlan(Tables.events(s, dir), "user_id")),
    // OPTIMIZE-ZORDER dry run: Morton layout vs date clustering, summed
    // per-file min/max spans = the data-skipping readout
    "tbl_zorder_plan" -> ((s, dir) =>
      graft.ops.Scale.zorderPlan(Tables.orders(s, dir))),
    // retention/vacuum planner: month partitions aged against the
    // in-plan max order date, retain/archive/expire ladder + reclaim
    "tbl_vacuum_plan" -> ((s, dir) =>
      graft.ops.Scale.vacuumPlan(Tables.orders(s, dir))),
    // stage-to-stage funnel latency over the cs_funnel stage chain
    "ev_funnel_latency" -> ((s, dir) =>
      graft.ops.Analytics.funnelLatency(
        Tables.events(s, dir),
        stages = Seq("view", "click", "purchase"),
        withinMs = Some(86400000L))),
    // session-level time-to-return distribution (one summary row)
    "cs_return_time" -> ((s, dir) =>
      graft.ops.Analytics.returnTime(Tables.events(s, dir))),
    // distinct-user rollup: (type, day) / (type) / () in one expand pass —
    // the partial-distinct shuffle shape, unlike the algebraic rollups
    "ev_uniques_rollup" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_type"),
          graft.Cols.floorDiv(col("ts_ms"), 86400000L).as("day"),
          col("user_id"))
        .rollup(col("event_type"), col("day"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),
    // order backlog level (day-granular interval sweep on TPC-H tables)
    "ord_open_orders" -> ((s, dir) =>
      graft.ops.TimeSeries.openOrders(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // per-part replenishment gaps from repeat (customer, part) orders
    "li_repurchase_cycle" -> ((s, dir) =>
      graft.ops.TimeSeries.repurchaseCycle(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // Croston intermittent-demand forecast: smoothed demand size and
    // inter-demand interval over demand occurrences only, e4 rate
    "li_croston" -> ((s, dir) =>
      graft.ops.Analytics.crostonForecast(Tables.lineitem(s, dir))),
    // service-level safety stock + reorder point composed on Croston's
    // demand rate; exact e4 z-factor literals, calendar-day sigma
    "ord_safety_stock" -> ((s, dir) =>
      graft.ops.Analytics.safetyStock(Tables.lineitem(s, dir))),
    // ABC (revenue concentration) × XYZ (demand-cv predictability)
    // stocking-policy matrix with revenue and median cv per cell
    "li_abc_xyz" -> ((s, dir) =>
      graft.ops.Analytics.abcXyz(Tables.lineitem(s, dir))),
    // month-of-year demand concentration: peak month, its share, HHI —
    // the seasonality axis the ABC/XYZ matrix doesn't carry
    "li_demand_seasonality" -> ((s, dir) =>
      graft.ops.Analytics.demandSeasonality(Tables.lineitem(s, dir))),
    // supplier lead-time reliability: order-to-ship lag stats from a
    // bounded per-supplier delay histogram (no collects)
    "sup_lead_time" -> ((s, dir) =>
      graft.ops.TimeSeries.supplierLeadTime(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // fulfillment SLA share by priority (last line within 30 days)
    "ord_fill_rate" -> ((s, dir) =>
      graft.ops.TimeSeries.fillRate(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // open-order age buckets at the in-plan reference day
    "ord_backlog_aging" -> ((s, dir) =>
      graft.ops.TimeSeries.backlogAging(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // revenue concentration per market segment: customer HHI + CR4
    "ord_segment_hhi" -> ((s, dir) =>
      graft.ops.Analytics.segmentConcentration(
        Tables.orders(s, dir), Tables.customer(s, dir))),
    // weekly DAU/WAU engagement ratio, exact e4
    "ev_stickiness" -> ((s, dir) =>
      graft.ops.TimeSeries.stickiness(Tables.events(s, dir))),
    // replayed-feed screen: near-duplicate events — same (user, type,
    // exact value) within 60 s under different event ids — the
    // double-delivery audit an at-least-once ingest runs before billing.
    // The fixture feed is clean, so the screen is self-verifying: every
    // 97th event is replayed 30 s later under a shifted id (the
    // tbl_snapshot_diff pattern), and the screen must recover exactly
    // that planted set. Equi self-join on (user, type, value): exact
    // double equality makes accidental groups empty (verified), so the
    // join output is the planted pairs only — never a time-range scan.
    "ev_replay_screen" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_ms"))
      val replayed = base
        .filter(pmod(col("event_id"), lit(97L)) === 0)
        .select(
          (col("event_id") + 1000000000L).as("event_id"),
          col("user_id"), col("event_type"), col("value"),
          (col("ts_ms") + 30000L).as("ts_ms"))
      val feed = base.unionAll(replayed)
      feed.as("a")
        .join(feed.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") === col("b.event_type") &&
            col("a.value") === col("b.value") &&
            col("a.event_id") < col("b.event_id"))
        .select(
          col("a.user_id").as("user_id"), col("a.event_type").as("event_type"),
          col("a.event_id").as("event_id_first"),
          col("b.event_id").as("event_id_dup"),
          (col("b.ts_ms") - col("a.ts_ms")).as("gap_ms"))
        .filter(abs(col("gap_ms")) <= 60000L)
    }),
    // rules-as-data hourly threshold alerting (config-sized rules table)
    "ev_alert_rules" -> ((s, dir) => {
      import s.implicits._
      val rules = Seq(("error", 6L), ("click", 7L), ("view", 7L))
        .toDF("event_type", "max_per_hour")
      graft.ops.Analytics.thresholdAlerts(Tables.events(s, dir), rules)
    }),
    // daily + trailing-7-day error-rate SLI, all integer
    // seasonal-naive (same weekday last week) forecast backtest: MAE,
    // e4 MAPE, worst day per type — the baseline a forecaster must beat
    "ev_forecast_baseline" -> ((s, dir) =>
      graft.ops.Analytics.forecastBaseline(Tables.events(s, dir))),
    // multi-window burn-rate page rule over the SLI series: short AND
    // long windows both over budget before anything fires
    "ev_slo_burn" -> ((s, dir) =>
      graft.ops.Analytics.sloBurnRate(Tables.events(s, dir))),
    "ev_error_budget" -> ((s, dir) =>
      graft.ops.Analytics.errorBudget(Tables.events(s, dir))),
    // the funnel split by experiment arm (composition of funnel × abLift)
    "cs_funnel_by_arm" -> ((s, dir) =>
      graft.ops.Analytics.funnelByArm(
        Tables.events(s, dir),
        stages = Seq("view", "click", "purchase"),
        withinMs = Some(86400000L))),
    // within-session funnel, counted in sessions
    "cs_session_funnel" -> ((s, dir) =>
      graft.ops.Analytics.sessionFunnel(
        Tables.events(s, dir), stages = Seq("view", "click", "purchase"))),
    // parity-split batch drift screen per event type
    "ev_profile_drift" -> ((s, dir) =>
      graft.ops.Analytics.profileDrift(Tables.events(s, dir))),
    // ABC inventory classes on exact-cent part revenue
    "li_abc_class" -> ((s, dir) =>
      graft.ops.Analytics.abcClass(Tables.lineitem(s, dir))),
    // activation latency by first-seen cohort
    "cs_time_to_purchase" -> ((s, dir) =>
      graft.ops.Analytics.timeToPurchase(Tables.events(s, dir))),
    // exact-cent revenue retention triangle by first-order month
    "ord_revenue_cohorts" -> ((s, dir) =>
      graft.ops.Analytics.revenueCohorts(Tables.orders(s, dir))),
    // inactivity screen at the in-plan reference instant
    "cs_churn_risk" -> ((s, dir) =>
      graft.ops.Analytics.churnRisk(Tables.events(s, dir))),
    // discount elasticity read: per discount point, lines/quantity/revenue
    "li_discount_effect" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(round(col("l_discount") * 100).cast("long").as("disc_pct"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long")).as("disc_rev_cents"))),
    // comeback-after-silence counts (the churnRisk win-back pair); the
    // fixture spans 30 days with max per-user gap ~4 days, so register a
    // 2-day threshold that actually fires (p99 gap ≈ 48.5 h)
    "ev_reactivations" -> ((s, dir) =>
      graft.ops.TimeSeries.reactivations(Tables.events(s, dir), inactiveDays = 2L)),
    // monthly returned-quantity share and revenue at risk
    "li_return_rate" -> ((s, dir) =>
      graft.ops.TimeSeries.returnRate(Tables.lineitem(s, dir))),
    // exact quantity-weighted median line price per return flag: the
    // smallest cents value whose cumulative weight reaches half the
    // total — all integer, no interpolation, so it hashes identically
    // on any engine (the r3 double-percentile failure class avoided by
    // construction). Rows first collapse to (flag, cents) weight cells,
    // so the cumulative window runs over the price grid, not the rows.
    "li_weighted_median" -> ((s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"), col("cents"))
        .agg(sum(col("qty")).as("w"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("cents"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      cells
        .withColumn("cw", sum(col("w")).over(win))
        .withColumn("tw", sum(col("w")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("tw")).as("total_qty"), min(col("cents")).as("wmedian_cents"))
    }),
    // integer-exact EWMA smoothing of the daily event-count series
    "ev_ewma_daily" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaDaily(Tables.events(s, dir))),
    // Theil–Sen robust trend: median of pairwise slopes on the day series
    "ev_theil_sen" -> ((s, dir) =>
      graft.ops.TimeSeries.theilSen(Tables.events(s, dir))),
    // seasonal-naive (lag-7) forecast backtest: exact bias/MAE/MAPE
    "ev_forecast_backtest" -> ((s, dir) =>
      graft.ops.TimeSeries.forecastBacktest(Tables.events(s, dir))),
    // per-type freshness lag vs the freshest feed
    "ev_freshness" -> ((s, dir) =>
      graft.ops.TimeSeries.freshness(Tables.events(s, dir), "event_type")),
    // sequence-contract QA: daily purchases whose user had NO browse
    // (view/click) strictly earlier — the event-ordering violation
    // monitor (instrumentation bugs, replayed feeds, bot traffic all
    // surface here). One shuffle on user_id for the running-history
    // window, then a daily hash agg — no joins.
    "ev_cold_purchases" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn(
          "__browsed",
          max(when(col("event_type").isin("view", "click"), lit(1L)).otherwise(lit(0L)))
            .over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(graft.Cols.floorDiv(col("ts_ms"), 86400000L).as("day"))
        .agg(
          count(lit(1)).as("n_purchases"),
          count(when(coalesce(col("__browsed"), lit(0L)) === 0L, 1)).as("n_cold"))
        .select(
          col("day"), col("n_purchases"), col("n_cold"),
          graft.Cols.floorDiv(col("n_cold") * 10000L, col("n_purchases")).as("cold_e4"))
    }),
    // sessionizer gap-threshold sweep in one pass, bracketing the
    // production 12 h gap — that row equals cs_sessionize's session
    // count by construction
    "cs_gap_sensitivity" -> ((s, dir) =>
      graft.ops.Clickstream.gapSensitivity(Tables.events(s, dir),
        gapsMs = Seq(60000L, 600000L, 3600000L,
          graft.ops.Clickstream.DefaultGapMs, 86400000L))),
    // snapshot reconciliation audit: deterministic old/new variants of
    // orders (drop every 97th key from old, drop every 89th from new,
    // bump cents on every 101st) → added/removed/changed/unchanged
    "tbl_snapshot_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val oldSnap = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      val newSnap = o
        .filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
        .withColumn("cents",
          when(pmod(col("o_orderkey"), lit(101)) === 0, col("cents") + 100L)
            .otherwise(col("cents")))
      graft.ops.Profile.snapshotDiff(
        oldSnap, newSnap, "o_orderkey", Seq("o_orderstatus", "cents"))
    }),
    // exact join-cardinality probe on the biggest equi-join in the schema:
    // measure Σ cntA·cntB + hottest-key share BEFORE shuffling the join
    "tbl_join_card" -> ((s, dir) =>
      graft.ops.Profile.joinCardinality(
        Tables.orders(s, dir), "o_orderkey",
        Tables.lineitem(s, dir), "l_orderkey")),
    // key-uniqueness audit across the star schema + events
    // per-column shape drift between the early/late calendar halves of
    // orders: null rate + exact distinct drift in signed e4 — the feed
    // health screen run before a new partition is trusted
    "tbl_stats_drift" -> ((s, dir) =>
      graft.ops.Profile.statsDrift(
        Tables.orders(s, dir),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"),
        graft.Cols.floorDiv(
          unix_millis(col("o_orderdate").cast("timestamp")),
          graft.ops.TimeSeries.DayMs))),
    "tbl_pk_audit" -> ((s, dir) =>
      graft.ops.Profile.pkAudit(Seq(
        ("orders", Tables.orders(s, dir), "o_orderkey"),
        ("part", Tables.part(s, dir), "p_partkey"),
        ("customer", Tables.customer(s, dir), "c_custkey"),
        ("supplier", Tables.supplier(s, dir), "s_suppkey"),
        ("events", Tables.events(s, dir), "event_id"),
        ("documents", Tables.documents(s, dir), "doc_id"),
        ("embeddings", Tables.embeddings(s, dir), "vec_id")))),
    // order-independent replica checksum: count + xor + decimal sum of
    // the cross-engine 60-bit key hash, per table (verify a copy without
    // sorting or shipping rows)
    "tbl_checksum" -> ((s, dir) =>
      Seq(
        graft.ops.Scale.rowChecksum(
          Tables.lineitem(s, dir), "lineitem", Seq("l_orderkey", "l_linenumber")),
        graft.ops.Scale.rowChecksum(
          Tables.orders(s, dir), "orders", Seq("o_orderkey", "o_custkey")),
        graft.ops.Scale.rowChecksum(
          Tables.customer(s, dir), "customer", Seq("c_custkey", "c_name")),
        graft.ops.Scale.rowChecksum(
          Tables.events(s, dir), "events", Seq("event_id", "user_id", "event_type")))
        .reduce(_.union(_))),
    // weekday × hour activity heatmap with e4 global shares (epoch
    // weekday: day 0 = Thursday — deterministic, engine-independent)
    "ev_dow_hour_heatmap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val total = broadcast(ev.agg(count(lit(1)).as("__total")))
      ev.groupBy(
          pmod(graft.Cols.floorDiv(col("ts_ms"), 86400000L), lit(7L)).as("dow"),
          graft.Cols.floorDiv(pmod(col("ts_ms"), lit(86400000L)), 3600000L).as("hour"))
        .agg(count(lit(1)).as("n_events"))
        .crossJoin(total)
        .select(col("dow"), col("hour"), col("n_events"),
          graft.Cols.floorDiv(col("n_events") * 10000, col("__total")).as("share_e4"))
    }),
    // daily bounce rate: share of sessions with ≤1 qualifying event —
    // composes directly on the sessionizer (one extra tiny aggregate)
    "cs_bounce_rate" -> ((s, dir) =>
      Clickstream.sessionize(Tables.events(s, dir))
        .groupBy(graft.Cols.floorDiv(col("win_begin_ms"), 86400000L).as("day"))
        .agg(
          count(lit(1)).as("n_sessions"),
          count(when(col("event_count") <= 1, 1)).as("n_bounces"))
        .withColumn(
          "bounce_e4",
          graft.Cols.floorDiv(col("n_bounces") * 10000, col("n_sessions")))),
    // burst detection: hourly buckets > mean + 3σ, exact integer z²-test
    "ev_burst_hours" -> ((s, dir) =>
      graft.ops.TimeSeries.burstHours(Tables.events(s, dir), "event_type", "ts_ms")),
    // per-user behavioral entropy, quantize-then-sum exact integer e4
    "cs_user_entropy" -> ((s, dir) =>
      graft.ops.Analytics.userEntropy(Tables.events(s, dir))),
    // daily active users split new vs returning (growth accounting)
    "ev_dau" -> ((s, dir) =>
      graft.ops.TimeSeries.dauNewReturning(Tables.events(s, dir))),
    // per-type least-squares trend of the daily event rate, exact
    // integer e4 slope (decimal internals — see TimeSeries.trendSlope)
    "ev_trend" -> ((s, dir) =>
      graft.ops.TimeSeries.trendSlope(Tables.events(s, dir), "event_type", "ts_ms")),
    // CUSUM change-point: the day each type's cumulative rate deviation
    // peaks, integer statistic (multiplied through by the day count)
    "ev_cusum" -> ((s, dir) =>
      graft.ops.TimeSeries.cusumChangePoint(Tables.events(s, dir), "event_type", "ts_ms")),
    // binary-segmentation changepoint: per type, the day split with the
    // largest exact between-segment SSE gain (WHEN the level shifted —
    // the argmax partner of ev_cusum's threshold crossing)
    "ev_changepoint" -> ((s, dir) =>
      graft.ops.TimeSeries.changepoint(Tables.events(s, dir), "event_type")),
    // robust per-type outlier screen: median/MAD with a 3×MAD flag count
    "ev_mad_outliers" -> ((s, dir) =>
      graft.ops.Profile.madOutliers(Tables.events(s, dir), "event_type", "value")),
    // chi-squared independence audit: is the event-type mix independent
    // of hour of day? (quantize-then-sum cell terms, one-row report)
    "ev_chi2_hour" -> ((s, dir) =>
      graft.ops.Profile.chi2Independence(
        Tables.events(s, dir).withColumn(
          "hour",
          graft.Cols.floorDiv(pmod(col("ts_ms"), lit(86400000L)), 3600000L)),
        "event_type", "hour")),
    // retention dashboard rollup: cohort size + D1/D7/D14 shares e4
    "cs_retention_summary" -> ((s, dir) =>
      graft.ops.Analytics.retentionSummary(Tables.events(s, dir))),
    // day-over-day retention from 63-bit bitmap words (AND + popcount)
    "ev_bitmap_retention" -> ((s, dir) =>
      graft.ops.Analytics.bitmapRetention(Tables.events(s, dir))),
    // rolling 7-day exact distinct users from the same bitmap words —
    // windowed distinct without re-scanning events per window
    "ev_rolling_distinct" -> ((s, dir) =>
      graft.ops.Analytics.rollingDistinct(Tables.events(s, dir))),
    // week-over-week growth per type, integer e4, null first week
    "ev_wow_growth" -> ((s, dir) =>
      graft.ops.TimeSeries.wowGrowth(Tables.events(s, dir), "event_type", "ts_ms")),
    // co-purchase graph structure: triangles and clustering coefficient
    // over the basket-pair edges (canonical a<b<c join chain)
    "li_graph_stats" -> ((s, dir) =>
      graft.ops.Analytics.triangleStats(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // do hub parts co-purchase with hub parts: Newman degree
    // assortativity over the same basket-pair edges, exact decimal
    // moments, one rounded-double division
    "li_assortativity" -> ((s, dir) =>
      graft.ops.Analytics.assortativity(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // power-law screen: log2-bucketed degree distribution of the same
    // basket-pair graph, integer bit-length buckets
    "li_degree_hist" -> ((s, dir) =>
      graft.ops.Analytics.degreeHistogram(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // absorbing-chain removal-effect attribution over the event-type
    // journey graph, exact e9 fixed-point iteration
    "cs_markov_attribution" -> ((s, dir) =>
      graft.ops.Analytics.markovAttribution(Tables.events(s, dir))),
    // 3-core of the co-purchase graph: fixed-round degree peel, one plan.
    // rounds=10 is the measured sf0.01 fixpoint (AnalyticsSpec pins
    // rounds=10 ≡ rounds=11; 5 rounds stopped 30 nodes short)
    "li_kcore" -> ((s, dir) =>
      graft.ops.Analytics.kCore(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")), rounds = 10)),
    // connected components of the basket graph: fixed-round HashMin with
    // pointer jumping; rounds=6 is the measured fixpoint at BOTH sf0.01
    // and sf0.1 (plain flooding needed 10) — spec pins rounds=6 ≡ 7
    // (sf0.01: 9 components, largest 1860 nodes)
    "li_components" -> ((s, dir) =>
      graft.ops.Analytics.components(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")), rounds = 6)),
    // common-neighbor link prediction: top distance-2 non-edges of the
    // basket graph, hub centers capped before the wedge join
    "li_link_pred" -> ((s, dir) =>
      graft.ops.Analytics.linkPrediction(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // per-node local clustering coefficient distribution: exact triangle
    // credit via degree orientation (fan-out O(|E|^1.5), no caps)
    "li_local_cc" -> ((s, dir) =>
      graft.ops.Analytics.localClustering(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // per-edge triangle support + 3/4-truss membership over the same
    // co-occurrence graph — the edge-grain view of li_local_cc
    "li_edge_support" -> ((s, dir) =>
      graft.ops.Analytics.edgeSupport(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // full k-truss peel over the same graph: per edge the max k whose
    // truss it survives — the iterative completion of li_edge_support's
    // one-shot flags (a chain triangle's shared edge flags in_4truss
    // but peels out at trussness 3)
    "li_truss_peel" -> ((s, dir) =>
      graft.ops.Analytics.trussPeel(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // per-k truss census (surviving edges/nodes per level) off the peel
    "li_truss_summary" -> ((s, dir) =>
      graft.ops.Analytics.trussSummary(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // per-node core number (full k-core decomposition) — the degeneracy
    // feature at node grain, the kCore fixed-k readout generalized
    "li_core_number" -> ((s, dir) =>
      graft.ops.Analytics.coreNumbers(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // multi-source frontier BFS from the 3 hub items: exact min hop
    // distance <= 3 per (source, node) — landmark-distance features
    "li_bfs_hops" -> ((s, dir) =>
      graft.ops.Analytics.bfsHops(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // sampled Brandes betweenness from the same 3 hub landmarks: forward
    // sigma BFS + backward e6 dependency accumulation, hop-bounded
    "li_betweenness_sample" -> ((s, dir) =>
      graft.ops.Analytics.betweennessSample(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // bounded Bellman-Ford from the same hubs: min inverse-support path
    // cost — strong-pair chains undercut weak direct edges
    "li_cheapest_path" -> ((s, dir) =>
      graft.ops.Analytics.cheapestPath(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a"), col("item_b"), col("n_ab")))),
    // WEIGHTED sampled betweenness: Brandes dependency accumulation over
    // the cheapest-path (inverse-support) DAGs from the same hubs — a
    // bridge of strong ties outranks a weak-tie hub
    "li_betweenness_weighted" -> ((s, dir) =>
      graft.ops.Analytics.betweennessWeighted(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a"), col("item_b"), col("n_ab")))),
    // landmark closeness/harmonic centrality: the per-node readout of the
    // bfsHops distance table (sum hops + harmonic e6 over reaching hubs)
    "li_closeness" -> ((s, dir) =>
      graft.ops.Analytics.closeness(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // Adamic–Adar link prediction: the link_pred wedges with rare-neighbor
    // 1/ln(deg) weights — niche co-stocking outranks super-hub sharing
    "li_adamic_adar" -> ((s, dir) =>
      graft.ops.Analytics.adamicAdar(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // supplier concentration per part: supplier count, dominant share,
    // HHI over supplier quantities, single-source sourcing-risk flag
    "sup_concentration" -> ((s, dir) =>
      graft.ops.Analytics.supplierConcentration(Tables.lineitem(s, dir))),
    // landmark eccentricity: per hub the ball size, deepest hop (diameter
    // lower bound) and mean hop depth
    "li_eccentricity" -> ((s, dir) =>
      graft.ops.Analytics.eccentricity(
        graft.ops.Analytics.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
          .select(col("item_a").as("src"), col("item_b").as("dst")))),
    // supplier share drift across the calendar-midpoint split: early/late
    // quantity shares e4 and the shift — who gains the book of business
    "sup_share_shift" -> ((s, dir) =>
      graft.ops.Analytics.supplierShareShift(Tables.lineitem(s, dir))),
    // session depth (qualifying events, 10+ capped) vs checkout share —
    // the engagement-depth conversion curve
    "cs_depth_conversion" -> ((s, dir) =>
      Clickstream.depthConversion(Tables.events(s, dir))),
    // inter-order gap profile per customer: lower-median/min/max days
    // between consecutive orders — the replenishment cadence clock
    "ord_order_gap" -> ((s, dir) =>
      graft.ops.Analytics.orderGaps(Tables.orders(s, dir))),
    // gaps-and-islands activity streaks per user: longest run, run count,
    // deterministic best-streak start
    "ev_streaks" -> ((s, dir) =>
      graft.ops.TimeSeries.activeStreaks(Tables.events(s, dir))),
    // Fano factor of calendar-daily counts per type: Poisson ≈ 1e4,
    // bursty above — the capacity/anomaly dispersion screen
    "ev_fano" -> ((s, dir) =>
      graft.ops.TimeSeries.fanoFactor(Tables.events(s, dir))),
    // customer spend-quintile migration across the calendar-midpoint
    // split (tier 0 = absent half): value retention / churn by rank
    "cust_value_migration" -> ((s, dir) =>
      graft.ops.Analytics.valueMigration(Tables.orders(s, dir))),
    // record-setting days: strict running all-time highs of daily volume
    // with previous-record and days-waited readouts
    "ev_record_days" -> ((s, dir) =>
      graft.ops.TimeSeries.recordDays(Tables.events(s, dir))),
    // within-session dwell by event type: histogram-quantile median/p95
    // milliseconds until the next in-session action
    "cs_dwell_time" -> ((s, dir) =>
      Clickstream.dwellByType(Tables.events(s, dir))),
    // departments browsed together within one session — the clickstream
    // analog of basket pairs, composed on the reference's own sessions
    "cs_dept_pairs" -> ((s, dir) => {
      val sess = Clickstream.sessionize(Tables.events(s, dir))
      val exploded = sess.select(
        concat(col("user_id"), lit(":"), col("win_begin_ms")).as("sess"),
        explode(split(col("dept_list"), ",")).as("department"))
        .filter(col("department") =!= "")
      graft.ops.Analytics.coOccurrence(exploded, "sess", "department")
    }),
    // Kaplan–Meier user-lifetime survival: product-limit fold with
    // right-censoring at the observation edge (30-day inactivity rule)
    "cs_survival_km" -> ((s, dir) =>
      graft.ops.Analytics.survivalKm(Tables.events(s, dir))),
    // local-maximum peak days with a median-prominence floor — the
    // launch-spike finder trend-blind global thresholds miss
    "ev_peak_days" -> ((s, dir) =>
      graft.ops.TimeSeries.peakDays(Tables.events(s, dir))),
    // weekly-rhythm profile: weekday share vs the uniform 1/7, e4 index
    "ev_weekday_index" -> ((s, dir) =>
      graft.ops.TimeSeries.weekdayIndex(Tables.events(s, dir), "event_type", "ts_ms")),
    // weekday-baseline anomaly monitor: daily counts vs their own
    // weekday's floor mean, integer e4 residuals, ±20% flag
    "ev_seasonal_residuals" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalResiduals(Tables.events(s, dir))),
    // classical additive decomposition of the daily series: centered
    // 7-day MA trend + re-centered weekday seasonal + residual, exact e4
    "ev_decompose_weekly" -> ((s, dir) =>
      graft.ops.TimeSeries.decomposeWeekly(Tables.events(s, dir))),
    // out-of-orderness profile — the empirical basis for choosing a
    // streaming watermark: per event, lateness = the running max event
    // time over the SAME USER's arrival order minus its own event time,
    // bucketed into bands; a watermark at the band covering ~p99 bounds
    // state while dropping almost nothing (SURVEY §2.2's 0 ms assigner
    // is the degenerate choice this table justifies or refutes). The
    // fixture stream arrives perfectly ordered, so arrival order plants
    // a delay — every 13th event arrives 40 sequence slots late (the
    // ev_replay_screen pattern), and the screen must price exactly that
    // planted disorder. The per-key window rides the sessionization
    // shuffle key; the report is one hash agg to |bands| rows.
    "ev_lateness_profile" -> ((s, dir) => {
      val arrival = col("event_id") +
        when(pmod(col("event_id"), lit(13L)) === 0, lit(40L)).otherwise(lit(0L))
      // (arrival, event_id) order: a delayed id+40 can collide with a
      // natural id (13+40 = 53) — the tie-break keeps both engines'
      // running maxima identical
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("__arrival"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val late = Tables.events(s, dir)
        .withColumn("__arrival", arrival)
        .withColumn("__hwm", max(col("ts_ms")).over(w))
        .withColumn(
          "lateness_ms",
          greatest(coalesce(col("__hwm") - col("ts_ms"), lit(0L)), lit(0L)))
      val bucket = when(col("lateness_ms") === 0, "0_in_order")
        .when(col("lateness_ms") <= 60000L, "1_le_1m")
        .when(col("lateness_ms") <= 3600000L, "2_le_1h")
        .when(col("lateness_ms") <= 21600000L, "3_le_6h")
        .otherwise("4_gt_6h")
      late
        .groupBy(bucket.as("lateness_band"))
        .agg(
          count(lit(1)).as("n_events"),
          max(col("lateness_ms")).as("max_lateness_ms"))
        .withColumn(
          "share_e4",
          graft.Cols.floorDiv(
            col("n_events") * 10000L,
            sum(col("n_events")).over(org.apache.spark.sql.expressions.Window
              .partitionBy())))
    }),
    // incremental-aggregate maintenance: snapshot (< day 19738) + delta
    // merged algebraically — bit-identical to the full-scan aggregate,
    // which is exactly what the oracle checks
    "ev_incr_agg" -> ((s, dir) =>
      graft.ops.TimeSeries.incrementalMerge(
        Tables.events(s, dir), "event_type", "ts_ms", "value", splitDay = 19738L)),
    // composition: chi² independence of event type × global value decile
    // (equi-depth cuts in-plan, then the full-grid chi² machinery)
    "ev_chi2_value_type" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val qs = (1 to 9).map(i => i.toDouble / 10).mkString(", ")
      val cuts = ev.agg(
        expr(s"transform(percentile(value, array($qs)), x -> round(x, 4))").as("__cuts"))
      val decile = (0 until 9)
        .map(i => (col("value") > element_at(col("__cuts"), i + 1)).cast("long"))
        .reduce(_ + _) + 1
      graft.ops.Profile.chi2Independence(
        ev.crossJoin(broadcast(cuts)).select(col("event_type"), decile.as("decile")),
        "event_type", "decile")
    }),
    // CDC compaction: latest observation per user (one hash aggregate,
    // struct-ordered max)
    "ev_cdc_compact" -> ((s, dir) =>
      graft.ops.TimeSeries.latestState(
        Tables.events(s, dir), "user_id", "ts_ms", "event_id",
        payloadCols = Seq("event_type", "value"))),
    // lag-1..3 calendar autocorrelation of daily volume per type —
    // exact integer e4 over the dense zero-filled grid
    "ev_autocorr" -> ((s, dir) =>
      graft.ops.TimeSeries.autocorrDaily(Tables.events(s, dir), "event_type", "ts_ms")),
    // time-in-status shares composed on the SCD2 intervals: dwell-
    // weighted status distribution, open intervals capped at max ts
    "ev_status_time_share" -> ((s, dir) =>
      graft.ops.TimeSeries.statusTimeShare(
        Tables.events(s, dir).filter(col("event_type").isin("signup", "error")),
        "user_id", "event_type", "ts_ms", "event_id")),
    // weighted PageRank over the event-type transition graph — exact
    // integer e9, 3 fixed iterations. Not lazy: building the frame runs
    // eager localCheckpoints (edges, nodes, out-weights, initial ranks,
    // then one per iteration), so most of its time is build-time jobs
    "ev_pagerank" -> ((s, dir) =>
      graft.ops.Analytics.pageRank(
        graft.ops.Analytics.transitions(Tables.events(s, dir))
          .select(
            col("from_type").as("src"), col("to_type").as("dst"),
            col("n_transitions").as("weight")))),
    // equi-depth value deciles: ~equal-count buckets (the skew-readable
    // histogram), cuts broadcast in-plan
    "ev_value_deciles" -> ((s, dir) =>
      graft.ops.Profile.equiDepthHistogram(Tables.events(s, dir), "value")),
    // OHLC daily bars per type: open/high/low/close via struct-ordered
    // min/max — one hash aggregate, no window pass
    "ev_ohlc_daily" -> ((s, dir) =>
      graft.ops.TimeSeries.ohlcDaily(Tables.events(s, dir), "event_type", "ts_ms", "value")),
    // Pareto revenue concentration: share of order value held by the
    // top 1/5/10/20/50% of customers (quantile-cut, not a global sort)
    "ord_pareto" -> ((s, dir) =>
      graft.ops.Analytics.paretoShares(Tables.orders(s, dir), "o_custkey", "o_totalprice")),
    // conversion by session entry type (landing-page effectiveness)
    "cs_entry_conversion" -> ((s, dir) =>
      Clickstream.entryConversion(Tables.events(s, dir))),
    // deterministic per-key sample: 50 events per type by hash rank —
    // replayable bit-identically on any engine (no rand())
    "ev_sample_per_key" -> ((s, dir) =>
      graft.ops.Scale.samplePerKey(
        Tables.events(s, dir).select(col("event_id"), col("event_type")),
        "event_type", "event_id", k = 50)),
    // Benford leading-digit audit of the positive order amounts
    "ord_benford" -> ((s, dir) =>
      graft.ops.Profile.benford(Tables.orders(s, dir), "o_totalprice")),
    // referential-integrity audit across the star schema's four FKs
    "tbl_fk_integrity" -> ((s, dir) =>
      graft.ops.Profile.fkIntegrity(Seq(
        ("lineitem.orderkey->orders",
          Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
        ("lineitem.partkey->part",
          Tables.lineitem(s, dir), "l_partkey", Tables.part(s, dir), "p_partkey"),
        ("lineitem.suppkey->supplier",
          Tables.lineitem(s, dir), "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
        ("orders.custkey->customer",
          Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey")))),
    // SCD2 validity intervals from the status-event stream (signup/error),
    // consecutive repeats merged, open interval for the current status
    "ev_scd2" -> ((s, dir) =>
      graft.ops.TimeSeries.scd2(
        Tables.events(s, dir).filter(col("event_type").isin("signup", "error")),
        "user_id", "event_type", "ts_ms", "event_id")),
    // point-in-time read of the SCD2 dimension at the in-plan midpoint:
    // closed-start/open-end interval semantics oracle-checked end to end
    "ev_scd2_asof" -> ((s, dir) =>
      graft.ops.TimeSeries.scd2AsOf(
        Tables.events(s, dir).filter(col("event_type").isin("signup", "error")),
        "user_id", "event_type", "ts_ms", "event_id")),
    // market-basket co-occurrence over order line items: pair counts and
    // exact-integer lift, group total and item counts broadcast
    "li_basket_pairs" -> ((s, dir) =>
      graft.ops.Analytics.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")),
    // directed A→B rules over the same capped pair table: confidence,
    // conviction (null on exact rules), shared lift
    "li_basket_rules" -> ((s, dir) =>
      graft.ops.Analytics.basketRules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")),
    // directed sequence mining: first-buy-of-A strictly before
    // first-buy-of-B per customer, with directional confidence
    "ord_seq_pairs" -> ((s, dir) =>
      graft.ops.Analytics.seqPairs(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // substitutes: many shared buyers, never co-purchased in one order —
    // the anti-occurrence complement of the basket-pair complements
    "li_substitutes" -> ((s, dir) =>
      graft.ops.Analytics.substitutes(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // ABC class transition matrix between shipment-calendar halves —
    // the sharded classing composed twice around an in-plan midpoint
    "li_abc_migration" -> ((s, dir) =>
      graft.ops.Analytics.abcMigration(Tables.lineitem(s, dir))),
    // one LPA step over the basket graph: heaviest-neighbor label from
    // singleton init, the community seed for basket clustering
    "li_label_prop_step" -> ((s, dir) =>
      graft.ops.Analytics.labelPropStep(
        graft.ops.Analytics.coOccurrence(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey"))),
    // LPA iteration 2: the step's labels fed back through the general
    // weighted-majority iterate — the composition the step documents
    "li_label_prop2" -> ((s, dir) => {
      val pairs = graft.ops.Analytics.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
      graft.ops.Analytics.labelPropIterate(
        pairs, graft.ops.Analytics.labelPropStep(pairs))
    }),
    // Newman modularity of the li_label_prop2 partition — exact-integer
    // Q·4m² numerators, one decimal floor; the ship/iterate gate on LPA.
    // The pair table feeds SEVEN plan references here (2× per LPA round's
    // sym + modularity's edges/degrees/within), past the break-even the
    // coOccurrence design note measured for its usual 4 — checkpoint it
    "li_modularity" -> ((s, dir) => {
      val pairs = graft.ops.Analytics.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey").localCheckpoint()
      graft.ops.Analytics.modularity(
        pairs,
        graft.ops.Analytics.labelPropIterate(
          pairs, graft.ops.Analytics.labelPropStep(pairs)))
    }),
    // Count-Min sketch heavy hitters: exact vs estimate overcount
    // diagnostic over a deterministic md5-row sketch
    "ev_countmin_est" -> ((s, dir) =>
      graft.ops.Stats.countMinEstimates(Tables.events(s, dir))),
    // co-occurrence recommender on the basket pairs: per customer, top-3
    // unowned parts by strongest lift against anything they bought
    "li_recommend" -> ((s, dir) => {
      val userItems = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("usr"), col("l_partkey").as("item"))
      val pairs = graft.ops.Analytics.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
      graft.ops.Analytics.recommendFromCoOccurrence(userItems, pairs)
    }),
    // MinHash audience-overlap sketch + exact-vs-estimate accuracy
    // readout per segment pair (deterministic seeded hashes → oracled)
    "ev_segment_minhash" -> ((s, dir) =>
      graft.ops.Analytics.segmentMinhash(Tables.events(s, dir))),
    // temporal recommender backtest: train on the early calendar half,
    // precision@3 against what users actually bought later
    "li_recommend_eval" -> ((s, dir) =>
      graft.ops.Analytics.recommendEval(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // RFM quintile segmentation via broadcast percentile cuts (no global
    // ntile window — the cuts comparison is map-only)
    "cust_rfm" -> ((s, dir) =>
      graft.ops.Analytics.rfmSegments(Tables.orders(s, dir))),
    // per-user lifetime summary (the user-dimension build)
    "ev_user_ltv" -> ((s, dir) =>
      graft.ops.Analytics.userLtv(Tables.events(s, dir))),
    // last-touch attribution: purchases credited to the most recent
    // preceding non-purchase event within 24 h, else 'direct'
    "cs_attribution" -> ((s, dir) =>
      graft.ops.Analytics.lastTouchAttribution(Tables.events(s, dir))),
    // first/last/linear/U-shaped credit side by side over the same
    // in-window journeys — e4 credit conserved per purchase, exactly
    "cs_attribution_rules" -> ((s, dir) =>
      graft.ops.Analytics.attributionRules(Tables.events(s, dir))),
    // bloom-prefiltered semi join: events of heavy-hitter users. The hot
    // user set folds into an in-plan bloom filter probed BEFORE the exact
    // semi join — at 100 TB the big side drops most rows pre-shuffle
    // instead of shuffling everything to be discarded (ScaleSpec pins the
    // filter-below-join plan shape). Results identical to the plain semi
    // join, which is the oracle.
    "ev_bloom_semi_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hot = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("__total"))))
        .filter(col("n_events") * 200 >= col("__total"))
        .select(col("user_id"))
      graft.ops.Scale.bloomSemiJoin(
        ev.select(col("event_id"), col("user_id"), col("event_type")),
        hot, "user_id", expectedItems = 10000L)
    }),
    // sliding (hopping) event-time windows — the Flink
    // SlidingEventTimeWindows analog; every event lands in size/slide = 2
    // windows, epoch-aligned like Spark's window() default
    "ev_sliding_counts" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          window(timestamp_millis(col("ts_ms")), "10 days", "5 days").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          unix_millis(col("w.start")).as("win_start_ms"),
          col("event_type"), col("n_events"), col("sum_value"))),
    // the Spark-native session_window operator (the streaming path) run in
    // batch mode — same oracle as the gap-island formulation, which splits
    // at a gap of exactly 12 h where session_window merges; the testdata
    // holds no such tie, so the two agree here
    "cs_sessionize_native" -> ((s, dir) =>
      graft.streaming.ClickstreamStreams.sessions(
        Tables.events(s, dir).withColumn("ts", timestamp_millis(col("ts_ms"))),
        gap = "12 hours")
        .drop("session_window")),
    // per-event session features (position, dwell, inter-event gap) — the
    // feature-engineering companion to sessionization, one user_id shuffle
    "cs_session_features" -> ((s, dir) =>
      Clickstream.sessionFeatures(Tables.events(s, dir))),
    // bucketed interval join: events counted into each error incident's
    // 1-hour window. No shared equi-key — the naive range join is a
    // nested-loop O(|events|·|incidents|); time-bucketing recovers a plain
    // shuffle equi-join (RangeJoinSpec pins the no-BNLJ plan shape).
    "ev_range_join_bucketed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_ms"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(
          col("event_id").as("incident_id"),
          col("ts_ms").as("win_start_ms"),
          (col("ts_ms") + lit(3600000L)).as("win_end_ms"))
      val points = ev.select(col("user_id"), col("value"), col("ts_ms"))
      graft.ops.RangeJoin.pointsInIntervals(
        points, incidents, tsCol = "ts_ms",
        startCol = "win_start_ms", endCol = "win_end_ms", bucketMs = 3600000L)
        .groupBy(col("incident_id"), col("win_start_ms"))
        .agg(
          count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"))
    }),
    // dense daily per-type grid: zero-filled counts + forward-filled daily
    // average — gap filling with the date bounds computed IN-PLAN (broadcast
    // 1-row min/max, no driver-side collect to learn the range)
    "ev_gapfill" -> ((s, dir) =>
      graft.ops.TimeSeries.gapFillDaily(
        Tables.events(s, dir), keyCol = "event_type", tsMsCol = "ts_ms", valueCol = "value")),
    // unpivot/melt — the inverse relational verb of ev_type_pivot, via the
    // native Dataset.unpivot (Expand: each row fans to |metrics| rows
    // map-side, no shuffle beyond the pivot's own aggregation)
    "ev_unpivot" -> ((s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val pivoted = Tables.events(s, dir)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10L)))
        .groupBy(col("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(
          col("user_bucket") +:
            types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      pivoted.unpivot(
        Array(col("user_bucket")),
        types.map(t => col(s"n_$t")).toArray,
        "metric", "n")
    }),
    // winsorization: clip values at per-type p01/p99 computed in-plan and
    // broadcast back (5 rows). Unclipped rows pass the raw parquet double
    // through untouched — no per-row rounding, so the only cross-engine
    // surface is the (rounded) bounds themselves, same as ev_value_quantiles.
    "ev_winsorize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.01)"), 4).as("lo"),
          round(expr("percentile(value, 0.99)"), 4).as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(
          col("event_id"),
          col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("value_w"),
          (col("value") < col("lo") || col("value") > col("hi")).cast("long").as("clipped"))
    }),
  )

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB sessionization CTE — mirrors Clickstream.sessionize
    * exactly (gap islands → checkout snapshot → session aggregate).
    */
  private def sessionsCte: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms
       |  FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
       |                   OR ts_ms - lag(ts_ms) OVER w >= $GAP THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
       |), ids AS (
       |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS session_seq
       |  FROM flagged
       |), ck AS (
       |  SELECT *, max(CASE WHEN event_type = 'purchase' THEN ts_ms END)
       |              OVER (PARTITION BY user_id, session_seq) AS checkout_ts_ms
       |  FROM ids
       |), sessions AS (
       |  SELECT user_id, session_seq,
       |    count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS event_count,
       |    count(CASE WHEN event_type <> 'purchase' AND ts_ms <= checkout_ts_ms THEN 1 END) AS checkout_event_count,
       |    coalesce(array_to_string(list_sort(list(DISTINCT event_type) FILTER (WHERE event_type <> 'purchase')), ','), '') AS dept_list,
       |    min(ts_ms) AS win_begin_ms,
       |    max(ts_ms) + $GAP AS win_end_ms,
       |    CAST(1 AS BIGINT) AS event_key
       |  FROM ck GROUP BY user_id, session_seq
       |)""".stripMargin

  /** Triangle-support CTE stack (the li_edge_support orientation chain)
    * over an `(item_a, item_b)` edge CTE named `src`, producing
    * `sup$tag (item_a, item_b, support)` — reused per unrolled peel
    * round by the li_truss_* oracles.
    */
  private def trussSupportCtes(src: String, tag: String): String =
    s"""adj$tag AS (
       |  SELECT item_a AS node, item_b AS nbr FROM $src
       |  UNION ALL SELECT item_b, item_a FROM $src
       |), deg$tag AS MATERIALIZED (
       |  SELECT node, count(*)::BIGINT AS d FROM adj$tag GROUP BY 1
       |), o$tag AS MATERIALIZED (
       |  SELECT a.node AS u, a.nbr AS v, dv.d AS dv
       |  FROM adj$tag a
       |  JOIN deg$tag du ON du.node = a.node
       |  JOIN deg$tag dv ON dv.node = a.nbr
       |  WHERE du.d < dv.d OR (du.d = dv.d AND a.node < a.nbr)
       |), tri$tag AS (
       |  SELECT o1.u, o1.v, o2.v AS w
       |  FROM o$tag o1 JOIN o$tag o2 ON o1.u = o2.u
       |  WHERE (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
       |    AND EXISTS (SELECT 1 FROM o$tag o3 WHERE o3.u = o1.v AND o3.v = o2.v)
       |), e3$tag AS (
       |  SELECT unnest([
       |    {'a': least(u, v), 'b': greatest(u, v)},
       |    {'a': least(u, w), 'b': greatest(u, w)},
       |    {'a': least(v, w), 'b': greatest(v, w)}]) AS ue
       |  FROM tri$tag
       |), sup$tag AS MATERIALIZED (
       |  SELECT ue.a AS item_a, ue.b AS item_b, count(*)::BIGINT AS support
       |  FROM e3$tag GROUP BY 1, 2
       |)""".stripMargin

  /** The lineitem basket co-occurrence graph as a canonical
    * `s0 (item_a, item_b)` edge CTE — the shared base of the
    * li_truss_peel / li_truss_summary / li_core_number oracles (the
    * li_edge_support / li_local_cc input shape).
    */
  private def basketGraphCte: String =
    """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
      |gi AS (SELECT grp, item FROM gi0
      |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
      |s0 AS MATERIALIZED (
      |  SELECT a.item AS item_a, b.item AS item_b
      |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |)""".stripMargin

  /** The full unrolled k-truss peel over the lineitem basket graph:
    * support recomputed per round (inner join is exact for thresholds
    * ≥ 1 — a zero-support edge is absent from sup and fails anyway).
    * Rounds are unrolled to the deepest fixture's measured fixpoint
    * depth plus a confirming round (k=3: 2 rounds, k=4: 6 — sf0.001's
    * dense graph grinds five effective k=4 rounds where sf0.01 needs
    * two); Spark's cap-8 peel reaches the true fixpoint regardless, so
    * a fixture
    * change that deepens convergence shows up as a hash MISMATCH, never
    * a silent agreement. Ends with CTE `pe (item_a, item_b, support,
    * trussness)`.
    */
  private def trussPeelCtes: String = {
    def surv(name: String, src: String, sup: String, thr: Int): String =
      s""", $name AS MATERIALIZED (
         |  SELECT s.item_a, s.item_b
         |  FROM $src s JOIN $sup p ON p.item_a = s.item_a AND p.item_b = s.item_b
         |  WHERE p.support >= $thr
         |)""".stripMargin
    val base = s"$basketGraphCte, "
    // (survivor, peeled-from, support-of-source, threshold k−2);
    // k=3 needs 2 unrolls and k=4 six — the measured sf0.001 depth
    // (the densest fixture: 2244 → 2048 → 1997 → 1973 → 1968 → 1966)
    val roundsSql = (
      Seq(("s31", "s0", "sup0", 1), ("s32", "s31", "sup31", 1)) ++
        (1 to 6).map(i =>
          (s"s4$i", if (i == 1) "s32" else s"s4${i - 1}",
            if (i == 1) "sup32" else s"sup4${i - 1}", 2)))
      .map { case (name, src, sup, thr) =>
        trussSupportCtes(src, sup.stripPrefix("sup")) + surv(name, src, sup, thr)
      }
      .mkString(", ")
    base + roundsSql +
      """, pe AS (
        |  SELECT s0.item_a, s0.item_b,
        |    coalesce(p.support, 0)::BIGINT AS support,
        |    (CASE WHEN t4.item_a IS NOT NULL THEN 4
        |          WHEN t3.item_a IS NOT NULL THEN 3 ELSE 2 END)::BIGINT AS trussness
        |  FROM s0
        |  LEFT JOIN sup0 p ON p.item_a = s0.item_a AND p.item_b = s0.item_b
        |  LEFT JOIN s32 t3 ON t3.item_a = s0.item_a AND t3.item_b = s0.item_b
        |  LEFT JOIN s46 t4 ON t4.item_a = s0.item_a AND t4.item_b = s0.item_b
        |)""".stripMargin
  }

  /** Unrolled degree-peel chain for the li_core_number oracle: level k
    * peels level k−1's fixpoint edge CTE for the measured number of
    * rounds (each round one degree CTE + one both-endpoints filter);
    * ends by flagging every graph node against each level's surviving
    * node set. Depths are the measured fixpoint depths of the deepest
    * fixture plus one confirming round — Spark's capped peel converges
    * regardless, so a deeper fixture is a hash MISMATCH, not silent
    * agreement (the trussPeelCtes contract).
    */
  private def coreOracleSql: String = {
    // measured effective depths + 1 confirm across ALL fixtures (each
    // level's deepest fixture governs): sf0.01 k=3 grinds 10 effective
    // rounds (3108 → … → 1970), sf0.1 k=2 peels its pendant mass in 5
    // (3573 → 363 → 55 → 10 → 4 → 3), sf0.001 is already its own 4-core
    val depths = Seq(2 -> 6, 3 -> 11, 4 -> 6)
    val sb = new StringBuilder(basketGraphCte)
    var prev = "s0"
    val lastOf = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    for ((k, d) <- depths; r <- 1 to d) {
      val name = s"e${k}_$r"
      sb ++= s""", deg${k}_$r AS (
         |  SELECT node, count(*)::BIGINT AS d FROM (
         |    SELECT item_a AS node FROM $prev
         |    UNION ALL SELECT item_b FROM $prev)
         |  GROUP BY 1
         |), $name AS MATERIALIZED (
         |  SELECT e.item_a, e.item_b FROM $prev e
         |  JOIN deg${k}_$r da ON da.node = e.item_a AND da.d >= $k
         |  JOIN deg${k}_$r db ON db.node = e.item_b AND db.d >= $k
         |)""".stripMargin
      prev = name
      lastOf(k) = name
    }
    for ((k, last) <- lastOf)
      sb ++= s""", n$k AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT item_a AS node FROM $last
         |    UNION ALL SELECT item_b FROM $last)
         |)""".stripMargin
    sb ++= """, an AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT item_a AS node FROM s0 UNION ALL SELECT item_b FROM s0)
       |)
       |SELECT an.node, (CASE""".stripMargin
    for ((k, _) <- lastOf.toSeq.reverse)
      sb ++= s" WHEN n$k.node IS NOT NULL THEN $k"
    sb ++= """ ELSE 1 END)::BIGINT AS core
       |FROM an""".stripMargin
    for ((k, _) <- lastOf)
      sb ++= s"\nLEFT JOIN n$k ON n$k.node = an.node"
    sb.toString
  }

  /** The ev_holt_winters oracle: the ev_holt recursive-CTE walk widened
    * to carry seven day-of-week seasonal slots plus the plain-Holt twin,
    * with the recurrence staged in TWO nested subqueries (slot pick,
    * then level updates) to keep the remainder-corrected floors
    * readable. Slot CASEs are generated, not hand-written.
    */
  private def holtWintersOracleSql: String = {
    def fd2(e: String) = s"(($e) - (((($e) % 2) + 2) % 2)) // 2"
    val sCols = (0 to 6).map(i => s"s$i")
    val seedS = sCols.map(c => s"0::BIGINT AS $c").mkString(", ")
    val carryS = sCols.map(c => s"w.$c AS $c").mkString(", ")
    val passS = sCols.mkString(", ")
    val sdow = (0 to 6).map(i => s"WHEN dow = $i THEN s$i").mkString("CASE ", " ", " END")
    val newS = (0 to 6).map(i =>
      s"(CASE WHEN dow = $i THEN ${fd2(s"y4 - l2 + s$i")} ELSE s$i END)::BIGINT AS s$i")
      .mkString(",\n    ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
       |    count(*)::BIGINT AS y
       |  FROM events GROUP BY 1, 2
       |), dm AS (
       |  SELECT event_type, day, y, ((day % 7) + 7) % 7 AS dow,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily
       |), nd AS (
       |  SELECT event_type, count(*)::BIGINT AS n_days FROM dm GROUP BY 1
       |), walk AS (
       |  SELECT event_type, rn, (y * 10000)::BIGINT AS l, 0::BIGINT AS b,
       |    $seedS,
       |    (y * 10000)::BIGINT AS lh, 0::BIGINT AS bh,
       |    0::BIGINT AS hwe, 0::BIGINT AS he, 0::BIGINT AS n
       |  FROM dm WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, rn,
       |    l2::BIGINT AS l, (${fd2("l2 - l0 + b0")})::BIGINT AS b,
       |    $newS,
       |    lh2::BIGINT AS lh, (${fd2("lh2 - lh0 + bh0")})::BIGINT AS bh,
       |    (hwe0 + abs(y4 - fc))::BIGINT AS hwe,
       |    (he0 + abs(y4 - fch))::BIGINT AS he,
       |    (n0 + 1)::BIGINT AS n
       |  FROM (
       |    SELECT *, l0 + b0 + sdow AS fc, lh0 + bh0 AS fch,
       |      ${fd2("y4 - sdow + l0 + b0")} AS l2,
       |      ${fd2("y4 + lh0 + bh0")} AS lh2
       |    FROM (
       |      SELECT d.event_type, d.rn, d.y * 10000 AS y4, d.dow,
       |        w.l AS l0, w.b AS b0, $carryS,
       |        w.lh AS lh0, w.bh AS bh0,
       |        w.hwe AS hwe0, w.he AS he0, w.n AS n0,
       |        $sdow AS sdow
       |      FROM walk w JOIN dm d ON d.event_type = w.event_type AND d.rn = w.rn + 1
       |    )
       |  )
       |)
       |SELECT w.event_type, nd.n_days, w.n AS n_scored,
       |  (w.hwe // w.n)::BIGINT AS hw_mae_e4,
       |  (w.he // w.n)::BIGINT AS holt_mae_e4,
       |  (CASE WHEN w.hwe // w.n < w.he // w.n THEN 1 ELSE 0 END)::BIGINT AS hw_wins
       |FROM walk w JOIN nd USING (event_type)
       |WHERE w.rn = nd.n_days AND w.n > 0""".stripMargin
  }

  /** The unweighted landmark-BFS pyramid CTEs (basket-pair graph, 3
    * top-degree hubs, 3 unrolled frontier layers ending at `d3`) shared
    * verbatim by the li_bfs_hops / li_closeness / li_eccentricity
    * oracles — one builder so the three centrality readouts can never
    * drift from each other (the weighted walks mirror it with costs).
    */
  private lazy val bfsPyramidCte: String = {
    val base =
      """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS MATERIALIZED (SELECT grp, item FROM gi0
        |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |p AS MATERIALIZED (
        |  SELECT a.item AS item_a, b.item AS item_b
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), und AS MATERIALIZED (
        |  SELECT item_a AS src, item_b AS dst FROM p
        |  UNION ALL SELECT item_b, item_a FROM p
        |), s AS MATERIALIZED (
        |  SELECT src AS source FROM (
        |    SELECT src, count(*) AS deg FROM und GROUP BY 1)
        |  ORDER BY deg DESC, src LIMIT 3
        |), d0 AS MATERIALIZED (
        |  SELECT source, source AS node, 0::BIGINT AS hops FROM s)""".stripMargin
    val layers = (1 to 3).map { r =>
      s""", f$r AS MATERIALIZED (
         |  SELECT d.source, u.dst AS node, $r::BIGINT AS hops
         |  FROM d${r - 1} d JOIN und u ON d.node = u.src
         |  WHERE d.hops = ${r - 1}
         |), d$r AS MATERIALIZED (
         |  SELECT source, node, min(hops)::BIGINT AS hops FROM (
         |    SELECT * FROM d${r - 1} UNION ALL SELECT * FROM f$r) u
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString
    base + layers
  }

  def oracleSql: Map[String, String] =
    graft.relational.RelationalQueries.oracleSql ++
      graft.text.TextAnalysis.oracleSql ++
      graft.dedup.Dedup.oracleSql ++
      graft.sim.Similarity.oracleSql ++
      graft.multimodal.Multimodal.oracleSql ++
      clickstreamOracleSql

  private def clickstreamOracleSql: Map[String, String] = Map(
    "cs_sessionize" -> s"$sessionsCte SELECT * FROM sessions",
    "cs_sessionize_typed" -> s"$sessionsCte SELECT * FROM sessions",
    "cs_buy_sessions" -> s"$sessionsCte SELECT * FROM sessions WHERE checkout_event_count <> 0",
    "cs_user_kpis" ->
      s"""$sessionsCte, kpi AS (
         |  SELECT (win_end_ms - 1) - ((win_end_ms - 1) % $WIN) AS win_start_ms,
         |         count(*) AS session_count,
         |         count(CASE WHEN checkout_event_count <> 0 THEN 1 END) AS buy_session_count
         |  FROM sessions GROUP BY 1
         |)
         |SELECT win_start_ms, session_count, buy_session_count,
         |       ((buy_session_count * 100) // session_count)::DOUBLE AS percent_buy,
         |       win_start_ms + $WIN AS win_end_ms
         |FROM kpi""".stripMargin,
    "cs_departments" ->
      s"""$sessionsCte
         |SELECT department, win_start_ms, count(*) AS department_count,
         |       win_start_ms + $WIN AS win_end_ms
         |FROM (
         |  SELECT unnest(string_split(dept_list, ',')) AS department,
         |         (win_end_ms - 1) - ((win_end_ms - 1) % $WIN) AS win_start_ms
         |  FROM sessions) t
         |WHERE department <> ''
         |GROUP BY 1, 2""".stripMargin,
    "ev_type_stats" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS sum_value,
        |       round(avg(value), 4) AS avg_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "cs_sessionize_native" ->
      s"""$sessionsCte
         |SELECT user_id, event_count, checkout_event_count, dept_list,
         |       event_key, win_begin_ms, win_end_ms
         |FROM sessions""".stripMargin,
    "ev_salted_value_sum" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "ev_value_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.95), 4) AS p95,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    // deterministic HLL: salted 60-bit md5 hash → 256-way bucket (low
    // byte) + trailing-zero register over the high 52 bits; harmonic
    // mean via exact 10^12 >> reg terms and the precomputed
    // floor(alpha·m²·10^12) literal — identical integers to the Spark
    // side (Stats.hllDistinct)
    "ev_approx_users" -> (
      """WITH h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('hll:' || user_id), 1, 15))::BIGINT AS h
        |  FROM events
        |), r0 AS (
        |  SELECT event_type, h % 256 AS bucket, h // 256 AS w FROM h
        |), rho AS (
        |  SELECT event_type, bucket,
        |    CASE WHEN w = 0 THEN 53 ELSE length(bin(w & (-w))) END::BIGINT AS rho
        |  FROM r0
        |), regs AS (
        |  SELECT event_type, bucket, max(rho)::BIGINT AS reg FROM rho GROUP BY 1, 2
        |), grid AS (
        |  SELECT t.event_type, r.b AS bucket
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN range(0, 256) r(b)
        |), filled AS (
        |  SELECT g.event_type, coalesce(regs.reg, 0) AS reg
        |  FROM grid g LEFT JOIN regs
        |    ON regs.event_type = g.event_type AND regs.bucket = g.bucket
        |), s AS (
        |  SELECT event_type,
        |    sum(1000000000000 >> reg)::BIGINT AS s,
        |    sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_buckets
        |  FROM filled GROUP BY 1
        |)
        |SELECT event_type, n_zero_buckets,
        |  (CASE WHEN n_zero_buckets > 0 AND (47072712671202237 // s) <= 640
        |        THEN [""".stripMargin +
        graft.ops.Stats.HllLinearCount.mkString(", ") + """][n_zero_buckets]
        |        ELSE (47072712671202237 // s) END)::BIGINT AS approx_users
        |FROM s""".stripMargin),
    // the ev_value_quantiles machinery over a deterministic 1-in-10 md5
    // event sample (the capture-recapture predicate family)
    "ev_approx_quantiles" ->
      """SELECT event_type, count(*)::BIGINT AS n_sampled,
        |  round(quantile_cont(value, 0.5), 4) AS p50_approx,
        |  round(quantile_cont(value, 0.95), 4) AS p95_approx
        |FROM events
        |WHERE ('0x' || substr(md5('evq:' || event_id), 1, 15))::BIGINT % 10 = 0
        |GROUP BY event_type""".stripMargin,
    "ev_type_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY 1""".stripMargin,
    // avg as exact integer e4 — no cross-engine double rounding in the
    // compare. NOTE: DuckDB `//` TRUNCATES toward zero (-7 // 2 = -3), it
    // does NOT floor; the remainder-corrected form below is a true floor
    // matching Cols.floorDiv even for negative sums (same technique as the
    // emb_quantize_int8 / ann_topk_ivf oracles).
    "ev_props_json" ->
      """WITH a AS (
        |  SELECT event_type, count(*) AS n_events,
        |    sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |    min(json_extract(props, '$.k')::BIGINT) AS min_k,
        |    max(json_extract(props, '$.k')::BIGINT) AS max_k
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type, n_events, sum_k,
        |  ((sum_k * 10000 - ((sum_k * 10000 % n_events) + n_events) % n_events) // n_events)::BIGINT AS avg_k_e4,
        |  min_k, max_k
        |FROM a""".stripMargin,
    "ev_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type, count(*) AS type_n, round(sum(value), 2) AS type_sum
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type, d.type_n, d.type_sum
        |FROM events e JOIN dim d USING (event_type)""".stripMargin,
    "ev_heavy_hitters" ->
      """SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        |HAVING count(*) * 200 >= (SELECT count(*) FROM events)""".stripMargin,
    // per-batch partial counts merged cumulatively (batch ≤ id), 0.5%
    // rule against each snapshot's own running total
    "ev_heavy_incr" ->
      """WITH b AS (
        |  SELECT user_id,
        |    ('0x' || substr(md5('cb:' || event_id), 1, 15))::BIGINT % 4 AS bt
        |  FROM events
        |), per AS (
        |  SELECT bt, user_id, count(*)::BIGINT AS n FROM b GROUP BY 1, 2
        |), cum AS (
        |  SELECT r.batch, per.user_id, sum(per.n)::BIGINT AS n_events
        |  FROM range(0, 4) r(batch) JOIN per ON per.bt <= r.batch
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT batch, sum(n_events)::BIGINT AS total_events FROM cum GROUP BY 1
        |)
        |SELECT cum.batch, cum.user_id, cum.n_events, tot.total_events
        |FROM cum JOIN tot USING (batch)
        |WHERE cum.n_events * 200 >= tot.total_events""".stripMargin,
    "cs_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), s1 AS (
        |  SELECT user_id, min(ts_ms) AS t FROM e WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(ts_ms) AS t, min(s1.t) AS t0 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_ms > s1.t AND ts_ms <= s1.t + 86400000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(ts_ms) AS t FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_ms > s2.t AND ts_ms <= s2.t0 + 86400000 GROUP BY 1
        |)
        |SELECT 1::BIGINT AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s1)::BIGINT AS n_users
        |UNION ALL SELECT 2::BIGINT, 'click', (SELECT count(*) FROM s2)::BIGINT
        |UNION ALL SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT""".stripMargin,
    "cs_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // retention CTEs → censored per-offset rates → e6 logs → integer
    // Theil-Sen lower-median slope → half-life = ln2·1e10 // −slope;
    // slope differences can be negative so the slope floor uses the
    // pmod form
    "cs_retention_halflife" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |), r AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |    count(DISTINCT e.user_id) AS n_users
        |  FROM e JOIN c USING (user_id)
        |  GROUP BY 1, 2
        |), mx AS (SELECT max(day) AS maxd FROM e),
        |sz AS (
        |  SELECT cohort_day, n_users AS size FROM r WHERE day_offset = 0
        |), os AS (
        |  SELECT day_offset, sum(n_users)::BIGINT AS ret
        |  FROM r WHERE day_offset > 0 GROUP BY 1
        |), dn AS (
        |  SELECT o.day_offset, sum(s.size)::BIGINT AS den
        |  FROM sz s CROSS JOIN mx
        |  JOIN (SELECT day_offset FROM os) o
        |    ON s.cohort_day + o.day_offset <= mx.maxd
        |  GROUP BY 1
        |), pts AS (
        |  SELECT o.day_offset AS d,
        |    round(ln(o.ret::DOUBLE / dn.den) * 1000000)::BIGINT AS lr
        |  FROM os o JOIN dn USING (day_offset)
        |  WHERE o.ret > 0 AND dn.den > 0
        |), sl AS (
        |  SELECT ((b.lr - a.lr
        |           - ((((b.lr - a.lr) % (b.d - a.d)) + (b.d - a.d)) % (b.d - a.d)))
        |          // (b.d - a.d))::BIGINT AS s
        |  FROM pts a JOIN pts b ON a.d < b.d
        |), beta AS (
        |  SELECT count(*)::BIGINT AS n_pairs,
        |    (list(s ORDER BY s))[(count(*) + 1) // 2]::BIGINT AS slope_e6
        |  FROM sl
        |), np AS (SELECT count(*)::BIGINT AS n_offsets FROM pts)
        |SELECT n_offsets, n_pairs, slope_e6,
        |  (CASE WHEN slope_e6 < 0 THEN 6931471806 // (-slope_e6) END)::BIGINT AS half_life_days_e4
        |FROM np, beta""".stripMargin,
    // the k-anon grid re-aggregated into the three release marginals;
    // eps/releases and the Laplace b are the same driver-side literals
    "cust_dp_budget" ->
      """WITH cells AS (
        |  SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
        |    count(*)::BIGINT AS n
        |  FROM customer GROUP BY 1, 2
        |), nat AS (SELECT nation, sum(n)::BIGINT AS n FROM cells GROUP BY 1),
        |seg AS (SELECT segment, sum(n)::BIGINT AS n FROM cells GROUP BY 1),
        |a1 AS (
        |  SELECT 'by_nation' AS release, count(*)::BIGINT AS n_cells,
        |    min(n)::BIGINT AS min_cell, max(n)::BIGINT AS max_cell FROM nat
        |), a2 AS (
        |  SELECT 'by_segment' AS release, count(*)::BIGINT AS n_cells,
        |    min(n)::BIGINT AS min_cell, max(n)::BIGINT AS max_cell FROM seg
        |), a3 AS (
        |  SELECT 'full_cross' AS release, count(*)::BIGINT AS n_cells,
        |    min(n)::BIGINT AS min_cell, max(n)::BIGINT AS max_cell FROM cells
        |), u AS (
        |  SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
        |)
        |SELECT release, n_cells, min_cell, max_cell,
        |  333333::BIGINT AS eps_share_e6,
        |  30000::BIGINT AS noise_b_e4,
        |  (30000 // min_cell)::BIGINT AS worst_rel_err_e4
        |FROM u""".stripMargin,
    "ev_bloom_semi_join" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IN (
        |  SELECT user_id FROM events GROUP BY user_id
        |  HAVING count(*) * 200 >= (SELECT count(*) FROM events))""".stripMargin,
    // each event belongs to exactly two 10-day windows stepped 5 days; the
    // k ∈ {0,1} cross join materializes both starts (epoch-aligned, so
    // win_start = floor(ts/slide)*slide − k*slide)
    "ev_sliding_counts" ->
      """WITH e AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) AS ts_ms, event_type, value FROM events
        |), w AS (
        |  SELECT event_type, value, ts_ms,
        |         (ts_ms // 432000000) * 432000000 - k.k * 432000000 AS win_start_ms
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
        |)
        |SELECT win_start_ms, event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM w
        |WHERE ts_ms >= win_start_ms AND ts_ms < win_start_ms + 864000000
        |GROUP BY 1, 2""".stripMargin,
    "cs_session_features" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
         |                   OR ts_ms - lag(ts_ms) OVER w >= $GAP THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         |), ids AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS session_seq
         |  FROM flagged
         |)
         |SELECT event_id, user_id, session_seq,
         |  (row_number() OVER s)::BIGINT AS event_idx,
         |  ts_ms - min(ts_ms) OVER (PARTITION BY user_id, session_seq) AS ms_since_start,
         |  ts_ms - lag(ts_ms) OVER s AS gap_ms
         |FROM ids WINDOW s AS (PARTITION BY user_id, session_seq ORDER BY ts_ms, event_id)""".stripMargin,
    "ev_range_join_bucketed" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ms(ts::TIMESTAMP) AS ts_ms
        |  FROM events
        |), i AS (
        |  SELECT event_id AS incident_id, ts_ms AS win_start_ms, ts_ms + 3600000 AS win_end_ms
        |  FROM e WHERE event_type = 'error'
        |)
        |SELECT incident_id, win_start_ms, count(*) AS n_events,
        |  count(DISTINCT p.user_id) AS n_users, round(sum(p.value), 2) AS sum_value
        |FROM i JOIN e p ON p.ts_ms >= i.win_start_ms AND p.ts_ms < i.win_end_ms
        |GROUP BY 1, 2""".stripMargin,
    // integer cents end to end; the carried average is an exact floor in
    // cents·e2 — no double rounding anywhere (an avg/round(…,4) here hit a
    // half boundary at sf0.001 and the engines split on it)
    "ev_gapfill" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, value FROM events
        |), d AS (
        |  SELECT event_type, ts_ms // 86400000 AS day, count(*) AS n_events,
        |         sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents
        |  FROM e GROUP BY 1, 2
        |), d2 AS (
        |  SELECT *,
        |    ((sum_cents * 100 - (((sum_cents * 100 % n_events) + n_events) % n_events))
        |     // n_events)::BIGINT AS day_avg_cents_e2
        |  FROM d
        |), b AS (
        |  SELECT min(ts_ms // 86400000) AS d0, max(ts_ms // 86400000) AS d1 FROM e
        |), g AS (
        |  SELECT t.event_type, unnest(generate_series(b.d0, b.d1)) AS day
        |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN b
        |)
        |SELECT g.event_type, g.day, coalesce(d2.n_events, 0)::BIGINT AS n_events,
        |  coalesce(d2.sum_cents, 0)::BIGINT AS sum_cents,
        |  last_value(d2.day_avg_cents_e2 IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_avg_cents_e2
        |FROM g LEFT JOIN d2 ON g.event_type = d2.event_type AND g.day = d2.day""".stripMargin,
    "ev_unpivot" ->
      """WITH p AS (
        |  SELECT user_id % 10 AS user_bucket,
        |    count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |    count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |    count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |    count(*) FILTER (WHERE event_type = 'error') AS n_error
        |  FROM events GROUP BY 1
        |)
        |SELECT user_bucket, metric, n
        |FROM p UNPIVOT (n FOR metric IN (n_view, n_click, n_purchase, n_signup, n_error))""".stripMargin,
    "ev_winsorize" ->
      """WITH b AS (
        |  SELECT event_type, round(quantile_cont(value, 0.01), 4) AS lo,
        |         round(quantile_cont(value, 0.99), 4) AS hi
        |  FROM events GROUP BY 1
        |)
        |SELECT event_id, e.event_type, least(greatest(value, lo), hi) AS value_w,
        |  (value < lo OR value > hi)::BIGINT AS clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin,
    "ev_asof_status" ->
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS sts_ms, event_type AS status
        |  FROM events WHERE event_type IN ('signup', 'error')
        |)
        |SELECT l.event_id, l.user_id, l.ts_ms, l.value,
        |       r.status, r.sts_ms AS status_ts_ms
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_ms >= r.sts_ms""".stripMargin,
    "ev_asof_next" ->
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, value
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS sts_ms, event_type AS status
        |  FROM events WHERE event_type IN ('signup', 'error')
        |)
        |SELECT l.event_id, l.user_id, l.ts_ms, l.value,
        |       r.status, r.sts_ms AS status_ts_ms
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_ms <= r.sts_ms""".stripMargin,
    "ev_profile" -> {
      val cols = Seq("event_id", "user_id", "event_type", "value", "props", "ts_ms")
      "WITH e AS (SELECT *, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events)\n" +
        cols.map { c =>
          s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_rows,
             |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |  count(DISTINCT $c)::BIGINT AS n_distinct FROM e""".stripMargin
        }.mkString("\nUNION ALL ")
    },
    // p99 is the exact rank statistic (value at rank ceil(0.99·n_keys) over
    // the ascending per-key counts) — all-integer, so it hashes identically
    // cross-engine where an interpolated quantile_cont double would not
    "ev_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |s AS (
        |  SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |    max(c)::BIGINT AS max_key_rows
        |  FROM c
        |), r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM c)
        |SELECT n_rows, n_keys, max_key_rows,
        |  ((max_key_rows * 1000000) // n_rows)::BIGINT AS top_share_ppm,
        |  (SELECT r.c FROM r, s WHERE r.rn = (s.n_keys * 99 + 99) // 100)::BIGINT
        |    AS p99_key_rows
        |FROM s""".stripMargin,
    "ev_zone_map" ->
      """WITH b AS (
        |  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |    user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms
        |  FROM events
        |)
        |SELECT bucket, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT user_id)::BIGINT AS n_keys,
        |  min(ts_ms) AS min_ts_ms, max(ts_ms) AS max_ts_ms
        |FROM b GROUP BY 1""".stripMargin,
    // bloom sizing off the same bucketing: ceil via +999999, round-half-up
    // via +500000, every quantity non-negative so // is exact floor
    "tbl_bloom_design" ->
      """WITH b AS (
        |  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 16 AS bucket,
        |    user_id
        |  FROM events
        |), a AS (
        |  SELECT bucket, count(*)::BIGINT AS n_rows,
        |    count(DISTINCT user_id)::BIGINT AS n_keys
        |  FROM b GROUP BY 1
        |), m AS (
        |  SELECT bucket, n_rows, n_keys,
        |    ((n_keys::HUGEINT * 9585058 + 999999) // 1000000)::BIGINT AS m_bits
        |  FROM a
        |), r AS (
        |  SELECT bucket, n_rows, n_keys, m_bits,
        |    (m_bits::HUGEINT * 1000000 // n_keys)::BIGINT AS r_e6
        |  FROM m
        |)
        |SELECT bucket, n_rows, n_keys, m_bits,
        |  ((r_e6 * 693147 // 1000000 + 500000) // 1000000)::BIGINT AS k_hashes,
        |  ((m_bits + 7) // 8)::BIGINT AS n_bytes
        |FROM r""".stripMargin,
    // replays the 8+8-bit Morton interleave with a list-comprehension sum;
    // all quantities non-negative so // is exact floor
    "ev_zorder_layout" ->
      """WITH d AS (
        |  SELECT (user_id % 256)::BIGINT AS ub,
        |    (epoch_ms(ts::TIMESTAMP) // 86400000) % 256 AS tb
        |  FROM events
        |), z AS (
        |  SELECT ub, tb,
        |    list_sum([((ub >> i) & 1) * (1 << (2 * i)) +
        |              ((tb >> i) & 1) * (1 << (2 * i + 1))
        |              for i in range(0, 8)])::BIGINT AS zval
        |  FROM d
        |)
        |SELECT zval // 4096 AS zbucket, count(*)::BIGINT AS n_rows,
        |  min(ub) AS min_key8, max(ub) AS max_key8,
        |  min(tb) AS min_day8, max(tb) AS max_day8
        |FROM z GROUP BY 1""".stripMargin,
    "cust_l_diversity" ->
      """SELECT c_nationkey::BIGINT AS c_nationkey, count(*)::BIGINT AS n_rows,
        |  count(DISTINCT c_mktsegment)::BIGINT AS n_sensitive,
        |  (CASE WHEN count(DISTINCT c_mktsegment) < 2 THEN 1 ELSE 0 END)::BIGINT AS not_diverse
        |FROM customer GROUP BY 1""".stripMargin,
    // one x5 level fan-out to the (level x cells) grain; the remainder-
    // corrected floors handle negative balances; chosen = min meets_k
    "cust_anon_plan" ->
      """WITH c AS (
        |  SELECT c_nationkey::BIGINT AS nat, c_mktsegment AS seg,
        |    round(c_acctbal * 100)::BIGINT AS cents
        |  FROM customer
        |), lv AS (
        |  SELECT nat, seg, t.level,
        |    CASE t.level
        |      WHEN 0 THEN cents
        |      WHEN 1 THEN ((cents - ((((cents % 1000) + 1000) % 1000))) // 1000)
        |      WHEN 2 THEN ((cents - ((((cents % 10000) + 10000) % 10000))) // 10000)
        |      WHEN 3 THEN ((cents - ((((cents % 100000) + 100000) % 100000))) // 100000)
        |      ELSE 0 END::BIGINT AS bucket
        |  FROM c, range(0, 5) t(level)
        |), cells AS (
        |  SELECT level, nat, seg, bucket, count(*)::BIGINT AS n
        |  FROM lv GROUP BY 1, 2, 3, 4
        |), per AS (
        |  SELECT level::BIGINT AS level,
        |    count(*)::BIGINT AS n_cells,
        |    min(n)::BIGINT AS min_cell,
        |    sum(CASE WHEN n < 8 THEN 1 ELSE 0 END)::BIGINT AS n_violating_cells,
        |    sum(CASE WHEN n < 8 THEN n ELSE 0 END)::BIGINT AS n_suppressed_rows,
        |    (CASE WHEN sum(CASE WHEN n < 8 THEN 1 ELSE 0 END) = 0
        |          THEN 1 ELSE 0 END)::BIGINT AS meets_k
        |  FROM cells GROUP BY 1
        |), ch AS (
        |  SELECT min(CASE WHEN meets_k = 1 THEN level END) AS chosen_level FROM per
        |)
        |SELECT per.level,
        |  ['cent', '10_dollar', '100_dollar', '1000_dollar', 'dropped'][per.level::INT + 1]
        |    AS balance_bucket,
        |  per.n_cells, per.min_cell, per.n_violating_cells,
        |  per.n_suppressed_rows, per.meets_k,
        |  (CASE WHEN ch.chosen_level IS NOT NULL AND per.level = ch.chosen_level
        |        THEN 1 ELSE 0 END)::BIGINT AS chosen
        |FROM per CROSS JOIN ch""".stripMargin,
    "cust_k_anon" ->
      """SELECT c_nationkey::BIGINT AS c_nationkey, c_mktsegment, count(*)::BIGINT AS n_rows,
        |  (CASE WHEN count(*) < 8 THEN 1 ELSE 0 END)::BIGINT AS suppress
        |FROM customer GROUP BY 1, 2""".stripMargin,
    // ordered-value EMD on the 16-bucket cent grid; every cum product is
    // an integer (HUGEINT internals), numerators ≥ 0 → // is floor; the
    // dense grid join makes empty buckets still step the global CDF
    "cust_t_closeness" ->
      """WITH c AS (
        |  SELECT c_nationkey::BIGINT AS c_nationkey,
        |    round(c_acctbal * 100)::BIGINT AS cents
        |  FROM customer
        |), bounds AS (
        |  SELECT min(cents) AS lo, max(cents) - min(cents) + 1 AS w FROM c
        |), b AS (
        |  SELECT c_nationkey, ((cents - lo) * 16) // w AS bkt FROM c, bounds
        |), cells AS (SELECT c_nationkey, count(*)::BIGINT AS n_rows FROM b GROUP BY 1),
        |cb AS (SELECT c_nationkey, bkt, count(*)::BIGINT AS cg FROM b GROUP BY 1, 2),
        |gb AS (SELECT bkt, count(*)::BIGINT AS cglob FROM b GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM b),
        |grid AS (
        |  SELECT cells.c_nationkey, cells.n_rows, g.bkt
        |  FROM cells CROSS JOIN (SELECT unnest(generate_series(0, 15))::BIGINT AS bkt) g
        |), dense AS (
        |  SELECT grid.c_nationkey, grid.n_rows, grid.bkt,
        |    coalesce(cb.cg, 0) AS cg, coalesce(gb.cglob, 0) AS cglob
        |  FROM grid
        |  LEFT JOIN cb ON cb.c_nationkey = grid.c_nationkey AND cb.bkt = grid.bkt
        |  LEFT JOIN gb ON gb.bkt = grid.bkt
        |), cum AS (
        |  SELECT c_nationkey, n_rows, bkt,
        |    sum(cg) OVER (PARTITION BY c_nationkey ORDER BY bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg,
        |    sum(cglob) OVER (PARTITION BY c_nationkey ORDER BY bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dense
        |), s AS (
        |  SELECT c_nationkey, n_rows,
        |    sum(abs(n::HUGEINT * cumg - n_rows::HUGEINT * cum)) AS sd,
        |    max(n) AS n
        |  FROM cum, tot WHERE bkt < 15 GROUP BY 1, 2
        |)
        |SELECT c_nationkey, n_rows,
        |  ((sd * 1000000) // (n_rows::HUGEINT * n * 15))::BIGINT AS t_e6,
        |  (CASE WHEN (sd * 1000000) // (n_rows::HUGEINT * n * 15) > 200000
        |        THEN 1 ELSE 0 END)::BIGINT AS not_close
        |FROM s""".stripMargin,
    "cs_bounce_rate" ->
      s"""$sessionsCte
         |SELECT win_begin_ms // 86400000 AS day,
         |  count(*) AS n_sessions,
         |  count(CASE WHEN event_count <= 1 THEN 1 END) AS n_bounces,
         |  (count(CASE WHEN event_count <= 1 THEN 1 END) * 10000) // count(*) AS bounce_e4
         |FROM sessions GROUP BY 1""".stripMargin,
    "ord_revenue_cohorts" ->
      """WITH m AS (
        |  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS midx,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders
        |), c AS (
        |  SELECT o_custkey, min(midx) AS cm FROM m GROUP BY 1
        |)
        |SELECT cm::BIGINT AS cohort_midx, (midx - cm)::BIGINT AS month_offset,
        |  count(DISTINCT m.o_custkey) AS n_customers,
        |  sum(cents)::BIGINT AS revenue_cents
        |FROM m JOIN c USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,
    "cs_churn_risk" ->
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts::TIMESTAMP)) AS first_ms,
        |    max(epoch_ms(ts::TIMESTAMP)) AS last_ms
        |  FROM events GROUP BY 1
        |), r AS (SELECT max(epoch_ms(ts::TIMESTAMP)) AS ref FROM events)
        |SELECT first_ms // 86400000 AS cohort_day, count(*) AS n_users,
        |  sum(CASE WHEN last_ms < ref - 14 * 86400000 THEN 1 ELSE 0 END)::BIGINT AS n_churned,
        |  ((sum(CASE WHEN last_ms < ref - 14 * 86400000 THEN 1 ELSE 0 END) * 10000) // count(*))::BIGINT
        |    AS churn_e4
        |FROM u CROSS JOIN r
        |GROUP BY 1""".stripMargin,
    "li_discount_effect" ->
      """SELECT round(l_discount * 100)::BIGINT AS disc_pct, count(*) AS n_lines,
        |  sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        |  sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev_cents,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 100)::BIGINT)::BIGINT AS disc_rev_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    // same running-history window (strictly-earlier rows, deterministic
    // (ts, event_id) order) — all integer, count arithmetic never promotes
    "ev_cold_purchases" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), h AS (
        |  SELECT *,
        |    max(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS browsed
        |  FROM e
        |)
        |SELECT ts_ms // 86400000 AS day, count(*) AS n_purchases,
        |  count(CASE WHEN coalesce(browsed, 0) = 0 THEN 1 END) AS n_cold,
        |  (count(CASE WHEN coalesce(browsed, 0) = 0 THEN 1 END) * 10000) // count(*) AS cold_e4
        |FROM h WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "ev_reactivations" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    epoch_ms(ts::TIMESTAMP)
        |      - lag(epoch_ms(ts::TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts::TIMESTAMP)) AS gap
        |  FROM events
        |), r AS (
        |  SELECT DISTINCT ts_ms // 86400000 AS day, user_id
        |  FROM g WHERE gap > 2 * 86400000
        |)
        |SELECT day, count(*) AS n_reactivated FROM r GROUP BY 1""".stripMargin,
    "ev_ewma_daily" ->
      """WITH RECURSIVE d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1
        |), s AS (
        |  SELECT day, n_events, row_number() OVER (ORDER BY day) AS i FROM d
        |), r AS (
        |  SELECT day, n_events, i, n_events * 10000 AS ewma_e4 FROM s WHERE i = 1
        |  UNION ALL
        |  SELECT s.day, s.n_events, s.i,
        |    r.ewma_e4 + ((s.n_events * 10000 - r.ewma_e4) >> 3)
        |  FROM s JOIN r ON s.i = r.i + 1
        |)
        |SELECT day::BIGINT AS day, n_events::BIGINT AS n_events,
        |  ewma_e4::BIGINT AS ewma_e4
        |FROM r""".stripMargin,
    "ev_forecast_backtest" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day, count(*) AS n
        |  FROM events GROUP BY 1
        |), j AS (
        |  SELECT a.n - b.n AS err, (abs(a.n - b.n) * 10000) // a.n AS ape_e4
        |  FROM d a JOIN d b ON a.day = b.day + 7
        |)
        |SELECT count(*)::BIGINT AS n_eval_days,
        |  coalesce(sum(err), 0)::BIGINT AS bias,
        |  coalesce(sum(abs(err)), 0)::BIGINT AS sum_abs_err,
        |  (CASE WHEN count(*) > 0
        |        THEN (sum(abs(err)) * 10000) // count(*) ELSE 0 END)::BIGINT AS mae_e4,
        |  (CASE WHEN count(*) > 0
        |        THEN sum(ape_e4) // count(*) ELSE 0 END)::BIGINT AS mape_e4
        |FROM j""".stripMargin,
    "ev_freshness" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        |  max(epoch_ms(ts::TIMESTAMP))::BIGINT AS max_ts_ms,
        |  ((SELECT max(epoch_ms(ts::TIMESTAMP)) FROM events)
        |    - max(epoch_ms(ts::TIMESTAMP)))::BIGINT AS staleness_ms
        |FROM events GROUP BY 1""".stripMargin,
    "cs_gap_sensitivity" ->
      """WITH g AS (
        |  SELECT epoch_ms(ts::TIMESTAMP)
        |    - lag(epoch_ms(ts::TIMESTAMP)) OVER (
        |        PARTITION BY user_id
        |        ORDER BY epoch_ms(ts::TIMESTAMP), event_id) AS gap
        |  FROM events
        |)
        |SELECT 60000::BIGINT AS gap_ms,
        |  count(CASE WHEN gap IS NULL OR gap >= 60000 THEN 1 END)::BIGINT AS n_sessions
        |FROM g
        |UNION ALL SELECT 600000,
        |  count(CASE WHEN gap IS NULL OR gap >= 600000 THEN 1 END) FROM g
        |UNION ALL SELECT 3600000,
        |  count(CASE WHEN gap IS NULL OR gap >= 3600000 THEN 1 END) FROM g
        |UNION ALL SELECT 43200000,
        |  count(CASE WHEN gap IS NULL OR gap >= 43200000 THEN 1 END) FROM g
        |UNION ALL SELECT 86400000,
        |  count(CASE WHEN gap IS NULL OR gap >= 86400000 THEN 1 END) FROM g""".stripMargin,
    "ev_theil_sen" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day, count(*) AS n
        |  FROM events GROUP BY 1
        |), p AS (
        |  -- remainder-corrected floor division (DuckDB // truncates)
        |  SELECT ((b.n - a.n) * 10000
        |          - (((b.n - a.n) * 10000) % (b.day - a.day)
        |             + (b.day - a.day)) % (b.day - a.day))
        |         // (b.day - a.day) AS s
        |  FROM d a JOIN d b ON a.day < b.day
        |)
        |SELECT (SELECT count(*) FROM d)::BIGINT AS n_days,
        |  count(*)::BIGINT AS n_pairs,
        |  round(quantile_cont(s, 0.5), 4) AS slope_med_e4,
        |  round(quantile_cont(s, 0.25), 4) AS slope_p25_e4,
        |  round(quantile_cont(s, 0.75), 4) AS slope_p75_e4
        |FROM p""".stripMargin,
    "tbl_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders
        |), old AS (SELECT * FROM o WHERE k % 97 <> 0),
        |new AS (
        |  SELECT k, st,
        |    CASE WHEN k % 101 = 0 THEN cents + 100 ELSE cents END AS cents
        |  FROM o WHERE k % 89 <> 0
        |), j AS (
        |  SELECT CASE WHEN old.k IS NULL THEN 'added'
        |    WHEN new.k IS NULL THEN 'removed'
        |    WHEN old.st = new.st AND old.cents = new.cents THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |  FROM old FULL OUTER JOIN new ON old.k = new.k
        |)
        |SELECT status, count(*)::BIGINT AS n_rows FROM j GROUP BY 1""".stripMargin,
    // same (flag, cents) weight-cell collapse + cumulative window; sums
    // cast down from DuckDB's HUGEINT at every exposed column
    "li_weighted_median" ->
      """WITH cells AS (
        |  SELECT l_returnflag, round(l_extendedprice * 100)::BIGINT AS cents,
        |    sum(l_quantity::BIGINT)::BIGINT AS w
        |  FROM lineitem GROUP BY 1, 2
        |), c AS (
        |  SELECT l_returnflag, cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tw
        |  FROM cells
        |)
        |SELECT l_returnflag, max(tw)::BIGINT AS total_qty,
        |  min(cents)::BIGINT AS wmedian_cents
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY 1""".stripMargin,
    "li_return_rate" ->
      """WITH m AS (
        |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS midx,
        |    l_quantity::BIGINT AS qty,
        |    CASE WHEN l_returnflag = 'R' THEN l_quantity::BIGINT ELSE 0 END AS rqty,
        |    CASE WHEN l_returnflag = 'R' THEN round(l_extendedprice * 100)::BIGINT ELSE 0 END AS rcents
        |  FROM lineitem
        |)
        |SELECT midx::BIGINT AS midx, sum(qty)::BIGINT AS total_qty,
        |  sum(rqty)::BIGINT AS returned_qty,
        |  ((sum(rqty) * 10000) // sum(qty))::BIGINT AS return_e4,
        |  sum(rcents)::BIGINT AS returned_cents
        |FROM m GROUP BY 1""".stripMargin,
    "tbl_join_card" ->
      """WITH ca AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |cb AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |j AS (SELECT ca.k, ca.c * cb.c AS p FROM ca JOIN cb USING (k))
        |SELECT (SELECT sum(c) FROM ca)::BIGINT AS n_left,
        |  (SELECT count(*) FROM ca)::BIGINT AS n_keys_left,
        |  (SELECT sum(c) FROM cb)::BIGINT AS n_right,
        |  (SELECT count(*) FROM cb)::BIGINT AS n_keys_right,
        |  count(*)::BIGINT AS n_keys_matched,
        |  coalesce(sum(p), 0)::BIGINT AS join_rows,
        |  coalesce(max(p), 0)::BIGINT AS max_key_rows,
        |  (CASE WHEN coalesce(sum(p), 0) > 0
        |        THEN (max(p) * 10000) // sum(p) ELSE 0 END)::BIGINT AS top_share_e4
        |FROM j""".stripMargin,
    // one arm per profiled column over the half-tagged table; signed
    // distinct drift uses the remainder-corrected floor (DuckDB '//'
    // is not trusted on negative numerators, same as ev_profile_drift)
    "tbl_stats_drift" -> {
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")
      val arms = cols.map { c =>
        s"""  SELECT '$c' AS column_name,
           |    (count(*) FILTER (WHERE half = 0))::BIGINT AS n_rows_a,
           |    (count(*) FILTER (WHERE half = 1))::BIGINT AS n_rows_b,
           |    (count(*) FILTER (WHERE half = 0)
           |     - count($c) FILTER (WHERE half = 0))::BIGINT AS n_null_a,
           |    (count(*) FILTER (WHERE half = 1)
           |     - count($c) FILTER (WHERE half = 1))::BIGINT AS n_null_b,
           |    (count(DISTINCT $c) FILTER (WHERE half = 0))::BIGINT AS n_distinct_a,
           |    (count(DISTINCT $c) FILTER (WHERE half = 1))::BIGINT AS n_distinct_b
           |  FROM t""".stripMargin
      }.mkString("", "\n  UNION ALL\n", "")
      s"""WITH o AS MATERIALIZED (
         |  SELECT o_orderstatus, o_orderpriority, o_custkey, o_totalprice,
         |    epoch_ms(o_orderdate::TIMESTAMP) // 86400000 AS day
         |  FROM orders
         |), cut AS (SELECT (min(day) + max(day)) // 2 AS c FROM o),
         |t AS MATERIALIZED (
         |  SELECT o.*, CASE WHEN day <= c THEN 0 ELSE 1 END AS half
         |  FROM o CROSS JOIN cut
         |), s AS (
         |$arms
         |)
         |SELECT column_name, n_rows_a, n_rows_b, n_null_a, n_null_b,
         |  n_distinct_a, n_distinct_b,
         |  ((n_null_b * 10000) // greatest(n_rows_b, 1)
         |   - (n_null_a * 10000) // greatest(n_rows_a, 1))::BIGINT AS null_rate_drift_e4,
         |  (((n_distinct_b - n_distinct_a) * 10000
         |    - ((((n_distinct_b - n_distinct_a) * 10000 % greatest(n_distinct_a, 1))
         |        + greatest(n_distinct_a, 1)) % greatest(n_distinct_a, 1)))
         |   // greatest(n_distinct_a, 1))::BIGINT AS distinct_drift_e4
         |FROM s""".stripMargin
    },
    "tbl_pk_audit" ->
      """SELECT 'orders' AS table_name, count(*) AS n_rows,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_null_keys,
        |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))::BIGINT AS n_dup_keys
        |FROM orders
        |UNION ALL SELECT 'part', count(*), count(DISTINCT p_partkey),
        |  count(CASE WHEN p_partkey IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM part
        |UNION ALL SELECT 'customer', count(*), count(DISTINCT c_custkey),
        |  count(CASE WHEN c_custkey IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM customer
        |UNION ALL SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
        |  count(CASE WHEN s_suppkey IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT s_suppkey FROM supplier GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM supplier
        |UNION ALL SELECT 'events', count(*), count(DISTINCT event_id),
        |  count(CASE WHEN event_id IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT event_id FROM events GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM events
        |UNION ALL SELECT 'documents', count(*), count(DISTINCT doc_id),
        |  count(CASE WHEN doc_id IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT doc_id FROM documents GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM documents
        |UNION ALL SELECT 'embeddings', count(*), count(DISTINCT vec_id),
        |  count(CASE WHEN vec_id IS NULL THEN 1 END),
        |  (SELECT count(*) FROM (SELECT vec_id FROM embeddings GROUP BY 1 HAVING count(*) > 1))::BIGINT
        |FROM embeddings""".stripMargin,
    // same 60-bit md5-prefix hash as Cols.hash60; the hash sum is split
    // into two int64-safe halves (sum(h >> 30), sum(h & (2^30-1))) on both
    // engines so the checksum never truncates and never leaves BIGINT —
    // no HUGEINT/decimal in the result, which keeps the driver hash stable
    "tbl_checksum" ->
      """WITH hl AS (
        |  SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM lineitem
        |), ho AS (
        |  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM orders
        |), hc AS (
        |  SELECT ('0x' || substr(md5(c_custkey::VARCHAR || '|' || c_name), 1, 15))::BIGINT AS h
        |  FROM customer
        |), he AS (
        |  SELECT ('0x' || substr(md5(event_id::VARCHAR || '|' || user_id::VARCHAR || '|' || event_type), 1, 15))::BIGINT AS h
        |  FROM events
        |)
        |SELECT 'lineitem' AS tbl, count(*) AS n_rows, bit_xor(h) AS h_xor,
        |  sum(h >> 30)::BIGINT AS h_sum_hi, sum(h & 1073741823)::BIGINT AS h_sum_lo,
        |  min(h) AS h_min, max(h) AS h_max FROM hl
        |UNION ALL SELECT 'orders', count(*), bit_xor(h),
        |  sum(h >> 30)::BIGINT, sum(h & 1073741823)::BIGINT, min(h), max(h) FROM ho
        |UNION ALL SELECT 'customer', count(*), bit_xor(h),
        |  sum(h >> 30)::BIGINT, sum(h & 1073741823)::BIGINT, min(h), max(h) FROM hc
        |UNION ALL SELECT 'events', count(*), bit_xor(h),
        |  sum(h >> 30)::BIGINT, sum(h & 1073741823)::BIGINT, min(h), max(h) FROM he""".stripMargin,
    "ev_dow_hour_heatmap" ->
      """WITH t AS (SELECT count(*) AS total FROM events),
        |h AS (
        |  SELECT (((epoch_ms(ts::TIMESTAMP) // 86400000) % 7) + 7) % 7 AS dow,
        |    (((epoch_ms(ts::TIMESTAMP) % 86400000) + 86400000) % 86400000) // 3600000 AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT dow, hour, n_events, (n_events * 10000) // total AS share_e4
        |FROM h CROSS JOIN t""".stripMargin,
    "li_abc_class" ->
      """WITH rev AS (
        |  SELECT l_partkey, sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev_cents
        |  FROM lineitem GROUP BY 1
        |), t AS (SELECT sum(rev_cents)::BIGINT AS total FROM rev
        |), c AS (
        |  SELECT l_partkey, rev_cents, total,
        |    coalesce(sum(rev_cents) OVER (
        |      ORDER BY rev_cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |  FROM rev CROSS JOIN t
        |)
        |SELECT l_partkey, rev_cents,
        |  (cum_before * 10000) // total AS cum_before_e4,
        |  CASE WHEN (cum_before * 10000) // total < 8000 THEN 'A'
        |       WHEN (cum_before * 10000) // total < 9500 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c""".stripMargin,
    // per-part month histogram + rank window; HHI in HUGEINT squares
    "li_demand_seasonality" ->
      """WITH mc AS (
        |  SELECT l_partkey, month(l_shipdate::TIMESTAMP)::BIGINT AS m,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_partkey, m, q,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY q DESC, m) AS rn
        |  FROM mc
        |), a AS (
        |  SELECT l_partkey, count(*)::BIGINT AS n_months, sum(q)::BIGINT AS total_qty,
        |    sum(q::HUGEINT * q)::HUGEINT AS ssq,
        |    max(CASE WHEN rn = 1 THEN m END)::BIGINT AS peak_month,
        |    max(CASE WHEN rn = 1 THEN q END)::BIGINT AS peak
        |  FROM r GROUP BY 1
        |)
        |SELECT l_partkey, n_months, total_qty, peak_month,
        |  ((peak * 10000) // total_qty)::BIGINT AS peak_share_e4,
        |  ((ssq * 10000) // (total_qty::HUGEINT * total_qty))::BIGINT AS hhi_e4
        |FROM a WHERE total_qty >= 12""".stripMargin,
    // per-supplier order-to-ship delay histogram + cumulative-rank
    // quantiles; the mean floor uses the pmod form defensively
    "sup_lead_time" ->
      """WITH h AS (
        |  SELECT l_suppkey,
        |    epoch_ms(l_shipdate::TIMESTAMP) // 86400000
        |      - epoch_ms(o_orderdate::TIMESTAMP) // 86400000 AS delay,
        |    count(*)::BIGINT AS k
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT l_suppkey, delay, k,
        |    sum(k) OVER (PARTITION BY l_suppkey ORDER BY delay) AS cum,
        |    sum(k) OVER (PARTITION BY l_suppkey) AS n
        |  FROM h
        |), a AS (
        |  SELECT l_suppkey, max(n)::BIGINT AS n_lines,
        |    sum(CASE WHEN delay > 30 THEN k ELSE 0 END)::BIGINT AS late,
        |    sum(delay * k)::BIGINT AS s,
        |    min(CASE WHEN cum * 2 >= n THEN delay END)::BIGINT AS med_delay,
        |    min(CASE WHEN cum * 100 >= n * 95 THEN delay END)::BIGINT AS p95_delay,
        |    max(delay)::BIGINT AS max_delay
        |  FROM c GROUP BY 1
        |)
        |SELECT l_suppkey, n_lines,
        |  ((late * 10000) // n_lines)::BIGINT AS late_share_e4,
        |  ((s * 10000 - ((((s * 10000) % n_lines) + n_lines) % n_lines))
        |    // n_lines)::BIGINT AS mean_delay_e4,
        |  med_delay, p95_delay, max_delay
        |FROM a""".stripMargin,
    // the li_abc_class window stack × the ord_safety_stock moment CTE:
    // cv as an e4 floor ratio of the rounded-sqrt sigma over the floor
    // mean, standard X/Y/Z cuts, lowerMedian cv per cell
    "li_abc_xyz" ->
      """WITH rev AS (
        |  SELECT l_partkey, sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev_cents
        |  FROM lineitem GROUP BY 1
        |), t AS (SELECT sum(rev_cents)::BIGINT AS total FROM rev
        |), c AS (
        |  SELECT l_partkey, rev_cents,
        |    CASE WHEN (coalesce(sum(rev_cents) OVER (
        |           ORDER BY rev_cents DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |         * 10000) // total < 8000 THEN 'A'
        |         WHEN (coalesce(sum(rev_cents) OVER (
        |           ORDER BY rev_cents DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |         * 10000) // total < 9500 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM rev CROSS JOIN t
        |), daily AS (
        |  SELECT l_partkey, epoch_ms(l_shipdate::TIMESTAMP) // 86400000 AS day,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), mom AS (
        |  SELECT l_partkey, min(day) AS d0, max(day) AS d1,
        |    sum(q)::HUGEINT AS s, sum(q::HUGEINT * q)::HUGEINT AS q2
        |  FROM daily GROUP BY 1
        |), xy AS (
        |  SELECT l_partkey, cv_e4,
        |    CASE WHEN cv_e4 <= 5000 THEN 'X'
        |         WHEN cv_e4 <= 10000 THEN 'Y'
        |         ELSE 'Z' END AS xyz_class
        |  FROM (
        |    SELECT l_partkey,
        |      ((round(sqrt(((((d1 - d0 + 1)::HUGEINT * q2 - s * s) * 100000000)
        |          // ((d1 - d0 + 1)::HUGEINT * (d1 - d0 + 1)))::DOUBLE))::BIGINT * 10000)
        |       // greatest((s * 10000 // (d1 - d0 + 1))::BIGINT, 1))::BIGINT AS cv_e4
        |    FROM mom)
        |)
        |SELECT c.abc_class, xy.xyz_class, count(*)::BIGINT AS n_parts,
        |  sum(c.rev_cents)::BIGINT AS rev_cents,
        |  (list(xy.cv_e4 ORDER BY xy.cv_e4))[(count(*) + 1) // 2]::BIGINT AS med_cv_e4
        |FROM c JOIN xy USING (l_partkey)
        |GROUP BY 1, 2""".stripMargin,
    // the abc CTE stack twice (ship-day midpoint halves) + full outer on
    // the part key; absent halves class as 'N'
    "li_abc_migration" -> {
      def abcCte(tag: String, cond: String) =
        s"""rev_$tag AS (
           |  SELECT l_partkey, sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev_cents
           |  FROM li CROSS JOIN cut WHERE $cond GROUP BY 1
           |), t_$tag AS (SELECT sum(rev_cents)::BIGINT AS total FROM rev_$tag
           |), c_$tag AS (
           |  SELECT l_partkey,
           |    CASE WHEN (coalesce(sum(rev_cents) OVER (
           |           ORDER BY rev_cents DESC, l_partkey
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           |         * 10000) // total < 8000 THEN 'A'
           |         WHEN (coalesce(sum(rev_cents) OVER (
           |           ORDER BY rev_cents DESC, l_partkey
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           |         * 10000) // total < 9500 THEN 'B'
           |         ELSE 'C' END AS abc_class
           |  FROM rev_$tag CROSS JOIN t_$tag
           |)""".stripMargin
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_partkey, l_extendedprice,
         |    epoch_ms(l_shipdate::TIMESTAMP) // 86400000 AS day
         |  FROM lineitem
         |), cut AS (SELECT (min(day) + max(day)) // 2 AS c FROM li),
         |${abcCte("e", "day <= c")},
         |${abcCte("l", "day > c")}
         |SELECT coalesce(e.abc_class, 'N') AS class_early,
         |  coalesce(l.abc_class, 'N') AS class_late,
         |  count(*)::BIGINT AS n_parts
         |FROM c_e e FULL OUTER JOIN c_l l USING (l_partkey)
         |GROUP BY 1, 2""".stripMargin
    },
    // (segment × customer) revenue grain + top-4 rank window; HHI
    // squares in HUGEINT mirroring the decimal widening
    "ord_segment_hhi" ->
      """WITH rev AS (
        |  SELECT c_mktsegment, c_custkey,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT c_mktsegment, c_custkey, rev,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY rev DESC, c_custkey) AS rn
        |  FROM rev
        |), a AS (
        |  SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |    sum(rev)::BIGINT AS total_cents,
        |    sum(rev::HUGEINT * rev)::HUGEINT AS ssq,
        |    sum(CASE WHEN rn <= 4 THEN rev ELSE 0 END)::BIGINT AS top4
        |  FROM r GROUP BY 1
        |)
        |SELECT c_mktsegment, n_customers, total_cents,
        |  ((top4 * 10000) // total_cents)::BIGINT AS cr4_e4,
        |  ((ssq * 1000000) // (total_cents::HUGEINT * total_cents))::BIGINT AS hhi_e6
        |FROM a""".stripMargin,
    // daily grain + two RANGE neighbor-max windows + lowerMedian floor
    "ev_peak_days" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), d AS (
        |  SELECT event_type, day, count(*)::BIGINT AS n_events FROM e GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type,
        |    (list(n_events ORDER BY n_events))[(count(*) + 1) // 2]::BIGINT AS med
        |  FROM d GROUP BY 1
        |), wnd AS (
        |  SELECT event_type, day, n_events,
        |    max(n_events) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lm,
        |    max(n_events) OVER (PARTITION BY event_type ORDER BY day
        |      RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS rm
        |  FROM d
        |)
        |SELECT w.event_type, day, n_events,
        |  coalesce(lm, 0)::BIGINT AS left_max, coalesce(rm, 0)::BIGINT AS right_max,
        |  ((n_events * 10000) // greatest(m.med, 1))::BIGINT AS ratio_med_e4
        |FROM wnd w JOIN m USING (event_type)
        |WHERE n_events > coalesce(lm, 0) AND n_events >= coalesce(rm, 0)
        |  AND (n_events * 10000) // greatest(m.med, 1) >= 12000""".stripMargin,
    // KM product-limit recursion over lifetime ranks (the ev_holt walk);
    // every quantity non-negative so // is exact floor
    "cs_survival_km" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id, min(epoch_ms(ts::TIMESTAMP) // 86400000) AS f,
        |    max(epoch_ms(ts::TIMESTAMP) // 86400000) AS l
        |  FROM events GROUP BY 1
        |), m AS (SELECT max(l) AS maxd FROM u
        |), lt AS (
        |  SELECT l - f AS t, CASE WHEN m.maxd - l >= 30 THEN 1 ELSE 0 END AS ch
        |  FROM u CROSS JOIN m
        |), g AS (
        |  SELECT t, sum(ch)::BIGINT AS d, sum(1 - ch)::BIGINT AS c,
        |    row_number() OVER (ORDER BY t) AS rn
        |  FROM lt GROUP BY t
        |), n0 AS (SELECT sum(d + c)::BIGINT AS n FROM g
        |), walk AS (
        |  SELECT g.rn, g.t, n0.n AS n_risk, g.d, g.c,
        |    ((1000000 * (n0.n - g.d)) // n0.n)::BIGINT AS surv,
        |    (n0.n - g.d - g.c)::BIGINT AS rem
        |  FROM g CROSS JOIN n0 WHERE g.rn = 1
        |  UNION ALL
        |  SELECT g.rn, g.t, w.rem, g.d, g.c,
        |    ((w.surv * (w.rem - g.d)) // w.rem)::BIGINT,
        |    (w.rem - g.d - g.c)::BIGINT
        |  FROM walk w JOIN g ON g.rn = w.rn + 1
        |)
        |SELECT t AS t_days, n_risk, d AS n_churned, c AS n_censored, surv AS surv_e6
        |FROM walk""".stripMargin,
    "cs_time_to_purchase" ->
      """WITH u AS (
        |  SELECT user_id, min(epoch_ms(ts::TIMESTAMP)) AS first_ms,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts::TIMESTAMP) END) AS fp_ms
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT first_ms // 86400000 AS cohort_day,
        |    (fp_ms - first_ms) // 86400000 AS days, fp_ms
        |  FROM u
        |)
        |SELECT cohort_day, count(*) AS n_users, count(fp_ms) AS n_purchasers,
        |  round(quantile_cont(days, 0.5), 4) AS p50_days,
        |  max(days) AS max_days
        |FROM d GROUP BY 1""".stripMargin,
    // gap islands (RANGE-peer sid like ev_concurrency) + the cs_funnel
    // chain keyed by (user, session)
    "cs_session_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), s AS (
        |  SELECT user_id, event_type, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |           OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM e
        |), si AS (
        |  SELECT user_id, event_type, ts_ms,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts_ms) AS sid
        |  FROM s
        |), s1 AS (
        |  SELECT user_id, sid, min(ts_ms) AS t FROM si WHERE event_type = 'view' GROUP BY 1, 2
        |), s2 AS (
        |  SELECT si.user_id, si.sid, min(ts_ms) AS t FROM si JOIN s1 USING (user_id, sid)
        |  WHERE event_type = 'click' AND ts_ms > s1.t GROUP BY 1, 2
        |), s3 AS (
        |  SELECT si.user_id, si.sid, min(ts_ms) AS t FROM si JOIN s2 USING (user_id, sid)
        |  WHERE event_type = 'purchase' AND ts_ms > s2.t GROUP BY 1, 2
        |)
        |SELECT 1::BIGINT AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s1)::BIGINT AS n_sessions
        |UNION ALL SELECT 2::BIGINT, 'click', (SELECT count(*) FROM s2)::BIGINT
        |UNION ALL SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT""".stripMargin,
    "ev_profile_drift" ->
      """WITH h0 AS (
        |  SELECT event_type, count(*) AS n_old, count(DISTINCT user_id) AS users_old
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1
        |), h1 AS (
        |  SELECT event_type, count(*) AS n_new, count(DISTINCT user_id) AS users_new
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1
        |)
        |SELECT event_type,
        |  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
        |  coalesce(users_old, 0) AS users_old, coalesce(users_new, 0) AS users_new,
        |  ((coalesce(n_new, 0) - coalesce(n_old, 0)) * 10000
        |   - ((((coalesce(n_new, 0) - coalesce(n_old, 0)) * 10000
        |        % greatest(coalesce(n_old, 0), 1)) + greatest(coalesce(n_old, 0), 1))
        |      % greatest(coalesce(n_old, 0), 1))
        |  ) // greatest(coalesce(n_old, 0), 1) AS delta_e4
        |FROM h0 FULL OUTER JOIN h1 USING (event_type)""".stripMargin,
    "ev_alert_rules" ->
      """WITH h AS (
        |  SELECT event_type,
        |    epoch_ms(ts::TIMESTAMP) - (((epoch_ms(ts::TIMESTAMP) % 3600000) + 3600000) % 3600000) AS hour_start_ms,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT * FROM (VALUES ('error', 6), ('click', 7), ('view', 7))
        |    AS t(event_type, max_per_hour)
        |)
        |SELECT h.event_type, hour_start_ms, n_events,
        |  max_per_hour::BIGINT AS max_per_hour,
        |  (n_events - max_per_hour)::BIGINT AS excess
        |FROM h JOIN r ON h.event_type = r.event_type
        |WHERE n_events > max_per_hour""".stripMargin,
    // calendar-correct day−7 self-join (never a row-offset lag), per-day
    // quantized MAPE terms averaged, earliest worst day on ties
    "ev_forecast_baseline" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2
        |), scored AS (
        |  SELECT a.event_type, a.day, a.c, p.c AS pred, abs(a.c - p.c)::BIGINT AS err
        |  FROM daily a JOIN daily p
        |    ON p.event_type = a.event_type AND p.day = a.day - 7
        |), m AS (
        |  SELECT event_type, day, c, err,
        |    max(err) OVER (PARTITION BY event_type) AS maxerr
        |  FROM scored
        |)
        |SELECT event_type, count(*)::BIGINT AS n_scored,
        |  (sum(err) // count(*))::BIGINT AS mae,
        |  (sum((err * 10000) // c) // count(*))::BIGINT AS mape_e4,
        |  min(CASE WHEN err = maxerr THEN day END)::BIGINT AS worst_day,
        |  max(err)::BIGINT AS worst_abs_err
        |FROM m GROUP BY 1""".stripMargin,
    // the error_budget day CTE + 7d RANGE windows; burns as e4 multiples
    // of the 2000-e4 target, page only when both windows are over
    "ev_slo_burn" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS n_events,
        |    count(CASE WHEN event_type = 'error' THEN 1 END)::BIGINT AS n_errors
        |  FROM events GROUP BY 1
        |), w AS (
        |  SELECT day, n_events, n_errors,
        |    sum(n_events) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
        |      AS n_events_7d,
        |    sum(n_errors) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
        |      AS n_errors_7d
        |  FROM d
        |)
        |SELECT day, n_events, n_errors, n_events_7d, n_errors_7d,
        |  ((n_errors * 100000000) // (n_events * 2000))::BIGINT AS burn_1d_e4,
        |  ((n_errors_7d * 100000000) // (n_events_7d * 2000))::BIGINT AS burn_7d_e4,
        |  (CASE WHEN (n_errors * 100000000) // (n_events * 2000) >= 11000
        |         AND (n_errors_7d * 100000000) // (n_events_7d * 2000) >= 11000
        |        THEN 1 ELSE 0 END)::BIGINT AS alert
        |FROM w""".stripMargin,
    "ev_error_budget" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*) AS n_events,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
        |  FROM events GROUP BY 1
        |)
        |SELECT day, n_events, n_errors,
        |  (n_errors * 10000) // n_events AS err_e4,
        |  ((sum(n_errors) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) * 10000)
        |    // sum(n_events) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))::BIGINT
        |    AS roll7_err_e4
        |FROM d""".stripMargin,
    // two cs_funnel chains restricted by the md5 arm split
    "cs_funnel_by_arm" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |  FROM events
        |), s1a AS (
        |  SELECT user_id, min(ts_ms) AS t FROM e WHERE event_type = 'view' AND arm = 0 GROUP BY 1
        |), s2a AS (
        |  SELECT e.user_id, min(ts_ms) AS t, min(s1a.t) AS t0 FROM e JOIN s1a USING (user_id)
        |  WHERE event_type = 'click' AND arm = 0 AND ts_ms > s1a.t AND ts_ms <= s1a.t + 86400000
        |  GROUP BY 1
        |), s3a AS (
        |  SELECT e.user_id, min(ts_ms) AS t FROM e JOIN s2a USING (user_id)
        |  WHERE event_type = 'purchase' AND arm = 0 AND ts_ms > s2a.t AND ts_ms <= s2a.t0 + 86400000
        |  GROUP BY 1
        |), s1b AS (
        |  SELECT user_id, min(ts_ms) AS t FROM e WHERE event_type = 'view' AND arm = 1 GROUP BY 1
        |), s2b AS (
        |  SELECT e.user_id, min(ts_ms) AS t, min(s1b.t) AS t0 FROM e JOIN s1b USING (user_id)
        |  WHERE event_type = 'click' AND arm = 1 AND ts_ms > s1b.t AND ts_ms <= s1b.t + 86400000
        |  GROUP BY 1
        |), s3b AS (
        |  SELECT e.user_id, min(ts_ms) AS t FROM e JOIN s2b USING (user_id)
        |  WHERE event_type = 'purchase' AND arm = 1 AND ts_ms > s2b.t AND ts_ms <= s2b.t0 + 86400000
        |  GROUP BY 1
        |)
        |SELECT 0::BIGINT AS arm, 1::BIGINT AS stage_idx, 'view' AS stage,
        |  (SELECT count(*) FROM s1a)::BIGINT AS n_users
        |UNION ALL SELECT 0::BIGINT, 2::BIGINT, 'click', (SELECT count(*) FROM s2a)::BIGINT
        |UNION ALL SELECT 0::BIGINT, 3::BIGINT, 'purchase', (SELECT count(*) FROM s3a)::BIGINT
        |UNION ALL SELECT 1::BIGINT, 1::BIGINT, 'view', (SELECT count(*) FROM s1b)::BIGINT
        |UNION ALL SELECT 1::BIGINT, 2::BIGINT, 'click', (SELECT count(*) FROM s2b)::BIGINT
        |UNION ALL SELECT 1::BIGINT, 3::BIGINT, 'purchase', (SELECT count(*) FROM s3b)::BIGINT""".stripMargin,
    "ev_uniques_rollup" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day, user_id FROM events
        |)
        |SELECT event_type, day, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM e GROUP BY ROLLUP (event_type, day)""".stripMargin,
    "ev_replay_screen" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ms(ts::TIMESTAMP) AS ts_ms
        |  FROM events
        |), feed AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT event_id + 1000000000, user_id, event_type, value, ts_ms + 30000
        |  FROM base WHERE event_id % 97 = 0
        |)
        |SELECT a.user_id, a.event_type,
        |  a.event_id AS event_id_first, b.event_id AS event_id_dup,
        |  b.ts_ms - a.ts_ms AS gap_ms
        |FROM feed a JOIN feed b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        |  AND a.value = b.value AND a.event_id < b.event_id
        |WHERE abs(b.ts_ms - a.ts_ms) <= 60000""".stripMargin,
    "ord_backlog_aging" ->
      """WITH sdt AS (
        |  SELECT l_orderkey, max(epoch_ms(l_shipdate) // 86400000) AS sd
        |  FROM lineitem GROUP BY 1
        |), r AS (
        |  SELECT max(epoch_ms(o_orderdate) // 86400000) AS ref FROM orders
        |), o AS (
        |  SELECT o_orderpriority, epoch_ms(o_orderdate) // 86400000 AS pd, sd, ref
        |  FROM orders JOIN sdt ON o_orderkey = l_orderkey CROSS JOIN r
        |)
        |SELECT o_orderpriority,
        |  CASE WHEN ref - pd <= 7 THEN '0-7'
        |       WHEN ref - pd <= 30 THEN '8-30'
        |       ELSE '31+' END AS age_bucket,
        |  count(*) AS n_orders
        |FROM o WHERE sd > ref
        |GROUP BY 1, 2""".stripMargin,
    "ev_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    (epoch_ms(ts::TIMESTAMP) // 86400000) // 7 AS week
        |  FROM events
        |), daily AS (
        |  SELECT week, day, count(*) AS dau FROM ud GROUP BY 1, 2
        |), weekly AS (
        |  SELECT week, count(DISTINCT user_id) AS wau FROM ud GROUP BY 1
        |), ws AS (
        |  SELECT week, sum(dau)::BIGINT AS sum_dau, count(*) AS active_days
        |  FROM daily GROUP BY 1
        |)
        |SELECT ws.week, wau, sum_dau, active_days,
        |  (sum_dau * 10000) // (active_days * wau) AS stickiness_e4
        |FROM ws JOIN weekly USING (week)""".stripMargin,
    "li_repurchase_cycle" ->
      """WITH j AS (
        |  SELECT DISTINCT o_custkey, l_partkey,
        |    epoch_ms(o_orderdate) // 86400000 AS day
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), g AS (
        |  SELECT l_partkey,
        |    day - lag(day) OVER (PARTITION BY o_custkey, l_partkey ORDER BY day) AS gap
        |  FROM j
        |)
        |SELECT l_partkey, count(*) AS n_cycles, min(gap) AS min_days,
        |  ((sum(gap) * 10000) // count(*))::BIGINT AS avg_days_e4,
        |  max(gap) AS max_days
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "ord_fill_rate" ->
      """WITH sdt AS (
        |  SELECT l_orderkey, max(epoch_ms(l_shipdate) // 86400000) AS sd
        |  FROM lineitem GROUP BY 1
        |), o AS (
        |  SELECT o_orderpriority, epoch_ms(o_orderdate) // 86400000 AS pd, sd
        |  FROM orders JOIN sdt ON o_orderkey = l_orderkey
        |)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  count(CASE WHEN sd - pd <= 30 THEN 1 END) AS n_within_sla,
        |  (count(CASE WHEN sd - pd <= 30 THEN 1 END) * 10000) // count(*) AS fill_e4
        |FROM o GROUP BY 1""".stripMargin,
    "ord_open_orders" ->
      """WITH p AS (
        |  SELECT o_orderkey, epoch_ms(o_orderdate) // 86400000 AS pd FROM orders
        |), sdt AS (
        |  SELECT l_orderkey, max(epoch_ms(l_shipdate) // 86400000) AS sd
        |  FROM lineitem GROUP BY 1
        |), d AS (
        |  SELECT pd AS day, 1 AS delta FROM p JOIN sdt ON o_orderkey = l_orderkey
        |  UNION ALL
        |  SELECT sd + 1, -1 FROM p JOIN sdt ON o_orderkey = l_orderkey
        |), daily AS (
        |  SELECT day, sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)::BIGINT AS n_placed,
        |         sum(delta)::BIGINT AS net
        |  FROM d GROUP BY 1
        |)
        |SELECT day, n_placed,
        |  (sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS open_eod
        |FROM daily""".stripMargin,
    // integer z² via HUGEINT: numerator is a perfect square so // == floor
    "ev_ab_lift" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), ua AS (
        |  SELECT user_id, ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |  FROM u
        |), t AS (
        |  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM ua
        |), k AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS k_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS k_b
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) e JOIN ua USING (user_id)
        |  GROUP BY 1
        |)
        |SELECT event_type, n_a, k_a, n_b, k_b,
        |  CASE WHEN n_a > 0 THEN (k_a * 10000) // n_a END AS rate_a_e4,
        |  CASE WHEN n_b > 0 THEN (k_b * 10000) // n_b END AS rate_b_e4,
        |  CASE WHEN n_a * n_b * (k_a + k_b) * (n_a + n_b - k_a - k_b) <> 0 THEN
        |    (((k_a::HUGEINT * n_b - k_b::HUGEINT * n_a) * (k_a::HUGEINT * n_b - k_b::HUGEINT * n_a)
        |      * (n_a + n_b) * 10000)
        |     // (n_a::HUGEINT * n_b * (k_a + k_b) * (n_a + n_b - k_a - k_b)))::BIGINT
        |  END AS z2_e4
        |FROM k CROSS JOIN t""".stripMargin,
    // doubled midranks keep tie handling integer; u2_a ≥ 0 so // == floor
    // dense day grid + HUGEINT lag moments; the unpivot is 7 UNION arms
    "ev_xcorr" -> {
      val lags = (-3 to 3).toSeq
      def nm(k: Int) = if (k < 0) s"numm${-k}" else s"nump$k"
      val shifts = lags.filter(_ != 0).map { k =>
        if (k > 0) s"lead(db, $k) OVER w AS dbs_p$k"
        else s"lag(db, ${-k}) OVER w AS dbs_m${-k}"
      }.mkString(",\n        |    ")
      def sref(k: Int) = if (k == 0) "db" else if (k > 0) s"dbs_p$k" else s"dbs_m${-k}"
      val nums = lags.map(k => s"sum(da::HUGEINT * ${sref(k)}) AS ${nm(k)}")
        .mkString(",\n        |    ")
      val arms = lags.map(k =>
        s"""SELECT ${k}::BIGINT AS lag, n_days,
           |  CASE WHEN dena <> 0 AND denb <> 0 THEN
           |    round(${nm(k)}::DOUBLE / sqrt(dena::DOUBLE * denb::DOUBLE), 6)
           |  END AS r FROM m""".stripMargin)
        .mkString("\n        |UNION ALL\n        |")
      s"""WITH e AS MATERIALIZED (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |daily AS (
        |  SELECT day,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM e WHERE event_type IN ('purchase', 'error') GROUP BY 1
        |), grid AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
        |dense AS (
        |  SELECT g.day, coalesce(ca, 0)::BIGINT AS ca, coalesce(cb, 0)::BIGINT AS cb
        |  FROM grid g LEFT JOIN daily USING (day)
        |), st AS (
        |  SELECT count(*)::BIGINT AS n, sum(ca)::BIGINT AS sa, sum(cb)::BIGINT AS sb
        |  FROM dense
        |), dev AS (
        |  SELECT day, (n * ca - sa)::BIGINT AS da, (n * cb - sb)::BIGINT AS db
        |  FROM dense CROSS JOIN st
        |), sh AS (
        |  SELECT da, db,
        |    $shifts
        |  FROM dev WINDOW w AS (ORDER BY day)
        |), m AS (
        |  SELECT count(*)::BIGINT AS n_days,
        |    sum(da::HUGEINT * da) AS dena, sum(db::HUGEINT * db) AS denb,
        |    $nums
        |  FROM sh
        |)
        |$arms""".stripMargin
    },
    // ceil-rank targets from the in-plan count; (value, event_id) total
    // order makes the statistic tie-proof
    "ev_exact_value_ranks" ->
      """WITH v AS (
        |  SELECT round(value * 100)::BIGINT AS cents, event_id FROM events
        |), n AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (
        |  SELECT cents, (row_number() OVER (ORDER BY cents, event_id))::BIGINT AS i
        |  FROM v
        |), t AS (
        |  SELECT p::BIGINT AS pct, ((p * n + 99) // 100)::BIGINT AS target
        |  FROM n CROSS JOIN (VALUES (50), (90), (99)) pp(p)
        |)
        |SELECT pct, target AS rank, cents AS value_cents
        |FROM r JOIN t ON r.i = t.target""".stripMargin,
    // per-user pre/post dollar sums around the in-plan midpoint day,
    // HUGEINT moments, remainder-corrected floors for every signed ratio
    "ev_cuped" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    round(value * 100)::BIGINT AS cents
        |  FROM events
        |), cut AS (SELECT (min(day) + max(day)) // 2 AS c FROM e),
        |u0 AS (
        |  SELECT user_id,
        |    sum(CASE WHEN day <= c THEN cents ELSE 0 END)::BIGINT AS xc,
        |    sum(CASE WHEN day > c THEN cents ELSE 0 END)::BIGINT AS yc,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |  FROM e CROSS JOIN cut GROUP BY user_id
        |), u AS MATERIALIZED (
        |  SELECT user_id,
        |    ((xc - (((xc % 100) + 100) % 100)) // 100)::BIGINT AS x,
        |    ((yc - (((yc % 100) + 100) % 100)) // 100)::BIGINT AS y,
        |    arm
        |  FROM u0
        |), g AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
        |  FROM u
        |), th AS (
        |  SELECT n, sx,
        |    CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx <> 0 THEN
        |      (((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
        |        - ((((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
        |             % (n::HUGEINT * sxx - sx::HUGEINT * sx))
        |            + (n::HUGEINT * sxx - sx::HUGEINT * sx))
        |           % (n::HUGEINT * sxx - sx::HUGEINT * sx)))
        |       // (n::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT
        |    END AS theta_e6
        |  FROM g
        |), a AS (
        |  SELECT arm, count(*)::BIGINT AS n_users,
        |    sum(x)::BIGINT AS sxa, sum(y)::BIGINT AS sya
        |  FROM u GROUP BY arm
        |), r AS (
        |  SELECT arm, n_users,
        |    ((sxa * 10000 - ((((sxa * 10000) % n_users) + n_users) % n_users))
        |     // n_users)::BIGINT AS x_mean_e4,
        |    ((sya * 10000 - ((((sya * 10000) % n_users) + n_users) % n_users))
        |     // n_users)::BIGINT AS y_mean_e4,
        |    theta_e6,
        |    (((sxa * 10000 - ((((sxa * 10000) % n_users) + n_users) % n_users))
        |      // n_users)
        |     - ((sx * 10000 - ((((sx * 10000) % n) + n) % n)) // n))::BIGINT AS dx_e4
        |  FROM a CROSS JOIN th
        |)
        |SELECT arm, n_users, x_mean_e4, y_mean_e4, theta_e6,
        |  (y_mean_e4
        |   - ((theta_e6::HUGEINT * dx_e4
        |       - ((((theta_e6::HUGEINT * dx_e4) % 1000000) + 1000000) % 1000000))
        |      // 1000000))::BIGINT AS adj_mean_e4
        |FROM r""".stripMargin,
    "ev_mann_whitney" ->
      """WITH ua AS (
        |  SELECT user_id, ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |  FROM (SELECT DISTINCT user_id FROM events)
        |), e AS (
        |  SELECT event_type, arm, value FROM events JOIN ua USING (user_id)
        |), v AS (
        |  SELECT event_type, value, count(*)::BIGINT AS c,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS c_a
        |  FROM e GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, c, c_a,
        |    coalesce((sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))::BIGINT, 0) AS below
        |  FROM v
        |), a AS (
        |  SELECT event_type, sum(c_a)::BIGINT AS n_a, sum(c - c_a)::BIGINT AS n_b,
        |    sum(c_a * (2 * below + c + 1))::BIGINT AS r2_a
        |  FROM w GROUP BY 1
        |)
        |SELECT event_type, n_a, n_b, (r2_a - n_a * (n_a + 1))::BIGINT AS u2_a,
        |  CASE WHEN n_a * n_b > 0 THEN
        |    ((r2_a - n_a * (n_a + 1)) * 10000 // (2 * n_a * n_b))::BIGINT END AS auc_e4
        |FROM a""".stripMargin,
    // quantized Welch on the same hash arms: HUGEINT moments; the mean
    // floors are remainder-corrected (cent sums are signed); the variance
    // and t² numerators are ≥ 0 (Cauchy–Schwarz / a square), so their //
    // is exact floor as-is
    // lower medians via sorted-list indexing (element (n+1)//2), exact
    // integers throughout; flag at mult·max(MAD, 1)
    "ev_anomaly_mad" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, arr[((len(arr) + 1) // 2)::INT] AS med FROM (
        |    SELECT event_type, list_sort(list(n_events)) AS arr FROM daily GROUP BY 1
        |  )
        |), wm AS (
        |  SELECT d.event_type, d.day, d.n_events, med.med,
        |    abs(d.n_events - med.med)::BIGINT AS dev
        |  FROM daily d JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, arr[((len(arr) + 1) // 2)::INT] AS mad FROM (
        |    SELECT event_type, list_sort(list(dev)) AS arr FROM wm GROUP BY 1
        |  )
        |)
        |SELECT wm.event_type, wm.day, wm.n_events, wm.med, mad.mad, wm.dev,
        |  (CASE WHEN wm.dev > 3 * greatest(mad.mad, 1) THEN 1 ELSE 0 END)::BIGINT
        |    AS is_anomaly
        |FROM wm JOIN mad USING (event_type)""".stripMargin,
    // two independent 1-in-10 md5 event samples as the captures, Chapman
    // with floor division; the signed error uses the remainder-corrected
    // floor (underestimates make the numerator negative)
    "ev_capture_recapture" ->
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |    max(CASE WHEN ('0x' || substr(md5('cr1:' || event_id), 1, 15))::BIGINT % 10 = 0
        |             THEN 1 ELSE 0 END)::BIGINT AS in1,
        |    max(CASE WHEN ('0x' || substr(md5('cr2:' || event_id), 1, 15))::BIGINT % 10 = 0
        |             THEN 1 ELSE 0 END)::BIGINT AS in2
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT event_type, sum(in1)::BIGINT AS n1, sum(in2)::BIGINT AS n2,
        |    sum(in1 * in2)::BIGINT AS m, count(*)::BIGINT AS n_actual
        |  FROM pu GROUP BY 1
        |), h AS (
        |  SELECT event_type, n1, n2, m, n_actual,
        |    (((n1 + 1) * (n2 + 1)) // (m + 1) - 1)::BIGINT AS n_hat
        |  FROM g
        |)
        |SELECT event_type, n1, n2, m, n_actual, n_hat,
        |  (((n_hat - n_actual) * 10000
        |    - ((((n_hat - n_actual) * 10000) % n_actual + n_actual) % n_actual))
        |   // n_actual)::BIGINT AS err_e4
        |FROM h""".stripMargin,
    // Holt recurrences as a per-type recursive CTE over day ranks; the
    // level/trend floors use the remainder-corrected form (negative
    // trends make the numerators sign-carrying, where DuckDB's // alone
    // truncates toward zero)
    // the Croston recursion as a per-part recursive CTE over demand-day
    // ranks (the ev_holt walk); every quantity non-negative so // is
    // exact floor
    "li_croston" ->
      """WITH RECURSIVE daily AS (
        |  SELECT l_partkey, epoch_ms(l_shipdate::TIMESTAMP) // 86400000 AS day,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), dm AS (
        |  SELECT l_partkey, day, q,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY day) AS rn
        |  FROM daily
        |), nd AS (
        |  SELECT l_partkey, count(*)::BIGINT AS n, min(day) AS d0, max(day) AS d1
        |  FROM dm GROUP BY 1
        |), walk AS (
        |  SELECT l_partkey, rn, day AS pd, (q * 10000)::BIGINT AS z, (-1)::BIGINT AS p
        |  FROM dm WHERE rn = 1
        |  UNION ALL
        |  SELECT d.l_partkey, d.rn, d.day,
        |    ((d.q * 10000 + w.z) // 2)::BIGINT,
        |    (CASE WHEN w.p = -1 THEN (d.day - w.pd) * 10000
        |          ELSE ((d.day - w.pd) * 10000 + w.p) // 2 END)::BIGINT
        |  FROM walk w JOIN dm d ON d.l_partkey = w.l_partkey AND d.rn = w.rn + 1
        |)
        |SELECT w.l_partkey, nd.n AS n_demand_days, (nd.d1 - nd.d0)::BIGINT AS span_days,
        |  w.z AS size_e4, w.p AS interval_e4,
        |  (w.z * 10000 // w.p)::BIGINT AS croston_rate_e4
        |FROM walk w JOIN nd USING (l_partkey)
        |WHERE w.rn = nd.n AND nd.n >= 3""".stripMargin,
    // the li_croston walk + calendar-day variance moments; sigma is the
    // one shared rounded-sqrt double, z/sqrt(L) factors exact e4 literals
    "ord_safety_stock" ->
      """WITH RECURSIVE daily AS (
        |  SELECT l_partkey, epoch_ms(l_shipdate::TIMESTAMP) // 86400000 AS day,
        |    sum(round(l_quantity)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), dm AS (
        |  SELECT l_partkey, day, q,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY day) AS rn
        |  FROM daily
        |), nd AS (
        |  SELECT l_partkey, count(*)::BIGINT AS n, min(day) AS d0, max(day) AS d1
        |  FROM dm GROUP BY 1
        |), walk AS (
        |  SELECT l_partkey, rn, day AS pd, (q * 10000)::BIGINT AS z, (-1)::BIGINT AS p
        |  FROM dm WHERE rn = 1
        |  UNION ALL
        |  SELECT d.l_partkey, d.rn, d.day,
        |    ((d.q * 10000 + w.z) // 2)::BIGINT,
        |    (CASE WHEN w.p = -1 THEN (d.day - w.pd) * 10000
        |          ELSE ((d.day - w.pd) * 10000 + w.p) // 2 END)::BIGINT
        |  FROM walk w JOIN dm d ON d.l_partkey = w.l_partkey AND d.rn = w.rn + 1
        |), mom AS (
        |  SELECT l_partkey, sum(q)::HUGEINT AS s, sum(q::HUGEINT * q)::HUGEINT AS q2
        |  FROM daily GROUP BY 1
        |), sig AS (
        |  SELECT nd.l_partkey,
        |    round(sqrt(((((nd.d1 - nd.d0 + 1)::HUGEINT * mom.q2 - mom.s * mom.s) * 100000000)
        |      // ((nd.d1 - nd.d0 + 1)::HUGEINT * (nd.d1 - nd.d0 + 1)))::DOUBLE))::BIGINT AS sigma_e4
        |  FROM nd JOIN mom USING (l_partkey)
        |)
        |SELECT w.l_partkey, nd.n AS n_demand_days, (nd.d1 - nd.d0)::BIGINT AS span_days,
        |  (w.z * 10000 // w.p)::BIGINT AS croston_rate_e4,
        |  sig.sigma_e4,
        |  ((16449 * sig.sigma_e4 * 26458) // 100000000)::BIGINT AS ss95_e4,
        |  ((w.z * 10000 // w.p) * 7 + (16449 * sig.sigma_e4 * 26458) // 100000000)::BIGINT AS rop95_e4,
        |  ((23263 * sig.sigma_e4 * 26458) // 100000000)::BIGINT AS ss99_e4,
        |  ((w.z * 10000 // w.p) * 7 + (23263 * sig.sigma_e4 * 26458) // 100000000)::BIGINT AS rop99_e4
        |FROM walk w JOIN nd USING (l_partkey) JOIN sig USING (l_partkey)
        |WHERE w.rn = nd.n AND nd.n >= 3""".stripMargin,
    "ev_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2
        |), dm AS (
        |  SELECT event_type, day, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily
        |), nd AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days FROM dm GROUP BY 1
        |), walk AS (
        |  SELECT event_type, rn, y AS py, (y * 10000)::BIGINT AS l, 0::BIGINT AS b,
        |    0::BIGINT AS he, 0::BIGINT AS ne, 0::BIGINT AS n
        |  FROM dm WHERE rn = 1
        |  UNION ALL
        |  SELECT event_type, rn, py, l2::BIGINT,
        |    (((l2 - l0 + b0) - ((((l2 - l0 + b0) % 2) + 2) % 2)) // 2)::BIGINT,
        |    he2::BIGINT, ne2::BIGINT, n2::BIGINT
        |  FROM (
        |    SELECT d.event_type, d.rn, d.y AS py, w.l AS l0, w.b AS b0,
        |      ((d.y * 10000 + w.l + w.b)
        |        - ((((d.y * 10000 + w.l + w.b) % 2) + 2) % 2)) // 2 AS l2,
        |      w.he + abs(d.y * 10000 - (w.l + w.b)) AS he2,
        |      w.ne + abs(d.y - w.py) * 10000 AS ne2,
        |      w.n + 1 AS n2
        |    FROM walk w JOIN dm d ON d.event_type = w.event_type AND d.rn = w.rn + 1
        |  )
        |)
        |SELECT w.event_type, nd.n_days, w.n AS n_scored,
        |  (w.he // w.n)::BIGINT AS holt_mae_e4,
        |  (w.ne // w.n)::BIGINT AS naive_mae_e4,
        |  (CASE WHEN w.he // w.n < w.ne // w.n THEN 1 ELSE 0 END)::BIGINT AS holt_wins
        |FROM walk w JOIN nd USING (event_type)
        |WHERE w.rn = nd.n_days AND w.n > 0""".stripMargin,
    // the CUSUM recursion as a per-type recursive CTE over day ranks —
    // the DuckDB mirror of Spark's calendar-bounded array fold
    "ev_cusum_chart" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS n, sum(round(value * 100)::BIGINT)::BIGINT AS s
        |  FROM events GROUP BY 1, 2
        |), dm AS (
        |  SELECT event_type, day,
        |    ((s - (((s % n) + n) % n)) // n)::BIGINT AS m,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily
        |), g AS (
        |  SELECT event_type,
        |    ((sum(m) - (((sum(m) % count(*)) + count(*)) % count(*))) // count(*))::BIGINT AS gm,
        |    count(*)::BIGINT AS n_days
        |  FROM dm GROUP BY 1
        |), dev AS (
        |  SELECT dm.event_type, dm.rn, dm.day, (dm.m - g.gm)::BIGINT AS dev
        |  FROM dm JOIN g USING (event_type)
        |), walk AS (
        |  SELECT event_type, rn, day,
        |    greatest(dev, 0)::BIGINT AS cp, greatest(-dev, 0)::BIGINT AS cn,
        |    greatest(dev, 0)::BIGINT AS mp, greatest(-dev, 0)::BIGINT AS mn,
        |    CASE WHEN greatest(dev, 0) > 2000 OR greatest(-dev, 0) > 2000
        |         THEN day END AS ad
        |  FROM dev WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.rn, d.day,
        |    greatest(w.cp + d.dev, 0), greatest(w.cn - d.dev, 0),
        |    greatest(w.mp, greatest(w.cp + d.dev, 0)),
        |    greatest(w.mn, greatest(w.cn - d.dev, 0)),
        |    coalesce(w.ad,
        |      CASE WHEN greatest(w.cp + d.dev, 0) > 2000
        |             OR greatest(w.cn - d.dev, 0) > 2000 THEN d.day END)
        |  FROM walk w JOIN dev d ON d.event_type = w.event_type AND d.rn = w.rn + 1
        |)
        |SELECT w.event_type, g.n_days, w.mp AS max_cusum_pos, w.mn AS max_cusum_neg,
        |  w.ad AS alarm_day,
        |  (CASE WHEN w.ad IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS alarm
        |FROM walk w JOIN g USING (event_type) WHERE w.rn = g.n_days""".stripMargin,
    // Wald SPRT: Bernoulli success at the literal 3500-cent line, daily
    // cumulative LLR with the e4-quantized ln factors (953 / −1054) and
    // the ±ln(19) = ±29444 boundaries — all literals, both engines
    "ev_sprt" ->
      """WITH e AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm,
        |    epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    CASE WHEN round(value * 100)::BIGINT > 3500 THEN 1 ELSE 0 END AS succ
        |  FROM events
        |), daily AS (
        |  SELECT event_type, arm, day,
        |    count(*)::BIGINT AS n_day, sum(succ)::BIGINT AS s_day
        |  FROM e GROUP BY 1, 2, 3
        |), cum AS (
        |  SELECT event_type, arm, day, n_day, s_day,
        |    sum(n_day) OVER (PARTITION BY event_type, arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n_cum,
        |    sum(s_day) OVER (PARTITION BY event_type, arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS s_cum
        |  FROM daily
        |)
        |SELECT event_type, arm, day, n_day, s_day, n_cum, s_cum,
        |  (s_cum * 953 + (n_cum - s_cum) * -1054)::BIGINT AS llr_e4,
        |  CASE WHEN s_cum * 953 + (n_cum - s_cum) * -1054 >= 29444 THEN 'accept_h1'
        |       WHEN s_cum * 953 + (n_cum - s_cum) * -1054 <= -29444 THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM cum""".stripMargin,
    // exact-count re-randomization p-values (the bootstrap hash idiom,
    // arm = hash60('perm:b:user') % 2) + the BH step-up as pure integer
    // inequalities; mean floors use the pmod pre-subtraction
    "ev_perm_fdr" ->
      """WITH e AS (
        |  SELECT event_type, user_id, round(value * 100)::BIGINT AS c FROM events
        |), ob AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS s1
        |  FROM (SELECT event_type, c,
        |          ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |        FROM e)
        |  GROUP BY 1 HAVING n0 > 0 AND n1 > 0
        |), obd AS (
        |  SELECT event_type, n0, n1,
        |    ((s0 * 10000 - ((((s0 * 10000) % n0) + n0) % n0)) // n0
        |     - (s1 * 10000 - ((((s1 * 10000) % n1) + n1) % n1)) // n1)::BIGINT AS obs_diff_e4
        |  FROM ob
        |), rp AS (
        |  SELECT event_type, b,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS s1
        |  FROM (SELECT event_type, c, t.b,
        |          ('0x' || substr(md5('perm:' || t.b || ':' || user_id), 1, 15))::BIGINT % 2 AS arm
        |        FROM e, range(64) t(b))
        |  GROUP BY 1, 2 HAVING n0 > 0 AND n1 > 0
        |), rpd AS (
        |  SELECT event_type,
        |    ((s0 * 10000 - ((((s0 * 10000) % n0) + n0) % n0)) // n0
        |     - (s1 * 10000 - ((((s1 * 10000) % n1) + n1) % n1)) // n1)::BIGINT AS diff_e4
        |  FROM rp
        |), pv AS (
        |  SELECT o.event_type, o.n0, o.n1, o.obs_diff_e4,
        |    (1 + sum(CASE WHEN abs(r.diff_e4) >= abs(o.obs_diff_e4) THEN 1 ELSE 0 END))::BIGINT AS p_num,
        |    (1 + count(*))::BIGINT AS p_den
        |  FROM obd o JOIN rpd r USING (event_type)
        |  GROUP BY 1, 2, 3, 4
        |), pq AS (
        |  SELECT *, (p_num * 1000000 // p_den)::BIGINT AS p_e6 FROM pv
        |), rk AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY p_e6, event_type)::BIGINT AS rnk,
        |    (count(*) OVER ())::BIGINT AS m
        |  FROM pq
        |), st AS (
        |  SELECT *,
        |    max(CASE WHEN p_num * 20 * m <= rnk * p_den THEN rnk ELSE 0 END) OVER ()::BIGINT AS istar
        |  FROM rk
        |)
        |SELECT event_type, n0, n1, obs_diff_e4, p_num, p_den, p_e6, rnk,
        |  (CASE WHEN p_num * 20 <= p_den THEN 1 ELSE 0 END)::BIGINT AS significant_raw,
        |  (CASE WHEN rnk <= istar THEN 1 ELSE 0 END)::BIGINT AS significant_bh
        |FROM st""".stripMargin,
    "ev_welch_screen" ->
      """WITH e AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |), g AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 0 THEN c::HUGEINT * c ELSE 0 END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN c::HUGEINT * c ELSE 0 END) AS q1
        |  FROM e GROUP BY 1
        |), v AS (
        |  SELECT event_type, n0, n1,
        |    ((s0 * 10000 - ((((s0 * 10000) % n0) + n0) % n0)) // n0)::BIGINT AS mean0_e4,
        |    ((s1 * 10000 - ((((s1 * 10000) % n1) + n1) % n1)) // n1)::BIGINT AS mean1_e4,
        |    ((n0::HUGEINT * q0 - s0::HUGEINT * s0)
        |      // (n0::HUGEINT * (n0 - 1)))::BIGINT AS v0,
        |    ((n1::HUGEINT * q1 - s1::HUGEINT * s1)
        |      // (n1::HUGEINT * (n1 - 1)))::BIGINT AS v1
        |  FROM g WHERE n0 > 1 AND n1 > 1
        |), s AS (
        |  SELECT event_type, n0, n1, mean0_e4, mean1_e4,
        |    ((v0::HUGEINT * 100000000 // n0)
        |      + (v1::HUGEINT * 100000000 // n1))::BIGINT AS se2_e8
        |  FROM v
        |)
        |SELECT event_type, n0, n1, mean0_e4, mean1_e4, se2_e8,
        |  CASE WHEN se2_e8 > 0 THEN
        |    (((mean0_e4 - mean1_e4)::HUGEINT * (mean0_e4 - mean1_e4) * 10000)
        |      // se2_e8)::BIGINT END AS t2_e4,
        |  (CASE WHEN se2_e8 > 0 AND
        |    (((mean0_e4 - mean1_e4)::HUGEINT * (mean0_e4 - mean1_e4) * 10000)
        |      // se2_e8) > 38416
        |    THEN 1 ELSE 0 END)::BIGINT AS significant
        |FROM s""".stripMargin,
    // the arm split and cent grid of ev_welch_screen; the CDF gap is
    // cleared of denominators (all integers, |…| ≥ 0 → // is floor);
    // windows run over the per-(type, cent) grid only
    "ev_ks_test" ->
      """WITH e AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm,
        |    round(value * 100)::BIGINT AS v
        |  FROM events
        |), pv AS (
        |  SELECT event_type, v,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM e GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER (PARTITION BY event_type) AS na,
        |    sum(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM pv
        |), a AS (
        |  SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
        |    max(abs(cuma::HUGEINT * nb - cumb::HUGEINT * na)) AS dn
        |  FROM c GROUP BY 1
        |)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a * n_b > 0 THEN
        |    ((dn * 1000000) // (n_a::HUGEINT * n_b))::BIGINT END AS d_e6
        |FROM a""".stripMargin,
    // distinct exposed users per arm; (n_a−n_b)²·10⁴ ≥ 0 → // is floor
    "ev_srm_check" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm
        |  FROM events
        |), a AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM u GROUP BY 1
        |)
        |SELECT event_type, n_a, n_b,
        |  ((n_a - n_b) * (n_a - n_b) * 10000 // (n_a + n_b))::BIGINT AS chi2_e4,
        |  (CASE WHEN (n_a - n_b) * (n_a - n_b) * 10000 // (n_a + n_b) > 38416
        |        THEN 1 ELSE 0 END)::BIGINT AS srm_flag
        |FROM a""".stripMargin,
    // the welch arm/cent grid plus the epoch-ms calendar midpoint CTE;
    // cell means via the remainder-corrected floor (sums can be negative)
    "ev_did" ->
      """WITH e AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm,
        |    epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |), mid AS (
        |  SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid FROM e
        |), g AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 AND ts_ms <= mid THEN 1 ELSE 0 END)::BIGINT AS n0_pre,
        |    sum(CASE WHEN arm = 0 AND ts_ms > mid THEN 1 ELSE 0 END)::BIGINT AS n0_post,
        |    sum(CASE WHEN arm = 1 AND ts_ms <= mid THEN 1 ELSE 0 END)::BIGINT AS n1_pre,
        |    sum(CASE WHEN arm = 1 AND ts_ms > mid THEN 1 ELSE 0 END)::BIGINT AS n1_post,
        |    sum(CASE WHEN arm = 0 AND ts_ms <= mid THEN c ELSE 0 END)::BIGINT AS s00,
        |    sum(CASE WHEN arm = 0 AND ts_ms > mid THEN c ELSE 0 END)::BIGINT AS s01,
        |    sum(CASE WHEN arm = 1 AND ts_ms <= mid THEN c ELSE 0 END)::BIGINT AS s10,
        |    sum(CASE WHEN arm = 1 AND ts_ms > mid THEN c ELSE 0 END)::BIGINT AS s11
        |  FROM e, mid GROUP BY 1
        |), v AS (
        |  SELECT event_type, n0_pre, n0_post, n1_pre, n1_post,
        |    ((s00 * 10000 - ((((s00 * 10000) % n0_pre) + n0_pre) % n0_pre))
        |      // n0_pre)::BIGINT AS mean0_pre_e4,
        |    ((s01 * 10000 - ((((s01 * 10000) % n0_post) + n0_post) % n0_post))
        |      // n0_post)::BIGINT AS mean0_post_e4,
        |    ((s10 * 10000 - ((((s10 * 10000) % n1_pre) + n1_pre) % n1_pre))
        |      // n1_pre)::BIGINT AS mean1_pre_e4,
        |    ((s11 * 10000 - ((((s11 * 10000) % n1_post) + n1_post) % n1_post))
        |      // n1_post)::BIGINT AS mean1_post_e4
        |  FROM g
        |  WHERE n0_pre > 0 AND n0_post > 0 AND n1_pre > 0 AND n1_post > 0
        |)
        |SELECT event_type, n0_pre, n0_post, n1_pre, n1_post,
        |  mean0_pre_e4, mean0_post_e4, mean1_pre_e4, mean1_post_e4,
        |  ((mean1_post_e4 - mean1_pre_e4)
        |    - (mean0_post_e4 - mean0_pre_e4))::BIGINT AS did_e4
        |FROM v""".stripMargin,
    // Poisson(1) weights drawn from the same 60-bit md5 hash as Spark
    // against the shared BootCdf60 thresholds; replicate means are the
    // remainder-corrected floor rationals; variance of the 32 e4 means
    // in HUGEINT; the band is the nearest-rank min/max at B=32
    "ev_bootstrap_ci" ->
      """WITH e AS (
        |  SELECT event_type, event_id, round(value * 100)::BIGINT AS c
        |  FROM events
        |), pt AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    ((sum(c) * 10000
        |      - ((((sum(c) * 10000) % count(*)) + count(*)) % count(*)))
        |      // count(*))::BIGINT AS mean_e4
        |  FROM e GROUP BY 1
        |), r AS (
        |  SELECT e.event_type, e.c, t.b,
        |    ('0x' || substr(md5('boot:' || e.event_id || ':' || t.b), 1, 15))::BIGINT AS h
        |  FROM e, range(32) t(b)
        |), wt AS (
        |  SELECT event_type, b, c,
        |    ((h >= 424136118829305344)::INT + (h >= 848272237658610688)::INT
        |     + (h >= 1060340297073263360)::INT + (h >= 1131029650211480960)::INT
        |     + (h >= 1148701988496035328)::INT + (h >= 1152236456152946176)::INT
        |     + (h >= 1152825534095764608)::INT)::BIGINT AS w
        |  FROM r
        |), g AS (
        |  SELECT event_type, b, sum(w)::BIGINT AS nb, sum(w * c)::BIGINT AS sb
        |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0
        |), m AS (
        |  SELECT event_type,
        |    ((sb * 10000 - ((((sb * 10000) % nb) + nb) % nb)) // nb)::BIGINT AS m
        |  FROM g
        |)
        |SELECT pt.event_type, pt.n, pt.mean_e4,
        |  count(*)::BIGINT AS replicates,
        |  min(m)::BIGINT AS boot_lo_e4,
        |  max(m)::BIGINT AS boot_hi_e4,
        |  CASE WHEN count(*) > 1 THEN
        |    ((count(*)::HUGEINT * sum(m::HUGEINT * m) - sum(m)::HUGEINT * sum(m))
        |      // (count(*)::HUGEINT * (count(*) - 1)))::BIGINT END AS boot_var_e8
        |FROM m JOIN pt USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    // one conditional-sum pass; the sample predicate is the same md5
    // hash; remainder-corrected floors on both means; empty-sample
    // types keep their row with null estimates
    "tbl_sample_accuracy" ->
      """WITH e AS (
        |  SELECT event_type, round(value * 100)::BIGINT AS c,
        |    CASE WHEN ('0x' || substr(md5('smp:' || event_id), 1, 15))::BIGINT % 100 = 0
        |         THEN 1 ELSE 0 END AS s
        |  FROM events
        |), g AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS sc,
        |    sum(s)::BIGINT AS ns, sum(s * c)::BIGINT AS scs
        |  FROM e GROUP BY 1
        |)
        |SELECT event_type, n,
        |  ((sc * 10000 - ((((sc * 10000) % n) + n) % n)) // n)::BIGINT AS mean_e4,
        |  ns AS n_sampled,
        |  (CASE WHEN ns > 0 THEN ns * 100 END)::BIGINT AS est_n,
        |  (CASE WHEN ns > 0 THEN
        |    ((scs * 10000 - ((((scs * 10000) % ns) + ns) % ns)) // ns) END)::BIGINT
        |    AS sample_mean_e4,
        |  (CASE WHEN ns > 0 THEN (abs(ns * 100 - n) * 10000) // n END)::BIGINT AS n_err_e4,
        |  (CASE WHEN ns > 0 THEN
        |    abs(((scs * 10000 - ((((scs * 10000) % ns) + ns) % ns)) // ns)
        |        - ((sc * 10000 - ((((sc * 10000) % n) + n) % n)) // n)) END)::BIGINT
        |    AS mean_err_e4
        |FROM g""".stripMargin,
    // per-user lag/lead/min windows on the (user, week) grain; churn
    // bounded by the observed max week; n_active = new + ret + res
    "ev_lifecycle_matrix" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_ms(ts::TIMESTAMP) // 86400000) // 7 AS week
        |  FROM events
        |), st AS (
        |  SELECT user_id, week,
        |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS nxt,
        |    min(week) OVER (PARTITION BY user_id) AS firstw
        |  FROM uw
        |), mx AS (SELECT max(week) AS maxw FROM uw),
        |act AS (
        |  SELECT week,
        |    sum(CASE WHEN week = firstw THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |    sum(CASE WHEN week <> firstw AND prev = week - 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_retained,
        |    sum(CASE WHEN week <> firstw AND prev < week - 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_resurrected
        |  FROM st GROUP BY 1
        |), ch AS (
        |  SELECT week + 1 AS week, count(*)::BIGINT AS n_churned
        |  FROM st, mx
        |  WHERE (nxt IS NULL OR nxt > week + 1) AND week + 1 <= mx.maxw
        |  GROUP BY 1
        |)
        |SELECT coalesce(act.week, ch.week)::BIGINT AS week,
        |  coalesce(act.n_new, 0)::BIGINT AS n_new,
        |  coalesce(act.n_retained, 0)::BIGINT AS n_retained,
        |  coalesce(act.n_resurrected, 0)::BIGINT AS n_resurrected,
        |  (coalesce(act.n_new, 0) + coalesce(act.n_retained, 0)
        |    + coalesce(act.n_resurrected, 0))::BIGINT AS n_active,
        |  coalesce(ch.n_churned, 0)::BIGINT AS n_churned
        |FROM act FULL JOIN ch ON act.week = ch.week""".stripMargin,
    // the did midpoint split; the one volume floor remainder-corrected
    // (the count delta can be negative); rate = exact complement
    "ev_growth_decomposition" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |), mid AS (
        |  SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid FROM e
        |), g AS (
        |  SELECT event_type,
        |    sum(CASE WHEN ts_ms <= mid THEN 1 ELSE 0 END)::BIGINT AS n_ref,
        |    sum(CASE WHEN ts_ms > mid THEN 1 ELSE 0 END)::BIGINT AS n_cur,
        |    sum(CASE WHEN ts_ms <= mid THEN c ELSE 0 END)::BIGINT AS sum_ref_cents,
        |    sum(CASE WHEN ts_ms > mid THEN c ELSE 0 END)::BIGINT AS sum_cur_cents
        |  FROM e, mid GROUP BY 1
        |), v AS (
        |  SELECT *,
        |    ((n_cur - n_ref)::HUGEINT * sum_ref_cents * 10000) AS vnum
        |  FROM g WHERE n_ref > 0 AND n_cur > 0
        |)
        |SELECT event_type, n_ref, n_cur, sum_ref_cents, sum_cur_cents,
        |  (sum_cur_cents - sum_ref_cents)::BIGINT AS delta_cents,
        |  ((vnum - (((vnum % n_ref) + n_ref) % n_ref)) // n_ref)::BIGINT
        |    AS volume_effect_e4,
        |  ((sum_cur_cents - sum_ref_cents)::HUGEINT * 10000
        |    - ((vnum - (((vnum % n_ref) + n_ref) % n_ref)) // n_ref))::BIGINT
        |    AS rate_effect_e4
        |FROM v""".stripMargin,
    // daily grain -> dow rollup; SS identities in HUGEINT; the one
    // per-group division quantized e6 then summed; numerator clamped
    // at 0 so // stays positive-floor in both engines
    "ev_seasonality_strength" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2
        |), per AS (
        |  SELECT event_type, ((day % 7) + 7) % 7 AS dow,
        |    count(*)::BIGINT AS ng, sum(x)::BIGINT AS sg
        |  FROM daily GROUP BY 1, 2
        |), pm AS (
        |  SELECT event_type, dow, ng, sg,
        |    ((sg * 10000) // ng)::BIGINT AS mean_e4
        |  FROM per
        |), pk AS (
        |  SELECT event_type,
        |    max(CASE WHEN rp = 1 THEN dow END)::BIGINT AS peak_dow,
        |    max(CASE WHEN rp = 1 THEN mean_e4 END)::BIGINT AS peak_mean_e4,
        |    max(CASE WHEN rt = 1 THEN dow END)::BIGINT AS trough_dow,
        |    max(CASE WHEN rt = 1 THEN mean_e4 END)::BIGINT AS trough_mean_e4
        |  FROM (
        |    SELECT *,
        |      row_number() OVER (PARTITION BY event_type ORDER BY mean_e4 DESC, dow) AS rp,
        |      row_number() OVER (PARTITION BY event_type ORDER BY mean_e4, dow) AS rt
        |    FROM pm) GROUP BY 1
        |), mom AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days, sum(x)::BIGINT AS s,
        |    sum(x::HUGEINT * x) AS q
        |  FROM daily GROUP BY 1
        |), gt AS (
        |  SELECT event_type,
        |    sum((sg::HUGEINT * sg * 1000000) // ng) AS a
        |  FROM per GROUP BY 1
        |)
        |SELECT mom.event_type, mom.n_days,
        |  (CASE WHEN (mom.n_days::HUGEINT * mom.q - mom.s::HUGEINT * mom.s) > 0 THEN
        |    (greatest(gt.a * mom.n_days - mom.s::HUGEINT * mom.s * 1000000, 0) * 10000)
        |      // ((mom.n_days::HUGEINT * mom.q - mom.s::HUGEINT * mom.s) * 1000000)
        |  END)::BIGINT AS eta2_e4,
        |  pk.peak_dow, pk.peak_mean_e4, pk.trough_dow, pk.trough_mean_e4
        |FROM mom
        |JOIN gt USING (event_type)
        |JOIN pk USING (event_type)""".stripMargin,
    // the did midpoint cut; reference-half min/max bins with edge
    // clamping; Laplace-smoothed shares; per-bin (p-q)·ln(p/q) rounded
    // to e4 then summed — the charEntropy quantize-then-sum discipline
    "ev_psi" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |), mid AS (
        |  SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid FROM e
        |), b AS (
        |  SELECT event_type,
        |    CASE WHEN ts_ms > mid THEN 1 ELSE 0 END AS cur, c
        |  FROM e, mid
        |), rng AS (
        |  SELECT event_type, min(c) AS lo, max(c) AS hi
        |  FROM b WHERE cur = 0 GROUP BY 1
        |), binned AS (
        |  SELECT b.event_type, b.cur,
        |    least(greatest(
        |      (((b.c - rng.lo) * 10
        |        - (((((b.c - rng.lo) * 10) % (rng.hi - rng.lo + 1))
        |            + (rng.hi - rng.lo + 1)) % (rng.hi - rng.lo + 1)))
        |        // (rng.hi - rng.lo + 1)), 0), 9)::BIGINT AS bin
        |  FROM b JOIN rng USING (event_type)
        |), cnt AS (
        |  SELECT event_type, bin,
        |    sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
        |    sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END)::BIGINT AS nc
        |  FROM binned GROUP BY 1, 2
        |), grid AS (
        |  SELECT rng.event_type, t.bin FROM rng, range(10) t(bin)
        |), filled AS (
        |  SELECT grid.event_type, grid.bin,
        |    coalesce(cnt.nr, 0) AS nr, coalesce(cnt.nc, 0) AS nc
        |  FROM grid LEFT JOIN cnt
        |    ON grid.event_type = cnt.event_type AND grid.bin = cnt.bin
        |), tot AS (
        |  SELECT event_type, sum(nr)::BIGINT AS n_ref, sum(nc)::BIGINT AS n_cur
        |  FROM filled GROUP BY 1
        |)
        |SELECT f.event_type, t.n_ref, t.n_cur,
        |  sum(round(((f.nr + 1.0) / (t.n_ref + 10.0)
        |             - (f.nc + 1.0) / (t.n_cur + 10.0))
        |    * ln(((f.nr + 1.0) / (t.n_ref + 10.0))
        |         / ((f.nc + 1.0) / (t.n_cur + 10.0))) * 10000))::BIGINT AS psi_e4,
        |  (CASE WHEN sum(round(((f.nr + 1.0) / (t.n_ref + 10.0)
        |             - (f.nc + 1.0) / (t.n_cur + 10.0))
        |    * ln(((f.nr + 1.0) / (t.n_ref + 10.0))
        |         / ((f.nc + 1.0) / (t.n_cur + 10.0))) * 10000)) > 2000
        |    THEN 1 ELSE 0 END)::BIGINT AS drift_flag
        |FROM filled f JOIN tot t USING (event_type)
        |WHERE t.n_ref > 0 AND t.n_cur > 0
        |GROUP BY 1, 2, 3""".stripMargin,
    // the welch moment CTE; pooled variance and mde² in HUGEINT; the one
    // double is √ of the already-agreed integer; n-per-arm uses the
    // strictly-above floor (+1), never a raw-double ceil
    "ev_power_mde" ->
      """WITH e AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 AS arm,
        |    round(value * 100)::BIGINT AS c
        |  FROM events
        |), g AS (
        |  SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS s0,
        |    sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN arm = 0 THEN c::HUGEINT * c ELSE 0 END) AS q0,
        |    sum(CASE WHEN arm = 1 THEN c::HUGEINT * c ELSE 0 END) AS q1
        |  FROM e GROUP BY 1
        |), v AS (
        |  SELECT event_type, n0, n1, s0, s1,
        |    ((n0::HUGEINT * q0 - s0::HUGEINT * s0)
        |      // (n0::HUGEINT * (n0 - 1)))::BIGINT AS v0,
        |    ((n1::HUGEINT * q1 - s1::HUGEINT * s1)
        |      // (n1::HUGEINT * (n1 - 1)))::BIGINT AS v1
        |  FROM g WHERE n0 > 1 AND n1 > 1
        |), p AS (
        |  SELECT event_type, n0, n1,
        |    (((n0 - 1)::HUGEINT * v0 + (n1 - 1)::HUGEINT * v1)
        |      // (n0 + n1 - 2)::HUGEINT)::BIGINT AS var_pooled,
        |    ((s0 + s1) - (((s0 + s1) % (n0 + n1)) + (n0 + n1)) % (n0 + n1))
        |      // (n0 + n1) AS mean_c
        |  FROM v
        |), m AS (
        |  SELECT event_type, n0, n1, var_pooled, mean_c,
        |    ((78490::HUGEINT * var_pooled * (n0 + n1))
        |      // (n0::HUGEINT * n1))::BIGINT AS mde2
        |  FROM p
        |)
        |SELECT event_type, n0, n1, var_pooled,
        |  mde2 AS mde2_cents2_e4,
        |  round(sqrt(mde2::DOUBLE / 10000), 4) AS mde_cents,
        |  CASE WHEN mean_c <> 0 THEN
        |    ((2::HUGEINT * var_pooled * 78490 * 400)
        |      // (mean_c::HUGEINT * mean_c * 10000) + 1)::BIGINT
        |  END AS n_per_arm_5pct
        |FROM m""".stripMargin,
    // right-censored life table: censor day = max order day − 365;
    // churned ⇔ no order after it; censored spans run first→censor; the
    // at-risk column is a suffix sum over the |span-length| histogram
    "ord_hazard" ->
      """WITH e AS (
        |  SELECT o_custkey AS user_id,
        |    epoch_ms(o_orderdate::TIMESTAMP) // 86400000 AS day
        |  FROM orders
        |), cz AS (SELECT max(day) - 365 AS censor FROM e
        |), u AS (
        |  SELECT user_id,
        |    min(CASE WHEN day <= censor THEN day END) AS fd,
        |    max(CASE WHEN day <= censor THEN day END) AS ld,
        |    max(CASE WHEN day > censor THEN 1 ELSE 0 END) AS after,
        |    max(censor) AS censor
        |  FROM e, cz GROUP BY 1
        |), sp AS (
        |  SELECT CASE WHEN after = 1 THEN censor - fd ELSE ld - fd END AS day_offset,
        |    (1 - after)::BIGINT AS churn
        |  FROM u WHERE fd IS NOT NULL
        |), h AS (
        |  SELECT day_offset, count(*)::BIGINT AS n_obs, sum(churn)::BIGINT AS n_churned
        |  FROM sp GROUP BY 1
        |)
        |SELECT day_offset,
        |  sum(n_obs) OVER (ORDER BY day_offset DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_risk,
        |  n_churned,
        |  ((n_churned * 10000) // sum(n_obs) OVER (ORDER BY day_offset DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS hazard_e4
        |FROM h""".stripMargin,
    // all quantities non-negative: // is exact floor on both sides
    "ev_hhi" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*)::BIGINT AS c FROM events GROUP BY 1, 2
        |), a AS (
        |  SELECT event_type, count(*)::BIGINT AS n_users, sum(c)::BIGINT AS n_events,
        |    sum(c * c)::BIGINT AS s2
        |  FROM c GROUP BY 1
        |)
        |SELECT event_type, n_users, n_events,
        |  (s2 * 1000000 // (n_events * n_events))::BIGINT AS hhi_ppm,
        |  (n_events * n_events // s2)::BIGINT AS effective_users
        |FROM a""".stripMargin,
    // ascending-rank covariance form; numerator ≥ 0 so // == floor
    "cust_gini" ->
      """WITH s AS (
        |  SELECT o_custkey, (sum(round(o_totalprice * 100)::BIGINT) // 100)::BIGINT AS x
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT x, (row_number() OVER (ORDER BY x, o_custkey))::BIGINT AS i FROM s
        |), a AS (
        |  SELECT count(*)::BIGINT AS n_customers, sum(x)::BIGINT AS total_spend,
        |    sum(i * x)::BIGINT AS ix
        |  FROM r
        |)
        |SELECT n_customers, total_spend,
        |  ((2 * ix - (n_customers + 1) * total_spend) * 10000
        |   // (n_customers * total_spend))::BIGINT AS gini_e4
        |FROM a""".stripMargin,
    // doubled midranks (rank() + tie count), Σd² form; numerator ≥ 0
    "ev_hour_spearman" ->
      """WITH h AS (
        |  SELECT (((epoch_ms(ts::TIMESTAMP) % 86400000) + 86400000) % 86400000) // 3600000 AS hour,
        |    count(*)::BIGINT AS n_events,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT hour, n_events, n_purchases,
        |    (2 * rank() OVER (ORDER BY n_events)
        |     + count(*) OVER (PARTITION BY n_events) - 1)::BIGINT AS rx2,
        |    (2 * rank() OVER (ORDER BY n_purchases)
        |     + count(*) OVER (PARTITION BY n_purchases) - 1)::BIGINT AS ry2
        |  FROM h
        |), a AS (
        |  SELECT count(*)::BIGINT AS n_hours,
        |    sum((rx2 - ry2) * (rx2 - ry2))::BIGINT AS d2
        |  FROM r
        |)
        |SELECT n_hours, d2,
        |  (10000 - (6 * d2 * 10000 // (4 * n_hours * (n_hours * n_hours - 1))))::BIGINT AS rho_e4
        |FROM a""".stripMargin,
    // next-fit by running sum: bin = floor(rows_before / target)
    "tbl_compaction_plan" ->
      """WITH f AS (
        |  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 64 AS bucket
        |  FROM events
        |), c AS (
        |  SELECT bucket, count(*)::BIGINT AS n_rows FROM f GROUP BY 1
        |), w AS (
        |  SELECT bucket, n_rows,
        |    coalesce((sum(n_rows) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))::BIGINT, 0) AS before
        |  FROM c
        |)
        |SELECT (before // 2000)::BIGINT AS bin, count(*)::BIGINT AS n_files,
        |  sum(n_rows)::BIGINT AS total_rows,
        |  min(bucket)::BIGINT AS first_bucket, max(bucket)::BIGINT AS last_bucket
        |FROM w GROUP BY 1""".stripMargin,
    // rendezvous placement = lexicographic max of (score, node) structs —
    // list_max mirrors Spark's array_max struct ordering; scores are the
    // shared md5-based h60
    "tbl_rebalance_plan" ->
      """WITH f AS (
        |  SELECT ('0x' || substr(md5('shard:' || user_id), 1, 15))::BIGINT % 1024 AS bkt
        |  FROM events
        |), c AS (
        |  SELECT bkt, count(*)::BIGINT AS n_rows FROM f GROUP BY 1
        |), placed AS (
        |  SELECT n_rows,
        |    (bkt % 5 <> bkt % 6) AS mod_moved,
        |    (list_max([{'s': ('0x' || substr(md5(bkt::VARCHAR || ':n' || i), 1, 15))::BIGINT,
        |                'node': i} for i in [0, 1, 2, 3, 4]])['node']
        |     <> list_max([{'s': ('0x' || substr(md5(bkt::VARCHAR || ':n' || i), 1, 15))::BIGINT,
        |                   'node': i} for i in [0, 1, 2, 3, 4, 5]])['node']) AS hrw_moved
        |  FROM c
        |), x AS (
        |  SELECT 'mod' AS strategy, mod_moved AS moved, n_rows FROM placed
        |  UNION ALL
        |  SELECT 'rendezvous', hrw_moved, n_rows FROM placed
        |)
        |SELECT strategy,
        |  sum(CASE WHEN moved THEN 1 ELSE 0 END)::BIGINT AS n_buckets_moved,
        |  sum(CASE WHEN moved THEN n_rows ELSE 0 END)::BIGINT AS n_rows_moved,
        |  ((sum(CASE WHEN moved THEN n_rows ELSE 0 END) * 10000)
        |    // sum(n_rows))::BIGINT AS moved_share_e4
        |FROM x GROUP BY 1""".stripMargin,
    // month partitions aged against the 1-row max-date broadcast, the
    // declared 12/36-month retain/archive ladder, running reclaim ledger
    "tbl_vacuum_plan" ->
      """WITH pm AS (
        |  SELECT (year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) - 1)::BIGINT AS month_id,
        |    count(*)::BIGINT AS n_rows,
        |    count(DISTINCT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 4)::BIGINT AS n_files
        |  FROM orders GROUP BY 1
        |), mx AS (
        |  SELECT max(month_id) AS maxm FROM pm
        |), aged AS (
        |  SELECT month_id, n_rows, n_files, (maxm - month_id)::BIGINT AS age_months,
        |    CASE WHEN maxm - month_id <= 12 THEN 'retain'
        |         WHEN maxm - month_id <= 36 THEN 'archive'
        |         ELSE 'expire' END AS action
        |  FROM pm CROSS JOIN mx
        |)
        |SELECT month_id, n_rows, n_files, age_months, action,
        |  sum(CASE WHEN action = 'expire' THEN n_rows ELSE 0 END)
        |    OVER (ORDER BY month_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_expired_rows
        |FROM aged""".stripMargin,
    // 16-bit grid normalization against the 1-row bounds, bit-interleave
    // via a list comprehension, per-(layout, file) spans, 2-row rollup
    "tbl_zorder_plan" ->
      """WITH b AS (
        |  SELECT o_custkey AS x,
        |    date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT AS y
        |  FROM orders
        |), bounds AS (
        |  SELECT min(x) AS xlo, greatest(max(x) - min(x), 1) AS xw,
        |         min(y) AS ylo, greatest(max(y) - min(y), 1) AS yw
        |  FROM b
        |), g AS (
        |  SELECT x, y,
        |    ((x - xlo) * 65535) // xw AS xn,
        |    ((y - ylo) * 65535) // yw AS yn
        |  FROM b CROSS JOIN bounds
        |), m AS (
        |  SELECT x, y, yn,
        |    list_sum([((xn >> i) & 1) * (1::BIGINT << (2 * i))
        |              + ((yn >> i) & 1) * (1::BIGINT << (2 * i + 1))
        |              for i in generate_series(0, 15)])::BIGINT AS morton
        |  FROM g
        |), a AS (
        |  SELECT x, y, 'zorder' AS layout, morton >> 26 AS file FROM m
        |  UNION ALL
        |  SELECT x, y, 'bydate', yn >> 10 FROM m
        |), pf AS (
        |  SELECT layout, file, count(*) AS nr,
        |    max(x) - min(x) AS xspan, max(y) - min(y) AS yspan
        |  FROM a GROUP BY 1, 2
        |)
        |SELECT layout, count(*)::BIGINT AS n_files, sum(nr)::BIGINT AS n_rows,
        |  sum(xspan)::BIGINT AS sum_custkey_span, sum(yspan)::BIGINT AS sum_day_span
        |FROM pf GROUP BY 1
        |ORDER BY layout""".stripMargin,
    // the cs_funnel stage chain, joined pairwise for entry-time gaps
    "ev_funnel_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), s1 AS (
        |  SELECT user_id, min(ts_ms) AS t FROM e WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(ts_ms) AS t, min(s1.t) AS t0 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_ms > s1.t AND ts_ms <= s1.t + 86400000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(ts_ms) AS t FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_ms > s2.t AND ts_ms <= s2.t0 + 86400000 GROUP BY 1
        |), g2 AS (SELECT s2.t - s1.t AS gap FROM s2 JOIN s1 USING (user_id)
        |), g3 AS (SELECT s3.t - s2.t AS gap FROM s3 JOIN s2 USING (user_id)
        |)
        |SELECT 2::BIGINT AS stage_idx, 'click' AS stage, count(*)::BIGINT AS n_users,
        |  min(gap) AS min_gap_ms, round(quantile_cont(gap, 0.5), 4) AS p50_gap_ms,
        |  round(quantile_cont(gap, 0.95), 4) AS p95_gap_ms, max(gap) AS max_gap_ms
        |FROM g2
        |UNION ALL
        |SELECT 3::BIGINT, 'purchase', count(*)::BIGINT, min(gap),
        |  round(quantile_cont(gap, 0.5), 4), round(quantile_cont(gap, 0.95), 4), max(gap)
        |FROM g3""".stripMargin,
    "cs_return_time" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), s AS (
        |  SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |           OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM e
        |), si AS (
        |  SELECT user_id, ts_ms,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts_ms) AS sid
        |  FROM s
        |), sess AS (
        |  SELECT user_id, sid, min(ts_ms) AS s_start, max(ts_ms) AS s_last
        |  FROM si GROUP BY 1, 2
        |), g AS (
        |  SELECT lead(s_start) OVER (PARTITION BY user_id ORDER BY s_start) - s_last AS ret
        |  FROM sess
        |)
        |SELECT count(*)::BIGINT AS n_gaps, min(ret) AS min_ms,
        |  round(quantile_cont(ret, 0.25), 4) AS p25_ms,
        |  round(quantile_cont(ret, 0.5), 4) AS p50_ms,
        |  round(quantile_cont(ret, 0.75), 4) AS p75_ms,
        |  round(quantile_cont(ret, 0.95), 4) AS p95_ms,
        |  max(ret) AS max_ms
        |FROM g WHERE ret IS NOT NULL""".stripMargin,
    // RANGE-frame running nets (tie-order-free on both engines); carry-in
    // via the per-day net table so no global ordered window over the data
    "ev_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), s AS (
        |  SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |           OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM e
        |), si AS (
        |  SELECT user_id, ts_ms,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts_ms) AS sid
        |  FROM s
        |), sess AS (
        |  SELECT user_id, sid, min(ts_ms) AS s_start, max(ts_ms) + 1 AS s_end
        |  FROM si GROUP BY 1, 2
        |), d AS (
        |  SELECT s_start AS ts, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT s_end AS ts, -1 AS delta FROM sess
        |), r AS (
        |  SELECT ts // 86400000 AS day, ts, delta,
        |    sum(delta) OVER (PARTITION BY ts // 86400000 ORDER BY ts) AS run
        |  FROM d
        |), daily AS (
        |  SELECT day,
        |    sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END)::BIGINT AS sessions_started,
        |    max(run) AS peak_intra,
        |    sum(delta) AS net
        |  FROM r GROUP BY 1
        |)
        |SELECT day, sessions_started,
        |  (coalesce(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   + greatest(peak_intra, 0))::BIGINT AS peak_concurrent
        |FROM daily""".stripMargin,
    "ev_interarrival" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
        |), g AS (
        |  SELECT event_type,
        |         ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS gap_ms
        |  FROM e
        |)
        |SELECT event_type, count(*) AS n_gaps, min(gap_ms) AS min_gap_ms,
        |  round(quantile_cont(gap_ms, 0.5), 4) AS p50_gap_ms,
        |  round(quantile_cont(gap_ms, 0.95), 4) AS p95_gap_ms,
        |  max(gap_ms) AS max_gap_ms
        |FROM g WHERE gap_ms IS NOT NULL GROUP BY 1""".stripMargin,
    // the z-test multiplied through by n²: pure integer comparison, no
    // sqrt, no doubles — bit-identical regardless of engine or order
    "ev_burst_hours" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |), b AS (
        |  SELECT event_type, ts_ms - (((ts_ms % 3600000) + 3600000) % 3600000) AS hour_start_ms, count(*) AS n_events
        |  FROM e GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, count(*) AS n, sum(n_events)::BIGINT AS s,
        |         sum(n_events * n_events)::BIGINT AS q
        |  FROM b GROUP BY 1
        |)
        |SELECT b.event_type, hour_start_ms, n_events
        |FROM b JOIN m USING (event_type)
        |WHERE n * n_events - s > 0
        |  AND (n * n_events - s) * (n * n_events - s) > 9 * (n * q - s * s)""".stripMargin,
    // per-(user, type) terms are e4-quantized BEFORE the sum, so the
    // entropy is independent of aggregation order (the unigram-surprisal
    // discipline); −p·ln(p) ≥ 0, so round() agrees across engines
    "cs_user_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS total FROM c
        |), q AS (
        |  SELECT user_id, total,
        |    round((0 - (c::DOUBLE / total::DOUBLE) * ln(c::DOUBLE / total::DOUBLE)) * 10000)::BIGINT AS term_e4
        |  FROM t
        |)
        |SELECT user_id, max(total)::BIGINT AS n_events, count(*) AS n_types,
        |       sum(term_e4)::BIGINT AS entropy_e4
        |FROM q GROUP BY 1""".stripMargin,
    // the retention oracle pivoted by conditional max; shares floor on
    // non-negative counts
    "cs_retention_summary" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |), r AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS off,
        |         count(DISTINCT e.user_id) AS n
        |  FROM e JOIN c USING (user_id) GROUP BY 1, 2
        |)
        |SELECT cohort_day,
        |  max(CASE WHEN off = 0 THEN n END)::BIGINT AS cohort_size,
        |  (coalesce(max(CASE WHEN off = 1 THEN n END), 0) * 10000)
        |    // max(CASE WHEN off = 0 THEN n END) AS d1_e4,
        |  (coalesce(max(CASE WHEN off = 7 THEN n END), 0) * 10000)
        |    // max(CASE WHEN off = 0 THEN n END) AS d7_e4,
        |  (coalesce(max(CASE WHEN off = 14 THEN n END), 0) * 10000)
        |    // max(CASE WHEN off = 0 THEN n END) AS d14_e4
        |FROM r GROUP BY 1""".stripMargin,
    // replays the bitmap-word packing: 63 bits per word so the BIGINT
    // shift never reaches the sign bit (DuckDB errors on 1::BIGINT << 63);
    // all quantities non-negative, so // is exact floor
    "ev_bitmap_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    user_id // 63 AS word, (user_id % 63)::INT AS bit
        |  FROM events
        |), b AS (
        |  SELECT day, word, bit_or(1::BIGINT << bit) AS bm FROM e GROUP BY 1, 2
        |), t AS (
        |  SELECT day, sum(bit_count(bm))::BIGINT AS dau FROM b GROUP BY 1
        |), r AS (
        |  SELECT c.day AS day, sum(bit_count(c.bm & p.bm))::BIGINT AS retained
        |  FROM b c JOIN b p ON p.word = c.word AND p.day = c.day - 1
        |  GROUP BY 1
        |)
        |SELECT c.day, c.dau, p.dau AS prev_dau,
        |  coalesce(r.retained, 0)::BIGINT AS retained,
        |  (coalesce(r.retained, 0) * 10000) // p.dau AS retention_e4
        |FROM t c
        |JOIN t p ON p.day = c.day - 1
        |LEFT JOIN r ON r.day = c.day""".stripMargin,
    // the bitmap CTEs + a bounded ×7 fan-out of each word-day onto the
    // target days it covers (NOT a per-word RANGE window — that misses
    // words absent on the target day); OR per (day, word), then popcount
    "ev_rolling_distinct" ->
      """WITH e AS (
        |  SELECT DISTINCT epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    user_id // 63 AS word, (user_id % 63)::INT AS bit
        |  FROM events
        |), b AS (
        |  SELECT day, word, bit_or(1::BIGINT << bit) AS bm FROM e GROUP BY 1, 2
        |), t AS (
        |  SELECT day, sum(bit_count(bm))::BIGINT AS dau FROM b GROUP BY 1
        |), days AS (
        |  SELECT DISTINCT day FROM b
        |), wk AS (
        |  SELECT b.day + g.i AS day, b.word, b.bm
        |  FROM b CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) g
        |), wo AS (
        |  SELECT wk.day, wk.word, bit_or(wk.bm) AS wbm
        |  FROM wk JOIN days ON days.day = wk.day
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT day, sum(bit_count(wbm))::BIGINT AS rolling_users FROM wo GROUP BY 1
        |)
        |SELECT day, dau, rolling_users,
        |  (dau * 10000 // rolling_users)::BIGINT AS dau_wau_e4
        |FROM t JOIN r USING (day)""".stripMargin,
    "ev_wow_growth" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 604800000 AS week FROM events
        |), w AS (
        |  SELECT event_type, week, count(*) AS n_events FROM e GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, week, n_events,
        |    lag(n_events) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |  FROM w
        |)
        |SELECT event_type, week, n_events, prev_n,
        |  CASE WHEN prev_n > 0 THEN
        |    ((n_events - prev_n) * 10000
        |     - ((((n_events - prev_n) * 10000) % prev_n) + prev_n) % prev_n) // prev_n
        |  END AS growth_e4
        |FROM l""".stripMargin,
    // basket-pair edges + ordered triangle chain; wedges from degrees
    "li_graph_stats" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
        |  GROUP BY 1
        |), w AS (
        |  SELECT count(*)::BIGINT AS n_nodes,
        |         (sum(d * (d - 1)) // 2)::BIGINT AS n_wedges
        |  FROM deg
        |), tr AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)
        |), ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0 THEN (n_triangles * 30000) // n_wedges
        |       ELSE 0 END::BIGINT AS closure_e4
        |FROM w CROSS JOIN ne CROSS JOIN tr""".stripMargin,
    // same edge CTE; bucket = bit length − 1 (integer, no float log2)
    "li_degree_hist" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
        |  GROUP BY 1
        |)
        |SELECT (length(bin(d)) - 1)::BIGINT AS log2_degree,
        |  count(*)::BIGINT AS n_nodes, min(d)::BIGINT AS min_degree,
        |  max(d)::BIGINT AS max_degree, sum(d)::BIGINT AS degree_mass
        |FROM deg GROUP BY 1""".stripMargin,
    // same capped basket-pair edge CTE as li_graph_stats; both
    // orientations enter the moments (Σx = Σy), HUGEINT internals, one
    // rounded-double division (Newman's r)
    "li_assortativity" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*)::BIGINT AS d FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
        |  GROUP BY 1
        |), o AS (
        |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
        |), m AS (
        |  SELECT count(*)::BIGINT AS m,
        |    sum(dx.d::HUGEINT) AS sx,
        |    sum(dx.d::HUGEINT * dx.d) AS sxx,
        |    sum(dx.d::HUGEINT * dy.d) AS sxy
        |  FROM o JOIN deg dx ON dx.node = o.src JOIN deg dy ON dy.node = o.dst
        |), nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
        |SELECT n_nodes, (m // 2)::BIGINT AS n_edges,
        |  CASE WHEN m::HUGEINT * sxx - sx * sx <> 0 THEN
        |    round((m::HUGEINT * sxy - sx * sx)::DOUBLE
        |          / (m::HUGEINT * sxx - sx * sx)::DOUBLE, 6) END AS r
        |FROM m CROSS JOIN nn""".stripMargin,
    // weekday = epoch-day mod 7 — pure integer, no calendar functions
    // same per-user running-high-watermark window over the planted
    // arrival order (every 13th event 40 slots late); totals cast down
    // from HUGEINT
    "ev_lateness_profile" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms,
        |    event_id + CASE WHEN event_id % 13 = 0 THEN 40 ELSE 0 END AS arrival_seq
        |  FROM events
        |), l AS (
        |  SELECT greatest(coalesce(
        |    max(ts_ms) OVER (PARTITION BY user_id ORDER BY arrival_seq, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts_ms,
        |    0), 0) AS lateness_ms
        |  FROM e
        |), b AS (
        |  SELECT CASE WHEN lateness_ms = 0 THEN '0_in_order'
        |              WHEN lateness_ms <= 60000 THEN '1_le_1m'
        |              WHEN lateness_ms <= 3600000 THEN '2_le_1h'
        |              WHEN lateness_ms <= 21600000 THEN '3_le_6h'
        |              ELSE '4_gt_6h' END AS lateness_band,
        |    lateness_ms
        |  FROM l
        |), a AS (
        |  SELECT lateness_band, count(*) AS n_events,
        |    max(lateness_ms)::BIGINT AS max_lateness_ms
        |  FROM b GROUP BY 1
        |)
        |SELECT lateness_band, n_events, max_lateness_ms,
        |  ((n_events * 10000) // (SELECT sum(n_events)::BIGINT FROM a))::BIGINT AS share_e4
        |FROM a""".stripMargin,
    // weekday floor-mean baseline + remainder-corrected floor residual
    // (the residual can be negative; DuckDB // truncates, so the pmod
    // pre-subtraction makes it a true floor like Cols.floorDiv)
    "ev_seasonal_residuals" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1
        |), dw AS (
        |  SELECT day, n_events, ((day % 7) + 7) % 7 AS weekday FROM d
        |), b AS (
        |  SELECT weekday, (sum(n_events) // count(*))::BIGINT AS expected
        |  FROM dw GROUP BY 1
        |), r AS (
        |  SELECT day, dw.weekday, n_events, expected,
        |    (((n_events - expected) * 10000
        |       - ((((n_events - expected) * 10000 % greatest(expected, 1)) + greatest(expected, 1))
        |          % greatest(expected, 1)))
        |     // greatest(expected, 1))::BIGINT AS resid_e4
        |  FROM dw JOIN b USING (weekday)
        |)
        |SELECT day, weekday, n_events, expected, resid_e4,
        |  (CASE WHEN abs(resid_e4) >= 2000 THEN 1 ELSE 0 END)::BIGINT AS flagged
        |FROM r""".stripMargin,
    // centered 7-day MA trend (full windows only), weekday floor-mean of
    // the detrended series re-centered by the 7-row floor mean; all floor
    // divisions use the pmod pre-subtraction so negative detrended sums
    // floor like Cols.floorDiv (DuckDB // truncates toward zero)
    "ev_decompose_weekly" ->
      """WITH act AS (
        |  SELECT epoch_ms(ts::TIMESTAMP) // 86400000 AS day, count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1
        |), bounds AS (
        |  SELECT min(day) AS d0, max(day) AS d1 FROM act
        |), grid AS (
        |  SELECT unnest(generate_series(d0, d1)) AS day FROM bounds
        |), d AS (
        |  SELECT grid.day, coalesce(act.n_events, 0)::BIGINT AS n_events
        |  FROM grid LEFT JOIN act USING (day)
        |), t AS (
        |  SELECT day, ((day % 7) + 7) % 7 AS weekday, n_events,
        |    (CASE WHEN count(*) OVER w = 7
        |          THEN (sum(n_events) OVER w)::BIGINT * 10000 // 7 END)::BIGINT AS trend_e4
        |  FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), dt AS (
        |  SELECT day, weekday, n_events, trend_e4,
        |    n_events * 10000 - trend_e4 AS det_e4
        |  FROM t
        |), sr AS (
        |  SELECT weekday, sum(det_e4)::BIGINT AS s, count(*)::BIGINT AS n
        |  FROM dt WHERE det_e4 IS NOT NULL GROUP BY 1
        |), sa AS (
        |  SELECT weekday, ((s - (((s % n) + n) % n)) // n)::BIGINT AS raw_e4 FROM sr
        |), sm AS (
        |  SELECT sum(raw_e4)::BIGINT AS ws, count(*)::BIGINT AS wn FROM sa
        |), se AS (
        |  SELECT weekday,
        |    (raw_e4 - (ws - (((ws % wn) + wn) % wn)) // wn)::BIGINT AS seasonal_e4
        |  FROM sa CROSS JOIN sm
        |)
        |SELECT dt.day, dt.weekday, dt.n_events, dt.trend_e4, se.seasonal_e4,
        |  (dt.det_e4 - se.seasonal_e4)::BIGINT AS resid_e4
        |FROM dt LEFT JOIN se USING (weekday)""".stripMargin,
    "ev_weekday_index" ->
      """WITH e AS (
        |  SELECT event_type, (((epoch_ms(ts::TIMESTAMP) // 86400000) % 7) + 7) % 7 AS weekday FROM events
        |), c AS (
        |  SELECT event_type, weekday, count(*) AS n_events FROM e GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(n_events)::BIGINT AS total FROM c GROUP BY 1
        |)
        |SELECT c.event_type, weekday, n_events,
        |  (n_events * 70000) // total AS index_e4
        |FROM c JOIN t USING (event_type)""".stripMargin,
    // the oracle IS the full-scan aggregate — passing means the
    // snapshot+delta merge reassociates exactly
    "ev_incr_agg" ->
      """SELECT event_type, count(*) AS n_events,
        |  sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    // equi-depth cuts (ev_value_deciles machinery) feeding the full-grid
    // chi² cell terms (ev_chi2_hour machinery)
    "ev_chi2_value_type" -> {
      val cutList = (1 to 9).map(i => s"0.${i}").mkString(", ")
      val bucket = (1 to 9).map(i => s"(value > c[$i])::BIGINT").mkString(" + ")
      s"""WITH cuts AS (
         |  SELECT [round(x, 4) for x in quantile_cont(value, [$cutList])] AS c FROM events
         |), e AS (
         |  SELECT event_type, 1 + $bucket AS decile FROM events CROSS JOIN cuts
         |), cells AS (
         |  SELECT event_type, decile, count(*) AS o FROM e GROUP BY 1, 2
         |), rt AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY 1
         |), ct AS (SELECT decile, sum(o)::BIGINT AS c FROM cells GROUP BY 1
         |), nt AS (SELECT sum(o)::BIGINT AS n FROM cells
         |), grid AS (
         |  SELECT rt.event_type, ct.decile, rt.r, ct.c, coalesce(cells.o, 0)::BIGINT AS o
         |  FROM rt CROSS JOIN ct
         |  LEFT JOIN cells ON cells.event_type = rt.event_type AND cells.decile = ct.decile
         |), t AS (
         |  SELECT grid.event_type, grid.decile, nt.n,
         |    round((grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE)
         |        * (grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE) * 10000.0
         |        / (grid.r::DOUBLE * grid.c::DOUBLE * nt.n::DOUBLE))::BIGINT AS term_e4
         |  FROM grid CROSS JOIN nt
         |)
         |SELECT sum(term_e4)::BIGINT AS chi2_e4,
         |  ((count(DISTINCT event_type) - 1) * (count(DISTINCT decile) - 1))::BIGINT AS dof,
         |  min(n)::BIGINT AS n_rows
         |FROM t""".stripMargin
    },
    // latest row per key via the descending (ts, event_id) row_number —
    // same unique order the Spark struct-max compares
    "ev_cdc_compact" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ms(ts::TIMESTAMP) AS ts_ms
        |  FROM events
        |), r AS (
        |  SELECT user_id, ts_ms, event_type, value,
        |    count(*) OVER (PARTITION BY user_id) AS n_changes,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, n_changes::BIGINT AS n_changes, ts_ms AS last_ts_ms,
        |       event_type AS last_event_type, value AS last_value
        |FROM r WHERE rn = 1""".stripMargin,
    // the gapfill grid + integer deviations (n·c − S) + lead windows;
    // remainder-corrected floor since numerators go negative
    "ev_autocorr" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), d AS (
        |  SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e
        |), g AS (
        |  SELECT t.event_type, unnest(generate_series(b.d0, b.d1)) AS day
        |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN b
        |), dn AS (
        |  SELECT g.event_type, g.day, coalesce(d.c, 0)::BIGINT AS c
        |  FROM g LEFT JOIN d ON g.event_type = d.event_type AND g.day = d.day
        |), st AS (
        |  SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s FROM dn GROUP BY 1
        |), dv AS (
        |  SELECT dn.event_type, day, st.n, st.n * c - st.s AS dev
        |  FROM dn JOIN st USING (event_type)
        |), ld AS (
        |  SELECT event_type, n, dev,
        |    lead(dev, 1) OVER w AS dev1, lead(dev, 2) OVER w AS dev2,
        |    lead(dev, 3) OVER w AS dev3
        |  FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |), ag AS (
        |  SELECT event_type, min(n) AS n_days,
        |    sum(dev::HUGEINT * dev) AS den,
        |    sum(dev::HUGEINT * dev1) AS num1,
        |    sum(dev::HUGEINT * dev2) AS num2,
        |    sum(dev::HUGEINT * dev3) AS num3
        |  FROM ld GROUP BY 1
        |)
        |SELECT event_type, 1::BIGINT AS lag, n_days,
        |  CASE WHEN den <> 0 THEN
        |    ((num1 * 10000 - ((num1 * 10000 % den) + den) % den) // den)::BIGINT END AS r_e4
        |FROM ag
        |UNION ALL
        |SELECT event_type, 2::BIGINT, n_days,
        |  CASE WHEN den <> 0 THEN
        |    ((num2 * 10000 - ((num2 * 10000 % den) + den) % den) // den)::BIGINT END
        |FROM ag
        |UNION ALL
        |SELECT event_type, 3::BIGINT, n_days,
        |  CASE WHEN den <> 0 THEN
        |    ((num3 * 10000 - ((num3 * 10000 % den) + den) % den) // den)::BIGINT END
        |FROM ag""".stripMargin,
    // the ev_scd2 oracle's interval CTEs + the max-ts cap + dwell sums
    "ev_status_time_share" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id
        |  FROM events WHERE event_type IN ('signup', 'error')
        |), f AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), r AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS run
        |  FROM f
        |), iv AS (
        |  SELECT user_id, run, min(ts_ms) AS valid_from_ms, min(event_type) AS event_type
        |  FROM r GROUP BY 1, 2
        |), iv2 AS (
        |  SELECT user_id, event_type, valid_from_ms,
        |    lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_ms
        |  FROM iv
        |), b AS (SELECT max(ts_ms) AS cap FROM e
        |), d AS (
        |  SELECT event_type, coalesce(valid_to_ms, cap) - valid_from_ms AS dur
        |  FROM iv2 CROSS JOIN b
        |), t AS (SELECT sum(dur)::BIGINT AS total FROM d)
        |SELECT event_type, count(*) AS n_intervals, sum(dur)::BIGINT AS total_ms,
        |  ((sum(dur)::HUGEINT * 10000) // total)::BIGINT AS share_e4
        |FROM d CROSS JOIN t
        |GROUP BY event_type, total""".stripMargin,
    // the transition-edge CTE + three unrolled integer PageRank rounds —
    // every operand non-negative, so DuckDB's truncating // is floor
    "ev_pagerank" -> {
      val head =
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
          |), p AS (
          |  SELECT event_type AS src,
          |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS dst
          |  FROM e
          |), ed AS (
          |  SELECT src, dst, count(*) AS w FROM p WHERE dst IS NOT NULL GROUP BY 1, 2
          |), nodes AS (
          |  SELECT src AS node FROM ed UNION SELECT dst FROM ed
          |), nn AS (SELECT count(*)::BIGINT AS n FROM nodes
          |), ow AS (SELECT src, sum(w)::BIGINT AS outw FROM ed GROUP BY 1
          |), r0 AS (SELECT node, 1000000000 // nn.n AS rank FROM nodes CROSS JOIN nn)""".stripMargin
      val iters = (1 to 3).map { i =>
        val prev = s"r${i - 1}"
        s""", c$i AS (
           |  SELECT ed.dst AS node, sum((r.rank * ed.w) // o.outw)::BIGINT AS s
           |  FROM ed JOIN $prev r ON r.node = ed.src JOIN ow o ON o.src = ed.src GROUP BY 1
           |), d$i AS (
           |  SELECT coalesce(sum(rank), 0)::BIGINT AS dm
           |  FROM $prev WHERE node NOT IN (SELECT src FROM ed)
           |), r$i AS (
           |  SELECT n.node,
           |    (1500000000000 // (10000 * nn.n)
           |     + (8500 * (coalesce(c.s, 0) + d.dm // nn.n)) // 10000)::BIGINT AS rank
           |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node CROSS JOIN nn CROSS JOIN d$i d
           |)""".stripMargin
      }.mkString
      head + iters + "\nSELECT node, rank AS rank_e9 FROM r3"
    },
    // cut comparison order mirrors equiDepthHistogram exactly (ties to
    // the lower bucket); min/max pass raw parquet doubles straight through
    "ev_value_deciles" -> {
      val cutList = (1 to 9).map(i => s"0.${i}").mkString(", ")
      val bucket = (1 to 9).map(i => s"(value > c[$i])::BIGINT").mkString(" + ")
      s"""WITH cuts AS (
         |  SELECT [round(x, 4) for x in quantile_cont(value, [$cutList])] AS c FROM events
         |)
         |SELECT 1 + $bucket AS bucket, count(*) AS n_rows,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events CROSS JOIN cuts
         |GROUP BY 1""".stripMargin
    },
    // open/close picked by row_number windows ordered (ts, event_id) —
    // the same unique order key the Spark struct-min/max compares
    "ev_ohlc_daily" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id, value FROM events
        |), r AS (
        |  SELECT event_type, ts_ms // 86400000 AS day, value,
        |    row_number() OVER (PARTITION BY event_type, ts_ms // 86400000
        |                       ORDER BY ts_ms, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, ts_ms // 86400000
        |                       ORDER BY ts_ms DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT event_type, day,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM r GROUP BY 1, 2""".stripMargin,
    // quantile-threshold Pareto — one UNION ALL branch per pct, each the
    // exact mirror of one posexplode bucket (ties at the cut included)
    "ord_pareto" -> {
      val branches = Seq(1, 5, 10, 20, 50).map { p =>
        val q = (100 - p) / 100.0
        s"""SELECT $p::BIGINT AS top_pct, n_keys, count(*)::BIGINT AS n_top_keys,
           |  sum(cents)::BIGINT AS top_cents,
           |  ((sum(cents)::HUGEINT * 10000) // total)::BIGINT AS value_share_e4
           |FROM c CROSS JOIN cuts WHERE cents::DOUBLE >= round(q$p, 4)
           |GROUP BY n_keys, total""".stripMargin
      }
      """WITH c AS (
        |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |), cuts AS (
        |  SELECT """.stripMargin +
        Seq(1, 5, 10, 20, 50).map(p => s"quantile_cont(cents, ${(100 - p) / 100.0}) AS q$p")
          .mkString(",\n  ") +
        """,
          |    sum(cents)::BIGINT AS total, count(*)::BIGINT AS n_keys
          |  FROM c
          |)
          |""".stripMargin + branches.mkString("\nUNION ALL ")
    },
    "cs_entry_conversion" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
         |                   OR ts_ms - lag(ts_ms) OVER w >= $GAP THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         |), ids AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS session_seq
         |  FROM flagged
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts_ms, event_id) AS rn,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id, session_seq) AS has_buy
         |  FROM ids
         |)
         |SELECT event_type AS entry_type, count(*) AS n_sessions,
         |  sum(has_buy)::BIGINT AS n_converted,
         |  ((sum(has_buy) * 10000) // count(*))::BIGINT AS conv_e4
         |FROM r WHERE rn = 1
         |GROUP BY 1""".stripMargin,
    // hash-rank sampling on the shared 60-bit md5 hash (Cols.hash60)
    "ev_sample_per_key" ->
      """WITH r AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT, event_id) AS rk
        |  FROM events
        |)
        |SELECT event_id, event_type, rk::BIGINT AS sample_rank FROM r WHERE rk <= 50""".stripMargin,
    // slope floor-divided with the remainder-corrected form (den > 0 by
    // Cauchy–Schwarz, so the correction is the plain pmod floor); HUGEINT
    // mirrors the Spark side's DECIMAL(38,0) internals
    "ev_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), d AS (
        |  SELECT event_type, day, count(*) AS y FROM e GROUP BY 1, 2
        |), b AS (SELECT min(day) AS d0 FROM e
        |), s AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days, sum(y)::BIGINT AS sum_y,
        |    sum(day - d0)::HUGEINT AS sx,
        |    sum((day - d0) * y)::HUGEINT AS sxy,
        |    sum((day - d0) * (day - d0))::HUGEINT AS sxx
        |  FROM d CROSS JOIN b GROUP BY 1
        |)
        |SELECT event_type, n_days, sum_y,
        |  CASE WHEN n_days * sxx - sx * sx <> 0 THEN
        |    (((n_days * sxy - sx * sum_y) * 10000
        |      - (((n_days * sxy - sx * sum_y) * 10000 % (n_days * sxx - sx * sx))
        |         + (n_days * sxx - sx * sx)) % (n_days * sxx - sx * sx))
        |     // (n_days * sxx - sx * sx))::BIGINT
        |  END AS slope_e4
        |FROM s""".stripMargin,
    "ev_cusum" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), d AS (
        |  SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, count(*)::BIGINT AS n_days, sum(c)::BIGINT AS s
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT d.event_type, t.n_days, day,
        |    (sum(t.n_days * c - t.s) OVER (PARTITION BY d.event_type ORDER BY day))::BIGINT AS cusum
        |  FROM d JOIN t USING (event_type)
        |), k AS (
        |  SELECT event_type, n_days, day AS change_day, abs(cusum)::BIGINT AS cusum_scaled,
        |    row_number() OVER (PARTITION BY event_type ORDER BY abs(cusum) DESC, day) AS rk
        |  FROM r
        |)
        |SELECT event_type, n_days, change_day, cusum_scaled FROM k WHERE rk = 1""".stripMargin,
    // binary-segmentation twin of ev_cusum: prefix sums over the bounded
    // day domain, HUGEINT squared gain numerator (≥ 0, like the divisor
    // and the count prefix sums — every // here is exact floor)
    "ev_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2
        |), pre AS (
        |  SELECT event_type, day,
        |    (row_number() OVER (PARTITION BY event_type ORDER BY day))::BIGINT AS n1,
        |    (sum(y) OVER (PARTITION BY event_type ORDER BY day))::BIGINT AS s1,
        |    (count(*) OVER (PARTITION BY event_type))::BIGINT AS n,
        |    (sum(y) OVER (PARTITION BY event_type))::BIGINT AS s
        |  FROM daily
        |), sc AS (
        |  SELECT event_type, day, n1, n - n1 AS n2, s1, s - s1 AS s2, n
        |  FROM pre WHERE n1 < n
        |), g AS (
        |  SELECT event_type, day, n1, n2, s1, s2,
        |    (((n2::HUGEINT * s1 - n1::HUGEINT * s2)
        |       * (n2::HUGEINT * s1 - n1::HUGEINT * s2) * 10000)
        |      // (n1::HUGEINT * n2 * n))::BIGINT AS gain_e4
        |  FROM sc
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain_e4 DESC, day) AS rk
        |  FROM g
        |)
        |SELECT event_type, day AS split_day, n1 AS n_days_before,
        |  n2 AS n_days_after,
        |  (s1 * 10000 // n1)::BIGINT AS mean_before_e4,
        |  (s2 * 10000 // n2)::BIGINT AS mean_after_e4, gain_e4
        |FROM r WHERE rk = 1""".stripMargin,
    // median/MAD rounded to 4 decimals BEFORE the flag predicate so both
    // engines compare identical doubles (quantile_cont ≡ Spark percentile)
    "ev_mad_outliers" ->
      """WITH m AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median
        |  FROM events GROUP BY 1
        |), wm AS (
        |  SELECT e.event_type, e.value, m.median FROM events e JOIN m USING (event_type)
        |), md AS (
        |  SELECT event_type, round(quantile_cont(abs(value - median), 0.5), 4) AS mad
        |  FROM wm GROUP BY 1
        |)
        |SELECT wm.event_type, count(*) AS n_rows, min(wm.median) AS median,
        |  min(md.mad) AS mad,
        |  count(CASE WHEN abs(value - median) > 3 * mad THEN 1 END) AS n_outliers
        |FROM wm JOIN md USING (event_type)
        |GROUP BY 1""".stripMargin,
    // cell terms mirror Profile.chi2Independence operation-for-operation
    // ((O·N − R·C)² · 1e4 / (R·C·N), rounded per cell, then summed) over
    // the FULL rt×ct grid — empty cells contribute (0 − E)²/E = E
    "ev_chi2_hour" ->
      """WITH e AS (
        |  SELECT event_type, (((epoch_ms(ts::TIMESTAMP) % 86400000) + 86400000) % 86400000) // 3600000 AS hour
        |  FROM events
        |), cells AS (
        |  SELECT event_type, hour, count(*) AS o FROM e GROUP BY 1, 2
        |), rt AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY 1
        |), ct AS (SELECT hour, sum(o)::BIGINT AS c FROM cells GROUP BY 1
        |), nt AS (SELECT sum(o)::BIGINT AS n FROM cells
        |), grid AS (
        |  SELECT rt.event_type, ct.hour, rt.r, ct.c, coalesce(cells.o, 0)::BIGINT AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.event_type = rt.event_type AND cells.hour = ct.hour
        |), t AS (
        |  SELECT grid.event_type, grid.hour, nt.n,
        |    round((grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE)
        |        * (grid.o::DOUBLE * nt.n::DOUBLE - grid.r::DOUBLE * grid.c::DOUBLE) * 10000.0
        |        / (grid.r::DOUBLE * grid.c::DOUBLE * nt.n::DOUBLE))::BIGINT AS term_e4
        |  FROM grid CROSS JOIN nt
        |)
        |SELECT sum(term_e4)::BIGINT AS chi2_e4,
        |  ((count(DISTINCT event_type) - 1) * (count(DISTINCT hour) - 1))::BIGINT AS dof,
        |  min(n)::BIGINT AS n_rows
        |FROM t""".stripMargin,
    // leading digit via the integer cent amount's decimal string — no
    // float log10 anywhere; benford_e4 literals = round(log10(1+1/d)·1e4)
    "ord_benford" ->
      """WITH c AS (
        |  SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders
        |  WHERE o_totalprice > 0
        |), cc AS (
        |  SELECT cents FROM c WHERE cents > 0
        |), d AS (
        |  SELECT substr(cents::VARCHAR, 1, 1)::BIGINT AS digit, count(*) AS n
        |  FROM cc GROUP BY 1
        |)
        |SELECT digit, n,
        |  (n * 10000) // (SELECT count(*) FROM cc) AS share_e4,
        |  ([3010, 1761, 1249, 969, 792, 669, 580, 512, 458][digit])::BIGINT AS benford_e4,
        |  abs((n * 10000) // (SELECT count(*) FROM cc)
        |      - [3010, 1761, 1249, 969, 792, 669, 580, 512, 458][digit])::BIGINT AS dev_e4
        |FROM d""".stripMargin,
    "tbl_fk_integrity" ->
      """SELECT 'lineitem.orderkey->orders' AS relationship,
        |  (SELECT count(*) FROM lineitem)::BIGINT AS n_child_rows,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_orphans
        |UNION ALL SELECT 'lineitem.partkey->part',
        |  (SELECT count(*) FROM lineitem)::BIGINT,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::BIGINT
        |UNION ALL SELECT 'lineitem.suppkey->supplier',
        |  (SELECT count(*) FROM lineitem)::BIGINT,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))::BIGINT
        |UNION ALL SELECT 'orders.custkey->customer',
        |  (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT""".stripMargin,
    // gap-islands runs over the status stream — the sessionsCte
    // construction keyed on status change instead of time gap
    "ev_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id
        |  FROM events WHERE event_type IN ('signup', 'error')
        |), f AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), r AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS run
        |  FROM f
        |), iv AS (
        |  SELECT user_id, run, min(ts_ms) AS valid_from_ms, min(event_type) AS event_type
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, valid_from_ms,
        |  lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_ms
        |FROM iv""".stripMargin,
    // the scd2 CTEs + the midpoint probe: valid_from <= T < valid_to
    "ev_scd2_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id
        |  FROM events WHERE event_type IN ('signup', 'error')
        |), cut AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS t FROM e),
        |f AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), r AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS run
        |  FROM f
        |), iv AS (
        |  SELECT user_id, run, min(ts_ms) AS valid_from_ms, min(event_type) AS event_type
        |  FROM r GROUP BY 1, 2
        |), dim AS (
        |  SELECT user_id, event_type, valid_from_ms,
        |    lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_ms
        |  FROM iv
        |)
        |SELECT user_id, event_type AS status_at_t, valid_from_ms AS since_ms, t AS probe_ms
        |FROM dim CROSS JOIN cut
        |WHERE valid_from_ms <= t AND (valid_to_ms IS NULL OR valid_to_ms > t)""".stripMargin,
    "ev_dau" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS first_day FROM e GROUP BY 1
        |)
        |SELECT day, count(*) AS dau,
        |  count(CASE WHEN day = first_day THEN 1 END) AS new_users,
        |  count(*) - count(CASE WHEN day = first_day THEN 1 END) AS returning_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1""".stripMargin,
    "ev_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
        |), p AS (
        |  SELECT event_type || '>' || lead(event_type) OVER w || '>' || lead(event_type, 2) OVER w AS path,
        |         lead(event_type, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |)
        |SELECT path, count(*) AS n_paths FROM p WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20""".stripMargin,
    "li_basket_pairs" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |ic AS (SELECT item, count(*) AS n FROM gi GROUP BY 1),
        |tot AS (SELECT count(DISTINCT grp) AS ng FROM gi),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b,
        |  ((n_ab::HUGEINT * tot.ng * 10000) // (ia.n::HUGEINT * ib.n))::BIGINT AS lift_e4
        |FROM p
        |JOIN ic ia ON p.item_a = ia.item
        |JOIN ic ib ON p.item_b = ib.item
        |CROSS JOIN tot""".stripMargin,
    // the li_basket_pairs CTEs unfolded into both rule directions, with
    // confidence and conviction ((ng−n_cons)·n_ante / (ng·(n_ante−n_ab)),
    // null on exact rules)
    "li_basket_rules" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |ic AS (SELECT item, count(*) AS n FROM gi GROUP BY 1),
        |tot AS (SELECT count(DISTINCT grp) AS ng FROM gi),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), base AS (
        |  SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b,
        |    ((n_ab::HUGEINT * tot.ng * 10000) // (ia.n::HUGEINT * ib.n))::BIGINT AS lift_e4,
        |    tot.ng AS ng
        |  FROM p
        |  JOIN ic ia ON p.item_a = ia.item
        |  JOIN ic ib ON p.item_b = ib.item
        |  CROSS JOIN tot
        |), directed AS (
        |  SELECT item_a AS antecedent, item_b AS consequent, n_ab,
        |    n_a AS n_ante, n_b AS n_cons, lift_e4, ng FROM base
        |  UNION ALL
        |  SELECT item_b, item_a, n_ab, n_b, n_a, lift_e4, ng FROM base
        |)
        |SELECT antecedent, consequent, n_ab::BIGINT AS n_ab,
        |  n_ante::BIGINT AS n_ante, n_cons::BIGINT AS n_cons, lift_e4,
        |  ((n_ab * 10000) // n_ante)::BIGINT AS confidence_e4,
        |  (CASE WHEN n_ante > n_ab
        |        THEN ((ng - n_cons) * n_ante * 10000) // (ng * (n_ante - n_ab))
        |   END)::BIGINT AS conviction_e4
        |FROM directed""".stripMargin,
    // transition/start CTEs + five runs × 16 unrolled fixed-point layers
    // (AS MATERIALIZED throughout — every layer is referenced by the
    // next and an inlining planner would re-evaluate the pyramid);
    // per-edge terms floored THEN summed, exactly as the Spark loop does
    "cs_markov_attribution" -> {
      val E9 = "1000000000"
      val runs = Seq("base" -> None, "view" -> Some("view"),
        "click" -> Some("click"), "signup" -> Some("signup"),
        "error" -> Some("error"))
      val base =
        s"""WITH e AS MATERIALIZED (
           |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
           |), pairs AS MATERIALIZED (
           |  SELECT from_type, to_type FROM (
           |    SELECT event_type AS from_type,
           |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type
           |    FROM e) x
           |  WHERE to_type IS NOT NULL
           |), tc AS MATERIALIZED (
           |  SELECT from_type, to_type, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2
           |), t2 AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT from_type, to_type,
           |      (n * $E9 // (sum(n) OVER (PARTITION BY from_type)))::BIGINT AS t_e9
           |    FROM tc) shares
           |  WHERE from_type <> 'purchase'
           |), states AS MATERIALIZED (
           |  SELECT DISTINCT from_type AS state FROM pairs
           |  UNION SELECT DISTINCT to_type FROM pairs
           |), fe AS MATERIALIZED (
           |  SELECT event_type AS state, count(*)::BIGINT AS nf FROM (
           |    SELECT user_id, event_type,
           |      row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS rn
           |    FROM e) x
           |  WHERE rn = 1 GROUP BY 1
           |), start AS MATERIALIZED (
           |  SELECT state, (nf * $E9 // (sum(nf) OVER ()))::BIGINT AS pi_e9 FROM fe
           |)""".stripMargin
      val layers = runs.map { case (r, dead) =>
        val deadCase = dead.map(x => s"WHEN s.state = '$x' THEN 0 ").getOrElse("")
        val init =
          s""", p_${r}_0 AS MATERIALIZED (
             |  SELECT state, CASE WHEN state = 'purchase' THEN $E9 ELSE 0 END AS p
             |  FROM states
             |)""".stripMargin
        val steps = (1 to 16).map { k =>
          s""", p_${r}_$k AS MATERIALIZED (
             |  SELECT s.state,
             |    CASE WHEN s.state = 'purchase' THEN $E9
             |         ${deadCase}ELSE coalesce(c.v, 0) END AS p
             |  FROM states s LEFT JOIN (
             |    SELECT t2.from_type AS state, sum((t2.t_e9 * p.p) // $E9)::BIGINT AS v
             |    FROM t2 JOIN p_${r}_${k - 1} p ON p.state = t2.to_type
             |    GROUP BY 1) c ON c.state = s.state
             |)""".stripMargin
        }.mkString
        val o =
          s""", o_$r AS MATERIALIZED (
             |  SELECT sum((start.pi_e9 * p.p) // $E9)::BIGINT AS p_e9
             |  FROM start JOIN p_${r}_16 p USING (state)
             |)""".stripMargin
        init + steps + o
      }.mkString
      val tail =
        """
          |SELECT r.removed_state, b.p_e9 AS p_base_e9, r.p_removed_e9,
          |  (b.p_e9 - r.p_removed_e9)::BIGINT AS removal_effect_e9,
          |  CASE WHEN sum(b.p_e9 - r.p_removed_e9) OVER () > 0 THEN
          |    ((b.p_e9 - r.p_removed_e9) * 10000
          |     // (sum(b.p_e9 - r.p_removed_e9) OVER ()))::BIGINT END AS share_e4
          |FROM (
          |  SELECT 'view' AS removed_state, p_e9 AS p_removed_e9 FROM o_view
          |  UNION ALL SELECT 'click', p_e9 FROM o_click
          |  UNION ALL SELECT 'signup', p_e9 FROM o_signup
          |  UNION ALL SELECT 'error', p_e9 FROM o_error) r
          |CROSS JOIN o_base b""".stripMargin
      base + layers + tail
    },
    // unrolled 3-round frontier BFS from the 3 top-degree hubs; the
    // frontier is recovered per round as "min distance exactly r-1"
    "li_bfs_hops" ->
      (bfsPyramidCte +
        """
          |SELECT source, node, hops FROM d3""".stripMargin),
    // the li_bfs_hops CTE skeleton with inverse-support edge weights and
    // min-cost (not min-hop) layer folds — unrolled Bellman-Ford
    "li_cheapest_path" -> {
      val base =
        """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
          |gi AS MATERIALIZED (SELECT grp, item FROM gi0
          |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
          |p AS MATERIALIZED (
          |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
          |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), und AS MATERIALIZED (
          |  SELECT item_a AS src, item_b AS dst, greatest(1000000 // n_ab, 1)::BIGINT AS w FROM p
          |  UNION ALL SELECT item_b, item_a, greatest(1000000 // n_ab, 1)::BIGINT FROM p
          |), s AS MATERIALIZED (
          |  SELECT src AS source FROM (
          |    SELECT src, count(*) AS deg FROM und GROUP BY 1)
          |  ORDER BY deg DESC, src LIMIT 3
          |), d0 AS MATERIALIZED (
          |  SELECT source, source AS node, 0::BIGINT AS cost_e6 FROM s)""".stripMargin
      val layers = (1 to 3).map { r =>
        s""", d$r AS MATERIALIZED (
           |  SELECT source, node, min(cost_e6)::BIGINT AS cost_e6 FROM (
           |    SELECT source, node, cost_e6 FROM d${r - 1}
           |    UNION ALL
           |    SELECT d.source, u.dst AS node, d.cost_e6 + u.w
           |    FROM d${r - 1} d JOIN und u ON u.src = d.node) u
           |  GROUP BY 1, 2
           |)""".stripMargin
      }.mkString
      base + layers +
        """
          |SELECT source, node, cost_e6 FROM d3""".stripMargin
    },
    // the li_cheapest_path distance pyramid, then the tight-edge DAG,
    // sigma by 3 predecessor-sum iterations and delta by 3 successor
    // folds (exact e6 floors, all terms non-negative so // is floor);
    // sigma/delta stay HUGEINT until the final readout
    "li_betweenness_weighted" -> {
      val base =
        """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
          |gi AS MATERIALIZED (SELECT grp, item FROM gi0
          |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
          |p AS MATERIALIZED (
          |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
          |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), und AS MATERIALIZED (
          |  SELECT item_a AS src, item_b AS dst, greatest(1000000 // n_ab, 1)::BIGINT AS w FROM p
          |  UNION ALL SELECT item_b, item_a, greatest(1000000 // n_ab, 1)::BIGINT FROM p
          |), s AS MATERIALIZED (
          |  SELECT src AS source FROM (
          |    SELECT src, count(*) AS deg FROM und GROUP BY 1)
          |  ORDER BY deg DESC, src LIMIT 3
          |), d0 AS MATERIALIZED (
          |  SELECT source, source AS node, 0::BIGINT AS cost_e6 FROM s)""".stripMargin
      val distLayers = (1 to 3).map { r =>
        s""", d$r AS MATERIALIZED (
           |  SELECT source, node, min(cost_e6)::BIGINT AS cost_e6 FROM (
           |    SELECT source, node, cost_e6 FROM d${r - 1}
           |    UNION ALL
           |    SELECT d.source, u.dst AS node, d.cost_e6 + u.w
           |    FROM d${r - 1} d JOIN und u ON u.src = d.node) u
           |  GROUP BY 1, 2
           |)""".stripMargin
      }.mkString
      val dag =
        """, dag AS MATERIALIZED (
          |  SELECT du.source, du.node AS u, dv.node AS v
          |  FROM d3 du JOIN und e ON e.src = du.node
          |  JOIN d3 dv ON dv.source = du.source AND dv.node = e.dst
          |    AND du.cost_e6 + e.w = dv.cost_e6
          |), g0 AS MATERIALIZED (
          |  SELECT source, node,
          |    (CASE WHEN node = source THEN 1 ELSE 0 END)::HUGEINT AS sigma
          |  FROM d3)""".stripMargin
      val sigmaLayers = (1 to 3).map { r =>
        s""", g$r AS MATERIALIZED (
           |  SELECT n.source, n.node,
           |    (CASE WHEN n.node = n.source THEN 1
           |          ELSE coalesce(i.inc, 0) END)::HUGEINT AS sigma
           |  FROM d3 n LEFT JOIN (
           |    SELECT dag.source, dag.v AS node, sum(g.sigma) AS inc
           |    FROM dag JOIN g${r - 1} g
           |      ON g.source = dag.source AND g.node = dag.u
           |    GROUP BY 1, 2) i ON i.source = n.source AND i.node = n.node
           |)""".stripMargin
      }.mkString
      val deltaSeed =
        """, w0 AS MATERIALIZED (
          |  SELECT source, node, 0::HUGEINT AS delta FROM d3)""".stripMargin
      val deltaLayers = (1 to 3).map { r =>
        s""", w$r AS MATERIALIZED (
           |  SELECT n.source, n.node, coalesce(t.d, 0)::HUGEINT AS delta
           |  FROM d3 n LEFT JOIN (
           |    SELECT dag.source, dag.u AS node,
           |      sum((gu.sigma * (1000000 + wp.delta)) // gw.sigma)::HUGEINT AS d
           |    FROM dag
           |    JOIN g3 gu ON gu.source = dag.source AND gu.node = dag.u
           |    JOIN g3 gw ON gw.source = dag.source AND gw.node = dag.v
           |    JOIN w${r - 1} wp ON wp.source = dag.source AND wp.node = dag.v
           |    WHERE gw.sigma > 0
           |    GROUP BY 1, 2) t ON t.source = n.source AND t.node = n.node
           |)""".stripMargin
      }.mkString
      base + distLayers + dag + sigmaLayers + deltaSeed + deltaLayers +
        """
          |SELECT node, count(*)::BIGINT AS n_sources, sum(delta)::BIGINT AS bc_e6
          |FROM w3 WHERE node <> source GROUP BY 1""".stripMargin
    },
    // the li_bfs_hops distance pyramid + a per-node readout: sum of hop
    // distances and the harmonic sum (1e6 // hops, hops >= 1 after the
    // self-row exclusion, so // is exact floor)
    "li_closeness" ->
      (bfsPyramidCte +
        """
          |SELECT node, count(*)::BIGINT AS n_sources, sum(hops)::BIGINT AS sum_hops,
          |  sum(1000000 // hops)::BIGINT AS harmonic_e6
          |FROM d3 WHERE node <> source GROUP BY 1""".stripMargin),
    // the same distance pyramid read per SOURCE: ball size, deepest hop,
    // mean depth e4 (all quantities non-negative, // exact floor)
    "li_eccentricity" ->
      (bfsPyramidCte +
        """
          |SELECT source, count(*)::BIGINT AS n_reached, max(hops)::BIGINT AS ecc_lb,
          |  ((sum(hops) * 10000) // count(*))::BIGINT AS mean_hops_e4
          |FROM d3 WHERE node <> source GROUP BY 1""".stripMargin),
    // calendar-midpoint split of the ship span; early/late supplier
    // quantity shares in exact e4 and their difference
    "sup_share_shift" ->
      """WITH l AS (
        |  SELECT l_suppkey, round(l_quantity)::BIGINT AS q,
        |    epoch_ms(l_shipdate::TIMESTAMP) // 86400000 AS day
        |  FROM lineitem
        |), m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM l),
        |bysupp AS (
        |  SELECT l_suppkey,
        |    sum(CASE WHEN day <= m.mid THEN q ELSE 0 END)::BIGINT AS qty_early,
        |    sum(CASE WHEN day > m.mid THEN q ELSE 0 END)::BIGINT AS qty_late
        |  FROM l CROSS JOIN m GROUP BY 1
        |), tot AS (
        |  SELECT sum(qty_early)::BIGINT AS ta, sum(qty_late)::BIGINT AS tb FROM bysupp
        |)
        |SELECT l_suppkey, qty_early, qty_late,
        |  ((qty_early * 10000) // greatest(ta, 1))::BIGINT AS share_early_e4,
        |  ((qty_late * 10000) // greatest(tb, 1))::BIGINT AS share_late_e4,
        |  (((qty_late * 10000) // greatest(tb, 1))
        |    - ((qty_early * 10000) // greatest(ta, 1)))::BIGINT AS shift_e4
        |FROM bysupp CROSS JOIN tot""".stripMargin,
    // the session-id CTEs folded to session grain, then the depth-bucket
    // conversion rollup (depth = qualifying events, capped at 10)
    "cs_depth_conversion" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
         |                   OR ts_ms - lag(ts_ms) OVER w >= $GAP THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         |), ids AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS session_seq
         |  FROM flagged
         |), sess AS (
         |  SELECT user_id, session_seq,
         |    count(CASE WHEN event_type <> 'purchase' THEN 1 END)::BIGINT AS depth,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS buy
         |  FROM ids GROUP BY 1, 2
         |)
         |SELECT least(depth, 10)::BIGINT AS depth_bucket, count(*)::BIGINT AS n_sessions,
         |  sum(buy)::BIGINT AS n_converted,
         |  ((sum(buy) * 10000) // count(*))::BIGINT AS conv_e4
         |FROM sess GROUP BY 1""".stripMargin,
    // the li_link_pred wedge CTEs with 1/ln(degree) center weights —
    // ln only inside a rounded integer term; center degree >= 2 so the
    // weight is positive and // exact floor
    "li_adamic_adar" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS MATERIALIZED (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS MATERIALIZED (
        |  SELECT src AS node, dst AS nbr FROM e
        |  UNION ALL SELECT dst, src FROM e
        |), deg AS (SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1),
        |ctr AS (SELECT node, nbr FROM adj
        |        QUALIFY count(*) OVER (PARTITION BY node) <= 200),
        |ctrw AS (
        |  SELECT c.node, c.nbr,
        |    (10000000000 // round(ln(d.d) * 1000000)::BIGINT)::BIGINT AS w
        |  FROM ctr c JOIN deg d ON d.node = c.node WHERE d.d >= 2
        |), cand AS (
        |  SELECT a.nbr AS item_a, b.nbr AS item_b,
        |    count(*)::BIGINT AS cn, sum(a.w)::BIGINT AS aa_e4
        |  FROM ctrw a JOIN ctrw b ON a.node = b.node AND a.nbr < b.nbr
        |  GROUP BY 1, 2
        |)
        |SELECT item_a, item_b, cn, aa_e4 FROM cand c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e WHERE e.src = c.item_a AND e.dst = c.item_b)
        |ORDER BY aa_e4 DESC, cn DESC, item_a, item_b
        |LIMIT 20""".stripMargin,
    // (part x supplier) quantity histogram -> rank window -> part-grain
    // concentration readout; squares widen to HUGEINT
    "sup_concentration" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, sum(round(l_quantity)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY q DESC, l_suppkey) AS rn
        |  FROM ps
        |)
        |SELECT l_partkey, count(*)::BIGINT AS n_suppliers, sum(q)::BIGINT AS total_qty,
        |  max(CASE WHEN rn = 1 THEN l_suppkey END)::BIGINT AS top_suppkey,
        |  ((max(CASE WHEN rn = 1 THEN q END) * 10000)
        |    // greatest(sum(q), 1))::BIGINT AS top_share_e4,
        |  ((sum(q::HUGEINT * q::HUGEINT) * 10000)
        |    // greatest(sum(q)::HUGEINT * sum(q)::HUGEINT, 1))::BIGINT AS hhi_e4,
        |  (CASE WHEN count(*) = 1 THEN 1 ELSE 0 END)::BIGINT AS single_source
        |FROM r GROUP BY 1""".stripMargin,
    // per-customer consecutive-order gaps via lag; exact lower median by
    // the list convention
    "ord_order_gap" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    epoch_ms(o_orderdate::TIMESTAMP) // 86400000 AS day
        |  FROM orders
        |), g AS (
        |  SELECT o_custkey,
        |    day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap
        |  FROM o
        |)
        |SELECT o_custkey, count(*)::BIGINT AS n_gaps,
        |  (list(gap ORDER BY gap))[(count(*) + 1) // 2]::BIGINT AS med_gap_days,
        |  min(gap)::BIGINT AS min_gap_days, max(gap)::BIGINT AS max_gap_days
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,
    // gaps-and-islands on distinct (user, day); best streak = longest,
    // ties -> later start (the struct-max mirror)
    "ev_streaks" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM e
        |), s AS (
        |  SELECT user_id, island, count(*)::BIGINT AS len, min(day)::BIGINT AS strt
        |  FROM i GROUP BY 1, 2
        |)
        |SELECT user_id, sum(len)::BIGINT AS n_active_days, count(*)::BIGINT AS n_streaks,
        |  max(len)::BIGINT AS max_streak_days,
        |  (list(strt ORDER BY len DESC, strt DESC))[1]::BIGINT AS best_streak_start_day
        |FROM s GROUP BY 1""".stripMargin,
    // strict running all-time highs of daily volume; lag over the record
    // rows gives the previous record + wait
    "ev_record_days" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, day, n_events,
        |    max(n_events) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM d
        |), rec AS (
        |  SELECT event_type, day, n_events FROM r
        |  WHERE prev_max IS NULL OR n_events > prev_max
        |)
        |SELECT event_type, day, n_events,
        |  (lag(n_events) OVER w)::BIGINT AS prev_record_events,
        |  (day - lag(day) OVER w)::BIGINT AS days_since_prev_record
        |FROM rec WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin,
    // full-calendar-span dispersion via the (n*Q2 - S^2)*1e8/n^2 identity
    // in HUGEINT; fano = var_e8 // mean_e4 (all terms non-negative)
    "ev_fano" ->
      """WITH dly AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1,
        |    count(*)::BIGINT AS n_active_days,
        |    sum(c)::BIGINT AS n_events,
        |    sum(c::HUGEINT * c::HUGEINT) AS q2
        |  FROM dly GROUP BY 1
        |)
        |SELECT event_type, (d1 - d0 + 1)::BIGINT AS span_days, n_active_days, n_events,
        |  ((n_events::HUGEINT * 10000) // (d1 - d0 + 1))::BIGINT AS mean_e4,
        |  ((((d1 - d0 + 1)::HUGEINT * q2 - n_events::HUGEINT * n_events::HUGEINT)
        |      * 100000000 // ((d1 - d0 + 1)::HUGEINT * (d1 - d0 + 1)::HUGEINT))
        |    // greatest((n_events::HUGEINT * 10000) // (d1 - d0 + 1), 1))::BIGINT AS fano_e4
        |FROM m""".stripMargin,
    // midpoint split, per-half spend quintiles via rounded quantile_cont
    // cuts (the cust_rfm bucket convention), full-outer tier matrix
    "cust_value_migration" ->
      """WITH o AS (
        |  SELECT o_custkey, round(o_totalprice * 100)::BIGINT AS cents,
        |    epoch_ms(o_orderdate::TIMESTAMP) // 86400000 AS day
        |  FROM orders
        |), c AS (SELECT (min(day) + max(day)) // 2 AS cut FROM o),
        |early AS (
        |  SELECT o_custkey, sum(cents)::BIGINT AS m
        |  FROM o CROSS JOIN c WHERE day <= c.cut GROUP BY 1
        |), ecuts AS (
        |  SELECT [round(x, 4) for x in quantile_cont(m, [0.2, 0.4, 0.6, 0.8])] AS mc
        |  FROM early
        |), etier AS (
        |  SELECT o_custkey,
        |    (1 + (m > mc[1])::BIGINT + (m > mc[2])::BIGINT
        |       + (m > mc[3])::BIGINT + (m > mc[4])::BIGINT) AS tier
        |  FROM early CROSS JOIN ecuts
        |), late AS (
        |  SELECT o_custkey, sum(cents)::BIGINT AS m
        |  FROM o CROSS JOIN c WHERE day > c.cut GROUP BY 1
        |), lcuts AS (
        |  SELECT [round(x, 4) for x in quantile_cont(m, [0.2, 0.4, 0.6, 0.8])] AS mc
        |  FROM late
        |), ltier AS (
        |  SELECT o_custkey,
        |    (1 + (m > mc[1])::BIGINT + (m > mc[2])::BIGINT
        |       + (m > mc[3])::BIGINT + (m > mc[4])::BIGINT) AS tier
        |  FROM late CROSS JOIN lcuts
        |), j AS (
        |  SELECT coalesce(e.tier, 0)::BIGINT AS tier_early,
        |    coalesce(l.tier, 0)::BIGINT AS tier_late
        |  FROM etier e FULL OUTER JOIN ltier l USING (o_custkey)
        |)
        |SELECT tier_early, tier_late, count(*)::BIGINT AS n_customers
        |FROM j GROUP BY 1, 2""".stripMargin,
    // the session-id CTEs, lead-dwell per event, then the histogram
    // rank-scan quantiles (the sup_lead_time convention)
    "cs_dwell_time" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
         |                   OR ts_ms - lag(ts_ms) OVER w >= $GAP THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         |), ids AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)::BIGINT AS session_seq
         |  FROM flagged
         |), dw AS (
         |  SELECT event_type,
         |    lead(ts_ms) OVER (PARTITION BY user_id, session_seq ORDER BY ts_ms, event_id)
         |      - ts_ms AS dwell
         |  FROM ids
         |), h AS (
         |  SELECT event_type, dwell, count(*)::BIGINT AS k
         |  FROM dw WHERE dwell IS NOT NULL GROUP BY 1, 2
         |), c AS (
         |  SELECT event_type, dwell, k,
         |    sum(k) OVER (PARTITION BY event_type ORDER BY dwell)::BIGINT AS cum,
         |    sum(k) OVER (PARTITION BY event_type)::BIGINT AS n
         |  FROM h
         |)
         |SELECT event_type, max(n)::BIGINT AS n_dwells,
         |  sum(dwell * k)::BIGINT AS total_dwell_ms,
         |  min(CASE WHEN cum * 2 >= n THEN dwell END)::BIGINT AS med_dwell_ms,
         |  min(CASE WHEN cum * 100 >= n * 95 THEN dwell END)::BIGINT AS p95_dwell_ms,
         |  max(dwell)::BIGINT AS max_dwell_ms
         |FROM c GROUP BY 1""".stripMargin,
    // the li_bfs_hops frontier pyramid carrying sigma (path counts), then
    // the backward Brandes dependency layers as exact e6 floors; every
    // term non-negative so plain // is floor on both engines
    "li_betweenness_sample" -> {
      val base =
        """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
          |gi AS MATERIALIZED (SELECT grp, item FROM gi0
          |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
          |p AS MATERIALIZED (
          |  SELECT a.item AS item_a, b.item AS item_b
          |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), und AS MATERIALIZED (
          |  SELECT item_a AS src, item_b AS dst FROM p
          |  UNION ALL SELECT item_b, item_a FROM p
          |), s AS MATERIALIZED (
          |  SELECT src AS source FROM (
          |    SELECT src, count(*) AS deg FROM und GROUP BY 1)
          |  ORDER BY deg DESC, src LIMIT 3
          |), l0 AS MATERIALIZED (
          |  SELECT source, source AS node, 1::HUGEINT AS sigma FROM s
          |), d0 AS MATERIALIZED (SELECT source, node FROM l0)""".stripMargin
      val forward = (1 to 3).map { r =>
        s""", f$r AS MATERIALIZED (
           |  SELECT l.source, u.dst AS node, sum(l.sigma)::HUGEINT AS sigma
           |  FROM l${r - 1} l JOIN und u ON u.src = l.node
           |  GROUP BY 1, 2
           |), l$r AS MATERIALIZED (
           |  SELECT f.source, f.node, f.sigma FROM f$r f
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM d${r - 1} d WHERE d.source = f.source AND d.node = f.node)
           |), d$r AS MATERIALIZED (
           |  SELECT source, node FROM d${r - 1} UNION ALL SELECT source, node FROM l$r
           |)""".stripMargin
      }.mkString
      val seed =
        """, w3 AS MATERIALIZED (
          |  SELECT source, node, sigma, 0::HUGEINT AS delta FROM l3
          |)""".stripMargin
      val backward = (2 to 1 by -1).map { r =>
        s""", t$r AS MATERIALIZED (
           |  SELECT l.source, l.node,
           |    sum((l.sigma * (1000000 + w.delta)) // w.sigma)::HUGEINT AS d
           |  FROM l$r l JOIN und e ON e.src = l.node
           |  JOIN w${r + 1} w ON w.source = l.source AND w.node = e.dst
           |  GROUP BY 1, 2
           |), w$r AS MATERIALIZED (
           |  SELECT l.source, l.node, l.sigma, coalesce(t.d, 0)::HUGEINT AS delta
           |  FROM l$r l LEFT JOIN t$r t ON t.source = l.source AND t.node = l.node
           |)""".stripMargin
      }.mkString
      base + forward + seed + backward +
        """
          |SELECT node, count(*)::BIGINT AS n_sources, sum(delta)::BIGINT AS bc_e6
          |FROM (SELECT source, node, delta FROM w1
          |      UNION ALL SELECT source, node, delta FROM w2
          |      UNION ALL SELECT source, node, delta FROM w3)
          |GROUP BY 1""".stripMargin
    },
    // the basket-pairs edge CTE + five unrolled degree-peel layers
    // (fixed-round, mirroring the one-plan Spark loop exactly)
    // basket-pair edges + 10 unrolled HashMin layers (MATERIALIZED for
    // the same planner-pyramid reason as li_kcore); min over self ∪
    // neighbor labels per layer, then component sizes from layer 10
    "li_components" -> {
      val base =
        """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
          |gi AS MATERIALIZED (SELECT grp, item FROM gi0
          |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
          |p AS MATERIALIZED (
          |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
          |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), sym AS MATERIALIZED (
          |  SELECT item_a AS a, item_b AS b FROM p
          |  UNION ALL SELECT item_b, item_a FROM p
          |), l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)""".stripMargin
      val layers = (1 to 6).map { i =>
        s""", m$i AS MATERIALIZED (
           |  SELECT node, min(label) AS label FROM (
           |    SELECT s.a AS node, l.label FROM sym s JOIN l${i - 1} l ON l.node = s.b
           |    UNION ALL SELECT node, label FROM l${i - 1}) u
           |  GROUP BY node
           |), l$i AS MATERIALIZED (
           |  SELECT m.node, j.label AS label
           |  FROM m$i m JOIN m$i j ON j.node = m.label
           |)""".stripMargin
      }.mkString
      base + layers +
        """
          |SELECT label AS component, count(*)::BIGINT AS n_nodes
          |FROM l6 GROUP BY 1""".stripMargin
    },
    "li_kcore" -> {
      // AS MATERIALIZED is load-bearing: every e_{i-1} is referenced
      // three times per round, and an inlining planner re-evaluates the
      // whole peel pyramid exponentially (the same hazard the Spark side
      // solves with localCheckpoint)
      val base =
        """WITH gi0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
          |gi AS MATERIALIZED (SELECT grp, item FROM gi0
          |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
          |e0 AS MATERIALIZED (
          |  SELECT a.item AS src, b.item AS dst
          |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |)""".stripMargin
      val peels = (1 to 10).map { i =>
        s""", d$i AS MATERIALIZED (
           |  SELECT node, count(*) AS d FROM (
           |    SELECT src AS node FROM e${i - 1}
           |    UNION ALL SELECT dst FROM e${i - 1}) n GROUP BY 1
           |), e$i AS MATERIALIZED (
           |  SELECT src, dst FROM e${i - 1}
           |  WHERE src IN (SELECT node FROM d$i WHERE d >= 3)
           |    AND dst IN (SELECT node FROM d$i WHERE d >= 3)
           |)""".stripMargin
      }.mkString
      base + peels +
        """
          |SELECT 3::BIGINT AS k, 10::BIGINT AS rounds,
          |  (SELECT count(*) FROM (SELECT DISTINCT node FROM (
          |     SELECT src AS node FROM e10 UNION ALL SELECT dst FROM e10) x) y)::BIGINT
          |    AS n_core_nodes,
          |  (SELECT count(*) FROM e10)::BIGINT AS n_core_edges""".stripMargin
    },
    // distance-2 link prediction on the same basket edges: hub centers
    // capped (QUALIFY ≡ Spark's capGroups), candidates anti-joined
    // against existing edges; cn and the union-size divisor are positive,
    // so the Jaccard // is exact floor
    "li_link_pred" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS MATERIALIZED (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS MATERIALIZED (
        |  SELECT src AS node, dst AS nbr FROM e
        |  UNION ALL SELECT dst, src FROM e
        |), deg AS (SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1),
        |ctr AS (SELECT node, nbr FROM adj
        |        QUALIFY count(*) OVER (PARTITION BY node) <= 200),
        |cand AS (
        |  SELECT a.nbr AS item_a, b.nbr AS item_b, count(*)::BIGINT AS cn
        |  FROM ctr a JOIN ctr b ON a.node = b.node AND a.nbr < b.nbr
        |  GROUP BY 1, 2
        |), nc AS (
        |  SELECT item_a, item_b, cn FROM cand c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.src = c.item_a AND e.dst = c.item_b)
        |)
        |SELECT item_a, item_b, cn, da.d AS deg_a, db.d AS deg_b,
        |  (cn * 10000 // (da.d + db.d - cn))::BIGINT AS jaccard_e4
        |FROM nc
        |JOIN deg da ON da.node = nc.item_a
        |JOIN deg db ON db.node = nc.item_b
        |ORDER BY cn DESC, jaccard_e4 DESC, item_a, item_b
        |LIMIT 20""".stripMargin,
    // same basket edges; degree orientation makes each triangle one
    // ordered (u, v, w) row, unnest credits the three corners; every
    // quantity is positive so // is exact floor throughout
    "li_local_cc" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS MATERIALIZED (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS (
        |  SELECT src AS node, dst AS nbr FROM e
        |  UNION ALL SELECT dst, src FROM e
        |), deg AS MATERIALIZED (
        |  SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1
        |), o AS MATERIALIZED (
        |  SELECT adj.node AS u, adj.nbr AS v, dv.d AS dv
        |  FROM adj
        |  JOIN deg du ON du.node = adj.node
        |  JOIN deg dv ON dv.node = adj.nbr
        |  WHERE du.d < dv.d OR (du.d = dv.d AND adj.node < adj.nbr)
        |), tri AS (
        |  SELECT o1.u, o1.v, o2.v AS w
        |  FROM o o1 JOIN o o2 ON o1.u = o2.u
        |  WHERE (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        |    AND EXISTS (SELECT 1 FROM o o3 WHERE o3.u = o1.v AND o3.v = o2.v)
        |), corner AS (
        |  SELECT unnest([u, v, w]) AS node FROM tri
        |), t AS (
        |  SELECT node, count(*)::BIGINT AS t FROM corner GROUP BY 1
        |), cc AS (
        |  SELECT deg.d, coalesce(t.t, 0)::BIGINT AS t,
        |    ((coalesce(t.t, 0) * 20000) // (deg.d * (deg.d - 1)))::BIGINT AS cc_e4
        |  FROM deg LEFT JOIN t ON t.node = deg.node
        |  WHERE deg.d >= 2
        |)
        |SELECT (cc_e4 // 1000)::BIGINT AS cc_bucket,
        |  count(*)::BIGINT AS n_nodes,
        |  sum(t)::BIGINT AS sum_triangles,
        |  sum(d)::BIGINT AS sum_deg,
        |  sum(cc_e4)::BIGINT AS sum_cc_e4
        |FROM cc GROUP BY 1""".stripMargin,
    // the li_local_cc orientation CTEs through tri, then each triangle
    // exploded to its three sorted edges and counted per edge
    "li_edge_support" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |e AS MATERIALIZED (
        |  SELECT a.item AS src, b.item AS dst
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS (
        |  SELECT src AS node, dst AS nbr FROM e
        |  UNION ALL SELECT dst, src FROM e
        |), deg AS MATERIALIZED (
        |  SELECT node, count(*)::BIGINT AS d FROM adj GROUP BY 1
        |), o AS MATERIALIZED (
        |  SELECT adj.node AS u, adj.nbr AS v, dv.d AS dv
        |  FROM adj
        |  JOIN deg du ON du.node = adj.node
        |  JOIN deg dv ON dv.node = adj.nbr
        |  WHERE du.d < dv.d OR (du.d = dv.d AND adj.node < adj.nbr)
        |), tri AS (
        |  SELECT o1.u, o1.v, o2.v AS w
        |  FROM o o1 JOIN o o2 ON o1.u = o2.u
        |  WHERE (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        |    AND EXISTS (SELECT 1 FROM o o3 WHERE o3.u = o1.v AND o3.v = o2.v)
        |), edges3 AS (
        |  SELECT unnest([
        |    {'a': least(u, v), 'b': greatest(u, v)},
        |    {'a': least(u, w), 'b': greatest(u, w)},
        |    {'a': least(v, w), 'b': greatest(v, w)}]) AS ue
        |  FROM tri
        |), sup AS (
        |  SELECT ue.a AS item_a, ue.b AS item_b, count(*)::BIGINT AS support
        |  FROM edges3 GROUP BY 1, 2
        |)
        |SELECT e.src AS item_a, e.dst AS item_b,
        |  coalesce(s.support, 0)::BIGINT AS support,
        |  (CASE WHEN coalesce(s.support, 0) >= 1 THEN 1 ELSE 0 END)::BIGINT AS in_3truss,
        |  (CASE WHEN coalesce(s.support, 0) >= 2 THEN 1 ELSE 0 END)::BIGINT AS in_4truss
        |FROM e LEFT JOIN sup s ON s.item_a = e.src AND s.item_b = e.dst""".stripMargin,
    // generated degree-peel unroll to each level's measured fixpoint
    "li_core_number" -> coreOracleSql,
    // the ev_holt walk widened with generated seasonal-slot CASEs
    "ev_holt_winters" -> holtWintersOracleSql,
    // the li_edge_support chain unrolled to the peel fixpoint per level
    // (generated: one support stack per round over the shrinking set)
    "li_truss_peel" ->
      s"$trussPeelCtes SELECT item_a, item_b, support, trussness FROM pe",
    // truss census: LEFT non-equi join against a 3-row level table so an
    // empty level (the fixture's 4-truss) keeps its zero row
    "li_truss_summary" ->
      s"""$trussPeelCtes, ks AS (SELECT unnest([2, 3, 4])::BIGINT AS k),
         |nd AS (SELECT trussness, unnest([item_a, item_b]) AS node FROM pe),
         |ec AS (
         |  SELECT ks.k, count(pe.item_a)::BIGINT AS n_edges
         |  FROM ks LEFT JOIN pe ON pe.trussness >= ks.k GROUP BY 1
         |), nc AS (
         |  SELECT ks.k, count(DISTINCT nd.node)::BIGINT AS n_nodes
         |  FROM ks LEFT JOIN nd ON nd.trussness >= ks.k GROUP BY 1
         |)
         |SELECT ec.k, ec.n_edges, nc.n_nodes
         |FROM ec JOIN nc ON nc.k = ec.k""".stripMargin,
    // session-grain basket pairs over the reference's own dept_list
    "cs_dept_pairs" ->
      s"""$sessionsCte, gi0 AS (
         |  SELECT DISTINCT user_id || ':' || win_begin_ms AS grp, department AS item
         |  FROM (
         |    SELECT user_id, win_begin_ms,
         |      unnest(string_split(dept_list, ',')) AS department
         |    FROM sessions) t
         |  WHERE department <> ''
         |), gi AS (SELECT grp, item FROM gi0
         |          QUALIFY count(*) OVER (PARTITION BY grp) <= 1000
         |), ic AS (SELECT item, count(*) AS n FROM gi GROUP BY 1),
         |tot AS (SELECT count(DISTINCT grp) AS ng FROM gi),
         |p AS (
         |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
         |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |)
         |SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b,
         |  ((n_ab::HUGEINT * tot.ng * 10000) // (ia.n::HUGEINT * ib.n))::BIGINT AS lift_e4
         |FROM p
         |JOIN ic ia ON p.item_a = ia.item
         |JOIN ic ib ON p.item_b = ib.item
         |CROSS JOIN tot""".stripMargin,
    // first-date dedupe before the self-join; strict < drops same-day
    // ties on both sides, so direction is never ambiguous within a day
    "ord_seq_pairs" ->
      """WITH fb0 AS (
        |  SELECT o.o_custkey AS cust, l.l_partkey AS item, min(o.o_orderdate) AS d
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2
        |), fb AS (SELECT cust, item, d FROM fb0
        |          QUALIFY count(*) OVER (PARTITION BY cust) <= 1000
        |), buyers AS (
        |  SELECT item, count(*)::BIGINT AS n FROM fb GROUP BY 1
        |), p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
        |  FROM fb a JOIN fb b ON a.cust = b.cust AND a.d < b.d
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT item_a, item_b, n_ab, buyers.n AS n_a,
        |  (n_ab * 10000 // buyers.n)::BIGINT AS conf_e4
        |FROM p JOIN buyers ON buyers.item = p.item_a""".stripMargin,
    // customer-grain common-buyer pairs (assortment-capped) anti-joined
    // against the distinct order-grain pair set (group-capped)
    "li_substitutes" ->
      """WITH ow0 AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), ow AS MATERIALIZED (SELECT cust, item FROM ow0
        |  QUALIFY count(*) OVER (PARTITION BY cust) <= 1000
        |), buyers AS (SELECT item, count(*)::BIGINT AS n FROM ow GROUP BY 1),
        |cp AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_common
        |  FROM ow a JOIN ow b ON a.cust = b.cust AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |tg AS (
        |  SELECT DISTINCT a.item AS item_a, b.item AS item_b
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |)
        |SELECT cp.item_a, cp.item_b, n_common, ba.n AS n_a, bb.n AS n_b,
        |  (n_common * 10000 // (ba.n + bb.n - n_common))::BIGINT AS buyer_jaccard_e4
        |FROM cp
        |LEFT JOIN tg ON tg.item_a = cp.item_a AND tg.item_b = cp.item_b
        |JOIN buyers ba ON ba.item = cp.item_a
        |JOIN buyers bb ON bb.item = cp.item_b
        |WHERE tg.item_a IS NULL""".stripMargin,
    // the basket-pairs CTEs + symmetric expansion + heaviest-edge window
    "li_label_prop_step" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT item_a AS item, item_b AS nbr, n_ab FROM p
        |  UNION ALL SELECT item_b, item_a, n_ab FROM p
        |)
        |SELECT item, nbr AS label, n_ab AS label_weight FROM (
        |  SELECT item, nbr, n_ab,
        |    row_number() OVER (PARTITION BY item ORDER BY n_ab DESC, nbr) AS rn
        |  FROM sym) t
        |WHERE rn = 1""".stripMargin,
    // the step's CTEs + the labels joined back on the neighbor side:
    // iteration 2 takes the label with the largest incident weight SUM
    "li_label_prop2" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT item_a AS item, item_b AS nbr, n_ab FROM p
        |  UNION ALL SELECT item_b, item_a, n_ab FROM p
        |), l1 AS (
        |  SELECT item, nbr AS label FROM (
        |    SELECT item, nbr,
        |      row_number() OVER (PARTITION BY item ORDER BY n_ab DESC, nbr) AS rn
        |    FROM sym) t
        |  WHERE rn = 1
        |)
        |SELECT item, label, label_weight FROM (
        |  SELECT s.item, l.label, sum(s.n_ab)::BIGINT AS label_weight,
        |    row_number() OVER (
        |      PARTITION BY s.item ORDER BY sum(s.n_ab) DESC, l.label) AS rn
        |  FROM sym s JOIN l1 l ON l.item = s.nbr
        |  GROUP BY s.item, l.label) t
        |WHERE rn = 1""".stripMargin,
    // the label_prop2 CTEs produce the partition; Q cleared to integer
    // numerators 4mL_c − D_c² per community, one remainder-corrected
    // floor at the end (Σ can be negative on a bad partition)
    "li_modularity" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |p AS MATERIALIZED (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT item_a AS item, item_b AS nbr, n_ab FROM p
        |  UNION ALL SELECT item_b, item_a, n_ab FROM p
        |), l1 AS (
        |  SELECT item, nbr AS label FROM (
        |    SELECT item, nbr,
        |      row_number() OVER (PARTITION BY item ORDER BY n_ab DESC, nbr) AS rn
        |    FROM sym) t
        |  WHERE rn = 1
        |), lab AS MATERIALIZED (
        |  SELECT item, label FROM (
        |    SELECT s.item, l.label,
        |      row_number() OVER (
        |        PARTITION BY s.item ORDER BY sum(s.n_ab) DESC, l.label) AS rn
        |    FROM sym s JOIN l1 l ON l.item = s.nbr
        |    GROUP BY s.item, l.label) t
        |  WHERE rn = 1
        |), m AS (SELECT count(*)::BIGINT AS m FROM p),
        |deg AS (
        |  SELECT item, count(*)::BIGINT AS d FROM (
        |    SELECT item_a AS item FROM p UNION ALL SELECT item_b FROM p) u
        |  GROUP BY 1
        |), within AS (
        |  SELECT la.label, count(*)::BIGINT AS lc
        |  FROM p
        |  JOIN lab la ON la.item = p.item_a
        |  JOIN lab lb ON lb.item = p.item_b
        |  WHERE la.label = lb.label
        |  GROUP BY 1
        |), pc0 AS (
        |  SELECT lab.label, sum(deg.d)::BIGINT AS dc, count(*)::BIGINT AS nc
        |  FROM deg JOIN lab USING (item)
        |  GROUP BY 1
        |), pc AS (
        |  SELECT pc0.label, pc0.dc, pc0.nc, coalesce(within.lc, 0)::BIGINT AS lc
        |  FROM pc0 LEFT JOIN within USING (label)
        |), agg AS (
        |  SELECT count(*)::BIGINT AS n_communities,
        |    sum(4::HUGEINT * m.m * pc.lc - pc.dc::HUGEINT * pc.dc) AS sn,
        |    max(pc.nc)::BIGINT AS largest_community
        |  FROM pc CROSS JOIN m
        |)
        |SELECT agg.n_communities,
        |  (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        |  m.m AS n_edges,
        |  (CASE WHEN m.m > 0 THEN
        |    (sn * 1000000 - (((sn * 1000000) % (4::HUGEINT * m.m * m.m)
        |       + 4::HUGEINT * m.m * m.m) % (4::HUGEINT * m.m * m.m)))
        |      // (4::HUGEINT * m.m * m.m)
        |  END)::BIGINT AS q_e6,
        |  agg.largest_community
        |FROM agg CROSS JOIN m""".stripMargin,
    // deterministic md5 hash rows make the CM sketch fully oracled;
    // estimate = min over the key's depth cells
    "ev_countmin_est" ->
      """WITH b AS (
        |  SELECT user_id, r,
        |    ('0x' || substr(md5('cm' || r || ':' || user_id), 1, 15))::BIGINT % 256 AS bucket
        |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
        |), sk AS (
        |  SELECT r, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2
        |), ex AS (
        |  SELECT user_id, count(*)::BIGINT AS exact_n FROM events GROUP BY 1
        |), top AS (
        |  SELECT user_id, exact_n,
        |    (row_number() OVER (ORDER BY exact_n DESC, user_id))::BIGINT AS rank
        |  FROM ex QUALIFY rank <= 20
        |), eb AS (
        |  SELECT t.user_id, t.exact_n, t.rank, rr.r,
        |    ('0x' || substr(md5('cm' || rr.r || ':' || t.user_id), 1, 15))::BIGINT % 256 AS bucket
        |  FROM top t CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) rr
        |)
        |SELECT eb.user_id, eb.rank, eb.exact_n, min(sk.c)::BIGINT AS cm_est,
        |  (min(sk.c) - eb.exact_n)::BIGINT AS overcount
        |FROM eb JOIN sk ON sk.r = eb.r AND sk.bucket = eb.bucket
        |GROUP BY 1, 2, 3""".stripMargin,
    // the basket-pairs CTEs + symmetric expansion + owned anti-join +
    // per-user top-3 window, mirroring recommendFromCoOccurrence
    "li_recommend" ->
      """WITH gi0 AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |gi AS (SELECT grp, item FROM gi0
        |       QUALIFY count(*) OVER (PARTITION BY grp) <= 1000),
        |ic AS (SELECT item, count(*) AS n FROM gi GROUP BY 1),
        |tot AS (SELECT count(DISTINCT grp) AS ng FROM gi),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), pairs AS (
        |  SELECT item_a, item_b,
        |    ((n_ab::HUGEINT * tot.ng * 10000) // (ia.n::HUGEINT * ib.n))::BIGINT AS lift_e4
        |  FROM p JOIN ic ia ON p.item_a = ia.item JOIN ic ib ON p.item_b = ib.item
        |  CROSS JOIN tot
        |), sym AS (
        |  SELECT item_a AS item, item_b AS cand, lift_e4 FROM pairs
        |  UNION ALL SELECT item_b, item_a, lift_e4 FROM pairs
        |), owned AS (
        |  SELECT DISTINCT o.o_custkey AS usr, l.l_partkey AS item
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), scored AS (
        |  SELECT ow.usr, s.cand, max(s.lift_e4) AS score_e4, count(*) AS n_paths
        |  FROM owned ow JOIN sym s USING (item)
        |  LEFT JOIN owned ob ON ob.usr = ow.usr AND ob.item = s.cand
        |  WHERE ob.usr IS NULL
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT usr, cand, score_e4, n_paths,
        |    (row_number() OVER (PARTITION BY usr ORDER BY score_e4 DESC, cand))::BIGINT AS rank
        |  FROM scored
        |)
        |SELECT usr, cand, score_e4, n_paths, rank FROM ranked WHERE rank <= 3""".stripMargin,
    // positional mins over seeded md5 hashes; match count via list
    // comprehension; exact side = the ev_segment_overlap CTEs
    "ev_segment_minhash" ->
      """WITH tu AS (
        |  SELECT DISTINCT epoch_ms(ts::TIMESTAMP) // 86400000 AS seg, user_id AS id
        |  FROM events
        |), sg AS (
        |  SELECT seg, ii.i,
        |    min(('0x' || substr(md5(ii.i || ':' || id), 1, 15))::BIGINT) AS m
        |  FROM tu CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) ii
        |  GROUP BY 1, 2
        |), sigl AS (
        |  SELECT seg, list(m ORDER BY i) AS sig FROM sg GROUP BY 1
        |), pr AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b,
        |    list_sum([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END
        |              for i in generate_series(1, 64)])::BIGINT AS n_match
        |  FROM sigl a JOIN sigl b ON a.seg < b.seg
        |), s AS (SELECT seg, count(*) AS n FROM tu GROUP BY 1),
        |p AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_common
        |  FROM tu a JOIN tu b ON a.id = b.id AND a.seg < b.seg
        |  GROUP BY 1, 2
        |), ex AS (
        |  SELECT seg_a, seg_b,
        |    ((n_common * 10000) // (sa.n + sb.n - n_common))::BIGINT AS exact_e4
        |  FROM p JOIN s sa ON p.seg_a = sa.seg JOIN s sb ON p.seg_b = sb.seg
        |)
        |SELECT pr.seg_a, pr.seg_b, pr.n_match,
        |  (pr.n_match * 10000 // 64)::BIGINT AS est_jaccard_e4,
        |  coalesce(ex.exact_e4, 0)::BIGINT AS exact_jaccard_e4,
        |  ((pr.n_match * 10000 // 64) - coalesce(ex.exact_e4, 0))::BIGINT AS err_e4
        |FROM pr LEFT JOIN ex ON ex.seg_a = pr.seg_a AND ex.seg_b = pr.seg_b""".stripMargin,
    // the li_recommend CTEs rebuilt on the train half only; midpoint-day
    // split broadcast in-plan; hits scored against test-half purchases
    "li_recommend_eval" ->
      """WITH od AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) // 86400000 AS day
        |  FROM orders
        |), cut AS MATERIALIZED (
        |  SELECT (min(day) + max(day)) // 2 AS cut_day FROM od
        |), tr AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey FROM od CROSS JOIN cut WHERE day <= cut_day
        |), te AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey FROM od CROSS JOIN cut WHERE day > cut_day
        |), gi0 AS MATERIALIZED (
        |  SELECT DISTINCT l.l_orderkey AS grp, l.l_partkey AS item
        |  FROM lineitem l JOIN tr ON tr.o_orderkey = l.l_orderkey
        |), gi AS MATERIALIZED (SELECT grp, item FROM gi0
        |  QUALIFY count(*) OVER (PARTITION BY grp) <= 1000
        |), ic AS (SELECT item, count(*) AS n FROM gi GROUP BY 1),
        |tot AS (SELECT count(DISTINCT grp) AS ng FROM gi),
        |p AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |  FROM gi a JOIN gi b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), pairs AS (
        |  SELECT item_a, item_b,
        |    ((n_ab::HUGEINT * tot.ng * 10000) // (ia.n::HUGEINT * ib.n))::BIGINT AS lift_e4
        |  FROM p JOIN ic ia ON p.item_a = ia.item JOIN ic ib ON p.item_b = ib.item
        |  CROSS JOIN tot
        |), sym AS (
        |  SELECT item_a AS item, item_b AS cand, lift_e4 FROM pairs
        |  UNION ALL SELECT item_b, item_a, lift_e4 FROM pairs
        |), owned AS MATERIALIZED (
        |  SELECT DISTINCT tr.o_custkey AS usr, l.l_partkey AS item
        |  FROM tr JOIN lineitem l ON tr.o_orderkey = l.l_orderkey
        |), scored AS (
        |  SELECT ow.usr, s.cand, max(s.lift_e4) AS score_e4
        |  FROM owned ow JOIN sym s USING (item)
        |  LEFT JOIN owned ob ON ob.usr = ow.usr AND ob.item = s.cand
        |  WHERE ob.usr IS NULL
        |  GROUP BY 1, 2
        |), recs AS MATERIALIZED (
        |  SELECT usr, cand FROM (
        |    SELECT usr, cand,
        |      row_number() OVER (PARTITION BY usr ORDER BY score_e4 DESC, cand) AS rank
        |    FROM scored) r
        |  WHERE rank <= 3
        |), future AS MATERIALIZED (
        |  SELECT DISTINCT te.o_custkey AS usr, l.l_partkey AS cand
        |  FROM te JOIN lineitem l ON te.o_orderkey = l.l_orderkey
        |), h AS (
        |  SELECT recs.usr, recs.cand, f.usr AS hit_usr
        |  FROM recs LEFT JOIN future f ON f.usr = recs.usr AND f.cand = recs.cand
        |)
        |SELECT cut.cut_day::BIGINT AS cut_day,
        |  count(DISTINCT usr)::BIGINT AS n_users,
        |  count(*)::BIGINT AS n_recs,
        |  count(hit_usr)::BIGINT AS n_hits,
        |  CASE WHEN count(*) > 0 THEN (count(hit_usr) * 10000 // count(*))::BIGINT END
        |    AS precision_e4,
        |  count(DISTINCT CASE WHEN hit_usr IS NOT NULL THEN usr END)::BIGINT AS n_hit_users
        |FROM h CROSS JOIN cut
        |GROUP BY 1""".stripMargin,
    // quantile_cont ≡ Spark's percentile (exact interpolation, pinned by
    // ev_value_quantiles); ties land in the lower bucket on both engines
    "cust_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    max(epoch_ms(o_orderdate) // 86400000) AS r_day,
        |    count(*) AS frequency,
        |    round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY 1
        |), cuts AS (
        |  SELECT [round(x, 4) for x in quantile_cont(r_day, [0.2, 0.4, 0.6, 0.8])] AS rc,
        |         [round(x, 4) for x in quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8])] AS fc,
        |         [round(x, 4) for x in quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8])] AS mc
        |  FROM pc
        |)
        |SELECT o_custkey, r_day, frequency, monetary,
        |  (1 + (r_day > rc[1])::BIGINT + (r_day > rc[2])::BIGINT
        |     + (r_day > rc[3])::BIGINT + (r_day > rc[4])::BIGINT) AS r_bucket,
        |  (1 + (frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |     + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT) AS f_bucket,
        |  (1 + (monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |     + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT) AS m_bucket,
        |  (1 + (r_day > rc[1])::BIGINT + (r_day > rc[2])::BIGINT
        |     + (r_day > rc[3])::BIGINT + (r_day > rc[4])::BIGINT) * 100
        |  + (1 + (frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |     + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT) * 10
        |  + (1 + (monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |     + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT) AS rfm
        |FROM pc CROSS JOIN cuts""".stripMargin,
    "ev_user_ltv" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |)
        |SELECT user_id, min(ts_ms) AS first_ts_ms, max(ts_ms) AS last_ts_ms,
        |  count(DISTINCT ts_ms // 86400000) AS active_days,
        |  count(*) AS n_events,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS ltv
        |FROM e GROUP BY 1""".stripMargin,
    // the four rules unpivoted from one ranked journey table; floor
    // shares with pinned remainder placement; untouched purchases fold
    // to 'direct' at full credit; zero-credit rows dropped both sides
    "cs_attribution_rules" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_ms(ts::TIMESTAMP) AS ts_ms
        |  FROM events
        |), p AS (
        |  SELECT user_id, event_id AS pid, ts_ms AS pts
        |  FROM e WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, event_id AS tid, ts_ms AS tts, event_type AS channel
        |  FROM e WHERE event_type <> 'purchase'
        |), j AS (
        |  SELECT p.pid, t.channel, t.tts, t.tid
        |  FROM p JOIN t USING (user_id)
        |  WHERE t.tts < p.pts AND t.tts >= p.pts - 86400000
        |), r AS (
        |  SELECT pid, channel,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid)::BIGINT AS k,
        |    count(*) OVER (PARTITION BY pid)::BIGINT AS n
        |  FROM j
        |), c AS (
        |  SELECT 'first' AS rule, channel,
        |    (CASE WHEN k = 1 THEN 10000 ELSE 0 END)::BIGINT AS credit FROM r
        |  UNION ALL
        |  SELECT 'last', channel,
        |    (CASE WHEN k = n THEN 10000 ELSE 0 END)::BIGINT FROM r
        |  UNION ALL
        |  SELECT 'linear', channel,
        |    ((10000 // n)
        |      + CASE WHEN k = n THEN 10000 - n * (10000 // n) ELSE 0 END)::BIGINT
        |  FROM r
        |  UNION ALL
        |  SELECT 'ushaped', channel,
        |    (CASE WHEN n = 1 THEN 10000
        |          WHEN n = 2 THEN 5000
        |          WHEN k = 1 THEN 4000
        |          WHEN k = n THEN 4000
        |          ELSE (2000 // (n - 2))
        |            + CASE WHEN k = n - 1
        |                   THEN 2000 - (n - 2) * (2000 // (n - 2)) ELSE 0 END
        |     END)::BIGINT
        |  FROM r
        |), d AS (
        |  SELECT count(*)::BIGINT AS nd FROM p
        |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.pid = p.pid)
        |), dc AS (
        |  SELECT rule, 'direct' AS channel, ((SELECT nd FROM d) * 10000)::BIGINT AS credit
        |  FROM (SELECT unnest(['first', 'last', 'linear', 'ushaped']) AS rule)
        |)
        |SELECT rule, channel, sum(credit)::BIGINT AS credit_e4
        |FROM (SELECT * FROM c UNION ALL SELECT * FROM dc)
        |GROUP BY 1, 2 HAVING sum(credit) > 0""".stripMargin,
    // NULL last_touch_ts (no preceding touch) falls through to 'direct',
    // matching Spark's when().otherwise() null semantics
    "cs_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id
        |  FROM events
        |), t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER w AS last_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts_ms END IGNORE NULLS)
        |      OVER w AS last_touch_ts
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT CASE WHEN last_touch_ts >= ts_ms - 86400000 THEN last_touch
        |            ELSE 'direct' END AS channel,
        |  count(*) AS n_purchases, round(sum(value), 2) AS sum_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    // counts are non-negative, so DuckDB's truncating `//` IS floor here
    "ev_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
        |), p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type
        |  FROM e
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n_transitions,
        |  ((n_transitions * 10000) // (sum(n_transitions) OVER (PARTITION BY from_type)))::BIGINT AS share_e4
        |FROM c""".stripMargin,
    // per-state conditional entropy over the transition matrix: each term
    // rounds -p·log2(p)·1e6 to the integer grid before summing (the
    // cs_user_entropy quantize-then-sum contract), weights and contrib
    // are pure integer floors of already-quantized values
    "ev_markov_entropy" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_id FROM events
        |), pr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type
        |  FROM e
        |), c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n FROM pr
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |), o AS (
        |  SELECT from_type, n, (sum(n) OVER (PARTITION BY from_type))::BIGINT AS n_out FROM c
        |), h AS (
        |  SELECT from_type, max(n_out)::BIGINT AS n_out, count(*)::BIGINT AS n_targets,
        |    sum(round(-(n::DOUBLE / n_out) * log2(n::DOUBLE / n_out) * 1000000)::BIGINT)::BIGINT AS h_bits_e6
        |  FROM o GROUP BY 1
        |), t AS (
        |  SELECT from_type, n_out, n_targets, h_bits_e6,
        |    (sum(n_out) OVER ())::BIGINT AS nn
        |  FROM h
        |), g AS (
        |  SELECT from_type, n_out, n_targets,
        |    (n_out * 1000000 // nn)::BIGINT AS pi_e6, h_bits_e6
        |  FROM t
        |)
        |SELECT from_type, n_out, n_targets, pi_e6, h_bits_e6,
        |  (pi_e6 * h_bits_e6 // 1000000)::BIGINT AS contrib_e6
        |FROM g""".stripMargin,
    "ev_segment_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS seg, user_id AS id FROM events),
        |s AS (SELECT seg, count(*) AS n FROM tu GROUP BY 1),
        |p AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_common
        |  FROM tu a JOIN tu b ON a.id = b.id AND a.seg < b.seg
        |  GROUP BY 1, 2
        |)
        |SELECT seg_a, seg_b, sa.n AS n_a, sb.n AS n_b, n_common,
        |  (n_common * 10000) // (sa.n + sb.n - n_common) AS jaccard_e4
        |FROM p JOIN s sa ON p.seg_a = sa.seg JOIN s sb ON p.seg_b = sb.seg""".stripMargin,
    "ev_hour_profile" ->
      """WITH e AS (
        |  SELECT event_type, (((epoch_ms(ts::TIMESTAMP) % 86400000) + 86400000) % 86400000) // 3600000 AS hour FROM events
        |), c AS (
        |  SELECT event_type, hour, count(*) AS n_events FROM e GROUP BY 1, 2
        |)
        |SELECT event_type, hour, n_events,
        |  ((n_events * 10000) // (sum(n_events) OVER (PARTITION BY event_type)))::BIGINT AS share_e4
        |FROM c""".stripMargin,
    // bin arithmetic mirrors Profile.histogram operation-for-operation so
    // the doubles are bit-identical; the max value closes into bin 9
    "ev_histogram" ->
      """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
        |SELECT event_type,
        |  CASE WHEN hi > lo
        |       THEN least(floor((value - lo) * 10.0 / (hi - lo))::BIGINT, 9)
        |       ELSE 0 END AS bin,
        |  count(*) AS n_events
        |FROM events CROSS JOIN b
        |GROUP BY 1, 2""".stripMargin,
    "ev_rolling_daily" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ms(ts::TIMESTAMP) // 86400000 AS day FROM events
        |), d AS (
        |  SELECT event_type, day, count(*) AS n_events FROM e GROUP BY 1, 2
        |)
        |SELECT event_type, day, n_events,
        |  (sum(n_events) OVER w)::BIGINT AS rolling_n,
        |  (count(*) OVER w)::BIGINT AS rolling_days,
        |  (((sum(n_events) OVER w) * 10000) // (count(*) OVER w))::BIGINT AS rolling_avg_e4
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
  )
}
