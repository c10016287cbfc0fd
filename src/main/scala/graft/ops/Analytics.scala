package graft.ops

import graft.Cols
import graft.Cols.dec38
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics operators over the event stream: funnel progression
  * and cohort retention — the two reports every clickstream deployment
  * ends up building on top of sessionization.
  */
object Analytics {

  /** Ordered funnel: how many users progress through `stages` IN ORDER
    * (each stage strictly after their entry into the previous one —
    * min-time semantics: the earliest qualifying event per stage), with an
    * optional conversion window: every later stage must land within
    * `withinMs` of the user's FUNNEL ENTRY (their stage-1 time) — the
    * product-analytics "converted within 24 h" report. Output: one row per
    * stage (stage_idx, stage, n_users), n_users monotonically
    * non-increasing.
    *
    * Scale: stage k is a hash aggregate over the events of one type,
    * semi-restricted by the (shrinking) stage-(k-1) user set — a chain of
    * |stages| aggregates and joins where the joined side only ever
    * shrinks; AQE broadcasts it as soon as it fits. The per-stage counts
    * are 1-row aggregates unioned at the end — no driver actions, the
    * whole funnel is one lazy plan.
    */
  def funnel(
      events: DataFrame,
      stages: Seq[String],
      withinMs: Option[Long] = None): DataFrame =
    reachedStages(events, stages, withinMs).zip(stages).zipWithIndex
      .map { case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(
            lit((i + 1).toLong).as("stage_idx"),
            lit(stage).as("stage"),
            col("n_users"))
      }
      .reduce(_.union(_))

  /** reached(k): users with their earliest valid stage-k timestamp `__t`
    * and their funnel entry time `__t0` (the deadline anchor) — the
    * shared chain under [[funnel]] and [[funnelLatency]].
    */
  private def reachedStages(
      events: DataFrame,
      stages: Seq[String],
      withinMs: Option[Long]): Seq[DataFrame] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (stage, _)) =>
        val candidates = events.filter(col("event_type") === stage)
        val qualified = prev match {
          case None => candidates.withColumn("__t0_src", col("ts_ms"))
          case Some(p) =>
            val deadline = withinMs
              .map(w => col("ts_ms") <= col("__t0") + lit(w))
              .getOrElse(lit(true))
            candidates
              .join(p.select(col("user_id"), col("__t").as("__prev_t"), col("__t0")), "user_id")
              .filter(col("ts_ms") > col("__prev_t") && deadline)
              .withColumn("__t0_src", col("__t0"))
        }
        Some(
          qualified
            .groupBy(col("user_id"))
            .agg(min(col("ts_ms")).as("__t"), min(col("__t0_src")).as("__t0")))
    }.flatten
  }

  /** Stage-to-stage funnel latency: for each consecutive stage pair, the
    * distribution of `entry(stage k) − entry(stage k−1)` over the users
    * who reached stage k — the "where does the funnel stall" companion to
    * [[funnel]]'s pure counts. Entry times are the same earliest-valid
    * semantics as the funnel itself (strictly ordered, deadline-checked),
    * so n_users here equals funnel's count for that stage.
    *
    * Scale: reuses the funnel's shrinking per-stage user aggregates; each
    * pair adds one user-keyed join of adjacent (already tiny) stage
    * tables and a 1-row stats aggregate. Exact percentiles swap for
    * approx_percentile at 100 TB user counts.
    */
  def funnelLatency(
      events: DataFrame,
      stages: Seq[String],
      withinMs: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, "funnel latency needs at least two stages")
    val reached = reachedStages(events, stages, withinMs)
    reached.zip(reached.tail).zip(stages.tail).zipWithIndex
      .map { case (((prevDf, curDf), stage), i) =>
        curDf.select(col("user_id"), col("__t"))
          .join(prevDf.select(col("user_id"), col("__t").as("__pt")), "user_id")
          .select((col("__t") - col("__pt")).as("__gap"))
          .agg(
            count(lit(1)).as("n_users"),
            min(col("__gap")).as("min_gap_ms"),
            round(expr("percentile(__gap, 0.5)"), 4).as("p50_gap_ms"),
            round(expr("percentile(__gap, 0.95)"), 4).as("p95_gap_ms"),
            max(col("__gap")).as("max_gap_ms"))
          .select(
            lit((i + 2).toLong).as("stage_idx"), lit(stage).as("stage"),
            col("n_users"), col("min_gap_ms"), col("p50_gap_ms"),
            col("p95_gap_ms"), col("max_gap_ms"))
      }
      .reduce(_.union(_))
  }

  /** Deterministic A/B experiment readout: users split into two arms by a
    * salted 60-bit md5 hash (`arm = h60('ab:' || user_id) % 2`), and for
    * every event type the two-proportion z-test of "user did ≥1 such
    * event". Emits arm sizes, converter counts, e4 rates, and z² computed
    * EXACTLY as `(ka·nb − kb·na)²·n·10⁴ / (na·nb·k·(n−k))` in
    * DECIMAL(38,0) — the squared numerator passes int64 at cluster-scale
    * user counts, the same hazard [[TimeSeries.trendSlope]] documents.
    * z² ≥ 38416 e4 (3.84) ⇔ p < 0.05 two-sided. Degenerate splits
    * (k = 0, k = n, or an empty arm) emit NULL z².
    *
    * Scale: one distinct-user aggregate (map-side combined), one
    * per-(type, arm) distinct aggregate, and a 1-row broadcast of arm
    * totals folded into the plan — nothing grows with the event count.
    */
  def abLift(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val totals = broadcast(
      events.select(col("user_id")).distinct()
        .select(arm.as("__arm"))
        .agg(
          sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b")))
    val k = col("k_a") + col("k_b")
    val n = col("n_a") + col("n_b")
    val num = {
      val diff = dec38(col("k_a")) * dec38(col("n_b")) - dec38(col("k_b")) * dec38(col("n_a"))
      diff * diff * dec38(n) * dec38(lit(10000L))
    }
    val den = dec38(col("n_a")) * dec38(col("n_b")) * dec38(k) * dec38(n - k)
    events.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), arm.as("__arm"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("k_a"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("k_b"))
      .crossJoin(totals)
      .select(
        col("event_type"), col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        when(col("n_a") > 0, Cols.floorDiv(col("k_a") * 10000L, col("n_a")))
          .as("rate_a_e4"),
        when(col("n_b") > 0, Cols.floorDiv(col("k_b") * 10000L, col("n_b")))
          .as("rate_b_e4"),
        // numerator is a perfect square (≥ 0), so truncation == floor
        when(den =!= 0, Cols.floorDiv(num, den).cast("long")).as("z2_e4"))
  }

  /** CUPED variance-reduced experiment means — the third member of the
    * experimentation family after [[abLift]] (rates) and
    * [[Stats.mannWhitney]] (distributions): each user's PRE-period spend
    * (whole dollars before the in-plan midpoint day, the
    * [[recommendEval]] split) is the covariate x, the POST-period spend
    * the outcome y, and the pooled regression slope
    * `θ_e6 = ⌊(n·Σxy − Σx·Σy)·10⁶ / (n·Σx² − (Σx)²)⌋` adjusts each
    * arm's mean: `adj = ȳ_arm − θ(x̄_arm − x̄)`. Pre-period behavior is
    * orthogonal to treatment by construction, so the adjustment removes
    * covariate imbalance without bias — the standard sensitivity boost
    * every experimentation platform applies before reading a revenue
    * metric. All moments run in 38-digit decimals (the [[abLift]]
    * discipline — Σxy at 10⁹ users of 10⁴ dollars wraps int64), floors
    * are exact, outputs are signed e4/e6 longs.
    *
    * Scale: one pass to per-user (x, y) — a hash aggregate on the user
    * key — then a 1-row global moment aggregate (broadcast) and a 2-row
    * per-arm aggregate; nothing beyond the user collapse touches data
    * size.
    */
  def cuped(events: DataFrame): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    val day = Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs)
    val cut = broadcast(events.agg(
      Cols.floorDiv(min(day) + max(day), 2L).as("__cut")))
    val ux = events
      .crossJoin(cut)
      .select(
        col("user_id"),
        when(day <= col("__cut"), round(col("value") * 100).cast("long"))
          .otherwise(0L).as("__xc"),
        when(day > col("__cut"), round(col("value") * 100).cast("long"))
          .otherwise(0L).as("__yc"))
      .groupBy(col("user_id"))
      .agg(
        Cols.floorDiv(sum(col("__xc")), 100L).as("x"),
        Cols.floorDiv(sum(col("__yc")), 100L).as("y"))
      .select(arm.as("__arm"), col("x"), col("y"))
    val g = broadcast(ux.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(dec38(col("x")) * dec38(col("y"))).as("sxy"),
      sum(dec38(col("x")) * dec38(col("x"))).as("sxx")))
    val sxxc = dec38(col("n")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
    val thetaE6 = when(sxxc =!= 0,
      Cols.floorDiv(
        (dec38(col("n")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))) * dec38(lit(1000000L)),
        sxxc).cast("long"))
    val xMeanE4 = Cols.floorDiv(col("sxa") * 10000L, col("n_users"))
    val dxE4 = xMeanE4 - Cols.floorDiv(col("sx") * 10000L, col("n"))
    ux.groupBy(col("__arm").as("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("x")).as("sxa"),
        sum(col("y")).as("sya"))
      .crossJoin(g)
      .select(
        col("arm"), col("n_users"),
        xMeanE4.as("x_mean_e4"),
        Cols.floorDiv(col("sya") * 10000L, col("n_users")).as("y_mean_e4"),
        thetaE6.as("theta_e6"),
        (Cols.floorDiv(col("sya") * 10000L, col("n_users"))
          // theta_e6 * dx_e4 can exceed int64 for a pathological slope
          // (tiny Sxx under a large Sxy): widen to decimal(38,0) like the
          // moment sums so the product can't wrap before the final floor.
          - Cols.floorDiv(dec38(thetaE6) * dec38(dxE4), dec38(lit(1000000L)))).as("adj_mean_e4"))
  }

  /** Cohort retention: users grouped by the day of their first-ever event
    * (the cohort), counted on each subsequent day they were active.
    * Output: (cohort_day, day_offset, n_users) — the classic retention
    * triangle, in epoch days.
    *
    * Scale: one hash aggregate for the cohort map (user → first day,
    * map-side combined) joined back onto the events — at 100 TB the
    * cohort map is |users| rows, orders below the event count, and the
    * join key is the aggregation key so the shuffle is shared. The final
    * distinct-count collapses (user, cohort, offset) duplicates first —
    * partial aggregation does most of that work map-side.
    */
  def retention(events: DataFrame): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs)
    val cohorts = events
      .groupBy(col("user_id"))
      .agg(min(day).as("cohort_day"))
    events
      .select(col("user_id"), day.as("day"))
      .join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** Kaplan–Meier survival curve of user LIFETIME (days from first to
    * last event) with right-censoring handled properly — the estimator
    * [[retention]]'s cohort shares approximate and [[retentionHalflife]]
    * parameterizes: a user whose last event is within `inactiveDays` of
    * the observation edge has not demonstrably churned, and treating
    * them as dead biases every survival share down. KM counts them
    * at-risk until their censoring time and no further. The
    * product-limit fold is exact integers: at each distinct lifetime t,
    * `S ← ⌊S · (n_t − d_t) / n_t⌋` in e6, with the at-risk count n_t
    * carried in the fold state (start = all users, minus churned and
    * censored as t advances) — no window, no driver loop.
    *
    * Scale: one user-keyed aggregate (first/last day) against a 1-row
    * max-day broadcast, then ONE 1-row fold over the sorted
    * |lifetimes|-array — bounded by the calendar span, not the user
    * count — posexploded back to |lifetimes| rows. The oracle replays
    * the fold as a recursive CTE over lifetime ranks (the ev_holt walk).
    */
  def survivalKm(events: DataFrame, inactiveDays: Long = 30L): DataFrame = {
    val day = Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs)
    val users = events
      .groupBy(col("user_id"))
      .agg(min(day).as("__first"), max(day).as("__last"))
    val maxDay = broadcast(events.agg(max(day).as("__maxd")))
    val lifetimes = users.crossJoin(maxDay)
      .select(
        (col("__last") - col("__first")).as("__t"),
        (col("__maxd") - col("__last") >= inactiveDays).as("__churned"))
      .groupBy(col("__t"))
      .agg(
        sum(when(col("__churned"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__churned"), 0L).otherwise(1L)).as("__c"))
    val oneRow = lifetimes.agg(
      sum(col("__d") + col("__c")).as("__n0"),
      sort_array(collect_list(struct(col("__t"), col("__d"), col("__c")))).as("__arr"))
    val zero = struct(
      lit(1000000L).as("s"), col("__n0").as("rem"),
      array().cast("array<struct<t:bigint,n_risk:bigint,d:bigint,c:bigint,surv:bigint>>")
        .as("rows"))
    val folded = aggregate(
      col("__arr"), zero,
      (acc, x) => {
        val d = x.getField("__d")
        val s2 = Cols.floorDiv(
          acc.getField("s") * (acc.getField("rem") - d), acc.getField("rem"))
        struct(
          s2.as("s"),
          (acc.getField("rem") - d - x.getField("__c")).as("rem"),
          concat(acc.getField("rows"), array(struct(
            x.getField("__t").as("t"), acc.getField("rem").as("n_risk"),
            d.as("d"), x.getField("__c").as("c"), s2.as("surv")))).as("rows"))
      })
    oneRow
      .select(explode(folded.getField("rows")).as("__r"))
      .select(
        col("__r.t").as("t_days"), col("__r.n_risk").as("n_risk"),
        col("__r.d").as("n_churned"), col("__r.c").as("n_censored"),
        col("__r.surv").as("surv_e6"))
  }

  /** Exponential-decay fit of the blended retention curve — the
    * growth-model constant behind "what's our half-life": retention is
    * near-exponential in the day offset, so a robust line through
    * (offset, ln rate) gives the decay slope and the user half-life in
    * days. Censoring is handled exactly: offset d's denominator counts
    * only cohorts OLD ENOUGH to be observed at d (`cohort_day + d ≤ max
    * day`), so young cohorts never read as churn. The fit is the
    * [[graft.text.TextAnalysis.heapsFit]] exact-integer Theil–Sen: logs
    * quantize to e6 first, slopes are integer ratios over the ≤
    * C(|offsets|,2) pairs, the estimate is the lower median, and
    * `half_life_days_e4 = ⌊ln2·1e10 / −slope⌋` (null on a non-decaying
    * curve).
    *
    * Scale: rides [[retention]] (one user-keyed aggregate); everything
    * after is |offsets|-row — the censored denominators are a second
    * |cohorts|-row aggregate against a 1-row max-day broadcast, and the
    * pair join is the declared bounded ev_theil_sen class.
    */
  def retentionHalflife(events: DataFrame): DataFrame = {
    val r = retention(events)
    val maxDay = events.agg(
      max(Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs)).as("__maxd"))
    val sizes = r.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("__size"))
    // offsets 1.. with exact censored denominators
    val offsets = r.filter(col("day_offset") > 0)
      .groupBy(col("day_offset")).agg(sum(col("n_users")).as("__ret"))
    val denoms = sizes
      .crossJoin(broadcast(maxDay))
      .join(offsets.select(col("day_offset")),
        col("cohort_day") + col("day_offset") <= col("__maxd"))
      .groupBy(col("day_offset")).agg(sum(col("__size")).as("__den"))
    val pts = offsets.join(denoms, "day_offset")
      .filter(col("__ret") > 0 && col("__den") > 0)
      .select(
        col("day_offset").as("__d"),
        round(
          log(col("__ret").cast("double") / col("__den").cast("double")) * 1000000)
          .cast("long").as("__lr"))
    val slopes = pts.select(col("__d").as("__d1"), col("__lr").as("__lr1"))
      .join(pts.select(col("__d").as("__d2"), col("__lr").as("__lr2")),
        col("__d1") < col("__d2"))
      .select(Cols.floorDiv(col("__lr2") - col("__lr1"), col("__d2") - col("__d1")).as("__s"))
    val beta = slopes.agg(
      count(lit(1)).as("n_pairs"), Cols.lowerMedian(col("__s")).as("slope_e6"))
    pts.agg(count(lit(1)).as("n_offsets"))
      .crossJoin(broadcast(beta))
      .select(
        col("n_offsets"), col("n_pairs"), col("slope_e6"),
        when(col("slope_e6") < 0,
          Cols.floorDiv(lit(6931471806L), -col("slope_e6"))) // round(ln2·1e10)
          .otherwise(lit(null).cast("long")).as("half_life_days_e4"))
  }

  /** Retention curve summary: one row per cohort with its size and the
    * D1/D7/D14-style retained shares in exact integer e4 — the
    * growth-dashboard rollup of the full [[retention]] triangle. A
    * cohort too young for an offset (or with zero actives that day)
    * reports 0.
    *
    * Scale: pivots the |cohorts| × |offsets| retention table, never the
    * raw events — the conditional max-pivot is a second tiny aggregate.
    */
  def retentionSummary(events: DataFrame, days: Seq[Int] = Seq(1, 7, 14)): DataFrame = {
    require(days.nonEmpty && days.forall(_ > 0))
    val r = retention(events)
    val picks =
      max(when(col("day_offset") === 0, col("n_users"))).as("cohort_size") +:
        days.map(d => max(when(col("day_offset") === d, col("n_users"))).as(s"__d$d"))
    r.groupBy(col("cohort_day"))
      .agg(picks.head, picks.tail: _*)
      .select(
        col("cohort_day") +: col("cohort_size") +:
          days.map(d =>
            graft.Cols.floorDiv(coalesce(col(s"__d$d"), lit(0L)) * 10000, col("cohort_size"))
              .as(s"d${d}_e4")): _*)
  }

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's time-ordered event sequence, count consecutive (from → to)
    * pairs, with the per-from-type share in exact integer ten-thousandths.
    * Output: (from_type, to_type, n_transitions, share_e4).
    *
    * Scale: one window over (user_id) — the same shuffle key as
    * sessionization, so a pre-partitioned/bucketed event table reuses the
    * exchange — then a hash aggregate onto the tiny |types|² matrix. The
    * share window runs over that matrix, not the events. Counts are
    * non-negative so integral division is exact floor.
    */
  def transitions(events: DataFrame): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val byFrom = Window.partitionBy(col("from_type"))
    events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(seq))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn(
        "share_e4",
        Cols.floorDiv(col("n_transitions") * 10000, sum(col("n_transitions")).over(byFrom)))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("share_e4"))
  }

  /** Pairwise audience overlap between segments: for every unordered pair
    * of `segCol` values, the distinct-`idCol` intersection size and exact
    * Jaccard in integer ten-thousandths. Pairs with an empty intersection
    * are absent (inner-join semantics — at scale most pairs of a
    * high-cardinality segmentation never meet, and emitting the cross
    * product of segments would be its own blow-up).
    *
    * Scale: the distinct (seg, id) table shuffles once on id for the
    * self-join; per-id fan-out is the id's segment count (bounded by
    * |segments|, typically ≤ tens). Segment sizes are a tiny aggregate
    * broadcast onto the pair counts.
    */
  def segmentOverlap(events: DataFrame, segCol: String = "event_type", idCol: String = "user_id"): DataFrame = {
    val tu = events.select(col(segCol).as("seg"), col(idCol).as("id")).distinct()
    val sizes = tu.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    tu.select(col("seg").as("seg_a"), col("id"))
      .join(tu.select(col("seg").as("seg_b"), col("id")), "id")
      .filter(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("seg").as("seg_a"), col("n").as("n_a"))), "seg_a")
      .join(broadcast(sizes.select(col("seg").as("seg_b"), col("n").as("n_b"))), "seg_b")
      .select(
        col("seg_a"), col("seg_b"), col("n_a"), col("n_b"), col("n_common"),
        Cols.floorDiv(col("n_common") * 10000, col("n_a") + col("n_b") - col("n_common"))
          .as("jaccard_e4"))
  }

  /** MinHash audience-overlap sketch with its accuracy readout — the
    * sketch that answers [[segmentOverlap]]'s question at 100 TB without
    * ever joining user sets: per segment a k-position signature
    * (positional mins of seeded md5 hashes — deterministic, so unlike
    * production MinHash this one is fully oracled), estimated Jaccard =
    * matching positions / k, reported NEXT TO the exact Jaccard so the
    * error is visible per pair (the Count-Min discipline applied to set
    * overlap; expected |err| ≈ 1/√k ≈ 0.125 e0 at k=64).
    *
    * Scale: signatures are ONE map-side-combined aggregate (k scalar
    * mins — the [[graft.dedup.Dedup.minhashSignatures]] shape, never an
    * array re-evaluated per position) to |segments| rows; the pair join
    * runs on signatures alone. The exact side exists here only as the
    * diagnostic; production drops it and keeps the k-long sketch.
    */
  def segmentMinhash(events: DataFrame, k: Int = 64): DataFrame = {
    // daily audiences as the segments: day-over-day Jaccard is the
    // returning-audience readout (event-type segments fully overlap on
    // this corpus — every user does every type — a degenerate diagnostic)
    val withSeg = events.withColumn(
      "__seg", Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs))
    val tu = withSeg
      .select(col("__seg").as("seg"), col("user_id").as("id")).distinct()
    val mins = (0 until k).map(i => min(Cols.hash60(i, col("id"))).as(s"m$i"))
    val sig = tu.groupBy(col("seg"))
      .agg(mins.head, mins.tail: _*)
      .select(col("seg"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .localCheckpoint() // referenced twice by the pair join below
    val est = sig.as("a").join(sig.as("b"), col("a.seg") < col("b.seg"))
      .select(
        col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
        expr("aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("n_match"))
      .withColumn("est_jaccard_e4", Cols.floorDiv(col("n_match") * 10000L, k.toLong))
    est
      .join(segmentOverlap(withSeg, "__seg", "user_id").select(
        col("seg_a"), col("seg_b"), col("jaccard_e4").as("__exact")),
        Seq("seg_a", "seg_b"), "left")
      .select(
        col("seg_a"), col("seg_b"), col("n_match"), col("est_jaccard_e4"),
        coalesce(col("__exact"), lit(0L)).as("exact_jaccard_e4"),
        (col("est_jaccard_e4") - coalesce(col("__exact"), lit(0L))).as("err_e4"))
  }

  /** The size-capped DISTINCT item set per group as ONE group-keyed
    * aggregate: `(grp, __items sorted distinct array)`, groups over
    * `maxSize` distinct items dropped whole. Items must be non-null:
    * `collect_set` drops nulls before the size cap, while the oracles'
    * `QUALIFY count(*) OVER (PARTITION BY grp)` counts them, so a group
    * with null items could pass the cap here and be dropped there. ONE
    * exchange instead of three plan layers (the r15 shape paid a
    * (grp,item)-keyed distinct exchange, then a grp-keyed window
    * sort+count, then fed a grp-keyed self-join; `collect_set` dedups in
    * the partial aggregate map-side, the size filter replaces the window,
    * and [[sortedPairs]] replaces the self-join with an in-row explode).
    * One group is one row, so a pathological 10⁷-item basket concentrates
    * in one task exactly as it did in the window formulation — the cap
    * discards it either way before any pair fan-out.
    */
  private[ops] def groupedItemSets(
      df: DataFrame, group: Column, item: Column, maxSize: Int): DataFrame =
    df.select(group.as("grp"), item.as("item"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_set(col("item"))).as("__items"))
      .filter(size(col("__items")) <= maxSize)

  /** All `item_a < item_b` pairs of a SORTED distinct array, as structs —
    * the in-row form of the grp-keyed pair self-join. Total: an array of
    * fewer than two items gives no pairs. `sequence(1, n - 1)` alone would
    * count DOWN for n < 2 (it infers step -1, the
    * [[graft.Cols.charGramsOfChars]] contract note), so the outer index
    * range is `sequence(1, n)` with `i < n` kept.
    */
  private[graft] def sortedPairs(items: Column): Column =
    flatten(transform(
      filter(sequence(lit(1), size(items)), i => i < size(items)),
      i => transform(
        sequence(i + 1, size(items)),
        j => struct(
          element_at(items, i).as("item_a"),
          element_at(items, j).as("item_b")))))

  /** One `(item_a, item_b)` row per pair of the sorted distinct array
    * `items` ([[sortedPairs]] exploded), each row keeping its source
    * row's `carry` columns.
    */
  private[ops] def pairRows(df: DataFrame, items: Column, carry: String*): DataFrame =
    df.select(carry.map(col) :+ explode(sortedPairs(items)).as("__p"): _*)
      .select(Seq(col("__p.item_a").as("item_a"), col("__p.item_b").as("item_b")) ++
        carry.map(col): _*)

  /** Generic co-occurrence mining (market-basket pairs): for every pair
    * of distinct items sharing a group (an order, a session, a document),
    * the pair count, each item's group count, and the exact integer-e4
    * lift `P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)`. Pairs below
    * `minPairCount` are dropped — the long random-co-occurrence tail is
    * noise and would dominate the output.
    *
    * Scale: ONE group-keyed aggregate ([[groupedItemSets]]) collects each
    * group's sorted distinct item set. The per-group fan-out is
    * C(basket, 2), so `maxGroupSize` DROPS groups above the cap (one
    * 10⁵-item reseller basket is a 10¹⁰-row explode) BEFORE any counting
    * — item counts, the group total, and the pair counts all see the
    * same capped universe, and every oracle mirrors the cap as a
    * `QUALIFY` filter (the `Dedup.MaxShingleDf` discipline). Pairs explode
    * in-row from each set ([[pairRows]]), so no group-keyed self-join
    * runs. The item-count table is vocabulary-sized, so it joins
    * PLAIN (AQE broadcasts it exactly when it fits — a hard hint here
    * would OOM on a 10⁷-item vocabulary); only the 1-row group total
    * carries a broadcast hint. Lift arithmetic runs in 38-digit decimals:
    * `n_ab · N · 10⁴` exceeds 2⁶³ once groups reach ~10¹⁰, where a
    * silent Long wrap would emit garbage AND diverge from the oracle's
    * HUGEINT.
    */
  def coOccurrence(
      df: DataFrame, groupCol: String, itemCol: String, minPairCount: Long = 2L,
      maxGroupSize: Int = 1000): DataFrame = {
    // one grp-keyed aggregate feeds everything: pair explode, item
    // counts, group total (r16: the distinct+window+self-join formulation
    // cost two extra exchanges and a per-group sort on every one of the
    // ~18 basket-graph consumers; output identical — oracle-green 3 SFs)
    val grouped = groupedItemSets(df, col(groupCol), col(itemCol), maxGroupSize)
    val gi = grouped.select(col("grp"), explode(col("__items")).as("item"))
    val itemCounts = gi.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val total = grouped.agg(count(lit(1)).as("__n_groups"))
    pairRows(grouped, col("__items"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
      .join(itemCounts.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(itemCounts.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .crossJoin(broadcast(total))
      .select(
        col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        Cols.floorDiv(
          dec38(col("n_ab")) * col("__n_groups") * 10000,
          dec38(col("n_a")) * col("n_b"))
          .cast("long").as("lift_e4"))
  }

  /** Co-occurrence recommender ("users who bought X also bought"): for
    * each user, the top-k items they DON'T own, scored by the strongest
    * lift between any owned item and the candidate (max-lift semantics —
    * one strong association beats many weak ones), ties broken by item.
    * Built directly on [[coOccurrence]]'s pair table.
    *
    * Scale: the pair table is vocabulary², already thresholded by
    * `minPairCount`; expanding it symmetrically and joining on the owned
    * (user, item) set shuffles on item — candidates per user are bounded
    * by owned × pairs-per-item. The anti-join against owned items and the
    * per-user top-k window run on that candidate set only.
    */
  def recommendFromCoOccurrence(
      userItems: DataFrame, pairs: DataFrame, k: Int = 3): DataFrame = {
    val sym = bothWays(pairs, "item_a", "item_b", "item", "cand", col("lift_e4"))
    val owned = userItems.select(col("usr"), col("item")).distinct()
    val scored = owned
      .join(sym, "item")
      .join(
        owned.select(col("usr"), col("item").as("cand"), lit(1L).as("__owned")),
        Seq("usr", "cand"), "left")
      .filter(col("__owned").isNull)
      .groupBy(col("usr"), col("cand"))
      .agg(max(col("lift_e4")).as("score_e4"), count(lit(1)).as("n_paths"))
    val topk = Window.partitionBy(col("usr")).orderBy(col("score_e4").desc, col("cand"))
    scored
      .withColumn("rank", row_number().over(topk).cast("long"))
      .filter(col("rank") <= k)
      .select(col("usr"), col("cand"), col("score_e4"), col("n_paths"), col("rank"))
  }

  /** Temporal backtest of the co-occurrence recommender — the honest
    * eval every "also bought" deployment needs: orders split at the
    * calendar MIDPOINT day (an exact integer `⌊(min+max)/2⌋` broadcast
    * in-plan — deterministic, no percentile), the pair table and user
    * assortments are built from the TRAIN half only, top-k
    * recommendations are scored against what users actually bought in
    * the TEST half. One row: the split day, users scored, recs issued,
    * hits, precision@k in e4, and distinct users with ≥1 hit. Guards
    * leakage by construction — test purchases never touch the pair
    * table, the eval twin of [[recommendFromCoOccurrence]].
    *
    * Scale: two date-filtered passes over the same join lineage as the
    * production recommender; scoring is a membership join on (user,
    * item) over the k·|users| rec table.
    */
  def recommendEval(orders: DataFrame, lineitem: DataFrame, k: Int = 3): DataFrame = {
    val withDay = orders.select(
      col("o_orderkey"), col("o_custkey"),
      Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), TimeSeries.DayMs)
        .as("__day"))
    val cut = broadcast(withDay.agg(
      Cols.floorDiv(min(col("__day")) + max(col("__day")), 2L).as("cut_day")))
    val dated = withDay.crossJoin(cut)
    val trainOrders = dated.filter(col("__day") <= col("cut_day"))
    val testOrders = dated.filter(col("__day") > col("cut_day"))
    val trainLi = lineitem.join(
      trainOrders.select(col("o_orderkey").as("l_orderkey")), "l_orderkey", "left_semi")
    val trainUserItems = trainOrders
      .join(lineitem, trainOrders("o_orderkey") === lineitem("l_orderkey"))
      .select(col("o_custkey").as("usr"), col("l_partkey").as("item"))
    val recs = recommendFromCoOccurrence(
      trainUserItems, coOccurrence(trainLi, "l_orderkey", "l_partkey"), k)
    val future = testOrders
      .join(lineitem, testOrders("o_orderkey") === lineitem("l_orderkey"))
      .select(col("o_custkey").as("usr"), col("l_partkey").as("cand"))
      .distinct()
    recs
      .join(future.withColumn("__hit", lit(1L)), Seq("usr", "cand"), "left")
      .agg(
        count_distinct(col("usr")).as("n_users"),
        count(lit(1)).as("n_recs"),
        count(col("__hit")).as("n_hits"),
        count_distinct(when(col("__hit").isNotNull, col("usr"))).as("n_hit_users"))
      .crossJoin(cut)
      .select(
        col("cut_day"), col("n_users"), col("n_recs"), col("n_hits"),
        when(col("n_recs") > 0,
          Cols.floorDiv(col("n_hits") * 10000L, col("n_recs"))).as("precision_e4"),
        col("n_hit_users"))
  }

  /** RFM segmentation over an order history: per customer, recency (last
    * order day), frequency (order count), monetary (rounded spend), each
    * bucketed into quintiles 1..5 by comparison against the four 20/40/
    * 60/80 percentile cuts, plus the composite `rfm = r·100 + f·10 + m`.
    *
    * Scale: the cuts are ONE broadcast 1-row aggregate compared against
    * in a map-only pass — NOT a global `ntile()` window, which would
    * funnel every customer through a single partition at 100 TB. The
    * bucket is `1 + Σ (metric > cutᵢ)`, so ties land deterministically in
    * the lower bucket on both engines.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(
        // parquet timestamps read as TIMESTAMP_NTZ — cast to instant first
        max(Cols.floorDiv(unix_millis(col("o_orderdate").cast("timestamp")), TimeSeries.DayMs))
          .as("r_day"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
    val cuts = perCust.agg(
      expr("transform(percentile(r_day, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 4))").as("rc"),
      expr("transform(percentile(frequency, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 4))").as("fc"),
      expr("transform(percentile(monetary, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 4))").as("mc"))
    def bucket(m: Column, c: Column): Column =
      (0 to 3).map(i => (m > element_at(c, i + 1)).cast("long")).reduce(_ + _) + 1
    perCust
      .crossJoin(broadcast(cuts))
      .select(
        col("o_custkey"), col("r_day"), col("frequency"), col("monetary"),
        bucket(col("r_day").cast("double"), col("rc")).as("r_bucket"),
        bucket(col("frequency").cast("double"), col("fc")).as("f_bucket"),
        bucket(col("monetary"), col("mc")).as("m_bucket"))
      .withColumn(
        "rfm", col("r_bucket") * 100 + col("f_bucket") * 10 + col("m_bucket"))
  }

  /** Customer VALUE-TIER migration across the calendar-midpoint split —
    * [[abcXyz]]'s ABC-migration idea ([[abcMigration]]) read at customer
    * grain: each half ranks customers into spend quintiles (the
    * [[rfmSegments]] monetary cut, integer cents, rounded quantile_cont
    * cuts), and the output is the (tier_early × tier_late) matrix with
    * tier 0 for customers absent from a half (new / lapsed). The
    * diagonal says retention of value rank; the 0-row/column says churn
    * and acquisition by tier.
    *
    * Scale: two customer-grain hash aggregates (one per half, same
    * shuffle key), each with a 1-row broadcast quantile-cut table (the
    * [[paretoShares]] shape), one customer-keyed full-outer join, a
    * ≤ 36-row readout. The midpoint is a 1-row broadcast.
    */
  def valueMigration(orders: DataFrame): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("o_orderdate").cast("timestamp")), TimeSeries.DayMs)
    val o = orders.select(col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("__cents"), day.as("__day"))
    val cut = o.agg(Cols.floorDiv(min(col("__day")) + max(col("__day")), lit(2L)).as("__cut"))
    val tagged = o.crossJoin(broadcast(cut))
    def tier(half: DataFrame): DataFrame = {
      val perCust = half.groupBy(col("o_custkey")).agg(sum(col("__cents")).as("__m"))
      val cuts = perCust.agg(
        expr("transform(percentile(__m, array(0.2, 0.4, 0.6, 0.8)), x -> round(x, 4))")
          .as("__mc"))
      perCust.crossJoin(broadcast(cuts))
        .select(col("o_custkey"),
          ((0 to 3).map(i =>
            (col("__m").cast("double") > element_at(col("__mc"), i + 1)).cast("long"))
            .reduce(_ + _) + lit(1L)).as("tier"))
    }
    tier(tagged.filter(col("__day") <= col("__cut")))
      .select(col("o_custkey"), col("tier").as("tier_early"))
      .join(
        tier(tagged.filter(col("__day") > col("__cut")))
          .select(col("o_custkey"), col("tier").as("tier_late")),
        Seq("o_custkey"), "full_outer")
      .select(
        coalesce(col("tier_early"), lit(0L)).as("tier_early"),
        coalesce(col("tier_late"), lit(0L)).as("tier_late"))
      .groupBy(col("tier_early"), col("tier_late"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Revenue-concentration (Pareto) report: for each requested top-p%,
    * the share of total value held by keys whose per-key value clears the
    * (1 − p/100) quantile cut — "do 1% of customers carry 30% of
    * revenue?". Values are summed as exact integer cents; only the
    * quantile cuts are doubles (rounded to 4, `percentile` ≡ DuckDB
    * `quantile_cont`), so the shares are exact integer e4.
    *
    * Scale: deliberately NOT a global running-sum window (a total order
    * over every key funnels one partition at 100 TB). The quantile cuts
    * are one broadcast 1-row aggregate over the per-key table; each key
    * row then fans out |pcts| ways map-side and re-aggregates to
    * |pcts| rows. Quantile-threshold semantics: keys tied AT the cut all
    * count as "top", so n_top_keys can exceed p% of keys on heavy ties.
    */
  def paretoShares(
      df: DataFrame, keyCol: String, valueCol: String,
      topPcts: Seq[Int] = Seq(1, 5, 10, 20, 50)): DataFrame = {
    require(topPcts.nonEmpty && topPcts.forall(p => p >= 1 && p <= 100), "pcts in 1..100")
    val cents = df
      .groupBy(col(keyCol))
      .agg(sum(round(col(valueCol) * 100).cast("long")).as("__cents"))
    val qs = topPcts.map(p => (100 - p) / 100.0).mkString(", ")
    val cuts = cents.agg(
      expr(s"transform(percentile(__cents, array($qs)), x -> round(x, 4))").as("__cuts"),
      sum(col("__cents")).as("__total"),
      count(lit(1)).as("__n_keys"))
    cents
      .crossJoin(broadcast(cuts))
      .select(
        col("__cents"), col("__total"), col("__n_keys"),
        posexplode(col("__cuts")).as(Seq("__i", "__cut")))
      .filter(col("__cents").cast("double") >= col("__cut"))
      .groupBy(col("__i"))
      .agg(
        first(col("__n_keys")).as("n_keys"),
        count(lit(1)).as("n_top_keys"),
        sum(col("__cents")).as("top_cents"),
        first(col("__total")).as("__total"))
      .select(
        element_at(array(topPcts.map(p => lit(p.toLong)): _*), col("__i").cast("int") + 1)
          .as("top_pct"),
        col("n_keys"), col("n_top_keys"), col("top_cents"),
        graft.Cols.floorDiv(col("top_cents") * 10000, col("__total")).as("value_share_e4"))
  }

  /** The canonical undirected edge set of a `(src, dst)` table, named
    * `(a, b)`: each edge once with `a < b` (least/greatest), self-loops
    * dropped, duplicate and reversed rows collapsed.
    */
  private[ops] def canonicalEdges(
      edges: DataFrame, a: String = "src", b: String = "dst"): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as(a), greatest(col("src"), col("dst")).as(b))
      .filter(col(a) < col(b)).distinct()

  /** Both endpoints of every edge `(a, b)` in one column `node`: a node
    * appears once per incident edge.
    */
  private[ops] def endpoints(
      e: DataFrame, a: String = "src", b: String = "dst", node: String = "node"): DataFrame =
    e.select(col(a).as(node)).union(e.select(col(b).as(node)))

  /** One k-core peel round of [[kCore]] and [[coreNumbers]]: the edges
    * of `e` whose endpoints both have degree ≥ k in `e`.
    */
  private def corePeel(e: DataFrame, k: Long): DataFrame = {
    val keep = endpoints(e).groupBy(col("node")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("node"))
    e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
  }

  /** `(node, __d)`: each node's degree in a distinct undirected edge table. */
  private[ops] def degrees(
      e: DataFrame, a: String = "src", b: String = "dst", node: String = "node"): DataFrame =
    endpoints(e, a, b, node).groupBy(col(node)).agg(count(lit(1)).as("__d"))

  /** Both orientations of every row of an undirected pair table: `(a, b)`
    * as `(from, to)` and again as `(to, from)`, each row carrying `rest`.
    */
  private[ops] def bothWays(
      pairs: DataFrame, a: String, b: String, from: String, to: String,
      rest: Column*): DataFrame =
    pairs.select(Seq(col(a).as(from), col(b).as(to)) ++ rest: _*)
      .union(pairs.select(Seq(col(b).as(from), col(a).as(to)) ++ rest: _*))

  /** Undirected-graph structure report: node/edge/wedge/triangle counts
    * and the global clustering coefficient (3·triangles / wedges, exact
    * integer e4) — "is this co-occurrence graph cliquey or stringy", the
    * communities-exist screen before anything heavier. Edges are
    * canonicalized (least/greatest, self-loops dropped, deduped), which
    * makes each triangle a single ordered (a < b < c) join chain:
    * E(a,b) ⋈ E(b,c) ⋈ E(a,c) — counted once, no /6 correction, no
    * direction explosion.
    *
    * Scale: the two-hop join fans out by per-node degree² — the classic
    * bound; the canonical orientation already halves it, and the
    * standard hardening (orient edges by DEGREE order so high-degree
    * nodes never expand) drops in here without changing results.
    * Wedges are Σ d(d−1)/2 over the degree table — exact integers.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val deg = degrees(e)
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      graft.Cols.floorDiv(sum(col("__d") * (col("__d") - 1)), 2L).as("n_wedges"))
    val triangles = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(
        e.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    wedges
      .crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(triangles))
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(
          col("n_wedges") > 0,
          graft.Cols.floorDiv(col("n_triangles") * 30000L, col("n_wedges")))
          .otherwise(lit(0L)).as("closure_e4"))
  }

  /** Degree assortativity of the undirected graph — "do hubs attach to
    * hubs" (r > 0, social-network shape) or "hubs to leaves" (r < 0,
    * hub-and-spoke), [[triangleStats]]'s mixing-pattern partner. Both
    * orientations of every canonical edge enter the Pearson correlation
    * of endpoint degrees, which makes the two marginals identical
    * (Σx = Σy, Σx² = Σy²), so `r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)`
    * over m = 2·|E| oriented edges — Newman's form, every moment an
    * exact integer in decimal(38,0) and ONE rounded-double division at
    * the end (the [[TimeSeries.xcorrDaily]] discipline). A degree-regular
    * graph has zero denominator → null r.
    *
    * Three of the four moments collapse onto the degree table alone:
    * node n appears as the source of exactly d(n) oriented edges, each
    * contributing x = d(n), so `m = Σd`, `Σx = Σd²`, `Σx² = Σd³` — no
    * join at all; only `Σxy = 2·Σ_{canonical edges} d(src)·d(dst)` needs
    * the edge–degree join, and only over the canonical (undoubled) edge
    * table. One edge-table evaluation fewer than the literal
    * both-orientations formulation — at 100 TB the edge table is the
    * expensive side, so halving its fan-in is the win.
    *
    * Scale: degree moments from one |nodes| hash aggregate; the single
    * Σxy pass joins canonical edges to degrees on node id (hash joins,
    * no broadcast assumption); 1-row moment tables cross-combine as
    * broadcast scalars. Output is one row.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges)
    val deg = degrees(e)
    val degMoments = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(col("__d")).as("m"),
      sum(dec38(col("__d")) * dec38(col("__d"))).as("__sx"),
      sum(dec38(col("__d")) * dec38(col("__d")) * dec38(col("__d"))).as("__sxx"))
    val sxy = e
      .join(deg.select(col("node").as("src"), col("__d").as("__dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("__d").as("__dy")), Seq("dst"))
      .agg((dec38(lit(2L)) * sum(dec38(col("__dx")) * dec38(col("__dy")))).as("__sxy"))
    val num = dec38(col("m")) * col("__sxy") - col("__sx") * col("__sx")
    val den = dec38(col("m")) * col("__sxx") - col("__sx") * col("__sx")
    degMoments
      .crossJoin(broadcast(sxy))
      .select(
        col("n_nodes"),
        graft.Cols.floorDiv(col("m"), 2L).as("n_edges"),
        when(den =!= 0,
          round(num.cast("double") / den.cast("double"), 6)).as("r"))
  }

  /** Log₂-bucketed degree distribution — the "is this graph power-law"
    * readout beside [[triangleStats]] (clumpiness) and [[assortativity]]
    * (mixing): per bucket ⌊log₂ d⌋, the node count and the exact
    * min/max/total degree mass. The bucket is `length(bin(d)) − 1` —
    * integer bit-length, never a floating log₂ that lands on 2.9999…
    * at an exact power of two and diverges between engines.
    *
    * Scale: one hash aggregate to |nodes| degrees, a second to ≤ 63
    * buckets. Nothing sorts; nothing exceeds the degree table.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    degrees(canonicalEdges(edges))
      .groupBy((length(bin(col("__d"))) - 1).cast("long").as("log2_degree"))
      .agg(
        count(lit(1)).as("n_nodes"),
        min(col("__d")).as("min_degree"),
        max(col("__d")).as("max_degree"),
        sum(col("__d")).as("degree_mass"))
  }

  /** Directed purchase-sequence mining — [[coOccurrence]]'s temporal
    * partner: for each customer, part A at a strictly earlier FIRST
    * purchase date than part B yields the ordered pair (A → B); pairs
    * kept at support ≥ `minPairCount` with directional confidence
    * `⌊n_ab·10⁴ / n_a⌋` (of customers who ever bought A, how many later
    * bought B) — the "what do buyers of X go on to buy" table an
    * email-sequence or restock planner reads. First-date semantics make
    * each (customer, A, B) count once regardless of repurchases, and
    * strict `<` drops same-day ties on BOTH sides (deterministic, no
    * ordering ambiguity inside a day).
    *
    * Scale: baskets collapse to DISTINCT (customer, part, first-date)
    * before the self-join, so fan-out is per-customer parts² over the
    * DEDUPED assortment — the [[coOccurrence]] bound one level up
    * (customer, not order). The support threshold is a FIXED count on
    * purpose: pair support does NOT inflate with table size here,
    * because the item vocabulary grows with the data (verified at sf0.01
    * vs sf0.1 — max support 6 vs 4) — so the threshold keeps binding at
    * any scale, and the output stays sparse. The lever that DOES need
    * attention at 100 TB is per-customer assortment size: `maxAssortment`
    * DROPS reseller-sized accounts before the self-join (a 10⁵-item
    * account is a 10¹⁰-row pair explode), buyers counts included, and
    * the oracle mirrors the cap — the [[coOccurrence]] `maxGroupSize`
    * discipline one key up.
    */
  def seqPairs(orders: DataFrame, lineitem: DataFrame,
               minPairCount: Long = 3L, maxAssortment: Int = 1000): DataFrame = {
    // one cust-keyed aggregate carries the whole assortment (sorted by
    // (first-date, item)); the cap is a size filter and the ordered-pair
    // fan-out runs in-row — the [[groupedItemSets]]/[[sortedPairs]] shape
    // of [[coOccurrence]], minus the per-cust window and the self-join
    // exchange (output identical: every (cust, A, B) with d_A < d_B
    // counts once; same-day ties drop in the in-row filter exactly as
    // the strict `<` join predicate dropped them)
    val sets = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .agg(min(col("o_orderdate")).as("d"))
      .groupBy(col("cust"))
      .agg(sort_array(collect_list(struct(col("d"), col("item")))).as("__bi"))
      .filter(size(col("__bi")) <= maxAssortment)
    val buyers = sets
      .select(explode(col("__bi")).as("__e"))
      .groupBy(col("__e.item").as("item")).agg(count(lit(1)).as("n"))
    // `__bi` is sorted by (d, item), so every index pair (i < j) has
    // d_i <= d_j; the in-row filter keeps the strict d_i < d_j ones
    val orderedPairs = filter(sortedPairs(col("__bi")),
      p => p.getField("item_a").getField("d") < p.getField("item_b").getField("d"))
    sets
      .select(explode(orderedPairs).as("__p"))
      .select(col("__p.item_a.item").as("item_a"), col("__p.item_b.item").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
      .join(buyers.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .select(
        col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        Cols.floorDiv(col("n_ab") * 10000L, col("n_a")).as("conf_e4"))
  }

  /** Substitutable-products screen — the complement of [[coOccurrence]]:
    * pairs of items bought by MANY of the same customers but NEVER
    * together in one order. High buyer overlap means the items serve the
    * same need; zero basket co-occurrence means customers choose one
    * INSTEAD of the other — the substitution signal assortment planning
    * and price-response models start from (complements co-occur,
    * substitutes anti-occur). Output per surviving pair: both buyer
    * counts, the common-buyer count, and the exact-e4 Jaccard of the
    * buyer sets; `minCommon` keeps the random-overlap tail out.
    *
    * Scale: the customer-grain pair table carries [[seqPairs]]'
    * assortment cap (fan-out = capped assortment² per customer), the
    * never-together discharge is an anti-join against the DISTINCT
    * order-grain pair set (its groups carry [[coOccurrence]]'s cap),
    * and buyer counts join plain (vocabulary-sized). The oracle mirrors
    * both caps and the threshold.
    */
  def substitutes(orders: DataFrame, lineitem: DataFrame,
                  minCommon: Long = 3L, maxAssortment: Int = 1000,
                  maxGroupSize: Int = 1000): DataFrame = {
    // assortments as one cust-keyed set aggregate (the [[groupedItemSets]]
    // shape — replaces distinct + window cap with a single exchange)
    val ownedSets = groupedItemSets(
      orders
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("item")),
      col("cust"), col("item"), maxAssortment)
    val owned = ownedSets.select(col("grp").as("cust"), explode(col("__items")).as("item"))
    val buyers = owned.groupBy(col("item")).agg(count(lit(1)).as("n"))
    // an item with fewer than minCommon buyers can never reach
    // n_common ≥ minCommon with ANY partner, so it is pruned BEFORE the
    // customer-grain pair fan-out — result-identical (the n_common
    // filter below would drop every such pair anyway), but at catalog
    // scale the long tail of rarely-bought items is most of the
    // assortment mass, so this is the difference between fanning out
    // Σ|assortment|² over the full catalog and over the frequently
    // bought core. n_a/n_b still report the UNfiltered buyer counts.
    val frequent = owned.join(
      buyers.filter(col("n") >= minCommon).select(col("item")), "item")
    val frequentSets = frequent
      .groupBy(col("cust"))
      .agg(sort_array(collect_set(col("item"))).as("__fi"))
    val commonBuyers = pairRows(frequentSets, col("__fi"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val together = pairRows(
      groupedItemSets(
        lineitem.select(col("l_orderkey").as("grp"), col("l_partkey").as("item")),
        col("grp"), col("item"), maxGroupSize),
      col("__items"))
      .distinct()
    commonBuyers
      .join(together, Seq("item_a", "item_b"), "left_anti")
      .join(buyers.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(buyers.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .select(
        col("item_a"), col("item_b"), col("n_common"), col("n_a"), col("n_b"),
        Cols.floorDiv(
          col("n_common") * 10000L,
          col("n_a") + col("n_b") - col("n_common")).as("buyer_jaccard_e4"))
  }

  /** One label-propagation step over a weighted undirected pair table
    * (item_a, item_b, n_ab) from singleton initialization: each node
    * adopts the label of its heaviest incident edge's neighbor
    * (tie-break: smallest neighbor id) — LPA iteration 1, which from
    * id-labels is exactly "attach to your strongest association". The
    * community seed for basket-graph clustering, composable: feed the
    * output labels back through a join to run iteration 2 (same shape as
    * [[graft.dedup.Dedup]]'s edge-contraction rounds).
    *
    * Scale: symmetrize (a map-side union), one per-node window over the
    * incident-edge lists — bounded by the pair table, which
    * [[coOccurrence]] already thresholds; no |nodes|² anywhere.
    */
  def labelPropStep(pairs: DataFrame): DataFrame = {
    val sym = bothWays(pairs, "item_a", "item_b", "item", "nbr", col("n_ab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("n_ab").desc, col("nbr"))
    sym
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("item"), col("nbr").as("label"), col("n_ab").as("label_weight"))
  }

  /** The general LPA iteration [[labelPropStep]]'s scaladoc promises:
    * given the current (item, label) assignment, each node adopts the
    * label with the greatest total incident edge weight among its
    * neighbors' labels (ties: smallest label id). `labelPropStep` is
    * exactly this with singleton labels (every label group is one
    * neighbor); composing `labelPropIterate(pairs, labelPropStep(pairs))`
    * runs iteration 2, and so on — each round one join + one aggregate +
    * one per-node window, the same shapes the step already has.
    *
    * Scale: the join key is the neighbor id against a |nodes|-row label
    * table — vocabulary-sized, joins PLAIN (AQE broadcasts when it
    * fits); the window is per-node over its label groups, bounded by
    * degree, which the [[coOccurrence]] caps already bound.
    */
  def labelPropIterate(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val sym = bothWays(pairs, "item_a", "item_b", "item", "nbr", col("n_ab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("label_weight").desc, col("label"))
    sym
      .join(labels.select(col("item").as("nbr"), col("label")), "nbr")
      .groupBy(col("item"), col("label"))
      .agg(sum(col("n_ab")).as("label_weight"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("item"), col("label"), col("label_weight"))
  }

  /** Multi-rule attribution comparison — the table a marketing review
    * actually argues over: every purchase's credit (10000 e4 units per
    * purchase, conserved exactly) split across its in-window touch
    * journey under the four standard rules side by side — first-touch,
    * last-touch, linear (floor share, remainder to the last touch —
    * pinned), and U-shaped (40/20/40; n = 1 → all, n = 2 → 5000/5000,
    * middles split the 2000 evenly with the remainder on the last
    * middle — pinned). Journeys are the same construction as
    * [[lastTouchAttribution]] (non-purchase events of the same user,
    * strictly before the purchase, within `windowMs`; no touch →
    * 'direct' under every rule), so last-touch here reconciles with the
    * single-rule operator while first/linear/U expose how much of its
    * story is just "last click gets everything". The credit unit is
    * integer e4 throughout — Σ credit_e4 = 10⁴ · purchases under every
    * rule, an invariant the spec pins.
    *
    * Scale: one user-equi-keyed range join (touch fan-out bounded by a
    * user's events inside one attribution window), per-purchase rank
    * windows over that bounded journey, a ×4 rule explode, and a
    * |channels|·4-row rollup.
    */
  def attributionRules(events: DataFrame, windowMs: Long = 86400000L): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("__pid"), col("ts_ms").as("__pts"))
    val t = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("__tid"),
        col("ts_ms").as("__tts"), col("event_type").as("channel"))
    val j = p.join(t, Seq("user_id"))
      .filter(col("__tts") < col("__pts") && col("__tts") >= col("__pts") - windowMs)
    val w = Window.partitionBy(col("__pid"))
    val wk = w.orderBy(col("__tts"), col("__tid"))
    val ranked = j
      .withColumn("__k", row_number().over(wk).cast("long"))
      .withColumn("__n", count(lit(1)).over(w))
    val linBase = Cols.floorDiv(lit(10000L), col("__n"))
    val linear = linBase +
      when(col("__k") === col("__n"), lit(10000L) - col("__n") * linBase)
        .otherwise(lit(0L))
    val midBase = Cols.floorDiv(lit(2000L), col("__n") - 2L)
    val ushape = when(col("__n") === 1L, lit(10000L))
      .when(col("__n") === 2L, lit(5000L))
      .when(col("__k") === 1L, lit(4000L))
      .when(col("__k") === col("__n"), lit(4000L))
      .otherwise(midBase +
        when(col("__k") === col("__n") - 1L,
          lit(2000L) - (col("__n") - 2L) * midBase).otherwise(lit(0L)))
    val touched = ranked.select(col("channel"),
      explode(array(
        struct(lit("first").as("rule"),
          when(col("__k") === 1L, lit(10000L)).otherwise(lit(0L)).as("credit")),
        struct(lit("last").as("rule"),
          when(col("__k") === col("__n"), lit(10000L)).otherwise(lit(0L)).as("credit")),
        struct(lit("linear").as("rule"), linear.as("credit")),
        struct(lit("ushaped").as("rule"), ushape.as("credit")))).as("rc"))
      .select(col("rc.rule").as("rule"), col("channel"), col("rc.credit").as("credit"))
    val direct = p
      .join(ranked.select(col("__pid")).distinct(), Seq("__pid"), "left_anti")
      .agg(count(lit(1)).as("__d"))
      .select(explode(array(
        Seq("first", "last", "linear", "ushaped").map(lit): _*)).as("rule"),
        lit("direct").as("channel"),
        (col("__d") * 10000L).as("credit"))
    touched.unionAll(direct)
      .groupBy(col("rule"), col("channel"))
      .agg(sum(col("credit")).as("credit_e4"))
      .filter(col("credit_e4") > 0)
  }

  /** Newman modularity of a node partition over an undirected edge
    * table — the one-number GRADE of a community assignment (here the
    * [[labelPropStep]]∘[[labelPropIterate]] labels the registry already
    * computes): `Q = Σ_c [L_c/m − (D_c/2m)²]`, where L_c counts
    * within-community edges and D_c sums member degrees. Clearing
    * denominators makes it exact: `Q·4m² = Σ_c (4·m·L_c − D_c²)` — one
    * integer numerator per community, one decimal(38,0) floor at the
    * end (`q_e6`). Q ≈ 0 means the labels explain nothing beyond random
    * wiring (stop trusting the communities); Q ≳ 0.3 is real structure
    * — the readout that decides whether to run LPA another round or
    * ship the labels. Unweighted, matching [[triangleStats]]'s and
    * [[assortativity]]'s treatment of the same basket edges.
    *
    * Scale: two label lookups joined by node id onto the edge list, a
    * |communities|-row rollup, and 1-row broadcast totals; nothing
    * exceeds the edge table itself.
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val e = pairs.select(col("item_a"), col("item_b"))
    val m = broadcast(e.agg(count(lit(1)).as("__m")))
    val deg = degrees(e, "item_a", "item_b", "item")
    val lab = labels.select(col("item"), col("label"))
    val within = e
      .join(lab.select(col("item").as("item_a"), col("label").as("__la")), "item_a")
      .join(lab.select(col("item").as("item_b"), col("label").as("__lb")), "item_b")
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__lc"))
    val perComm = deg.join(lab, "item")
      .groupBy(col("label"))
      .agg(sum(col("__d")).as("__dc"), count(lit(1)).as("__nc"))
      .join(within, Seq("label"), "left")
      .na.fill(0L, Seq("__lc"))
    val nNodes = broadcast(deg.agg(count(lit(1)).as("n_nodes")))
    perComm.crossJoin(m)
      .select(
        (dec38(lit(4L)) * dec38(col("__m")) * dec38(col("__lc"))
          - dec38(col("__dc")) * dec38(col("__dc"))).as("__num"),
        col("__nc"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(col("__num")).as("__sn"),
        max(col("__nc")).as("largest_community"))
      .crossJoin(m).crossJoin(nNodes)
      .select(
        col("n_communities"), col("n_nodes"), col("__m").as("n_edges"),
        when(col("__m") > 0,
          Cols.floorDiv(col("__sn") * dec38(lit(1000000L)),
            dec38(lit(4L)) * dec38(col("__m")) * dec38(col("__m"))).cast("long")).as("q_e6"),
        col("largest_community"))
  }

  /** Fixed-iteration weighted PageRank in EXACT INTEGER e9 arithmetic —
    * graph centrality as a deterministic dataflow: every step is a
    * floor-divided integer, so any engine (and any aggregation order)
    * reproduces identical ranks, and a fixed iteration count needs no
    * convergence test.
    *
    * Per iteration: `r' = (1−d)/n + d · (Σ_in r·w/outw + dangling/n)`,
    * with `d = dampingE4/1e4`, every division floored. Rank mass leaks a
    * few ulps per round to the floors — acceptable for ranking use; the
    * INVARIANT total ≤ 1e9 holds.
    *
    * Scale: each iteration is one (src-keyed) join of the rank table to
    * the edge list + one dst-keyed aggregate — the standard distributed
    * PageRank shuffle pair; the dangling mass and node count are
    * broadcast 1-row aggregates. Edge weights must be non-negative;
    * `rank·weight ≤ 1e9·w` must fit int64 (w ≤ ~9e9 — cap or rescale
    * heavier graphs).
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, dampingE4: Long = 8500L): DataFrame = {
    require(iterations >= 1 && dampingE4 >= 0 && dampingE4 <= 10000)
    val E = 1000000000L
    // one checkpoint per iteration ([[graft.Rounds]]): each iteration
    // references `ranks` twice (contrib + dangling) and the edge/node/
    // out-weight tables once — the un-checkpointed plan doubled per round
    val e = edges.localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val nRow = broadcast(nodes.agg(count(lit(1)).as("__n")))
    val outW = e.groupBy(col("src")).agg(sum(col("weight")).as("__outw"))
      .localCheckpoint()
    val init = nodes.crossJoin(nRow)
      .select(col("node"), graft.Cols.floorDiv(lit(E), col("__n")).as("rank_e9"))
    val ranks = graft.Rounds.iterate(init, iterations) { (ranks, _) =>
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outW, "src")
        .select(
          col("dst").as("node"),
          graft.Cols.floorDiv(col("rank_e9") * col("weight"), col("__outw")).as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).as("__s"))
      val dangling = broadcast(
        ranks
          .join(outW.select(col("src").as("node")), Seq("node"), "left_anti")
          .agg(coalesce(sum(col("rank_e9")), lit(0L)).as("__dm")))
      nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(nRow)
        .crossJoin(dangling)
        .select(
          col("node"),
          (graft.Cols.floorDiv(lit((10000L - dampingE4) * E), lit(10000L) * col("__n")) +
            graft.Cols.floorDiv(
              lit(dampingE4) *
                (coalesce(col("__s"), lit(0L)) + graft.Cols.floorDiv(col("__dm"), col("__n"))),
              10000L)).as("rank_e9"))
    }
    graft.LocalCheckpoints.free(e)
    graft.LocalCheckpoints.free(nodes)
    graft.LocalCheckpoints.free(outW)
    ranks
  }

  /** Per-user lifetime summary — the user-dimension build: first/last
    * activity, distinct active days, event and purchase counts, and
    * lifetime purchase value. One map-side-combined hash aggregate on
    * user_id (the multi-distinct day count expands the scan internally,
    * standard Spark planning).
    */
  def userLtv(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(col("ts_ms")).as("first_ts_ms"),
        max(col("ts_ms")).as("last_ts_ms"),
        count_distinct(Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs)).as("active_days"),
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))), 2)
          .as("ltv"))

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent PRECEDING non-purchase event type, but only if it happened
    * within `windowMs`; otherwise the purchase is 'direct'. Output: per
    * channel, purchase count and credited value.
    *
    * Scale: one window over (user_id) — the sessionization shuffle key —
    * carrying the last non-purchase (type, ts) forward via an
    * ignore-nulls `last()` over the strictly-preceding frame; then a hash
    * aggregate onto |channels| rows. No joins.
    */
  def lastTouchAttribution(events: DataFrame, windowMs: Long = 86400000L): DataFrame = {
    val prev = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val touchTs = when(col("event_type") =!= "purchase", col("ts_ms"))
    events
      .select(col("user_id"), col("event_type"), col("value"), col("ts_ms"), col("event_id"))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(prev))
      .withColumn("last_touch_ts", last(touchTs, ignoreNulls = true).over(prev))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("last_touch_ts") >= col("ts_ms") - lit(windowMs), col("last_touch"))
          .otherwise(lit("direct")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** Inter-arrival statistics: the gap between each event and the user's
    * previous event, aggregated per type of the LATER event — the
    * operational "how long since the user last did anything before X"
    * metric. Gaps are exact integer milliseconds; percentiles use the
    * same exact-interpolation formula on both engines.
    *
    * Scale: one window over (user_id) — the sessionization shuffle key —
    * then a hash aggregate onto |types| rows.
    */
  def interArrival(events: DataFrame): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(seq))
      .filter(col("gap_ms").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        min(col("gap_ms")).as("min_gap_ms"),
        round(expr("percentile(gap_ms, 0.5)"), 4).as("p50_gap_ms"),
        round(expr("percentile(gap_ms, 0.95)"), 4).as("p95_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
  }

  /** Peak concurrent sessions per day — the capacity-planning sweep line.
    * Sessions are 30-min-gap islands per user, occupying the end-EXCLUSIVE
    * interval [first ts, last ts + 1 ms) so single-event sessions still
    * register at their instant. Each session contributes +1 at its start
    * and −1 at its end; concurrency at an instant is the running net
    * AFTER all transitions at that instant (RANGE-frame window ⇒ every
    * row at a tied timestamp sees the same value — no tie-order
    * dependence on any engine). Output: one row per day with ≥1
    * transition: (day, sessions_started, peak_concurrent), where the peak
    * also covers the day's opening instant (carry-in alone, before any
    * transition — a day of nothing but session ends peaks at its carry).
    *
    * Scale: the textbook global ORDER BY running sum is a single ordered
    * partition — unusable at 100 TB. The prefix decomposes instead:
    * intra-day running sums partition by day (fully distributed), and the
    * cross-day carry-in is a running sum over the per-day NET table —
    * one row per day, driver-scale, in-plan. No global sort of the data.
    */
  def sessionConcurrency(events: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    val sess = userSessions(events, gapMs)
      .select(col("__start"), (col("__last") + 1L).as("__end"))
    val deltas = sess.select(col("__start").as("ts"), lit(1L).as("delta"))
      .unionAll(sess.select(col("__end").as("ts"), lit(-1L).as("delta")))
      .withColumn("day", Cols.floorDiv(col("ts"), TimeSeries.DayMs))
    // intra-day prefix: RANGE frame (default with orderBy) includes peers
    val intra = Window.partitionBy(col("day")).orderBy(col("ts"))
    val daily = deltas
      .withColumn("__run", sum(col("delta")).over(intra))
      .groupBy(col("day"))
      .agg(
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("sessions_started"),
        max(col("__run")).as("__peak_intra"),
        sum(col("delta")).as("__net"))
    // carry-in: running net over the tiny per-day table (|days| rows)
    val byDay = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("__carry", coalesce(sum(col("__net")).over(byDay), lit(0L)))
      .select(
        col("day"), col("sessions_started"),
        (col("__carry") + greatest(col("__peak_intra"), lit(0L))).as("peak_concurrent"))
  }

  /** Revenue-retention triangle: exact-cent revenue by (first-order-month
    * cohort, month offset) — the finance-side twin of user [[retention]]
    * (cohorts weighted by money instead of headcount). Months are
    * calendar (year·12 + month), identical on both engines.
    *
    * Scale: the cohort map is one hash agg on the customer key; the join
    * key is that same aggregation key; the triangle is |cohorts|²/2 rows.
    */
  /** Revenue concentration per market segment: customer-share HHI and
    * CR4 (top-4 customers' share) — the antitrust-style readout behind
    * "is this segment one whale or a long tail", the segment-grain
    * complement of [[paretoShares]] (which curves the whole book) and
    * `cust_gini` (inequality, not concentration). HHI in e6
    * (`⌊Σ rev_c²·10⁶ / total²⌋` — 1e6 = monopsony, 1e6/n = flat), CR4
    * in e4; both exact integer floors with squares in decimal(38,0).
    *
    * Scale: one (segment × customer) hash aggregate off the order join,
    * a top-4 rank window partitioned by segment over customer-grain
    * rows, one segment-grain rollup. No sort wider than a partition.
    */
  def segmentConcentration(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__rev"))
    val bySeg = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("__rev").desc, col("c_custkey"))
    rev
      .withColumn("__rn", row_number().over(bySeg))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("__rev")).as("total_cents"),
        sum(dec38(col("__rev")) * dec38(col("__rev"))).as("__ssq"),
        sum(when(col("__rn") <= 4, col("__rev")).otherwise(0L)).as("__top4"))
      .select(
        col("c_mktsegment"), col("n_customers"), col("total_cents"),
        Cols.floorDiv(col("__top4") * 10000L, col("total_cents")).as("cr4_e4"),
        Cols.floorDiv(col("__ssq") * dec38(lit(1000000L)),
          dec38(col("total_cents")) * dec38(col("total_cents"))).cast("long").as("hhi_e6"))
  }

  def revenueCohorts(orders: DataFrame): DataFrame = {
    val ts = col("o_orderdate").cast("timestamp")
    val midx = (year(ts) * 12 + month(ts)).cast("long")
    val withM = orders.select(
      col("o_custkey"), midx.as("__m"),
      round(col("o_totalprice") * 100).cast("long").as("__cents"))
    val cohort = withM.groupBy(col("o_custkey")).agg(min(col("__m")).as("__cm"))
    withM.join(cohort, "o_custkey")
      .groupBy(col("__cm").as("cohort_midx"), (col("__m") - col("__cm")).as("month_offset"))
      .agg(
        count_distinct(col("o_custkey")).as("n_customers"),
        sum(col("__cents")).as("revenue_cents"))
  }

  /** Churn-risk screen: per first-seen cohort day, how many users have
    * been inactive for more than `inactiveDays` at the REFERENCE instant
    * (the corpus max timestamp, folded in-plan — no driver max()).
    * The e4 churn share is the retention dashboard's red number.
    *
    * Scale: one per-user aggregate, a 1-row broadcast reference, one
    * cohort-grain aggregate.
    */
  def churnRisk(events: DataFrame, inactiveDays: Long = 14L): DataFrame = {
    val ref = broadcast(events.agg(max(col("ts_ms")).as("__ref")))
    events
      .groupBy(col("user_id"))
      .agg(min(col("ts_ms")).as("__first"), max(col("ts_ms")).as("__last"))
      .crossJoin(ref)
      .select(
        Cols.floorDiv(col("__first"), TimeSeries.DayMs).as("cohort_day"),
        when(col("__last") < col("__ref") - inactiveDays * TimeSeries.DayMs, 1L)
          .otherwise(0L).as("__churned"))
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"), sum(col("__churned")).as("n_churned"))
      .select(
        col("cohort_day"), col("n_users"), col("n_churned"),
        Cols.floorDiv(col("n_churned") * 10000, col("n_users")).as("churn_e4"))
  }

  /** ABC inventory classification: parts ranked by exact-cent revenue,
    * classed A while the CUMULATIVE share of higher-ranked parts is under
    * 80%, B under 95%, C after — the Pareto-derived stocking-policy
    * staple. The crossing part takes the class of the band it enters
    * (cum-BEFORE semantics: a single 90%-of-revenue part is still A).
    * Ties rank by partkey, so the classing is deterministic.
    *
    * Scale: the fact table collapses to |parts| rows in one map-side
    * combined aggregate; the global cumulative-revenue prefix comes from
    * [[Sharded.rankAndPrefix]] — range-sharded partial sums plus broadcast
    * shard offsets — so even a 10⁹-part catalog never sorts through one
    * partition; the grand total folds in as a 1-row broadcast.
    */
  def abcClass(lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    val total = broadcast(rev.agg(sum(col("rev_cents")).as("__total")))
    Sharded.rankAndPrefix(
        rev, Seq(col("rev_cents").desc, col("l_partkey")), col("rev_cents"))
      .crossJoin(total)
      .select(
        col("l_partkey"), col("rev_cents"),
        Cols.floorDiv(col("__cum_before") * 10000, col("__total")).as("cum_before_e4"))
      .withColumn("abc_class",
        when(col("cum_before_e4") < 8000, lit("A"))
          .when(col("cum_before_e4") < 9500, lit("B"))
          .otherwise(lit("C")))
  }

  /** ABC class migration: [[abcClass]] computed independently on the
    * early and late calendar halves of the shipment history (in-plan
    * midpoint split on ship day), then the 4×4 transition matrix of
    * (early class → late class) with 'N' for parts absent from a half —
    * "which A-parts are decaying, which C-parts are breaking out", the
    * assortment-review view a stocking policy is re-cut from. Composes
    * the sharded-prefix classing twice rather than re-deriving it.
    *
    * Scale: two [[abcClass]] passes over half the rows each (same
    * range-sharded rank posture, no single-partition sort), one
    * dimension-sized full-outer join on the part key, one 16-row
    * aggregate.
    */
  def abcMigration(lineitem: DataFrame): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("l_shipdate").cast("timestamp")), TimeSeries.DayMs)
    val cut = broadcast(lineitem.agg(
      Cols.floorDiv(min(day) + max(day), 2L).as("__cut")))
    val tagged = lineitem.crossJoin(cut)
    def half(cond: Column) =
      abcClass(tagged.filter(cond))
    half(day <= col("__cut"))
      .select(col("l_partkey"), col("abc_class").as("class_early"))
      .join(
        half(day > col("__cut"))
          .select(col("l_partkey"), col("abc_class").as("class_late")),
        Seq("l_partkey"), "full_outer")
      .select(
        coalesce(col("class_early"), lit("N")).as("class_early"),
        coalesce(col("class_late"), lit("N")).as("class_late"))
      .groupBy(col("class_early"), col("class_late"))
      .agg(count(lit(1)).as("n_parts"))
  }

  /** ABC×XYZ inventory classification — the two-axis matrix every
    * stocking policy is cut from: revenue concentration ([[abcClass]])
    * crossed with demand PREDICTABILITY (XYZ = coefficient of variation
    * of calendar-daily demand over the part's span — the
    * [[safetyStock]] variance identity read as a ratio). AX parts are
    * automate-and-forget, CZ parts are review-or-delist; the matrix
    * says how much revenue sits in each regime. Standard cut points:
    * X cv ≤ 0.5, Y cv ≤ 1.0, Z above.
    *
    * Scale: one [[abcClass]] pass (range-sharded rank, no global sort),
    * one (part × day) hash aggregate folded to part-grain moments on
    * the same shuffle key, one part-grain equi-join, a ≤9-row readout.
    * cv is exact to its grid: σ the one shared rounded-sqrt double,
    * mean an e4 floor, the ratio an e4 floor of those.
    */
  /** Shared (part × calendar-day) demand second-moment block for
    * [[abcXyz]] and [[safetyStock]]: per part the demand-day span
    * endpoints, total quantity, and the calendar-day demand sigma from
    * the (n·ΣQ² − S²)·10⁸/n² identity over the FULL span (zero days
    * included), products widened to decimal(38,0), σ the one shared
    * rounded-sqrt double. One definition so the two stocking operators'
    * sigma grids can never drift apart.
    */
  private def dailyDemandSigma(lineitem: DataFrame): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("l_shipdate").cast("timestamp")), TimeSeries.DayMs)
    val mom = lineitem
      .groupBy(col("l_partkey"), day.as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("__q"))
      .groupBy(col("l_partkey"))
      .agg(
        min(col("day")).as("__d0"), max(col("day")).as("__d1"),
        sum(col("__q")).as("__s"), sum(dec38(col("__q")) * dec38(col("__q"))).as("__q2"))
    val n = dec38(col("__d1") - col("__d0") + 1L)
    val varE8 = Cols.floorDiv(
      (n * col("__q2") - dec38(col("__s")) * dec38(col("__s"))) * dec38(lit(100000000L)), n * n)
    mom.select(
      col("l_partkey"), col("__d0"), col("__d1"), col("__s"),
      round(sqrt(varE8.cast("double"))).cast("long").as("__sigma_e4"))
  }

  def abcXyz(lineitem: DataFrame): DataFrame = {
    val n = dec38(col("__d1") - col("__d0") + 1L)
    val xyz = dailyDemandSigma(lineitem)
      .withColumn("__mean_e4",
        Cols.floorDiv(dec38(col("__s")) * dec38(lit(10000L)), n).cast("long"))
      .withColumn("__cv_e4",
        Cols.floorDiv(col("__sigma_e4") * 10000L, greatest(col("__mean_e4"), lit(1L))))
      .select(col("l_partkey"), col("__cv_e4"),
        when(col("__cv_e4") <= 5000L, lit("X"))
          .when(col("__cv_e4") <= 10000L, lit("Y"))
          .otherwise(lit("Z")).as("xyz_class"))
    abcClass(lineitem)
      .select(col("l_partkey"), col("abc_class"), col("rev_cents"))
      .join(xyz, "l_partkey")
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("rev_cents")).as("rev_cents"),
        Cols.lowerMedian(col("__cv_e4")).as("med_cv_e4"))
  }

  /** Month-of-year demand concentration per part — the seasonality axis
    * the [[abcXyz]] matrix doesn't carry: a part can be X-predictable
    * overall yet sell 80% of its volume in one quarter, and stocking it
    * flat wastes the warehouse for nine months. Per part: the calendar
    * months observed, the peak month (ties → earlier month), its share,
    * and the HHI of monthly shares (`⌊Σq_m²·10⁴ / Q²⌋` — 10000 = all
    * volume in one month, ~833 = perfectly flat across 12).
    *
    * Scale: one (part × month-of-year) hash aggregate (≤12 rows per
    * part whatever the line count), a partitioned rank window over that
    * bounded histogram, one part-grain readout; squares widen to
    * decimal(38,0).
    */
  def demandSeasonality(lineitem: DataFrame, minQty: Long = 12L): DataFrame = {
    val mc = lineitem
      .groupBy(col("l_partkey"),
        month(col("l_shipdate").cast("timestamp")).cast("long").as("__m"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("__q"))
    val byPart = Window.partitionBy(col("l_partkey"))
      .orderBy(col("__q").desc, col("__m"))
    mc.withColumn("__rn", row_number().over(byPart))
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("__q")).as("total_qty"),
        sum(dec38(col("__q")) * dec38(col("__q"))).as("__ssq"),
        max(when(col("__rn") === 1, col("__m"))).as("peak_month"),
        max(when(col("__rn") === 1, col("__q"))).as("__peak"))
      .filter(col("total_qty") >= minQty)
      .select(
        col("l_partkey"), col("n_months"), col("total_qty"), col("peak_month"),
        Cols.floorDiv(col("__peak") * 10000L, col("total_qty")).as("peak_share_e4"),
        Cols.floorDiv(col("__ssq") * dec38(lit(10000L)),
          dec38(col("total_qty")) * dec38(col("total_qty"))).cast("long").as("hhi_e4"))
  }

  /** Supplier concentration per part — the sourcing-risk axis beside
    * [[abcXyz]]'s demand axes: how many suppliers ship a part, which one
    * dominates and by how much (`top_share_e4`, ties → lower suppkey),
    * the HHI of supplier quantity shares (10000 = sole-sourced, lower =
    * diversified), and the single-source flag procurement review lists
    * are cut from.
    *
    * Scale: one (part × supplier) hash aggregate (bounded per part by
    * the supplier count, whatever the line count), a rank window over
    * that bounded histogram partitioned by part, one part-grain readout;
    * squares widen to decimal(38,0) — the [[demandSeasonality]] shape on
    * the supplier axis.
    */
  def supplierConcentration(lineitem: DataFrame): DataFrame = {
    val ps = lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("__q"))
    val byPart = Window.partitionBy(col("l_partkey"))
      .orderBy(col("__q").desc, col("l_suppkey"))
    ps.withColumn("__rn", row_number().over(byPart))
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("__q")).as("total_qty"),
        sum(dec38(col("__q")) * dec38(col("__q"))).as("__ssq"),
        max(when(col("__rn") === 1, col("l_suppkey"))).as("top_suppkey"),
        max(when(col("__rn") === 1, col("__q"))).as("__top_q"))
      .select(
        col("l_partkey"), col("n_suppliers"), col("total_qty"), col("top_suppkey"),
        Cols.floorDiv(col("__top_q") * 10000L, greatest(col("total_qty"), lit(1L)))
          .as("top_share_e4"),
        Cols.floorDiv(col("__ssq") * dec38(lit(10000L)),
          greatest(dec38(col("total_qty")) * dec38(col("total_qty")), dec38(lit(1L))))
          .cast("long").as("hhi_e4"),
        (col("n_suppliers") === 1L).cast("long").as("single_source"))
  }

  /** Inter-order gaps per customer — the purchase-cadence profile at
    * customer grain (the [[abcXyz]] family reads parts; THIS is the
    * replenishment clock a retention model keys on): for every customer
    * with ≥ 2 orders, the gap count, exact lower-median / min / max days
    * between consecutive orders. Same-day orders gap 0 (ties ordered by
    * orderkey — the gap multiset is order-independent under ties, so the
    * tie-break only pins the plan, not the result).
    *
    * Scale: one hash shuffle on o_custkey + per-partition sort (the lag
    * window is sub-clustered under it), then a customer-keyed aggregate
    * whose collected gap list is the customer's order count — human
    * scale by construction.
    */
  def orderGaps(orders: DataFrame): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("o_orderdate").cast("timestamp")), TimeSeries.DayMs)
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"), day.as("day"))
      .withColumn("__gap", col("day") - lag(col("day"), 1).over(byCust))
      .filter(col("__gap").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_gaps"),
        Cols.lowerMedian(col("__gap")).as("med_gap_days"),
        min(col("__gap")).as("min_gap_days"),
        max(col("__gap")).as("max_gap_days"))
  }

  /** Symmetrized basket-pair adjacency with inverse-support edge costs
    * (`max(1, ⌊10⁶ / n_ab⌋)`) — the shared weighted-graph first stage of
    * [[cheapestPath]] and [[betweennessWeighted]], one definition so the
    * two weighted walks can never drift apart. The floor-1 clamp keeps
    * every cost strictly positive (a pair with support > 10⁶ would
    * otherwise floor to 0, letting tight edges run BOTH ways and turning
    * the shortest-path "DAG" cyclic — σ would double-count paths).
    */
  private def weightedUndirect(pairs: DataFrame): DataFrame = {
    val w = greatest(Cols.floorDiv(lit(1000000L), col("n_ab")), lit(1L))
    bothWays(pairs, "item_a", "item_b", "src", "dst", w.as("w"))
  }

  /** Min-COST paths from the hub landmarks over the weighted basket
    * graph — [[bfsHops]]' "how far" upgraded to "how cheap", where an
    * edge's cost is inverse co-purchase support (`max(1, ⌊10⁶ / n_ab⌋)`: a pair
    * bought together often is a short hop). The relaxation is bounded
    * Bellman-Ford, `maxHops` unrolled rounds of relax-join + min — a
    * two-edge chain of strong pairs can undercut one weak direct edge,
    * which hop counting cannot see (the spec pins exactly that graph).
    *
    * Scale: per round one edge-keyed equi-join of the FULL distance
    * table (Bellman-Ford relaxes settled nodes too — a cheaper path may
    * arrive after first reach) + one min-aggregate; cost per round is
    * Σ reached-degree, edge-sized. Fixed unroll, one checkpoint per
    * round — [[bfsHops]] with min(cost) semantics.
    */
  def cheapestPath(pairs: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame = {
    // per-round checkpoints: same doubling (relax + union both reference
    // the previous round) and same fix as [[bfsHops]]
    val und = weightedUndirect(pairs).localCheckpoint()
    val sources = hubSources(und, nSources)
    val init = sources.select(col("source"), col("source").as("node"), lit(0L).as("cost_e6"))
    val dist = graft.Rounds.iterate(init, maxHops) { (dist, _) =>
      val relax = dist.join(und, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"),
          (col("cost_e6") + col("w")).as("cost_e6"))
      dist.unionAll(relax)
        .groupBy(col("source"), col("node"))
        .agg(min(col("cost_e6")).as("cost_e6"))
    }
    graft.LocalCheckpoints.free(und)
    dist
  }

  /** Croston's method for intermittent demand — the forecasting standard
    * when most days have NO demand at all (spare parts, tail SKUs),
    * where Holt/EWMA over the zero-filled series collapse toward zero
    * between demands. Per part, two exponentially-smoothed states fold
    * over the DEMAND OCCURRENCES only: the demand size `z` and the
    * inter-demand interval `p` (α = ½ floor halving, exact integer e4 —
    * the [[graft.ops.Stats.holtBacktest]] recurrence discipline), with
    * the per-day demand rate `z/p` as the stocking forecast. Parts with
    * fewer than `minDemands` demand days are dropped (no interval to
    * smooth).
    *
    * Scale: one (part × day) hash aggregate, then a per-part fold over
    * the calendar-bounded demand-day array — the raw lineitem grain
    * never sorts, and the array length is the part's ACTIVE days, which
    * is exactly what intermittency keeps small.
    */
  def crostonForecast(lineitem: DataFrame, minDemands: Long = 3L): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("l_shipdate").cast("timestamp")), TimeSeries.DayMs)
    val daily = lineitem
      .groupBy(col("l_partkey"), day.as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("__q"))
    val arr = sort_array(collect_list(struct(col("day"), col("__q"))))
    // state: (size_e4, interval_e4 [-1 until the second demand],
    //         prev demand day, n_demands)
    val zero = struct(
      lit(0L).as("z"), lit(-1L).as("p"), lit(-1L).as("pd"), lit(0L).as("n"))
    val folded = aggregate(
      arr, zero,
      (acc, x) => {
        val d = x.getField("day")
        val q = x.getField("__q")
        val first = acc.getField("pd") === -1L
        val gap = d - acc.getField("pd")
        struct(
          when(first, q * 10000L)
            .otherwise(Cols.floorDiv(q * 10000L + acc.getField("z"), lit(2L))).as("z"),
          when(first, lit(-1L))
            .when(acc.getField("p") === -1L, gap * 10000L)
            .otherwise(Cols.floorDiv(gap * 10000L + acc.getField("p"), lit(2L))).as("p"),
          d.as("pd"),
          (acc.getField("n") + 1L).as("n"))
      })
    daily.groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_demand_days"),
        min(col("day")).as("__d0"), max(col("day")).as("__d1"),
        folded.as("__f"))
      .filter(col("n_demand_days") >= minDemands)
      .select(
        col("l_partkey"), col("n_demand_days"),
        (col("__d1") - col("__d0")).as("span_days"),
        col("__f.z").as("size_e4"),
        col("__f.p").as("interval_e4"),
        Cols.floorDiv(col("__f.z") * 10000L, col("__f.p")).as("croston_rate_e4"))
  }

  /** Service-level safety stock and reorder point from [[crostonForecast]]
    * — the readout that makes the intermittent-demand forecast actionable
    * (reference has no forecasting surface; composition precedent is
    * [[graft.ops.Stats.holtBacktest]] → ev_forecast_backtest). Per part:
    * Croston's demand rate covers the lead-time window, and the safety
    * buffer is `z · σ_daily · √L` at the 95% and 99% service levels, where
    * σ_daily is the std-dev of daily demand over the part's FULL demand
    * span (zero days included — stockouts are driven by calendar-day
    * variability, not demand-day variability). All service factors are
    * exact e4 literals (z95 = 16449, z99 = 23263, √7·1e4 = 26458), so no
    * inverse-normal evaluation can drift cross-engine; σ is the one
    * shared rounded-sqrt double (the [[graft.sim.Similarity.whitenGain]]
    * convention); everything else is integer floors.
    *
    * Scale: re-uses [[crostonForecast]]'s (part × day) hash aggregate
    * shape for the moment pass (same shuffle key, no sort), one
    * part-keyed equi-join between two part-grain tables. Variance comes
    * from the (n·ΣQ² − S²)/n² identity with products widened to
    * decimal(38,0) — no per-day second pass.
    */
  def safetyStock(lineitem: DataFrame, leadDays: Long = 7L): DataFrame = {
    // round(sqrt(leadDays) * 1e4) for the supported lead times; keeping
    // the literal exact-integer avoids a second shared double
    val sqrtLeadE4 = leadDays match {
      case 7L => 26458L
      case 14L => 37417L
      case 28L => 52915L
      case other => math.round(math.sqrt(other.toDouble) * 10000)
    }
    val z95 = 16449L
    val z99 = 23263L
    def ssE4(z: Long) =
      Cols.floorDiv(lit(z) * col("sigma_e4") * lit(sqrtLeadE4), lit(100000000L))
    crostonForecast(lineitem)
      .join(
        dailyDemandSigma(lineitem)
          .select(col("l_partkey"), col("__sigma_e4").as("sigma_e4")),
        "l_partkey")
      .withColumn("ss95_e4", ssE4(z95))
      .withColumn("ss99_e4", ssE4(z99))
      .select(
        col("l_partkey"), col("n_demand_days"), col("span_days"),
        col("croston_rate_e4"), col("sigma_e4"),
        col("ss95_e4"),
        (col("croston_rate_e4") * leadDays + col("ss95_e4")).as("rop95_e4"),
        col("ss99_e4"),
        (col("croston_rate_e4") * leadDays + col("ss99_e4")).as("rop99_e4"))
  }

  /** Time-to-first-purchase by signup cohort: per first-seen day, how
    * many users ever purchased and the median / max days from first
    * event to first purchase — the activation-latency report behind
    * "how long does conversion take". Non-purchasers count in n_users
    * but not in the latency stats (percentiles ignore nulls on both
    * engines).
    *
    * Scale: one per-user aggregate (the cohort map), one per-cohort
    * aggregate — both on the user key, orders below the event count.
    */
  def timeToPurchase(events: DataFrame, purchaseType: String = "purchase"): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(col("ts_ms")).as("__first"),
        min(when(col("event_type") === purchaseType, col("ts_ms"))).as("__fp"))
      .withColumn("__days", Cols.floorDiv(col("__fp") - col("__first"), TimeSeries.DayMs))
      .groupBy(Cols.floorDiv(col("__first"), TimeSeries.DayMs).as("cohort_day"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("__fp")).as("n_purchasers"),
        round(expr("percentile(__days, 0.5)"), 4).as("p50_days"),
        max(col("__days")).as("max_days"))

  /** Within-SESSION funnel: stage progression where every stage must land
    * inside the SAME 30-min-gap session, counted in sessions (not users) —
    * the "does the journey complete in one sitting" variant of [[funnel]].
    * Same strict ordering and earliest-valid semantics, keyed by
    * (user, session) instead of user; the session bound replaces the
    * deadline.
    *
    * Scale: the session-id window shares the user_id clustering; each
    * stage is then a shrinking hash aggregate on the composite key — the
    * [[funnel]] chain shape with a wider key.
    */
  def sessionFunnel(
      events: DataFrame,
      stages: Seq[String],
      gapMs: Long = 1800000L): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    val sess = events
      .select(col("user_id"), col("event_type"), col("ts_ms"))
      .withColumn("__new",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > gapMs, 1L)
          .when(lag(col("ts_ms"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(byUser))
    val reached = stages.scanLeft(Option.empty[DataFrame]) {
      case (prev, stage) =>
        val candidates = sess.filter(col("event_type") === stage)
        val qualified = prev match {
          case None => candidates
          case Some(p) =>
            candidates
              .join(p.select(col("user_id"), col("__sid"), col("__t").as("__prev_t")),
                Seq("user_id", "__sid"))
              .filter(col("ts_ms") > col("__prev_t"))
        }
        Some(
          qualified
            .groupBy(col("user_id"), col("__sid"))
            .agg(min(col("ts_ms")).as("__t")))
    }.flatten
    reached.zip(stages).zipWithIndex
      .map { case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_sessions"))
          .select(
            lit((i + 1).toLong).as("stage_idx"),
            lit(stage).as("stage"),
            col("n_sessions"))
      }
      .reduce(_.union(_))
  }

  /** Batch-over-batch drift report: the event stream split into two
    * deterministic halves (event_id parity — the fixture stand-in for
    * yesterday/today), profiled per event type, with the e4 relative
    * volume delta — the "did the pipeline's input shift" screen run
    * before retraining on a new batch.
    *
    * Scale: two counting aggregates (map-side combined) onto |types|
    * rows each, one tiny join. distinct-user counts swap for HLL
    * sketches at 100 TB without changing the plan shape.
    */
  def profileDrift(events: DataFrame): DataFrame = {
    def half(m: Long) = events
      .filter(pmod(col("event_id"), lit(2L)) === m)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as(s"n_$m"),
        count_distinct(col("user_id")).as(s"users_$m"))
    half(0)
      .join(half(1), Seq("event_type"), "full")
      .select(
        col("event_type"),
        coalesce(col("n_0"), lit(0L)).as("n_old"),
        coalesce(col("n_1"), lit(0L)).as("n_new"),
        coalesce(col("users_0"), lit(0L)).as("users_old"),
        coalesce(col("users_1"), lit(0L)).as("users_new"))
      .withColumn("delta_e4",
        Cols.floorDiv(
          (col("n_new") - col("n_old")) * 10000, greatest(col("n_old"), lit(1L))))
  }

  /** Gap-island sessions per user: (user_id, __sid, __start, __last) —
    * the shared base under [[sessionConcurrency]] and [[returnTime]].
    */
  private def userSessions(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events
      .select(col("user_id"), col("ts_ms"))
      .withColumn("__new",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > gapMs, 1L)
          .when(lag(col("ts_ms"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(byUser))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts_ms")).as("__start"), max(col("ts_ms")).as("__last"))
  }

  /** Time-to-return distribution: for every consecutive pair of a user's
    * 30-min-gap sessions, the gap from the earlier session's LAST event
    * to the next session's first — the "how long until they come back"
    * retention metric (session-level, unlike [[interArrival]]'s
    * event-level gaps; every value here exceeds the session gap by
    * construction). One global summary row: count, min, exact p25/p50/
    * p75/p95 (identical interpolation on both engines, rounded to 4),
    * max.
    *
    * Scale: the sessionization window is the only data-sized shuffle
    * (keyed by user — the same clustering every session operator shares);
    * the lead() runs over per-user session lists (tiny), and the final
    * stats are one 1-row aggregate — swap approx_percentile at 100 TB.
    */
  def returnTime(events: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("__start"))
    userSessions(events, gapMs)
      .withColumn("__ret", lead(col("__start"), 1).over(seq) - col("__last"))
      .filter(col("__ret").isNotNull)
      .agg(
        count(lit(1)).as("n_gaps"),
        min(col("__ret")).as("min_ms"),
        round(expr("percentile(__ret, 0.25)"), 4).as("p25_ms"),
        round(expr("percentile(__ret, 0.5)"), 4).as("p50_ms"),
        round(expr("percentile(__ret, 0.75)"), 4).as("p75_ms"),
        round(expr("percentile(__ret, 0.95)"), 4).as("p95_ms"),
        max(col("__ret")).as("max_ms"))
  }

  /** Rules-as-data threshold alerting: hourly event counts joined against
    * a (event_type, max_per_hour) RULES table, emitting one row per
    * violation with the excess — the monitoring primitive where the alert
    * config lives in a table (editable without redeploying the job), not
    * in code. Types without a rule are unmonitored; hours under the
    * threshold emit nothing.
    *
    * Scale: events collapse to type × hour buckets in one map-side
    * combined aggregate; the rules table is broadcast (it's config-sized
    * by definition); only the violating tail leaves the join.
    */
  def thresholdAlerts(events: DataFrame, rules: DataFrame): DataFrame =
    events
      .groupBy(
        col("event_type"),
        (col("ts_ms") - pmod(col("ts_ms"), lit(3600000L))).as("hour_start_ms"))
      .agg(count(lit(1)).as("n_events"))
      .join(broadcast(rules), "event_type")
      .filter(col("n_events") > col("max_per_hour"))
      .select(
        col("event_type"), col("hour_start_ms"), col("n_events"),
        col("max_per_hour"), (col("n_events") - col("max_per_hour")).as("excess"))

  /** Directed association rules on top of [[coOccurrence]]'s pair table —
    * the classic market-basket readout the symmetric lift can't express:
    * each unordered pair unfolds into both A→B and B→A rules with
    * support, CONFIDENCE (P(B|A) = n_ab/n_a — direction matters: bread→
    * butter and butter→bread differ exactly when the antecedents'
    * popularity differs), the shared lift, and CONVICTION
    * ((1−P(B))/(1−conf) — how much more often A appears without B than
    * independence predicts; null on exact rules where conf = 1). All
    * exact integer e4.
    *
    * Scale: the pair table is the capped [[coOccurrence]] path; the
    * unfold is a bounded ×2 union; the group total rides a 1-row
    * broadcast — no work beyond the pair table it reads.
    */
  def basketRules(
      df: DataFrame, groupCol: String, itemCol: String,
      minPairCount: Long = 2L, maxGroupSize: Int = 1000): DataFrame = {
    val pairs = coOccurrence(df, groupCol, itemCol, minPairCount, maxGroupSize)
    val total = broadcast(
      groupedItemSets(df, col(groupCol), col(itemCol), maxGroupSize)
        .agg(count(lit(1)).as("__ng")))
    val directed = pairs
      .select(col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("n_ab"), col("n_a").as("n_ante"), col("n_b").as("n_cons"), col("lift_e4"))
      .unionAll(pairs
        .select(col("item_b").as("antecedent"), col("item_a").as("consequent"),
          col("n_ab"), col("n_b").as("n_ante"), col("n_a").as("n_cons"), col("lift_e4")))
    directed.crossJoin(total)
      .select(
        col("antecedent"), col("consequent"), col("n_ab"),
        col("n_ante"), col("n_cons"), col("lift_e4"),
        Cols.floorDiv(col("n_ab") * 10000L, col("n_ante")).as("confidence_e4"),
        when(col("n_ante") === col("n_ab"), lit(null).cast("long"))
          .otherwise(Cols.floorDiv(
            (col("__ng") - col("n_cons")) * col("n_ante") * 10000L,
            col("__ng") * (col("n_ante") - col("n_ab")))).as("conviction_e4"))
  }

  /** Error-budget SLI series: per day, total events, error events, the
    * e4 error rate, and the trailing-7-day rate (RANGE window over the
    * day VALUE, so calendar gaps age out correctly) — the SLO burn-down
    * every on-call dashboard opens with. All integer arithmetic.
    *
    * Scale: one map-side-combined aggregate collapses events to |days|
    * rows; the rolling window runs over that tiny table only (the
    * [[TimeSeries.rollingDaily]] discipline, global rather than per-key).
    */
  def errorBudget(events: DataFrame, errorType: String = "error"): DataFrame = {
    val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
    events
      .groupBy(Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === errorType, 1)).as("n_errors"))
      .select(
        col("day"), col("n_events"), col("n_errors"),
        Cols.floorDiv(col("n_errors") * 10000, col("n_events")).as("err_e4"),
        Cols.floorDiv(
          sum(col("n_errors")).over(w) * 10000, sum(col("n_events")).over(w))
          .as("roll7_err_e4"))
  }

  /** Seasonal-naive forecast backtest — the baseline sanity check every
    * forecasting/anomaly stack owes its users: predict each day's
    * per-type event count with the same weekday last week
    * (`ŷ(t) = y(t−7)`, the baseline real forecasters must beat), score
    * the prediction against the actual wherever both days exist, and
    * report per type the scored-day count, mean absolute error, e4 MAPE
    * (per-day quantize-then-average, the surprisal discipline), and the
    * worst day with its error. An anomaly detector whose baseline
    * already misses by 30% has no business paging anyone.
    *
    * Scale: one map-side-combined aggregate to the (type × day) grain,
    * then a calendar-correct self-equi-join on (type, day−7) — NOT a
    * row-offset lag, which silently mis-pairs across gap days.
    */
  def forecastBaseline(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("day"))
      .agg(count(lit(1)).as("__c"))
    val scored = daily.as("a")
      .join(
        daily.select(col("event_type"), (col("day") + 7L).as("day"),
          col("__c").as("__pred")).as("p"),
        Seq("event_type", "day"))
      .select(col("event_type"), col("day"),
        col("__c"), col("__pred"), abs(col("__c") - col("__pred")).as("__err"))
    // worst day via a per-type window over the |types × days| table
    // (earliest day wins a tie), then one rollup
    scored
      .withColumn("__maxerr",
        max(col("__err")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_scored"),
        Cols.floorDiv(sum(col("__err")), count(lit(1))).as("mae"),
        Cols.floorDiv(
          sum(Cols.floorDiv(col("__err") * 10000L, col("__c"))), count(lit(1)))
          .as("mape_e4"),
        min(when(col("__err") === col("__maxerr"), col("day"))).as("worst_day"),
        max(col("__err")).as("worst_abs_err"))
  }

  /** Multi-window SLO burn-rate alert screen — the page/don't-page rule
    * on top of [[errorBudget]]'s SLI series (the SRE-workbook shape: a
    * SHORT window so pages fire fast and reset fast, ANDed with a LONG
    * window so a brief blip can't page): per day, the error rate over
    * the trailing 7 days and over the day itself, each expressed as an
    * e4 burn MULTIPLE of the declared `targetE4` error budget, and the
    * alert that fires only when BOTH windows burn ≥ `alertBurnE4`.
    *
    * Scale: the [[errorBudget]] posture exactly — one map-side-combined
    * aggregate to the |days| grain, RANGE windows over the day value so
    * calendar gaps age out, all integer arithmetic.
    */
  def sloBurnRate(
      events: DataFrame, errorType: String = "error",
      targetE4: Long = 2000L, alertBurnE4: Long = 11000L): DataFrame = {
    val w7 = Window.orderBy(col("day")).rangeBetween(-6, 0)
    val daily = events
      .groupBy(Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === errorType, 1)).as("n_errors"))
    daily
      .select(
        col("day"), col("n_events"), col("n_errors"),
        sum(col("n_events")).over(w7).as("n_events_7d"),
        sum(col("n_errors")).over(w7).as("n_errors_7d"))
      .select(
        col("day"), col("n_events"), col("n_errors"),
        col("n_events_7d"), col("n_errors_7d"),
        Cols.floorDiv(col("n_errors") * 100000000L,
          col("n_events") * targetE4).as("burn_1d_e4"),
        Cols.floorDiv(col("n_errors_7d") * 100000000L,
          col("n_events_7d") * targetE4).as("burn_7d_e4"))
      .withColumn("alert",
        when(col("burn_1d_e4") >= alertBurnE4 && col("burn_7d_e4") >= alertBurnE4, 1L)
          .otherwise(0L))
  }

  /** The ordered funnel split by deterministic A/B arm ([[abLift]]'s
    * salted hash): per arm, the same strict-ordering stage counts as
    * [[funnel]] — the "did the treatment change the FUNNEL, not just the
    * endpoint" readout. Composes the two operators rather than re-deriving
    * either.
    */
  def funnelByArm(
      events: DataFrame,
      stages: Seq[String],
      withinMs: Option[Long] = None): DataFrame = {
    val arm = pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L))
    Seq(0L, 1L)
      .map(a =>
        funnel(events.filter(arm === a), stages, withinMs)
          .select(lit(a).as("arm"), col("stage_idx"), col("stage"), col("n_users")))
      .reduce(_.unionAll(_))
  }

  /** Per-user behavioral entropy over the event-type distribution, in
    * exact integer e4: each (user, type) contributes
    * `round(−p·ln(p) · 10⁴)` (p = type share), and the integer terms sum
    * — quantize-then-sum makes the result independent of aggregation
    * order, the same trick as the unigram-surprisal operator. Specialists
    * score 0, uniform explorers ln(|types|)·10⁴.
    *
    * Scale: one hash aggregate onto (user, type), a window over the
    * user-keyed result for the totals, one more aggregate — all on the
    * same user shuffle key.
    */
  def userEntropy(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val counts = events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("total", sum(col("c")).over(byUser))
    val p = col("c").cast("double") / col("total").cast("double")
    counts
      .select(
        col("user_id"), col("c"), col("total"),
        round((lit(0.0) - p * log(p)) * 10000).cast("long").as("term_e4"))
      .groupBy(col("user_id"))
      .agg(
        max(col("total")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("term_e4")).as("entropy_e4"))
  }

  /** Empirical entropy rate of the event-type Markov chain, per state:
    * each from-type's conditional entropy H_i = −Σ_j p_ij·log₂(p_ij)
    * (bits, quantize-then-sum integer e6 like [[userEntropy]]), its
    * empirical stationary weight π̂_i = n_out_i / N over the observed
    * transition counts, and its contribution π̂_i·H_i to the chain's
    * entropy rate (Σ contrib = how many bits each step of user behavior
    * actually carries — the compressibility / predictability readout for
    * a sequence model over this event stream).
    *
    * `contrib_e6` multiplies the two ALREADY-QUANTIZED integers
    * (`pi_e6 · h_bits_e6 / 1e6`, exact floor) rather than `n_out·h/N`:
    * same grid both engines, and the product stays ≤ 1e6·~3e7 — no
    * overflow even when N is 100 TB-scale (n_out·h_bits_e6 would pass
    * 2⁶³ near n_out ≈ 1e12).
    *
    * Scale: rides [[transitions]] (one user-keyed window, hash aggregate
    * onto the |types|² matrix); everything after runs on that tiny
    * matrix, incl. the share-of-total window (the cs_markov_attribution
    * bound).
    */
  def markovEntropy(events: DataFrame): DataFrame = {
    val byFrom = Window.partitionBy(col("from_type"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val p = col("n_transitions").cast("double") / col("n_out").cast("double")
    val perFrom = transitions(events)
      .withColumn("n_out", sum(col("n_transitions")).over(byFrom))
      .withColumn(
        "term_e6",
        round((lit(0.0) - p * log2(p)) * 1000000).cast("long"))
      .groupBy(col("from_type"))
      .agg(
        max(col("n_out")).as("n_out"),
        count(lit(1)).as("n_targets"),
        sum(col("term_e6")).as("h_bits_e6"))
    perFrom
      .withColumn("__n", sum(col("n_out")).over(wAll))
      .select(
        col("from_type"), col("n_out"), col("n_targets"),
        Cols.floorDiv(col("n_out") * 1000000L, col("__n")).as("pi_e6"),
        col("h_bits_e6"))
      .withColumn(
        "contrib_e6",
        Cols.floorDiv(col("pi_e6") * col("h_bits_e6"), 1000000L))
  }

  /** Top user journeys: the `k` most common length-3 event-type paths
    * over per-user time-ordered sequences, ties broken by the path string
    * so the selected set is deterministic at the limit boundary.
    *
    * Scale: one window over (user_id) — the sessionization shuffle key —
    * two `lead`s wide, then a hash aggregate onto the (≤ |types|³) path
    * vocabulary and a TakeOrderedAndProject top-k. No joins.
    */
  def topPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(seq))
      .withColumn("t3", lead(col("event_type"), 2).over(seq))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** Hour-of-day seasonality profile per event type: counts and the
    * within-type share in integer ten-thousandths. Hour is derived from
    * the epoch-millisecond remainder (UTC) — pure integer math, no
    * timezone surface for the oracle to disagree on.
    *
    * Scale: one hash aggregate onto |types| × 24 rows; the share window
    * runs over that tiny table.
    */
  def hourProfile(events: DataFrame): DataFrame = {
    val hour = Cols.floorDiv(pmod(col("ts_ms"), lit(TimeSeries.DayMs)), 3600000L)
    val byType = Window.partitionBy(col("event_type"))
    events
      .groupBy(col("event_type"), hour.as("hour"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn(
        "share_e4",
        Cols.floorDiv(col("n_events") * 10000, sum(col("n_events")).over(byType)))
  }

  /** Day-over-day retention via bitmap indexes: each day's distinct
    * actives are packed into 63-bit bitmap words (word = user_id / 63,
    * bit = user_id % 63 — 63 bits per word, not 64, so no engine ever
    * shifts into the BIGINT sign bit), consecutive days' bitmaps are
    * ANDed per word, and retained = Σ popcount. One row per day that has
    * a previous day: (day, dau, prev_dau, retained, retention_e4).
    *
    * Scale: THE audience-overlap representation for 100 TB — the bitmap
    * table is |users|/63 longs per day regardless of event volume, the
    * day-over-day join co-partitions on (day, word) and never touches raw
    * events again, and AND/popcount are codegen'd integer ops. The same
    * bitmap table serves WAU/MAU overlap, cross-segment reach, and
    * incremental audience diffs; `count_distinct` retention at this
    * granularity would instead re-shuffle user ids every pairing.
    */
  /** Markov removal-effect attribution — the absorbing-chain upgrade of
    * [[SparkEntry]]'s position-based `cs_attribution`: model the user
    * journey as a first-order chain over event types ([[transitions]]'s
    * edges), make `purchase` absorbing, solve P(absorb | state) by
    * `iters` fixed-point iterations in EXACT e9 integers (per-edge terms
    * floored THEN summed — order-independent, any engine agrees
    * bit-for-bit), and score each non-absorbing state by how much the
    * overall start-weighted conversion probability drops when that state
    * is removed (paths through it die) — the standard removal-effect
    * channel attribution. The fixed iteration count is the convention
    * (the [[pageRank]] discipline): both engines run the same 16 steps,
    * so the quantized fixpoint is identical even where it hasn't fully
    * converged mathematically.
    *
    * Scale: edges/start-distribution are |types|²-/|types|-row aggregates
    * off one user-keyed window (the sessionization shuffle). The fixed-
    * point itself runs over a STATE SPACE of |types| ≤ a few dozen — data
    * that fits in one row — so the 16 iterations execute as ONE
    * higher-order `aggregate` expression over the collected edge array
    * (per run, per iteration: |states| map entries × |edges| flooring
    * terms, exact 64-bit Long arithmetic identical to the join+agg
    * formulation because floored terms sum commutatively). r15's
    * formulation advanced a run-tagged state TABLE through 16 join+agg
    * layers in one lazy plan; that still paid ~50 tiny stage barriers of
    * pure scheduling (measured 5.1–5.9 s at sf0.1 with the window
    * sessionization under 1 s). Collapsing the iteration into an
    * expression removes every per-iteration exchange: the remaining plan
    * is the sessionization window, three small aggregates, and a
    * runs-row map expression (r16 A/B at sf0.1: 5.31 s → 1.03 s raw,
    * 110 → 36 Spark jobs, identical output — oracle-green at 3 SFs).
    * At 100 TB the picture is unchanged — |types| is a model constant,
    * only the edge/start aggregates scale with data.
    */
  def markovAttribution(
      events: DataFrame,
      removable: Seq[String] = Seq("view", "click", "signup", "error"),
      iters: Int = 16): DataFrame = {
    import events.sparkSession.implicits._
    val E9 = 1000000000L
    val seqW = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    // referenced twice (edges + state universe): checkpoint so the
    // user-keyed window runs once
    val pairs = events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(seqW))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .localCheckpoint()
    val tEdges = pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("t_e9",
        Cols.floorDiv(col("__n") * E9, sum(col("__n")).over(Window.partitionBy(col("from_type")))))
      .filter(col("from_type") =!= "purchase")
      .select(col("from_type"), col("to_type"), col("t_e9"))
    val states = pairs.select(col("from_type").as("state"))
      .union(pairs.select(col("to_type").as("state")))
      .distinct()
    // start distribution: each user's first event type, e9 shares
    val firstTypes = events
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("__rn", row_number().over(seqW))
      .filter(col("__rn") === 1)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("__nf"))
    val start = firstTypes
      .withColumn("pi_e9", Cols.floorDiv(col("__nf") * E9,
        sum(col("__nf")).over(Window.partitionBy())))
      .select(col("state"), col("pi_e9"))

    // collapse the model to ONE row of arrays (|types| states, ≤ |types|²
    // edges — a few hundred bytes) and cross it onto the literal run list
    val edgesArr = tEdges.agg(
      collect_list(struct(col("from_type"), col("to_type"), col("t_e9"))).as("edges"))
    val statesArr = states.agg(sort_array(collect_list(col("state"))).as("states"))
    val runs = (("base", null: String) +: removable.map(x => (x, x)))
      .toDF("run", "__dead")
    val folded = runs
      .crossJoin(broadcast(statesArr))
      .crossJoin(broadcast(edgesArr))
    // p₀ = E9 on the absorbing state, 0 elsewhere (the removed state is
    // also 0 — identically pinned there by every rebuild below)
    val p0 = map_from_arrays(
      col("states"),
      transform(col("states"), s => when(s === "purchase", lit(E9)).otherwise(lit(0L))))
    // one fixed-point step: p'(s) = E9 if s absorbing, 0 if s removed,
    // else Σ_{edges e: e.from = s} ⌊t_e9(e) · p(e.to) / E9⌋ — exactly the
    // join+agg recurrence (floor per edge THEN sum; Long sums commute)
    def step(p: Column): Column = map_from_arrays(
      col("states"),
      transform(col("states"), s =>
        when(s === "purchase", lit(E9))
          .when(s === col("__dead"), lit(0L))
          .otherwise(aggregate(col("edges"), lit(0L), (acc, e) =>
            acc + when(e.getField("from_type") === s,
              Cols.floorDiv(e.getField("t_e9") * element_at(p, e.getField("to_type")), lit(E9)))
              .otherwise(lit(0L))))))
    // all `iters` steps in ONE expression: the lambda accumulator carries
    // the state map, so no per-iteration plan growth and no exchanges
    val pFinal = aggregate(sequence(lit(1), lit(iters)), p0, (p, _) => step(p))
    val pRows = folded.select(col("run"), explode(pFinal).as(Seq("state", "p")))
    val overall = start.join(pRows, "state")
      .groupBy(col("run"))
      .agg(sum(Cols.floorDiv(col("pi_e9") * col("p"), E9)).as("p_e9"))
      .localCheckpoint()
    val scored = overall.filter(col("run") =!= "base")
      .select(col("run").as("removed_state"), col("p_e9").as("p_removed_e9"))
      .crossJoin(broadcast(
        overall.filter(col("run") === "base").select(col("p_e9").as("p_base_e9"))))
      .select(col("removed_state"), col("p_base_e9"), col("p_removed_e9"),
        (col("p_base_e9") - col("p_removed_e9")).as("removal_effect_e9"))
    scored
      .withColumn("share_e4",
        when(sum(col("removal_effect_e9")).over(Window.partitionBy()) > 0,
          Cols.floorDiv(col("removal_effect_e9") * 10000L,
            sum(col("removal_effect_e9")).over(Window.partitionBy()))))
  }

  /** Fixed-round k-core peel over an undirected edge table: each round
    * drops nodes of degree < k and their incident edges; after `rounds`
    * iterations the report says how much graph survives — the standard
    * dense-substructure screen (spam rings, power-user cliques) and the
    * preprocessing cut before any expensive community algorithm. Fixed
    * iteration count needs no convergence test (the [[pageRank]]
    * discipline); shrinkage slows near the fixpoint, so the depth must
    * be MEASURED, not assumed — the sf0.01 basket graph needs 10 rounds
    * (5 left it 30 nodes short), and AnalyticsSpec pins
    * rounds = registered ≡ registered+1 so an unconverged peel fails a
    * test instead of silently agreeing with an equally-unrolled oracle.
    *
    * Scale: per round one degree aggregate + two semi-joins, each
    * bounded by the shrinking edge table. Each round's survivor edges
    * are checkpointed by [[graft.Rounds]]: every round references its
    * input THREE times (degree + two semi-joins), so an unbroken lineage
    * grows ~3^rounds and OOMs the planner before any data moves — the
    * checkpoint keeps the plan constant-size per round.
    */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 5): DataFrame = {
    val e = graft.Rounds.iterate(edges.select(col("src"), col("dst")), rounds)(
      (e, _) => corePeel(e, k.toLong))
    val coreNodes = endpoints(e).distinct().agg(count(lit(1)).as("n_core_nodes"))
    val coreEdges = e.agg(count(lit(1)).as("n_core_edges"))
    coreNodes.crossJoin(broadcast(coreEdges))
      .select(
        lit(k.toLong).as("k"), lit(rounds.toLong).as("rounds"),
        col("n_core_nodes"), col("n_core_edges"))
  }

  /** Full k-core decomposition — per-node CORE NUMBER (the max k whose
    * k-core contains the node), where [[kCore]] answers one fixed k:
    * the degeneracy feature every graph-ML pipeline attaches to nodes
    * (spam scoring, community seeding, peel-order sampling), and the
    * node-grain sibling of [[trussPeel]]'s edge trussness. Core 1 =
    * touches an edge but survives no 2-core (pendant trees peel away),
    * core k = survives the degree-≥k peel to fixpoint.
    *
    * Same incremental discipline as [[trussPeel]]: the (k+1)-core is a
    * subgraph of the k-core, so level k peels level k−1's fixpoint
    * instead of the full graph, and each round is one degree aggregate +
    * two semi-joins bounded by the shrinking edge set. [[graft.Rounds]]
    * runs the rounds and stops a level at its row-count fixpoint; that
    * test is one `count()` job per round, on the round's checkpoint,
    * plus one on the canonical edge table. The per-level cap is MEASURED
    * on the fixtures (pendant CHAINS peel one hop per round, so the k=2
    * level dominates depth — the sf0.01 basket graph's longest chain
    * sets it) and spec-pinned cap ≡ cap+2 so a deeper fixture fails a
    * test instead of shipping an unconverged core.
    */
  def coreNumbers(edges: DataFrame, kMax: Int = 4, rounds: Int = 12): DataFrame = {
    val peel = graft.Rounds.from(canonicalEdges(edges))
    val allNodes = endpoints(peel.frame).distinct().localCheckpoint()
    // the level's surviving NODE set is all the flag join needs; the
    // edge set stays only as the next level's peel input
    val levels = (2 to kMax).map { k =>
      peel.iterate(rounds, untilFixpoint = true)((cur, _) => corePeel(cur, k.toLong))
      (k, endpoints(peel.frame).distinct().localCheckpoint())
    }
    peel.close()
    val flagged = levels.foldLeft(allNodes) { case (acc, (k, s)) =>
      acc.join(s.withColumn(s"__c$k", lit(1L)), Seq("node"), "left")
    }
    // ascending fold wraps lower levels inside higher ones — the
    // outermost case is the highest k (the trussPeel ordering law)
    flagged.select(
      col("node"),
      levels.foldLeft(lit(1L)) { case (tail, (k, _)) =>
        when(col(s"__c$k") === 1L, k.toLong).otherwise(tail)
      }.as("core"))
  }

  /** Symmetrized, deduplicated adjacency of an (src, dst) edge table —
    * the shared first stage of every landmark walk below.
    */
  private def undirect(edges: DataFrame): DataFrame =
    bothWays(edges, "src", "dst", "src", "dst").distinct()

  /** The landmark rule shared by [[bfsHops]], [[betweennessSample]] and
    * [[cheapestPath]]: the `nSources` highest-degree nodes, ties by id —
    * one definition so the three walks can never drift apart.
    */
  private def hubSources(und: DataFrame, nSources: Int): DataFrame =
    und.groupBy(col("src"))
      .agg(count(lit(1)).as("__deg"))
      .orderBy(col("__deg").desc, col("src"))
      .limit(nSources)
      .select(col("src").as("source"))

  /** Multi-source BFS hop distances from the graph's hub nodes — the
    * "how far is everything from the catalog's centers" readout, and the
    * building block behind landmark-distance features and
    * diameter/ball-growth estimation. Sources are the `nSources`
    * highest-degree nodes (ties by id); output is one row per
    * (source, node) with the exact minimum hop count ≤ `maxHops`.
    *
    * The expansion is the standard distributed frontier BFS: each round
    * joins the CURRENT frontier (nodes whose min distance is exactly
    * r−1, recovered by the min-aggregate — already-settled nodes never
    * rejoin) to the adjacency list on the node key, then folds the new
    * reach into the distance table with one min-aggregate. Cost per
    * round is Σ frontier-degree — edge-sized and equi-keyed, never
    * node². `maxHops` is a fixed unroll, one checkpoint per round.
    */
  def bfsHops(edges: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame = {
    // one checkpoint per round ([[graft.Rounds]]): round r references
    // round r−1 TWICE (frontier filter + union), so the un-checkpointed
    // plan doubled per round — at maxHops=3 the final li_closeness plan
    // carried ~300 copies of the lineitem scan and the co-occurrence
    // pyramid, and Catalyst planning dominated the measured time
    // (plans/r15/li_closeness_before.txt). The edge table materializes once.
    val und = undirect(edges).localCheckpoint()
    val sources = hubSources(und, nSources)
    val init = sources.select(col("source"), col("source").as("node"), lit(0L).as("hops"))
    val dist = graft.Rounds.iterate(init, maxHops) { (dist, r) =>
      val frontier = dist.filter(col("hops") === (r - 1).toLong)
        .join(und, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), lit(r.toLong).as("hops"))
      dist.unionAll(frontier)
        .groupBy(col("source"), col("node"))
        .agg(min(col("hops")).as("hops"))
    }
    // only the final (checkpointed) distance table backs the returned plan
    graft.LocalCheckpoints.free(und)
    dist
  }

  /** Landmark closeness/harmonic centrality — the per-node readout of
    * [[bfsHops]]' distance table: over the hub landmarks that reach a
    * node (self rows excluded), how many reach it, the total hop count
    * (closeness denominator), and the harmonic sum `Σ ⌊10⁶ / hops⌋` —
    * the variant that stays comparable when some landmarks DON'T reach a
    * node (unreached terms contribute 0 instead of poisoning a mean).
    * This is how centrality is read at scale: exact landmark distances,
    * not an all-pairs pass.
    *
    * Scale: [[bfsHops]]' frontier equi-joins plus one node-keyed hash
    * aggregate over the (sources × reached) distance table.
    */
  def closeness(edges: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame =
    bfsHops(edges, nSources, maxHops)
      .filter(col("node") =!= col("source"))
      .groupBy(col("node"))
      .agg(
        count(lit(1)).as("n_sources"),
        sum(col("hops")).as("sum_hops"),
        sum(Cols.floorDiv(lit(1000000L), col("hops"))).as("harmonic_e6"))

  /** Landmark eccentricity — [[closeness]]'s transpose: per hub landmark,
    * how many nodes its `maxHops`-ball reaches, the deepest hop seen
    * (an eccentricity lower bound; the max over landmarks lower-bounds
    * the graph diameter), and the mean hop depth (exact e4 floor) — the
    * ball-profile readout that says whether the landmarks sit centrally
    * or on the rim.
    *
    * Scale: the [[bfsHops]] frontier equi-joins plus one
    * nSources-row aggregate.
    */
  def eccentricity(edges: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame =
    bfsHops(edges, nSources, maxHops)
      .filter(col("node") =!= col("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_reached"),
        max(col("hops")).as("ecc_lb"),
        Cols.floorDiv(sum(col("hops")) * 10000L, count(lit(1))).as("mean_hops_e4"))

  /** Supplier share drift between the two calendar halves of the ship
    * span — who is gaining and who is losing the book of business: per
    * supplier the shipped quantity and share (exact e4) in each half and
    * the share shift. The split day is the 1-row min/max midpoint
    * broadcast (the [[graft.ops.Profile]] stats-drift convention), so
    * the screen is replayable on any engine.
    *
    * Scale: one narrow scan + supplier hash aggregate; the midpoint and
    * the half totals are 1-row broadcasts riding it — nothing data-sized
    * moves twice.
    */
  def supplierShareShift(lineitem: DataFrame): DataFrame = {
    val day = Cols.floorDiv(
      unix_millis(col("l_shipdate").cast("timestamp")), TimeSeries.DayMs)
    val withDay = lineitem.select(
      col("l_suppkey"), round(col("l_quantity")).cast("long").as("__q"), day.as("__day"))
    val mid = withDay.agg(
      Cols.floorDiv(min(col("__day")) + max(col("__day")), lit(2L)).as("__mid"))
    val bySupp = withDay.crossJoin(broadcast(mid))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(col("__day") <= col("__mid"), col("__q")).otherwise(0L)).as("qty_early"),
        sum(when(col("__day") > col("__mid"), col("__q")).otherwise(0L)).as("qty_late"))
    val tot = bySupp.agg(
      sum(col("qty_early")).as("__ta"), sum(col("qty_late")).as("__tb"))
    bySupp.crossJoin(broadcast(tot))
      .select(
        col("l_suppkey"), col("qty_early"), col("qty_late"),
        Cols.floorDiv(col("qty_early") * 10000L, greatest(col("__ta"), lit(1L)))
          .as("share_early_e4"),
        Cols.floorDiv(col("qty_late") * 10000L, greatest(col("__tb"), lit(1L)))
          .as("share_late_e4"))
      .withColumn("shift_e4", col("share_late_e4") - col("share_early_e4"))
  }

  /** Sampled Brandes betweenness centrality, hop-bounded: exact shortest
    * -path dependency accumulation from the `nSources` hub landmarks
    * (the [[bfsHops]] source rule), truncated at `maxHops` — the
    * standard pivot-sampling estimator (Brandes 2001's accumulation over
    * a source SAMPLE instead of all n sources, which is how betweenness
    * is ever computed at scale). Forward pass: the frontier BFS carries
    * σ (shortest-path COUNTS — new nodes sum their distance-(r−1)
    * predecessors' σ) instead of [[bfsHops]]' plain distance. Backward
    * pass: per hop level from the deepest in, every node folds its
    * DAG-successor dependencies as exact e6 floors,
    * `δ(u) = Σ_w ⌊σ_u · (10⁶ + δ(w)) / σ_w⌋`, and a node's betweenness
    * is its δ summed over sources. Degree ranks and betweenness ranks
    * genuinely differ (a bridge node beats a leaf-fan hub) — the spec
    * pins such a graph.
    *
    * Scale: every stage is an equi-join — frontier×adjacency forward
    * (cost Σ frontier-degree, the BFS bound), level×adjacency×level
    * backward (cost Σ inter-level-edge count, ≤ the same bound). Each
    * level is `localCheckpoint`ed: the backward pass references every
    * level twice, which un-checkpointed would re-expand the whole
    * forward pyramid per round; retired blocks are freed before return.
    * δ terms widen to decimal(38,0) before summing. Never node², never corpus².
    */
  def betweennessSample(edges: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame = {
    val und = undirect(edges).localCheckpoint()
    val sources = hubSources(und, nSources)
    // forward: levels(r) = nodes at exact distance r with σ = number of
    // shortest paths from the source (sum over distance-(r-1) predecessors)
    // sigma and delta_e6 stay decimal(38,0) through every level frame
    // (DuckDB mirrors them in HUGEINT until the final readout); a
    // long-narrowed level on a pathologically dense graph would
    // silently null under the non-ANSI cast instead of matching
    val level0 = sources
      .select(col("source"), col("source").as("node"), dec38(lit(1L)).as("sigma"))
      .localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    var settled = level0.select(col("source"), col("node"))
    for (r <- 1 to maxHops) {
      val lvl = levels(r - 1)
        .join(und, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), col("sigma"))
        .groupBy(col("source"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled, Seq("source", "node"), "left_anti")
        .localCheckpoint()
      levels += lvl
      settled = settled.unionAll(lvl.select(col("source"), col("node")))
    }
    // backward: deepest level seeds δ = 0; each shallower level folds its
    // successor terms (nodes with no DAG successor keep δ = 0)
    var cur = levels(maxHops).withColumn("delta_e6", dec38(lit(0L))).localCheckpoint()
    val deltas = scala.collection.mutable.ArrayBuffer(cur)
    for (r <- (maxHops - 1) to 1 by -1) {
      val succ = cur.select(
        col("source"), col("node").as("__w"), col("sigma").as("__sw"),
        col("delta_e6").as("__dw"))
      val terms = levels(r)
        .join(und, col("node") === col("src"))
        .join(succ, col("dst") === col("__w") && levels(r)("source") === succ("source"))
        .select(
          levels(r)("source").as("source"), col("node"),
          Cols.floorDiv(
            dec38(col("sigma")) * (dec38(col("__dw")) + dec38(lit(1000000L))),
            dec38(col("__sw"))).as("__t"))
        .groupBy(col("source"), col("node"))
        .agg(sum(dec38(col("__t"))).as("__d"))
      cur = levels(r)
        .join(terms, Seq("source", "node"), "left")
        .select(col("source"), col("node"), col("sigma"),
          coalesce(col("__d"), dec38(lit(0L))).as("delta_e6"))
        .transform(graft.Rounds.materialize)
      deltas += cur
    }
    // every backward level is materialized; the forward levels and the
    // adjacency block are no longer referenced by the returned plan
    levels.foreach(graft.LocalCheckpoints.free)
    graft.LocalCheckpoints.free(und)
    deltas.map(_.select(col("source"), col("node"), col("delta_e6")))
      .reduce(_ unionAll _)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("delta_e6")).cast("long").as("bc_e6"))
  }

  /** WEIGHTED sampled betweenness — [[betweennessSample]]'s Brandes
    * accumulation over [[cheapestPath]]'s min-COST DAGs instead of
    * hop-count BFS layers: a node that bridges strong co-purchase chains
    * ranks above a hub of weak ties, which hop-counted betweenness
    * cannot see (the spec pins a graph where the two rankings differ).
    *
    * Three phases, each a fixed `maxHops`-round loop mirrored exactly by
    * the unrolled oracle CTEs:
    *  1. distances — bounded Bellman-Ford from the hub landmarks (the
    *     [[cheapestPath]] relaxation);
    *  2. σ — cheapest-path counts over the shortest-path DAG
    *     (edge (u,v) is in the DAG iff `dist(u) + w(u,v) = dist(v)`;
    *     every edge cost is ≥ 1 by the [[weightedUndirect]] clamp, so
    *     costs strictly increase along DAG edges and it IS a DAG), by
    *     `maxHops` rounds of predecessor-sum iteration. NOTE: under the
    *     hop-bounded Bellman-Ford the DAG can contain shortest paths
    *     with MORE than `maxHops` edges (e.g. a 4-edge chain of cost-1
    *     edges tying a direct cost-4 edge at maxHops=3), and the fixed
    *     `maxHops` rounds count only DAG paths of ≤ `maxHops` edges —
    *     σ/δ are therefore the TRUNCATED path counts, not the full
    *     Brandes figures. Parity holds because the oracle unrolls the
    *     identical rounds: both engines truncate identically;
    *  3. δ — Brandes dependencies by `maxHops` rounds of successor
    *     folds, `δ(u) = Σ_w ⌊σ_u · (10⁶ + δ(w)) / σ_w⌋` over DAG
    *     successors with σ_w > 0 (hop-bounding can leave a reached node
    *     with no DAG path — σ 0 — and those terms are excluded on both
    *     engines).
    *
    * σ and δ stay decimal(38,0) through every frame (HUGEINT in the
    * oracle), narrowing to long only in the final readout — the
    * [[betweennessSample]] widening discipline.
    *
    * Scale: every stage is an equi-join on (source, node) or the edge
    * key — dist-table×adjacency relaxation (Σ reached-degree per round),
    * one DAG materialization, then node-sized σ/δ iterations against the
    * edge-sized DAG. Intermediate rounds are each consumed exactly once,
    * so each phase stays ONE lazy plan; only the four fan-out frames
    * (adjacency, final dist, DAG, final σ/δ) `localCheckpoint`, and all
    * but the final δ are freed before return. Never node², never
    * corpus².
    */
  def betweennessWeighted(pairs: DataFrame, nSources: Int = 3, maxHops: Int = 3): DataFrame = {
    val und = weightedUndirect(pairs).localCheckpoint()
    val sources = hubSources(und, nSources)
    // phase 1: bounded Bellman-Ford distances (the cheapestPath loop).
    // Intermediate rounds are each referenced exactly once by the next,
    // so the pyramid stays ONE lazy plan; only the FINAL table
    // checkpoints — it fans out into the DAG join (twice) and every
    // sigma/delta round below. Same discipline in phases 2–3: four
    // materializations total instead of one per round.
    var dist0 = sources
      .select(col("source"), col("source").as("node"), lit(0L).as("cost_e6"))
    for (_ <- 1 to maxHops) {
      val relax = dist0.join(und, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"),
          (col("cost_e6") + col("w")).as("cost_e6"))
      dist0 = dist0.unionAll(relax)
        .groupBy(col("source"), col("node"))
        .agg(min(col("cost_e6")).as("cost_e6"))
    }
    val dist = dist0.localCheckpoint()
    // the per-source shortest-path DAG: edges whose cost is tight
    val dag = dist
      .select(col("source"), col("node").as("u"), col("cost_e6").as("__cu"))
      .join(und, col("u") === col("src"))
      .join(
        dist.select(
          col("source").as("__sv"), col("node").as("v"), col("cost_e6").as("__cv")),
        col("source") === col("__sv") && col("dst") === col("v") &&
          (col("__cu") + col("w")) === col("__cv"))
      .select(col("source"), col("u"), col("v"))
      .localCheckpoint()
    // phase 2: sigma by predecessor-sum iteration (source pinned at 1);
    // only the final table checkpoints — every delta round reads it twice
    val nodes = dist.select(col("source"), col("node"))
    var sigma0 = nodes
      .select(col("source"), col("node"),
        when(col("node") === col("source"), dec38(lit(1L)))
          .otherwise(dec38(lit(0L))).as("sigma"))
    for (_ <- 1 to maxHops) {
      val inc = dag
        .join(
          sigma0.select(
            col("source").as("__us"), col("node").as("__un"), col("sigma").as("__su")),
          col("source") === col("__us") && col("u") === col("__un"))
        .groupBy(col("source"), col("v").as("node"))
        .agg(sum(col("__su")).as("__inc"))
      sigma0 = nodes
        .join(inc, Seq("source", "node"), "left")
        .select(col("source"), col("node"),
          when(col("node") === col("source"), dec38(lit(1L)))
            .otherwise(coalesce(col("__inc"), dec38(lit(0L)))).as("sigma"))
    }
    val sigma = sigma0.localCheckpoint()
    // phase 3: delta by successor-fold iteration from delta = 0; rounds
    // reference their predecessor once, so the fold stays one lazy plan
    // until the final checkpoint that lets the blocks below be freed
    var delta0 = nodes.withColumn("delta_e6", dec38(lit(0L)))
    for (_ <- 1 to maxHops) {
      val wside = sigma
        .join(delta0, Seq("source", "node"))
        .filter(col("sigma") > 0)
        .select(col("source").as("__ws"), col("node").as("__w"),
          col("sigma").as("__sw"), col("delta_e6").as("__dw"))
      val terms = dag
        .join(
          sigma.select(
            col("source").as("__us"), col("node").as("__un"), col("sigma").as("__su")),
          col("source") === col("__us") && col("u") === col("__un"))
        .join(wside, col("source") === col("__ws") && col("v") === col("__w"))
        .select(col("source"), col("u").as("node"),
          Cols.floorDiv(
            col("__su") * (col("__dw") + dec38(lit(1000000L))), col("__sw")).as("__t"))
        .groupBy(col("source"), col("node"))
        .agg(sum(dec38(col("__t"))).as("__d"))
      delta0 = nodes
        .join(terms, Seq("source", "node"), "left")
        .select(col("source"), col("node"),
          coalesce(col("__d"), dec38(lit(0L))).as("delta_e6"))
    }
    val delta = graft.Rounds.materialize(delta0)
    // the source's own row is excluded, as in [[betweennessSample]]
    // (standard Brandes: δ accumulates over non-source nodes only)
    val out = delta
      .filter(col("node") =!= col("source"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("delta_e6")).cast("long").as("bc_e6"))
    // only the final delta table backs the returned plan
    graft.LocalCheckpoints.free(und)
    graft.LocalCheckpoints.free(dag)
    graft.LocalCheckpoints.free(dist)
    graft.LocalCheckpoints.free(sigma)
    out
  }

  /** Connected components of an undirected edge table by fixed-round
    * HashMin flooding WITH pointer jumping: every node starts labeled
    * with its own id, and each round (a) takes the min over itself and
    * its neighbors' labels, then (b) shortcuts through the label table
    * (`label ← label(label)` — labels are always live node ids, so the
    * jump join is total). The jump makes convergence logarithmic in the
    * diameter instead of linear — the difference between "a handful of
    * rounds" and "rounds = longest path" on chain-shaped graphs, which
    * is what makes fixed-round CC safe to ship at 100 TB. Output: one
    * row per component (root label, node count) — the graph family's
    * missing quadrant next to [[pageRank]] (centrality), [[kCore]]
    * (density), and [[labelPropStep]] (communities).
    *
    * `rounds` is MEASURED, not assumed, exactly like the k-core depth:
    * AnalyticsSpec pins registered ≡ registered+1 on the sf0.01 basket
    * graph (full-table compare), so a fixture change that stretches the
    * diameter fails a test instead of silently shipping split
    * components.
    *
    * Scale: per round one neighbor-label join (edge-sized, keyed by
    * node) + one min-aggregate + one node-sized jump join, each stage
    * checkpointed by [[graft.Rounds]].
    */
  def components(edges: DataFrame, rounds: Int = 5): DataFrame = {
    val sym = bothWays(edges, "src", "dst", "a", "b").localCheckpoint()
    val init = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val labels = graft.Rounds.from(init).iterate(rounds)(
      (labels, _) => sym
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .select(col("a").as("node"), col("label"))
        .union(labels)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label")),
      (m, _) => m
        .join(m.select(col("node").as("label"), col("label").as("__jl")), "label")
        .select(col("node"), col("__jl").as("label"))).frame
    // every round is already materialized, so the edge-sized sym block —
    // the largest intermediate — can be released; only the final label
    // table backs the returned plan
    graft.LocalCheckpoints.free(sym)
    labels
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** The distance-2 wedges of an undirected `(src, dst)` edge table, the
    * candidate generator of [[linkPrediction]] and [[adamicAdar]].
    * Neighborhoods are ONE node-keyed list aggregate (the
    * [[groupedItemSets]] shape): degrees fall out as `size`, the `maxDeg`
    * center cap is a size filter, and the pair fan-out runs in-row
    * ([[pairRows]]). `collect_list` keeps duplicate edges, and the strict
    * `item_a < item_b` filter on the exploded pairs drops the pairs a
    * duplicate neighbor makes with itself, so the wedge multiplicity is
    * that of the center-keyed self-join.
    *
    * Returns `(deg, wedges)`: `deg` is `(node, d)` for every node, degrees
    * uncapped; `wedges` has one `(item_a, item_b, __w)` row per wedge
    * through a center of degree ≤ `maxDeg`, where `__w` is `weight`
    * applied to the center's degree.
    */
  private[ops] def wedges(
      edges: DataFrame, maxDeg: Int,
      weight: Column => Column = _ => lit(1L)): (DataFrame, DataFrame) = {
    val nbrSets = bothWays(edges, "src", "dst", "node", "nbr")
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("__nbrs"))
    val deg = nbrSets.select(col("node"), size(col("__nbrs")).cast("long").as("d"))
    val centers = nbrSets
      .filter(size(col("__nbrs")) <= maxDeg)
      .withColumn("d", size(col("__nbrs")).cast("long"))
      .withColumn("__w", weight(col("d")))
    (deg, pairRows(centers, col("__nbrs"), "__w").filter(col("item_a") < col("item_b")))
  }

  /** Common-neighbor link prediction over an undirected edge table: the
    * top-`k` NON-adjacent pairs ranked by how many neighbors they share
    * — the "customers who bought these also bought..." candidate
    * generator, and the missing-edge quadrant next to [[components]]
    * (existing structure) and [[coOccurrence]] (observed pairs). Each
    * candidate also reports its neighborhood Jaccard in exact e4:
    * `⌊cn·10⁴ / (deg_a + deg_b − cn)⌋`.
    *
    * Candidates are exactly the distance-2 pairs: both neighbors of some
    * shared wedge center ([[wedges]]). Centers with degree > `maxDeg` are
    * dropped BEFORE the pair explode — a super-hub
    * contributes deg² candidate pairs while carrying almost no linkage
    * evidence (everything is 2 hops through it), so the cap is both the
    * fan-out bound AND standard link-prediction practice. Degrees in the
    * Jaccard stay UNcapped, so the score is a documented lower bound of
    * true common-neighbor Jaccard.
    *
    * Scale: wedge fan-out is Σ deg(c)² over KEPT centers — bounded by
    * maxDeg·|E| no matter how skewed the graph; the pair aggregate
    * map-side combines; the existing-edge screen is a left-anti join on
    * the canonical (a<b) pair key; the final top-k is
    * `orderBy().limit(k)` → TakeOrderedAndProject, never a
    * single-partition window.
    */
  def linkPrediction(edges: DataFrame, maxDeg: Int = 200, k: Int = 20): DataFrame = {
    // NOT checkpointed: measured 0.81x (r15 A/B) — exchange reuse already
    // shares the upstream pyramid across the references, and the barrier
    // costs more than it saves.
    val (deg, w) = wedges(edges, maxDeg)
    val cand = w
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("cn"))
    cand
      .join(
        edges.select(col("src").as("item_a"), col("dst").as("item_b")),
        Seq("item_a", "item_b"), "left_anti")
      .join(deg.select(col("node").as("item_a"), col("d").as("deg_a")), "item_a")
      .join(deg.select(col("node").as("item_b"), col("d").as("deg_b")), "item_b")
      // cn ≥ 1 and deg_a + deg_b − cn ≥ cn > 0: numerator and divisor are
      // both positive, so integer division is exact floor in any engine
      .withColumn("jaccard_e4",
        Cols.floorDiv(col("cn") * 10000L, col("deg_a") + col("deg_b") - col("cn")))
      .select(
        col("item_a"), col("item_b"), col("cn"),
        col("deg_a"), col("deg_b"), col("jaccard_e4"))
      .orderBy(
        col("cn").desc, col("jaccard_e4").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Adamic–Adar link prediction — [[linkPrediction]]'s wedge machinery
    * with the standard rare-neighbor weighting: a shared neighbor `c`
    * contributes `⌊10¹⁰ / round(ln(deg_c)·10⁶)⌋` (≈ 10⁴/ln deg_c, exact
    * e4 units) instead of 1, so two items co-stocked with a niche part
    * outrank two items that merely share a super-popular one — the
    * correction plain common-neighbor counting is known to need. Same
    * distance-2 candidate generation, same `maxDeg` center cap (degrees
    * in the WEIGHT stay uncapped), same non-adjacency screen and
    * deterministic top-k ordering (score, cn, ids).
    *
    * ln appears only inside a rounded integer term (the quantize-then-
    * sum convention); a wedge center has degree ≥ 2 by construction, so
    * the weight is always positive and finite.
    *
    * Scale: identical to [[linkPrediction]] — wedge fan-out bounded by
    * maxDeg·|E|, map-side-combined pair aggregate, left-anti edge
    * screen, TakeOrderedAndProject top-k.
    */
  def adamicAdar(edges: DataFrame, maxDeg: Int = 200, k: Int = 20): DataFrame = {
    // not checkpointed — the [[linkPrediction]] measurement (0.87x here).
    // A degree-1 node centers no wedge (sortedPairs yields nothing), so
    // its weight is never read; null it rather than divide by ln 1 = 0.
    val (_, w) = wedges(edges, maxDeg, d => when(d >= 2,
      Cols.floorDiv(lit(10000000000L), round(log(d) * 1e6).cast("long"))))
    val cand = w
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("cn"), sum(col("__w")).as("aa_e4"))
    cand
      .join(
        edges.select(col("src").as("item_a"), col("dst").as("item_b")),
        Seq("item_a", "item_b"), "left_anti")
      .select(col("item_a"), col("item_b"), col("cn"), col("aa_e4"))
      .orderBy(col("aa_e4").desc, col("cn").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Local clustering coefficient distribution over an undirected edge
    * table — the per-NODE companion of [[triangleStats]]'s one global
    * closure number: `cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`, reported as
    * an 11-bucket histogram (⌊cc_e4/1000⌋ — the "how clique-ish are the
    * neighborhoods" distribution that separates a few dense communities
    * from uniform mild closure, which the global coefficient cannot).
    * Per-node triangle counts are EXACT via degree orientation: each
    * edge points from its (deg, id)-smaller endpoint to the larger, a
    * wedge is two out-edges of one center in endpoint order, and the
    * triangle closes iff the oriented v→w edge exists — every triangle
    * enumerated exactly once, then credited to all three corners.
    * Degree-1 nodes have no defined cc and are dropped; a bucket row
    * carries enough mass (`sum_cc_e4`, `n_nodes`, `sum_triangles`,
    * `sum_deg`) to read means per bucket without a second pass.
    *
    * Scale: the orientation caps wedge fan-out at Σ outdeg² ≤ O(|E|^1.5)
    * WITHOUT dropping anything (out-degree never exceeds √(2|E|) under
    * (deg, id) order) — the exact-counting alternative to
    * [[linkPrediction]]'s declared maxDeg cap; the closing-edge probe is
    * an equi-join on the (v, w) pair key, corners are a bounded ×3
    * explode of the triangle table, and the output is ≤ 11 rows.
    */
  /** Degree-orientation triangle enumeration shared by
    * [[localClustering]] (node grain) and [[edgeSupport]] (edge grain):
    * edges oriented low-(degree, id) → high bound wedge fan-out at
    * Σ outdeg² ≤ O(|E|^1.5) with no caps, each wedge closed by one
    * semi-join. Returns (degree table, (u, v, w) triangle table).
    */
  private def orientedTriangles(e: DataFrame): (DataFrame, DataFrame) = {
    val adj = bothWays(e, "src", "dst", "node", "nbr")
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val o = adj
      .join(deg.select(col("node"), col("d").as("__du")), "node")
      .join(deg.select(col("node").as("nbr"), col("d").as("__dv")), "nbr")
      .filter(col("__du") < col("__dv")
        || (col("__du") === col("__dv") && col("node") < col("nbr")))
      .select(col("node").as("u"), col("nbr").as("v"), col("__dv").as("dv"))
    val tri = o.select(col("u"), col("v"), col("dv").as("__da"))
      .join(o.select(col("u"), col("v").as("w"), col("dv").as("__db")), "u")
      .filter(col("__da") < col("__db")
        || (col("__da") === col("__db") && col("v") < col("w")))
      .join(o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    (deg, tri)
  }

  /** Per-edge triangle support — the k-truss readout at edge grain
    * ([[localClustering]] is the node-grain view of the same triangle
    * enumeration): every co-occurrence edge with the number of
    * triangles it participates in, plus the 3-truss / 4-truss
    * membership flags (an edge is in the k-truss when its support is at
    * least k−2; one pass reports the support — full k-truss peeling
    * iterates deletions, and this is the table that peeling reads).
    * Low-support edges are the weak ties a graph-cleaning pass prunes
    * first; high-support edges are the community cores.
    *
    * Scale: the [[orientedTriangles]] machinery (cap-free Σ outdeg²
    * wedge bound), one explode of each triangle to its three sorted
    * edges, one hash aggregate, one left join back to the edge table —
    * everything at edge/triangle grain, never node×node.
    */
  /** Triangle-support table of a canonical (item_a < item_b) edge table:
    * one row per edge that closes at least one triangle, with its count.
    * Shared by [[edgeSupport]] (one-shot readout) and [[trussPeel]]
    * (recomputed per peel round over the shrinking edge set).
    */
  private def supportOf(e: DataFrame): DataFrame = {
    val (_, tri) = orientedTriangles(
      e.select(col("item_a").as("src"), col("item_b").as("dst")))
    tri
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("__e"))
      .groupBy(col("__e.a").as("item_a"), col("__e.b").as("item_b"))
      .agg(count(lit(1)).as("support"))
  }

  def edgeSupport(edges: DataFrame): DataFrame = {
    // checkpoint the canonical edge set, as [[trussPeel]] does:
    // supportOf references it four times (degrees, orientation, the
    // closing semi-join) plus the final left join — un-checkpointed,
    // each reference re-plans (and without exchange reuse re-executes)
    // the whole upstream co-occurrence pyramid
    val e = canonicalEdges(edges, "item_a", "item_b").localCheckpoint()
    e.join(supportOf(e), Seq("item_a", "item_b"), "left")
      .na.fill(0L, Seq("support"))
      .select(
        col("item_a"), col("item_b"), col("support"),
        when(col("support") >= 1L, 1L).otherwise(0L).as("in_3truss"),
        when(col("support") >= 2L, 1L).otherwise(0L).as("in_4truss"))
  }

  /** Full k-truss peeling over an undirected edge table — the iterative
    * completion [[edgeSupport]]'s scaladoc promises: per edge the MAX k
    * such that the edge survives the k-truss (every edge in a k-truss
    * has support ≥ k−2 WITHIN the truss, not just in the original
    * graph). One-shot support flags overcount: a chain of two triangles
    * {1,2,3},{2,3,4} gives edge (2,3) support 2 — the in_4truss flag —
    * but the 4-truss is empty (the four side edges have support 1, and
    * peeling them starves (2,3)); AnalyticsSpec pins exactly that graph.
    * Output: one row per original edge with its one-shot `support` and
    * its peeled `trussness` (2 = survives no nontrivial truss) — the
    * per-k surviving edge/node counts are a grouping of this table
    * ([[trussSummary]]).
    *
    * Trussness is computed incrementally: the (k+1)-truss is a subgraph
    * of the k-truss, so level k peels level k−1's survivors rather than
    * the full graph — the expensive first cut (support ≥ 1) runs once.
    * Each peel round drops the edges whose support is under k−2, then
    * recomputes [[supportOf]] (the cap-free Σ outdeg² oriented
    * enumeration) over the CURRENT survivor set. [[graft.Rounds]] runs the
    * rounds and stops a level at its row-count fixpoint: it checkpoints
    * the survivors and counts them, one `count()` job per round (plus one
    * on the first support table), and skips the recount once no edge
    * dropped. The cap is
    * MEASURED per fixture, not assumed: the dense sf0.001 basket graph
    * peels k=4 for 5 effective rounds (2244 → 2048 → 1997 → 1973 →
    * 1968 → 1966) where sf0.01 needs 2 and sf0.1 one — AnalyticsSpec
    * pins the cap at the deepest fixture.
    *
    * Scale: per round one triangle enumeration bounded by the shrinking
    * survivor set (the first round dominates — later levels peel graphs
    * that are already dense cores); each round references its input four
    * times, so every stage is checkpointed. `rounds` is the per-level
    * cap, MEASURED not assumed: AnalyticsSpec pins registered ≡
    * registered+1 on the sf0.01 basket graph.
    */
  def trussPeel(edges: DataFrame, kMax: Int = 4, rounds: Int = 8): DataFrame = {
    def withSupport(e: DataFrame): DataFrame =
      e.join(supportOf(e), Seq("item_a", "item_b"), "left")
        .na.fill(0L, Seq("support"))
    // invariant: the current round always carries the support of each
    // edge WITHIN the current survivor set, so a peel round is a filter +
    // recount, and the expensive triangle enumeration reruns only when
    // edges dropped (a level inherits its predecessor's fixpoint support
    // table). sup0 and the level fixpoints back the final join, so they
    // are kept; the edge table and every other round are freed.
    val peel = graft.Rounds.from(canonicalEdges(edges, "item_a", "item_b"))
    val sup0 = peel.step(withSupport).keep()
    val levels = (3 to kMax).map { k =>
      peel.iterate(rounds, untilFixpoint = true)(
        (cur, _) => cur.filter(col("support") >= (k - 2).toLong)
          .select(col("item_a"), col("item_b")),
        (survivors, _) => withSupport(survivors))
      (k, peel.keep())
    }
    val flagged = levels.foldLeft(sup0) { case (acc, (k, s)) =>
      acc.join(
        s.select(col("item_a"), col("item_b")).withColumn(s"__t$k", lit(1L)),
        Seq("item_a", "item_b"), "left")
    }
    // trussness cases must test the HIGHEST level outermost (S_{k+1} ⊆
    // S_k, so every surviving edge also carries the lower flags):
    // folding in ascending k wraps each lower case inside the next
    flagged.select(
      col("item_a"), col("item_b"), col("support"),
      levels.foldLeft(lit(2L)) { case (tail, (k, _)) =>
        when(col(s"__t$k") === 1L, k.toLong).otherwise(tail)
      }.as("trussness"))
  }

  /** Per-k truss census off [[trussPeel]]'s per-edge table: for each
    * truss level k (2 ≤ k ≤ kMax) the surviving edge and node counts —
    * the density staircase an analyst reads to pick a community
    * threshold. k = 2 is the whole (deduplicated) graph by definition.
    *
    * Scale: a bounded ×(k−1) `sequence` explode of the edge table (an
    * edge with trussness t is in every level ≤ t), one hash aggregate
    * for edges, one distinct + aggregate for nodes at ≤ 2×levels×|E|
    * rows, and a ≤ (kMax−1)-row join — no second peel.
    */
  def trussSummary(edges: DataFrame, kMax: Int = 4, rounds: Int = 8): DataFrame = {
    val pe = trussPeel(edges, kMax, rounds)
    val lv = pe.select(
      col("item_a"), col("item_b"),
      explode(sequence(lit(2L), col("trussness"))).as("k"))
    val eCnt = lv.groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    val nCnt = lv
      .select(col("k"), explode(array(col("item_a"), col("item_b"))).as("node"))
      .distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    // an empty level (the fixture's 4-truss) still gets its zero row —
    // the staircase readout must show where the density runs out
    pe.sparkSession.range(2L, kMax + 1L).select(col("id").as("k"))
      .join(eCnt, Seq("k"), "left")
      .join(nCnt, Seq("k"), "left")
      .na.fill(0L, Seq("n_edges", "n_nodes"))
      .select(col("k"), col("n_edges"), col("n_nodes"))
  }

  def localClustering(edges: DataFrame): DataFrame = {
    // same edge-input checkpoint as [[edgeSupport]]
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val (deg, tri) = orientedTriangles(e)
    val t = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val cc = deg.filter(col("d") >= 2)
      .join(t, Seq("node"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("d"), col("t"),
        Cols.floorDiv(col("t") * 20000L, col("d") * (col("d") - 1L)).as("cc_e4"))
    cc.groupBy(Cols.floorDiv(col("cc_e4"), 1000L).as("cc_bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(col("t")).as("sum_triangles"),
        sum(col("d")).as("sum_deg"),
        sum(col("cc_e4")).as("sum_cc_e4"))
  }

  /** Rolling 7-day distinct users per day from the SAME 63-bit word
    * bitmaps as [[bitmapRetention]] — exact windowed distinct WITHOUT
    * re-scanning events per window: the per-(day, word) bitmap table is
    * built once, each word-day fans out to the `windowDays` target days
    * it covers, and the words OR-combine and popcount per target day.
    * (NOT a per-word RANGE window over the trailing week: that frame
    * only sees (day, word) rows that EXIST, so a word with no activity
    * on the target day itself silently drops its whole history — the
    * sparse-day bug PARITY.md pins this fan-out formulation against.)
    * The WAU-per-day series every growth dashboard wants, where the
    * naive `count_distinct` over a 7-day self-join re-shuffles user
    * ids 7×.
    *
    * Scale: the distinct collapses to (day, word) — |users|/63 longs per
    * day; each word-day then fans out to the `windowDays` target days it
    * covers (a bounded ×7 explode of the BITMAP table, not the events —
    * NOT a per-word RANGE window, which would silently miss words absent
    * on the target day), OR-combines per (target day, word), and
    * popcounts. Everything after the first distinct is |days|·|words|
    * sized. 63-bit words keep shifts sign-safe in every engine (the
    * bitmapRetention discipline).
    */
  def rollingDistinct(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val uid = col("user_id").cast("long")
    val bm = events
      .select(
        Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("day"),
        Cols.floorDiv(uid, 63L).as("word"),
        pmod(uid, lit(63L)).cast("int").as("bit"))
      .distinct()
      .groupBy(col("day"), col("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bm"))
    val dau = bm.groupBy(col("day"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("dau"))
    // report only observed days (the retention convention): the fan-out
    // covers future target days, the semi-join keeps real ones
    val days = bm.select(col("day")).distinct()
    bm
      .select(
        explode(sequence(col("day"), col("day") + (windowDays - 1))).as("day"),
        col("word"), col("bm"))
      .join(days, "day", "left_semi")
      .groupBy(col("day"), col("word"))
      .agg(expr("bit_or(bm)").as("wbm"))
      .groupBy(col("day"))
      .agg(sum(bit_count(col("wbm")).cast("long")).as("rolling_users"))
      .join(dau, "day")
      .select(col("day"), col("dau"), col("rolling_users"),
        Cols.floorDiv(col("dau") * 10000, col("rolling_users")).as("dau_wau_e4"))
  }

  def bitmapRetention(events: DataFrame): DataFrame = {
    val uid = col("user_id").cast("long")
    val bm = events
      .select(
        Cols.floorDiv(col("ts_ms"), TimeSeries.DayMs).as("day"),
        Cols.floorDiv(uid, 63L).as("word"),
        pmod(uid, lit(63L)).cast("int").as("bit"))
      .distinct()
      .groupBy(col("day"), col("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bm"))
    val totals = bm.groupBy(col("day"))
      .agg(sum(bit_count(col("bm")).cast("long")).as("dau"))
    val prev = bm.select((col("day") + 1).as("day"), col("word"), col("bm").as("pbm"))
    val retained = bm
      .join(prev, Seq("day", "word"))
      .groupBy(col("day"))
      .agg(sum(bit_count(col("bm").bitwiseAND(col("pbm"))).cast("long")).as("retained"))
    totals
      .join(totals.select((col("day") + 1).as("day"), col("dau").as("prev_dau")), "day")
      .join(retained, Seq("day"), "left")
      .select(
        col("day"), col("dau"), col("prev_dau"),
        coalesce(col("retained"), lit(0L)).as("retained"))
      .withColumn("retention_e4", Cols.floorDiv(col("retained") * 10000, col("prev_dau")))
  }
}
