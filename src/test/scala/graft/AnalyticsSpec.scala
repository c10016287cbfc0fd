package graft

import graft.ops.Analytics
import org.apache.spark.sql.DataFrame

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, String)*): DataFrame =
    rows.zipWithIndex
      .map { case ((user, ts, tpe), i) => (i.toLong, user, tpe, ts) }
      .toDF("event_id", "user_id", "event_type", "ts_ms")

  test("funnel: strict stage ordering, earliest-entry semantics") {
    val events = ev(
      // user 1 completes in order
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      // user 2 clicks BEFORE viewing — click doesn't count, purchase
      // can't qualify either (no valid click to follow)
      (2L, 100L, "click"), (2L, 200L, "view"), (2L, 300L, "purchase"),
      // user 3 views then purchases with no click — stops at stage 1
      (3L, 100L, "view"), (3L, 300L, "purchase"),
      // user 4 never views
      (4L, 100L, "click"), (4L, 200L, "purchase"))
    val got = Analytics.funnel(events, Seq("view", "click", "purchase"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, "view", 3L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("funnel: ordering anchors on the EARLIEST previous-stage event") {
    // view@100, click@50 (too early), click@150 (counts, > min view time)
    val events = ev(
      (1L, 100L, "view"), (1L, 50L, "click"), (1L, 150L, "click"))
    val got = Analytics.funnel(events, Seq("view", "click"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, "view", 1L), (2L, "click", 1L)))
  }

  test("funnel: conversion window anchors on funnel entry, not the prior stage") {
    val events = ev(
      // user 1: click at entry+80, purchase at entry+120 — purchase misses
      // the 100ms window even though it's within 100ms of the click
      (1L, 0L, "view"), (1L, 80L, "click"), (1L, 120L, "purchase"),
      // user 2: everything inside the window
      (2L, 0L, "view"), (2L, 40L, "click"), (2L, 90L, "purchase"))
    val got = Analytics.funnel(events, Seq("view", "click", "purchase"),
      withinMs = Some(100L))
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, "view", 2L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }

  test("retention: cohort by first-seen day, distinct users per offset") {
    val Day = graft.ops.TimeSeries.DayMs
    val events = ev(
      // cohort day 0: users 1 and 2; user 1 returns day 1 and 2 (twice —
      // distinct-counted once), user 2 only day 2
      (1L, 10L, "view"), (1L, Day + 10, "click"),
      (1L, 2 * Day + 10, "view"), (1L, 2 * Day + 20, "click"),
      (2L, 20L, "view"), (2L, 2 * Day + 5, "view"),
      // cohort day 1: user 3, active day 1 only
      (3L, Day + 1, "view"))
    val got = Analytics.retention(events)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 2L),
      (1L, 0L, 1L)))
  }

  test("transitions: per-user consecutive pairs, e4 share within from-type") {
    val events = ev(
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "view"), (1L, 400L, "click"),
      (2L, 100L, "view"), (2L, 200L, "view"))
    val got = Analytics.transitions(events)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    // from view: view→click ×2, view→view ×1 (of 3); from click: click→view ×1
    assert(got === List(
      ("click", "view", 1L, 10000L),
      ("view", "click", 2L, 6666L),
      ("view", "view", 1L, 3333L)))
  }

  test("transitions: no cross-user pairs (last event of user A ≠ first of B)") {
    val events = ev((1L, 100L, "view"), (2L, 200L, "click"))
    assert(Analytics.transitions(events).count() === 0L)
  }

  test("croston: hand-folded size/interval smoothing; sparse parts dropped") {
    import java.sql.Timestamp
    val D = 86400000L
    def ts(day: Long) = new Timestamp(day * D)
    // part 1: demands (day 0, q 4), (day 2, q 8), (day 6, q 2):
    //   z: 40000 → (80000+40000)/2 = 60000 → (20000+60000)/2 = 40000
    //   p: — → 20000 → (40000+20000)/2 = 30000 → rate 13333
    // part 2: only two demand days → below minDemands, dropped
    val rows = Seq(
      (1L, ts(0), 4.0), (1L, ts(2), 8.0), (1L, ts(6), 2.0),
      (2L, ts(0), 5.0), (2L, ts(3), 5.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val got = Analytics.crostonForecast(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((1L, 3L, 6L, 40000L, 30000L, 13333L)))
  }

  test("retention halflife: exact halving reads ~1 day; young cohorts censored") {
    val Day = 86400000L
    // cohort day 0: 8 users, halving each day (4, 2, 1 return); user 9 is
    // a day-3 cohort — too young to be observable at any offset, so the
    // censored denominators must ignore it entirely
    val rows =
      (1L to 8L).map(u => (u, 0L)) ++
        (1L to 4L).map(u => (u, Day)) ++
        (1L to 2L).map(u => (u, 2 * Day)) ++
        Seq((1L, 3 * Day), (9L, 3 * Day))
    val got = Analytics.retentionHalflife(rows.toDF("user_id", "ts_ms"))
      .as[(Long, Long, Long, Option[Long])].collect().toList
    // lr points: ln(1/2), ln(1/4), ln(1/8) in e6 → slopes {−693147,
    // −693148, −693148} → lower median −693148 → half-life ⌊ln2·1e10/693148⌋
    assert(got === List((3L, 3L, -693148L, Some(9999L))))
  }

  test("bfs hops: path graph distances exact, ball truncated at maxHops") {
    // path 1-2-3-4-5-6: every interior node has degree 2, so the top-3
    // sources are 2, 3, 4 (degree ties break by id); node 6 is 4 hops
    // from source 2 and must be absent from its ball
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = Analytics.bfsHops(edges)
      .as[(Long, Long, Long)].collect().toSet
    val expected = Set(
      (2L, 2L, 0L), (2L, 1L, 1L), (2L, 3L, 1L), (2L, 4L, 2L), (2L, 5L, 3L),
      (3L, 3L, 0L), (3L, 2L, 1L), (3L, 4L, 1L), (3L, 1L, 2L), (3L, 5L, 2L), (3L, 6L, 3L),
      (4L, 4L, 0L), (4L, 3L, 1L), (4L, 5L, 1L), (4L, 2L, 2L), (4L, 6L, 2L), (4L, 1L, 3L))
    assert(got === expected)
  }

  test("betweenness: the bridge outranks higher-degree hubs") {
    // two 3-leaf hubs (1 and 2, degree 4) joined through bridge node 5
    // (degree 2). Sources = {1, 2, 5} (degree desc, then id). Every δ is
    // a whole number of e6 units (tree ⇒ all σ = 1):
    //   from 1: δ(2) = 3e6 (three leaves behind it), δ(5) = 1+δ(2) = 4e6
    //   from 2: symmetric → δ(5) = 4e6, δ(1) = 3e6
    //   from 5: δ(1) = δ(2) = 3e6
    // bc(5) = 8e6 > bc(1) = bc(2) = 6e6 — betweenness ranks differ from
    // degree ranks, which is the point of the operator
    val edges = Seq(
      (1L, 11L), (1L, 12L), (1L, 13L), (2L, 21L), (2L, 22L), (2L, 23L),
      (1L, 5L), (5L, 2L)).toDF("src", "dst")
    val got = Analytics.betweennessSample(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(5L) === ((5L, 2L, 8000000L)))
    assert(got(1L) === ((1L, 2L, 6000000L)))
    assert(got(2L) === ((2L, 2L, 6000000L)))
    // leaves: never intermediate, reached by all three sources
    for (leaf <- Seq(11L, 12L, 13L, 21L, 22L, 23L))
      assert(got(leaf) === ((leaf, 3L, 0L)))
    assert(got.size === 9)
  }

  test("betweenness: multiple shortest paths split dependency via sigma") {
    // diamond 1-2-4, 1-3-4: all degrees 2, sources = {1, 2, 3} by id.
    //   from 1: σ(4) = 2, so δ(2) = δ(3) = ⌊1·1e6/2⌋ = 5e5
    //   from 2: σ(3) = 2 via {1, 4} → δ(1) = δ(4) = 5e5
    //   from 3: symmetric → δ(1) = δ(4) = 5e5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = Analytics.betweennessSample(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 1000000L)))
    assert(got(2L) === ((2L, 2L, 500000L)))
    assert(got(3L) === ((3L, 2L, 500000L)))
    assert(got(4L) === ((4L, 3L, 1000000L)))
    assert(got.size === 4)
  }

  test("safety stock: hand-computed sigma, z-factor floors, reorder point") {
    import java.sql.Timestamp
    val D = 86400000L
    def ts(day: Long) = new Timestamp(day * D)
    // the croston fixture part: demands (day 0, q 4), (day 2, q 8),
    // (day 6, q 2) → rate_e4 = 13333. Calendar-day variance over the
    // 7-day span: S = 14, ΣQ² = 84, num = 7·84 − 196 = 392,
    // var_e8 = ⌊392e8/49⌋ = 8e8 → sigma_e4 = round(√8e8) = 28284.
    // ss95 = ⌊16449·28284·26458/1e8⌋ = 123094, rop95 = 93331 + 123094;
    // ss99 = ⌊23263·28284·26458/1e8⌋ = 174085, rop99 = 93331 + 174085.
    val rows = Seq(
      (1L, ts(0), 4.0), (1L, ts(2), 8.0), (1L, ts(6), 2.0),
      (2L, ts(0), 5.0), (2L, ts(3), 5.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val got = Analytics.safetyStock(rows)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((1L, 3L, 6L, 13333L, 28284L, 123094L, 216425L, 174085L, 267416L)))
  }

  test("cheapest path: a strong-pair chain undercuts a weak direct edge") {
    // triangle: 1–2 support 2 (cost 500000), 1–3 and 3–2 support 10
    // (cost 100000 each) → cheapest 1→2 is 200000 THROUGH 3, which hop
    // counting (li_bfs_hops semantics: 1 hop direct) cannot see
    val pairs = Seq((1L, 2L, 2L), (1L, 3L, 10L), (3L, 2L, 10L))
      .toDF("item_a", "item_b", "n_ab")
    val got = Analytics.cheapestPath(pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0L), (1L, 2L, 200000L), (1L, 3L, 100000L),
      (2L, 2L, 0L), (2L, 1L, 200000L), (2L, 3L, 100000L),
      (3L, 3L, 0L), (3L, 1L, 100000L), (3L, 2L, 100000L)))
  }

  test("closeness: landmark hop sums and harmonic floors on the path graph") {
    // same path fixture as the bfsHops spec: sources {2, 3, 4}; e.g.
    // node 1 is reached at hops 1/2/3 → sum 6, harmonic 1e6+5e5+333333
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = Analytics.closeness(edges)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 6L, 1833333L)))
    assert(got(2L) === ((2L, 2L, 3L, 1500000L)))
    assert(got(3L) === ((3L, 2L, 2L, 2000000L)))
    assert(got(4L) === ((4L, 2L, 3L, 1500000L)))
    assert(got(5L) === ((5L, 3L, 6L, 1833333L)))
    assert(got(6L) === ((6L, 2L, 5L, 833333L)))
    assert(got.size === 6)
  }

  test("eccentricity: per-landmark ball size, deepest hop, mean depth") {
    // path fixture, sources {2, 3, 4}: source 2 reaches {1,3}@1, {4}@2,
    // {5}@3 (6 is outside its 3-ball) → mean ⌊7e4/4⌋ = 17500
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got = Analytics.eccentricity(edges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (2L, 4L, 3L, 17500L),
      (3L, 5L, 3L, 18000L),
      (4L, 5L, 3L, 18000L)))
  }

  test("value migration: per-half spend quintiles, tier 0 for absent halves") {
    import java.sql.Timestamp
    def ts(day: Long) = new Timestamp(day * 86400000L)
    // span 0..10 → cut 5. Early spends 10/20/30/40/50 → tiers 1..5
    // (interpolated cuts 18/26/34/42); late: c1=50 → 5, c3=30 → 3
    // (cuts over {10,30,50}: 18/26/34/42 again), c6=10 → 1; c2/c4/c5
    // vanish (tier 0), c6 is new (early tier 0)
    val rows = Seq(
      (1L, 10.0, ts(0)), (2L, 20.0, ts(0)), (3L, 30.0, ts(0)),
      (4L, 40.0, ts(0)), (5L, 50.0, ts(0)),
      (1L, 50.0, ts(10)), (3L, 30.0, ts(10)), (6L, 10.0, ts(10)))
      .toDF("o_custkey", "o_totalprice", "o_orderdate")
    val got = Analytics.valueMigration(rows)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (0L, 1L, 1L), (1L, 5L, 1L), (2L, 0L, 1L),
      (3L, 3L, 1L), (4L, 0L, 1L), (5L, 0L, 1L)))
  }

  test("supplier share shift: calendar-midpoint halves, e4 shares, drift sign") {
    import java.sql.Timestamp
    def ts(day: Long) = new Timestamp(day * 86400000L)
    // span days 0..10 → mid 5 (inclusive early). Early: s1=4, s2=6 of 10;
    // late: s1=6, s2=4 of 10 — s1 gains +2000 e4, s2 loses it
    val rows = Seq(
      (1L, 4.0, ts(0)), (1L, 6.0, ts(10)),
      (2L, 6.0, ts(5)), (2L, 4.0, ts(6)))
      .toDF("l_suppkey", "l_quantity", "l_shipdate")
    val got = Analytics.supplierShareShift(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 4L, 6L, 4000L, 6000L, 2000L),
      (2L, 6L, 4L, 6000L, 4000L, -2000L)))
  }

  test("adamic-adar: hub wedges discounted by ln(degree), adjacency screened") {
    // star 1–{2,3,4} plus edge 2–3: the only non-adjacent distance-2
    // pairs are (2,4) and (3,4), each through center 1 alone;
    // w(1) = ⌊1e10 / round(ln 3 · 1e6)⌋ = ⌊1e10 / 1098612⌋ = 9102.
    // Centers 2 and 3 form only the adjacent wedge (1,3)/(1,2) — screened.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val got = Analytics.adamicAdar(edges)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got === List((2L, 4L, 1L, 9102L), (3L, 4L, 1L, 9102L)))
  }

  test("supplier concentration: dominant share, HHI, tie → lower suppkey, single-source") {
    // part 1: supplier 10 ships 6 (2+4), supplier 20 ships 3 → share
    //   ⌊6e4/9⌋ = 6666, HHI ⌊45e4/81⌋ = 5555
    // part 2: sole-sourced → 10000/10000, flag 1
    // part 3: 4 vs 4 tie → top supplier is the LOWER key (20)
    val rows = Seq(
      (1L, 10L, 2.0), (1L, 10L, 4.0), (1L, 20L, 3.0),
      (2L, 10L, 5.0),
      (3L, 30L, 4.0), (3L, 20L, 4.0))
      .toDF("l_partkey", "l_suppkey", "l_quantity")
    val got = Analytics.supplierConcentration(rows)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 2L, 9L, 10L, 6666L, 5555L, 0L),
      (2L, 1L, 5L, 10L, 10000L, 10000L, 1L),
      (3L, 2L, 8L, 20L, 5000L, 5000L, 0L)))
  }

  test("order gaps: lag diffs per customer, lower median, single orders dropped") {
    import java.sql.Timestamp
    def ts(day: Long) = new Timestamp(day * 86400000L)
    // customer 1: days 0/10/12/30 → gaps {10, 2, 18}, lower median 10
    // customer 2: one order → no gaps, dropped
    // customer 3: two same-day orders → one gap of 0
    val rows = Seq(
      (1L, 101L, ts(0)), (1L, 102L, ts(10)), (1L, 103L, ts(12)), (1L, 104L, ts(30)),
      (2L, 201L, ts(5)),
      (3L, 301L, ts(7)), (3L, 302L, ts(7)))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val got = Analytics.orderGaps(rows)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 3L, 10L, 2L, 18L),
      (3L, 1L, 0L, 0L, 0L)))
  }

  test("weighted betweenness: a strong-tie bridge outranks the hop ranking") {
    // 1–2 and 2–3 are strong pairs (support 100, cost 10000 each), 1–3 a
    // weak direct edge (support 2, cost 500000), 3–4 mid (support 10).
    // Degrees: 3 → 3, 1 and 2 → 2, 4 → 1, so sources = {3, 1, 2}.
    // Cheapest 1↔3 runs THROUGH 2 (20000 < 500000), so node 2 carries
    // dependency the hop-count DAG routes over the direct edge. All σ = 1
    // (unique cheapest paths), so every δ is whole e6 units:
    //   from 1 (DAG 1→2→3→4): δ(2) = 2e6, δ(3) = 1e6
    //   from 2 (DAG 2→1, 2→3→4): δ(3) = 1e6
    //   from 3 (DAG 3→2→1, 3→4): δ(2) = 1e6
    // weighted bc(2) = 3e6 > bc(3) = 2e6, while the unweighted ranking
    // has bc(3) = 2e6 > bc(2) = 0 — the point of the operator
    val pairs = Seq((1L, 2L, 100L), (2L, 3L, 100L), (1L, 3L, 2L), (3L, 4L, 10L))
      .toDF("item_a", "item_b", "n_ab")
    val got = Analytics.betweennessWeighted(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 0L)))
    assert(got(2L) === ((2L, 2L, 3000000L)))
    assert(got(3L) === ((3L, 2L, 2000000L)))
    assert(got(4L) === ((4L, 3L, 0L)))
    assert(got.size === 4)
    val unweighted = Analytics.betweennessSample(
      pairs.selectExpr("item_a as src", "item_b as dst"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(unweighted(3L) === 2000000L && unweighted(2L) === 0L)
  }

  test("weighted betweenness: uniform support reduces to the hop ranking") {
    // equal n_ab ⇒ every edge costs the same ⇒ the cheapest-path DAG is
    // the BFS DAG and the two Brandes accumulations must agree exactly
    // (same graph as the unweighted bridge test)
    val edges = Seq(
      (1L, 11L), (1L, 12L), (1L, 13L), (2L, 21L), (2L, 22L), (2L, 23L),
      (1L, 5L), (5L, 2L))
    val w = Analytics.betweennessWeighted(
      edges.map { case (a, b) => (a, b, 5L) }.toDF("item_a", "item_b", "n_ab"))
      .as[(Long, Long, Long)].collect().toSet
    val u = Analytics.betweennessSample(edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet
    assert(w === u)
  }

  test("abc-xyz: revenue classes cross demand-cv classes, hand moments") {
    import java.sql.Timestamp
    val D = 86400000L
    def ts(day: Long) = new Timestamp(day * D)
    // part 1: 80% of revenue, constant demand (5,5,5 over days 0..2) →
    //   sigma 0 → cv 0 → AX
    // part 2: 15% (cum_before exactly 8000 → B), demand 1 then 9 over a
    //   3-day span: num = 3·82 − 100 = 146, var_e8 = ⌊146e8/9⌋ →
    //   sigma_e4 = round(√1622222222) = 40277, mean_e4 = 33333 →
    //   cv = ⌊402770000/33333⌋ = 12083 → BZ
    // part 3: 5% (cum_before 9500 → C), demand 4 then 6 adjacent days:
    //   num = 2·52 − 100 = 4, var_e8 = 1e8 → sigma 10000, mean 50000 →
    //   cv 2000 → CX
    val rows = Seq(
      (1L, ts(0), 5.0, 300.0), (1L, ts(1), 5.0, 300.0), (1L, ts(2), 5.0, 200.0),
      (2L, ts(0), 1.0, 100.0), (2L, ts(2), 9.0, 50.0),
      (3L, ts(0), 4.0, 30.0), (3L, ts(1), 6.0, 20.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val got = Analytics.abcXyz(rows)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("A", "X", 1L, 80000L, 0L),
      ("B", "Z", 1L, 15000L, 12083L),
      ("C", "X", 1L, 5000L, 2000L)))
  }

  test("survival km: product-limit fold with right-censoring at the edge") {
    val D = 86400000L
    // max observed day = 100 (user 4). Lifetimes: user1/2 t=10 churned
    // (last day 10, 90 days quiet), user3 t=20 churned, user4 t=10
    // censored (still active at the edge), user5 t=5 censored (15 < 30).
    //   t=5:  n=5, d=0, c=1 → S = 1e6, rem 4
    //   t=10: n=4, d=2, c=1 → S = ⌊1e6·2/4⌋ = 5e5, rem 1
    //   t=20: n=1, d=1     → S = 0
    val events = ev(
      (1L, 0L, "a"), (1L, 10 * D, "a"),
      (2L, 0L, "a"), (2L, 10 * D, "a"),
      (3L, 5 * D, "a"), (3L, 25 * D, "a"),
      (4L, 90 * D, "a"), (4L, 100 * D, "a"),
      (5L, 80 * D, "a"), (5L, 85 * D, "a"))
    val got = Analytics.survivalKm(events)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (5L, 5L, 0L, 1L, 1000000L),
      (10L, 4L, 2L, 1L, 500000L),
      (20L, 1L, 1L, 0L, 0L)))
  }

  test("demand seasonality: peak month, share, HHI from the month histogram") {
    import java.sql.Timestamp
    val D = 86400000L
    def ts(day: Long) = new Timestamp(day * D)
    // part 1: Jan q=10 (epoch day 10), Jul q=2 (day 190) → total 12,
    //   peak Jan 8333, HHI = ⌊(100+4)·1e4/144⌋ = 7222
    // part 2: total 5 < 12 → dropped
    val rows = Seq(
      (1L, ts(10), 10.0), (1L, ts(190), 2.0), (2L, ts(10), 5.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val got = Analytics.demandSeasonality(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((1L, 2L, 12L, 1L, 8333L, 7222L)))
  }

  test("segment concentration: CR4 and HHI from hand revenue shares") {
    // segment A: five customers at 50/20/15/10/5 → CR4 = 95%, HHI =
    // ⌊(2500+400+225+100+25)·1e2⌋ = 325000; segment B: one whale → both max
    val customer = Seq(
      (1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "A"), (6L, "B"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (1L, 1L, 50.0), (2L, 2L, 20.0), (3L, 3L, 15.0),
      (4L, 4L, 10.0), (5L, 5L, 5.0), (6L, 6L, 7.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val got = Analytics.segmentConcentration(orders, customer)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      ("A", 5L, 10000L, 9500L, 325000L),
      ("B", 1L, 700L, 10000L, 1000000L)))
  }

  test("markov entropy: fair coin state carries 1 bit, deterministic state 0") {
    val events = ev(
      // user 1: A B A B A → A→B ×2, B→A ×2
      (1L, 100L, "A"), (1L, 200L, "B"), (1L, 300L, "A"),
      (1L, 400L, "B"), (1L, 500L, "A"),
      // user 2: A A A → A→A ×2
      (2L, 100L, "A"), (2L, 200L, "A"), (2L, 300L, "A"))
    val got = Analytics.markovEntropy(events)
      .as[(String, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // from A: {A: 2, B: 2} of 4 → H = 1 bit exactly (two e6 terms of 500000)
    assert(got("A") === (("A", 4L, 2L, 666666L, 1000000L, 666666L)))
    // from B: single target → H = 0, contrib 0; π = floor(2e6/6)
    assert(got("B") === (("B", 2L, 1L, 333333L, 0L, 0L)))
  }

  test("segment overlap: distinct-user Jaccard, empty intersections absent") {
    val events = ev(
      // segment a: users {1,2,3} (user 1 twice — distinct-counted once)
      (1L, 1L, "a"), (1L, 2L, "a"), (2L, 3L, "a"), (3L, 4L, "a"),
      // segment b: users {2,3,4} → |a∩b|=2, |a∪b|=4 → 5000
      (2L, 5L, "b"), (3L, 6L, "b"), (4L, 7L, "b"),
      // segment c: user {9} — overlaps nothing, no output rows
      (9L, 8L, "c"))
    val got = Analytics.segmentOverlap(events)
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    assert(got === List(("a", "b", 3L, 3L, 2L, 5000L)))
  }

  private def evv(rows: (Long, Long, String, Double)*): DataFrame =
    rows.zipWithIndex
      .map { case ((user, ts, tpe, v), i) => (i.toLong, user, tpe, ts, v) }
      .toDF("event_id", "user_id", "event_type", "ts_ms", "value")

  test("co-occurrence: pair counts, broadcast totals, exact-integer lift") {
    val items = Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "a"), ("g2", "b"), ("g2", "b"), // dup (g2,b) — distinct-collapsed
      ("g3", "a"))
      .toDF("grp", "item")
    val got = Analytics.coOccurrence(items, "grp", "item", minPairCount = 2)
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    // only (a,b) co-occurs twice; lift = 2·3/(3·2) = 1.0 → 10000
    assert(got === List(("a", "b", 2L, 3L, 2L, 10000L)))
  }

  test("co-occurrence: a pathological 10³-item basket is dropped by the fan-out cap") {
    // one 1001-item basket (alone worth C(1001,2) ≈ 500k pairs) plus two
    // normal baskets; with the default cap the big group vanishes BEFORE
    // the self-join and the group total reflects the capped universe
    val big = (1 to 1001).map(i => ("big", f"i$i%05d"))
    val small = Seq(("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "b"))
    val df = (big ++ small).toDF("grp", "item")
    val got = Analytics.coOccurrence(df, "grp", "item", minPairCount = 1)
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    // only (a,b) survives; N = 2 capped groups, lift = 2·2/(2·2) → 10000
    assert(got === List(("a", "b", 2L, 2L, 2L, 10000L)))
    // raising the cap above the basket size readmits the explosion —
    // the assertion that proves the cap (not the fixture) was the bound
    val uncapped = Analytics.coOccurrence(df, "grp", "item", 1, maxGroupSize = 2000)
    assert(uncapped.count() === 1001L * 1000L / 2 + 1)
  }

  test("recommender: max-lift over owned items, owned candidates excluded") {
    val userItems = Seq((1L, "a"), (2L, "a"), (2L, "b")).toDF("usr", "item")
    val pairs = Seq(
      ("a", "b", 12000L), ("b", "c", 15000L), ("a", "c", 8000L))
      .toDF("item_a", "item_b", "lift_e4")
    val got = Analytics.recommendFromCoOccurrence(userItems, pairs, k = 3)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(r => (r._1, r._5)).toList
    assert(got === List(
      // user 1 owns {a}: candidates b (12000) then c (8000)
      (1L, "b", 12000L, 1L, 1L),
      (1L, "c", 8000L, 1L, 2L),
      // user 2 owns {a,b}: only c remains, reachable two ways, max lift 15000
      (2L, "c", 15000L, 2L, 1L)))
  }

  test("rfm: quintile buckets from broadcast percentile cuts") {
    val D = graft.ops.TimeSeries.DayMs
    // customer i: i orders, each 100·i, last on day i → strictly
    // increasing R, F, M → buckets must come out 1..5 on every axis
    val rows = for {
      i <- 1 to 5
      j <- 1 to i
    } yield (i.toLong, new java.sql.Timestamp(i * D + j), 100.0 * i)
    val orders = rows.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = Analytics.rfmSegments(orders)
      .select($"o_custkey", $"r_bucket", $"f_bucket", $"m_bucket", $"rfm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === (1 to 5).map(i => (i.toLong, i.toLong, i.toLong, i.toLong, i * 111L)).toList)
  }

  test("user ltv: lifetime aggregate with purchase-only value") {
    val D = graft.ops.TimeSeries.DayMs
    val events = evv(
      (1L, 10L, "view", 5.0),
      (1L, 20L, "purchase", 10.5),
      (1L, 2 * D + 7, "purchase", 2.0))
    val got = Analytics.userLtv(events)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toList
    assert(got === List((1L, 10L, 2 * D + 7, 2L, 3L, 2L, 12.5)))
  }

  test("attribution: last preceding touch within the window, else direct") {
    val events = evv(
      // user 1: view then purchase 20ms later (inside the 50ms window) —
      // attributed to view
      (1L, 180L, "view", 0.0), (1L, 200L, "purchase", 30.0),
      // user 2: purchase with no preceding touch — direct
      (2L, 100L, "purchase", 10.0),
      // user 3: click too long before the purchase — direct
      (3L, 0L, "click", 0.0), (3L, 100L, "purchase", 20.0))
    val got = Analytics.lastTouchAttribution(events, windowMs = 50L)
      .as[(String, Long, Double)].collect().sortBy(_._1).toList
    assert(got === List(("direct", 2L, 30.0), ("view", 1L, 30.0)))
  }

  test("pareto: top-p% value shares with ties at the cut included") {
    // 10 keys: one whale worth 910, nine worth 10 each → total 1000.
    // top 10% cut = p90 of {910, 10×9} → between 10 and 910; only the
    // whale clears it → share 9100 e4. top 50% cut = p50 = 10 → ALL nine
    // 10s tie at the cut → 10 keys, share 10000 e4 (tie semantics).
    val df = ((1 to 9).map(i => (i.toLong, 0.10)) :+ (10L, 9.10))
      .flatMap { case (k, v) => Seq.fill(100)((k, v)) } // 100 orders each
      .toDF("cust", "price")
    val got = Analytics.paretoShares(df, "cust", "price", topPcts = Seq(10, 50))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (10L, 10L, 1L, 910L * 100, 9100L),
      (50L, 10L, 10L, 1000L * 100, 10000L)))
  }

  test("retention summary: cohort size and D1/D7/D14 shares, young cohorts 0") {
    val D = graft.ops.TimeSeries.DayMs
    val events = ev(
      (1L, 10L, "a"), (1L, D + 10, "a"), // u1: day 0 and 1
      (2L, 20L, "a"), // u2: day 0 only
      (3L, 30L, "a"), (3L, 7 * D + 30, "a"), (3L, 14 * D + 30, "a")) // u3: 0/7/14
    val got = Analytics.retentionSummary(events)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((0L, 3L, 3333L, 3333L, 3333L)))
  }

  test("triangle stats: K4 minus an edge — counts, wedges, closure by hand") {
    // nodes {1,2,3,4}, all edges except (3,4): degrees 3,3,2,2 →
    // wedges = 3+3+1+1 = 8; triangles = {123, 124}; closure = 6e4/8
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val got = Analytics.triangleStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got === ((4L, 5L, 8L, 2L, 7500L)))
  }

  test("triangle stats: canonical orientation counts each triangle once") {
    // a triangle fed with duplicate and reversed edges must still count 1
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("src", "dst")
    val got = Analytics.triangleStats(edges)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got === ((3L, 3L, 3L, 1L, 10000L)))
  }

  test("pagerank: one hand-checked integer iteration with a dangling node") {
    // a→b, b→a, a→c; c dangles. r0 = ⌊1e9/3⌋ = 333333333 each.
    // contrib: a gets 333333333 (all of b); b,c get ⌊333333333/2⌋ each.
    // dangling mass = r(c); base = ⌊1.5e12/30000⌋ = 50000000.
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "weight")
    val got = Analytics.pageRank(edges, iterations = 1)
      .as[(String, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      ("a", 50000000L + 8500L * (333333333L + 111111111L) / 10000L),
      ("b", 50000000L + 8500L * (166666666L + 111111111L) / 10000L),
      ("c", 50000000L + 8500L * (166666666L + 111111111L) / 10000L)))
  }

  test("pagerank: mass bounded and the hub outranks its spokes") {
    // star: 4 spokes all point at the hub; hub points back at one spoke
    val edges = (1 to 4).map(i => (s"s$i", "hub", 1L)) :+ ("hub", "s1", 1L)
    val got = Analytics.pageRank(edges.toDF("src", "dst", "weight"), iterations = 3)
      .as[(String, Long)].collect().toMap
    assert(got.values.sum <= 1000000000L, "rank mass must never exceed 1e9")
    assert(got.values.forall(_ > 0))
    assert(got("hub") > got("s1") && got("s1") > got("s2"),
      s"expected hub > s1 (re-fed) > leaf spokes, got $got")
    assert(got("s2") === got("s3") && got("s3") === got("s4"), "symmetric spokes must tie")
  }

  test("top paths: length-3 journeys counted per user, deterministic order") {
    val events = ev(
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"), (1L, 400L, "view"),
      (2L, 100L, "view"), (2L, 200L, "click"), (2L, 300L, "purchase"))
    val got = Analytics.topPaths(events, k = 2)
      .as[(String, Long)].collect().toList
    // user 1 contributes view>click>purchase and click>purchase>view;
    // user 2 adds another view>click>purchase
    assert(got === List(("view>click>purchase", 2L), ("click>purchase>view", 1L)))
  }

  test("inter-arrival: gaps to the user's previous event, stats per later type") {
    val events = ev(
      (1L, 0L, "view"), (1L, 100L, "click"), (1L, 300L, "click"),
      (2L, 50L, "view")) // first events have no gap
    val got = Analytics.interArrival(events)
      .as[(String, Long, Long, Double, Double, Double)].collect().toList
    // clicks arrive 100 and 200 ms after the previous event
    assert(got === List(("click", 2L, 100L, 150.0, 195.0, 200.0)))
  }

  test("user entropy: quantize-then-sum e4, specialists score zero") {
    val events = ev(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"), (1L, 4L, "click"),
      (2L, 1L, "view"), (2L, 2L, "view"), (2L, 3L, "view"))
    val got = Analytics.userEntropy(events)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // user 1: two even types → 2·round(0.5·ln2·1e4) = 6932; user 2: pure → 0
    assert(got === List((1L, 4L, 2L, 6932L), (2L, 3L, 1L, 0L)))
  }

  test("invariants on sf0.001: transitions conserve events, entropy bounded") {
    import org.apache.spark.sql.functions.{col, sum}
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    // every user with n events contributes exactly n−1 transitions
    val nEvents = events.count()
    val nUsers = events.select("user_id").distinct().count()
    val total = Analytics.transitions(events)
      .agg(sum(col("n_transitions"))).as[Long].head()
    assert(total === nEvents - nUsers)
    // entropy over k=5 types lies in [0, ln(5)·10⁴] (+k quantization slack)
    val cap = Math.round(Math.log(5.0) * 10000) + 5
    val outOfRange = Analytics.userEntropy(events)
      .filter(col("entropy_e4") < 0 || col("entropy_e4") > cap).count()
    assert(outOfRange === 0L)
  }

  test("hour profile: UTC hour buckets with e4 within-type shares") {
    val H = 3600000L
    val events = ev(
      (1L, 0L, "x"), (2L, 1000L, "x"), (3L, H + 5, "x"),
      // second day, hour 0 — folds onto hour 0
      (4L, graft.ops.TimeSeries.DayMs + 7, "x"))
    val got = Analytics.hourProfile(events)
      .as[(String, Long, Long, Long)].collect().sortBy(_._2).toList
    assert(got === List(("x", 0L, 3L, 7500L), ("x", 1L, 1L, 2500L)))
  }

  test("session concurrency: ties, midnight carry, end-only day") {
    val D = graft.ops.TimeSeries.DayMs
    val events = ev(
      // user 1: one session [1000, 2001)
      (1L, 1000L, "x"), (1L, 2000L, "x"),
      // user 2: single-event session [1500, 1501)
      (2L, 1500L, "x"),
      // user 4: starts at the exact instant user 2's session ends —
      // RANGE frame nets the tie identically on both engines
      (4L, 1501L, "x"),
      // user 1 again, > 30 min later: second session [10^7, 10^7+1)
      (1L, 10000000L, "x"),
      // user 3: session crossing midnight [D-1000, D+500001)
      (3L, D - 1000L, "x"), (3L, D + 500000L, "x"))
    val got = Analytics.sessionConcurrency(events)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    // day 0: sessions started 5, peak 2 (users 1+2 overlap at t=1500;
    //   the 1501 tie nets to 2, never 3)
    // day 1: only user 3's session END lands here — zero starts, and the
    //   peak is the carry-in alone (greatest(intra, 0) path)
    assert(got === List((0L, 5L, 2L), (1L, 0L, 1L)))
  }

  test("ab lift: full separation → z² = n·10⁴, no lift → z² = 0") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    val users = (1L to 20L).toList
    // derive the arm assignment the operator will use (the hash is not
    // under test here; the exact z² arithmetic is)
    val arms = users.toDF("user_id")
      .select(col("user_id"),
        pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L)).as("arm"))
      .as[(Long, Long)].collect().toMap
    val aUsers = users.filter(arms(_) == 0L)
    val bUsers = users.filter(arms(_) == 1L)
    val (na, nb) = (aUsers.size.toLong, bUsers.size.toLong)
    assert(na > 0 && nb > 1) // fixture sanity: both arms populated
    // everyone but one arm-B user views; only arm-A users buy; every
    // user signs up (degenerate k = n → NULL z², by design)
    val events = ev(
      ((aUsers ++ bUsers.tail).map(u => (u, 100L, "view")) ++
        aUsers.map(u => (u, 200L, "buy")) ++
        users.map(u => (u, 300L, "signup"))): _*)
    val got = Analytics.abLift(events)
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // view: ka=na, kb=nb−1 — mild lift, z² from the exact formula
    val (ka, kb) = (na, nb - 1)
    val n = na + nb
    val diff = BigInt(ka) * nb - BigInt(kb) * na
    val z2 = diff * diff * n * 10000 / (BigInt(na) * nb * (ka + kb) * (n - ka - kb))
    assert(got("view") === (("view", na, ka, nb, kb,
      Some(10000L), Some(kb * 10000L / nb), Some(z2.toLong))))
    // buy: ka=na, kb=0 → diff = na·nb, den = (na·nb)² → z² = n exactly
    assert(got("buy") === (("buy", na, na, nb, 0L,
      Some(10000L), Some(0L), Some(20L * 10000L))))
    // signup: everyone converts — the test is undefined, z² is NULL
    assert(got("signup") === (("signup", na, na, nb, nb,
      Some(10000L), Some(10000L), None)))
  }

  test("threshold alerts: only monitored types over their hourly cap emit") {
    val H = 3600000L
    val events = ev(
      (1L, 10L, "x"), (2L, 20L, "x"), (3L, 30L, "x"), // hour 0: 3 > cap 2
      (4L, H + 10L, "x"), // hour 1: 1 — under
      (5L, 40L, "z")) // unmonitored type
    val rules = Seq(("x", 2L), ("y", 5L)).toDF("event_type", "max_per_hour")
    val got = Analytics.thresholdAlerts(events, rules)
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(got === List(("x", 0L, 3L, 2L, 1L)))
  }

  test("error budget: daily and trailing-7-day rates; calendar gaps age out") {
    val D = graft.ops.TimeSeries.DayMs
    val events = ev(
      (1L, 10L, "error"), (1L, 20L, "a"), (1L, 30L, "a"), (1L, 40L, "a"), // day 0: 1/4
      (2L, D + 10L, "a"), (2L, D + 20L, "a"), // day 1: 0/2
      (3L, 8 * D + 10L, "error")) // day 8: 1/1 — outside day 1's window
    val got = Analytics.errorBudget(events)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 4L, 1L, 2500L, 2500L),
      (1L, 2L, 0L, 0L, 1666L), // (1+0)·10⁴ / (4+2)
      (8L, 1L, 1L, 10000L, 10000L))) // days 0-1 aged out of [2, 8]
  }

  test("funnel by arm: per-arm stage counts from the salted hash split") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    val users = (1L to 12L).toList
    val arms = users.toDF("user_id")
      .select(col("user_id"),
        pmod(Cols.hash60(concat(lit("ab:"), col("user_id"))), lit(2L)).as("arm"))
      .as[(Long, Long)].collect().toMap
    val aUsers = users.filter(arms(_) == 0L)
    val (na, nb) = (aUsers.size.toLong, users.size - aUsers.size.toLong)
    assert(na > 0 && nb > 0)
    // everyone views; only arm-A clicks; nobody purchases
    val events = ev(
      (users.map(u => (u, 100L, "view")) ++
        aUsers.map(u => (u, 200L, "click"))): _*)
    val got = Analytics.funnelByArm(events, Seq("view", "click", "purchase"))
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (0L, 1L, "view", na), (0L, 2L, "click", na), (0L, 3L, "purchase", 0L),
      (1L, 1L, "view", nb), (1L, 2L, "click", 0L), (1L, 3L, "purchase", 0L)))
  }

  test("abc classification: cum-before banding, boundary parts take the entered band") {
    val lines = Seq(
      (1L, 80.0), // 8000 cents — cum_before 0 → A
      (2L, 7.5), (2L, 7.5), // 1500 — cum_before 8000 e4, not < 8000 → B
      (3L, 5.0)) // 500 — cum_before exactly 9500 e4 → C
      .toDF("l_partkey", "l_extendedprice")
    val got = Analytics.abcClass(lines)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 8000L, 0L, "A"),
      (2L, 1500L, 8000L, "B"),
      (3L, 500L, 9500L, "C")))
  }

  test("time to purchase: cohort latency, non-purchasers counted but not timed") {
    val D = graft.ops.TimeSeries.DayMs
    val events = ev(
      (1L, 100L, "view"), (1L, 2 * D + 100L, "purchase"), // 2 days
      (2L, 200L, "view"), // never purchases
      (3L, D + 10L, "purchase")) // instant purchase, day-1 cohort
    val got = Analytics.timeToPurchase(events)
      .as[(Long, Long, Long, Option[Double], Option[Long])].collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 2L, 1L, Some(2.0), Some(2L)),
      (1L, 1L, 1L, Some(0.0), Some(0L))))
  }

  test("revenue cohorts: exact-cent triangle by first-order month") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    val orders = Seq(
      (1L, ts("2020-01-15"), 10.0), (1L, ts("2020-03-15"), 5.0),
      (2L, ts("2020-03-20"), 2.5))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = Analytics.revenueCohorts(orders)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    val jan2020 = 2020L * 12 + 1
    assert(got === List(
      (jan2020, 0L, 1L, 1000L),
      (jan2020, 2L, 1L, 500L),
      (jan2020 + 2, 0L, 1L, 250L)))
  }

  test("churn risk: inactive beyond the window at the in-plan reference") {
    val D = graft.ops.TimeSeries.DayMs
    val events = ev(
      (1L, 100L, "x"), (1L, 20 * D, "x"), // active at ref = 20D
      (2L, 50L, "x"), (2L, 5 * D, "x"), // last seen 15 days before ref
      (3L, D + 10L, "x"), (3L, 20 * D - 1000L, "x")) // active
    val got = Analytics.churnRisk(events)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((0L, 2L, 1L, 5000L), (1L, 1L, 0L, 0L)))
  }

  test("session funnel: stages must complete within one session, counted in sessions") {
    val events = ev(
      // user 1, session A: full in-session progression
      (1L, 100L, "view"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      // user 1, session B (> 30 min later): view only
      (1L, 10000000L, "view"),
      // user 2: click BEFORE view in the same session — strict ordering fails
      (2L, 50L, "click"), (2L, 100L, "view"),
      // user 2: purchase alone in a later session — no view there
      (2L, 10000000L, "purchase"),
      // user 3: view in one session, click in ANOTHER — session key mismatch
      (3L, 100L, "view"), (3L, 10000000L, "click"))
    val got = Analytics.sessionFunnel(events, Seq("view", "click", "purchase"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "view", 4L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("profile drift: parity halves, e4 relative delta, full-outer types") {
    val events = Seq(
      (0L, 1L, "x", 10L), (2L, 2L, "x", 20L), // old x: 2 events, 2 users
      (1L, 1L, "x", 30L), // new x: 1 event, 1 user
      (3L, 5L, "y", 40L)) // y exists only in the new half
      .toDF("event_id", "user_id", "event_type", "ts_ms")
    val got = Analytics.profileDrift(events)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      ("x", 2L, 1L, 2L, 1L, -5000L),
      ("y", 0L, 1L, 0L, 1L, 10000L)))
  }

  test("funnel latency: entry-time gaps per consecutive stage") {
    val events = ev(
      (1L, 100L, "view"), (1L, 300L, "click"), (1L, 500L, "purchase"),
      (2L, 100L, "view"), (2L, 200L, "click"),
      (3L, 100L, "click")) // never viewed — not in the funnel
    val got = Analytics.funnelLatency(events, Seq("view", "click", "purchase"))
      .as[(Long, String, Long, Long, Double, Double, Long)]
      .collect().sortBy(_._1).toList
    // click gaps: [200, 100] → p50 = 150, p95 = 195 (exact interpolation)
    assert(got === List(
      (2L, "click", 2L, 100L, 150.0, 195.0, 200L),
      (3L, "purchase", 1L, 200L, 200.0, 200.0, 200L)))
  }

  test("return time: gaps between consecutive sessions of a user") {
    val events = ev(
      (1L, 0L, "x"), (1L, 1000L, "x"), // session 1 ends at 1000
      (1L, 10000000L, "x"), (1L, 10000500L, "x"), // ret₁ = 9 999 000
      (1L, 20000000L, "x"), // ret₂ = 9 999 500
      (2L, 5000L, "x")) // single session — no gap
    val got = Analytics.returnTime(events)
      .as[(Long, Long, Double, Double, Double, Double, Long)].collect().toList
    assert(got === List(
      (2L, 9999000L, 9999125.0, 9999250.0, 9999375.0, 9999475.0, 9999500L)))
  }

  test("bitmap retention: word-boundary packing, AND+popcount, zero-overlap day") {
    val Day = graft.ops.TimeSeries.DayMs
    // users chosen to straddle 63-bit words: 1 and 62 land in word 0
    // (bit 62 is the max shift — sign bit never touched), 63 and 125 in
    // word 1 (bits 0 and 62)
    val events = ev(
      (1L, 10L, "view"), (62L, 20L, "view"), (63L, 30L, "view"),
      (62L, Day + 1, "view"), (62L, Day + 2, "click"), // dup: one bit
      (63L, Day + 3, "view"), (125L, Day + 4, "view"),
      (1L, 2 * Day + 5, "view"))
    val got = Analytics.bitmapRetention(events)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      // day 1: actives {62,63,125} (62's two events distinct-count once),
      // retained {62,63} of day-0's {1,62,63} → floor(2*10000/3) = 6666
      (1L, 3L, 3L, 2L, 6666L),
      // day 2: user 1 only; no overlap with {62,63,125}
      (2L, 1L, 3L, 0L, 0L)))
  }

  test("rolling distinct: bitmap window equals brute-force 7-day distinct; gaps age out") {
    // users across word boundaries, a 5-day gap so aged-out days matter
    val rows = Seq(
      (0L, 1L), (0L, 62L), (0L, 63L),       // day 0: 3 users
      (1L, 63L), (1L, 125L),                // day 1: 2 users
      (2L, 1L),                             // day 2
      (9L, 1L), (9L, 200L)                  // day 9: day 0-2 outside the 7-day frame
    ).map { case (day, u) => (day * 86400000L + 1L, u) }
      .toDF("ts_ms", "user_id")
    val got = graft.ops.Analytics.rollingDistinct(rows)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // brute force recomputed by hand over [day-6, day]
    val byDay = Map(
      0L -> Set(1L, 62L, 63L), 1L -> Set(63L, 125L), 2L -> Set(1L), 9L -> Set(1L, 200L))
    got.foreach { case (day, dau, rolling, ratio) =>
      val window = (day - 6 to day).flatMap(d => byDay.getOrElse(d, Set.empty)).toSet
      assert(dau === byDay(day).size.toLong, s"day $day dau")
      assert(rolling === window.size.toLong, s"day $day rolling window distinct")
      assert(ratio === Math.floorDiv(dau * 10000, window.size))
    }
    assert(got.map(_._1) === List(0L, 1L, 2L, 9L))
    // day 9's window excludes days 0-2 entirely
    assert(got.last._3 === 2L)
  }

  test("kCore: 10 rounds reach the fixpoint on the sf0.01 basket graph") {
    import graft.ops.Analytics
    // the registered li_kcore grain: if a fixture change ever leaves the
    // peel unconverged at the registered depth, this fails before the
    // oracle (which unrolls the same depth) can silently agree on a
    // non-fixpoint. This guard is what exposed rounds=5 as 30 nodes
    // short on sf0.01 — the peel sequence there is
    // 965/954/946/940/936 → 935 nodes, flat from round 10.
    val edges = Analytics.coOccurrence(
      Tables.lineitem(spark, "/root/testdata/sf0.01"), "l_orderkey", "l_partkey")
      .select($"item_a".as("src"), $"item_b".as("dst"))
      .localCheckpoint()
    val at10 = Analytics.kCore(edges, k = 3, rounds = 10)
      .select($"n_core_nodes", $"n_core_edges").as[(Long, Long)].collect().head
    val at11 = Analytics.kCore(edges, k = 3, rounds = 11)
      .select($"n_core_nodes", $"n_core_edges").as[(Long, Long)].collect().head
    assert(at10 === at11, "registered rounds=10 must already be the fixpoint")
    assert(at10 === ((935L, 1970L)))
  }

  test("substitutes: shared buyers without co-purchase; complements excluded") {
    import graft.ops.Analytics
    import java.sql.Date
    val d = Date.valueOf("2024-01-01")
    // customers 1-3 each buy item 10 and item 20 in SEPARATE orders
    // (substitutes) and items 10+30 TOGETHER in one order (complements)
    val orders = Seq(
      (101L, 1L), (102L, 1L), (103L, 2L), (104L, 2L), (105L, 3L), (106L, 3L))
      .map { case (ok, ck) => (ok, ck, d) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val lineitem = Seq(
      // odd orders: {10, 30} together; even orders: {20} alone
      (101L, 10L), (101L, 30L), (102L, 20L),
      (103L, 10L), (103L, 30L), (104L, 20L),
      (105L, 10L), (105L, 30L), (106L, 20L))
      .toDF("l_orderkey", "l_partkey")
    val got = Analytics.substitutes(orders, lineitem)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toList
    // (10,30) co-occurs → excluded; (10,20) and (20,30) never share an
    // order, 3 common buyers each, jaccard 3/(3+3-3) = 10000
    assert(got === List(
      (10L, 20L, 3L, 3L, 3L, 10000L),
      (20L, 30L, 3L, 3L, 3L, 10000L)))
  }

  test("cuped: pooled theta exact, per-arm adjustment self-consistent") {
    import graft.ops.Analytics
    val DayMs = 86400000L
    // 4 users, days 1-4 (cut = 2): pre dollars x = {10,20,30,0},
    // post y = {20,35,50,10} → theta = (4·2400 − 60·115)/(4·1400 − 60²)
    // = 2700/2000 = 1.35 → theta_e6 = 1350000, whatever the arm split
    val rows = Seq(
      (1L, 10L, 1L, 10.0), (2L, 10L, 3L, 20.0),
      (3L, 20L, 1L, 20.0), (4L, 20L, 3L, 35.0),
      (5L, 30L, 2L, 30.0), (6L, 30L, 4L, 50.0),
      (7L, 40L, 4L, 10.0))
      .map { case (id, u, day, v) => (id, u, "purchase", day * DayMs, v) }
      .toDF("event_id", "user_id", "event_type", "ts_ms", "value")
    val got = Analytics.cuped(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._2).sum === 4L, "every user lands in exactly one arm")
    assert(got.forall(_._5 === 1350000L), s"pooled theta wrong: $got")
    // the adjustment must be exactly adj = ȳ − ⌊θ·(x̄_arm − x̄_global)/10⁶⌋
    // recomputed from the report's own means (global x̄ e4 = 60e4/4)
    got.foreach { case (_, _, xM, yM, th, adj) =>
      val dx = xM - 150000L
      assert(adj === yM - Math.floorDiv(th * dx, 1000000L))
    }
  }

  test("components: labels flood to the component minimum on a hand graph") {
    import graft.ops.Analytics
    // path 1-2-3-4 (diameter 3) + disjoint pair 5-6: with pointer
    // jumping the path closes in 2 rounds (node 4 reaches 1 through
    // the shortcut), where plain flooding would need 3
    val edges = Seq((2L, 3L), (1L, 2L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Analytics.components(edges, rounds = 2)
      .as[(Long, Long)].collect().sorted.toList
    assert(got === List((1L, 4L), (5L, 2L)))
    // one round is not enough even with the jump: 4 only reaches 2
    val short = Analytics.components(edges, rounds = 1)
      .as[(Long, Long)].collect().sorted.toList
    assert(short !== got, "1 round must NOT cover the diameter-3 path")
  }

  test("components: HashMin+jump reaches the fixpoint at the registered depth on sf0.01") {
    import graft.ops.Analytics
    val edges = Analytics.coOccurrence(
      Tables.lineitem(spark, "/root/testdata/sf0.01"), "l_orderkey", "l_partkey")
      .select($"item_a".as("src"), $"item_b".as("dst"))
      .localCheckpoint()
    def comp(r: Int) = Analytics.components(edges, r)
      .as[(Long, Long)].collect().sorted.toList
    val at6 = comp(6)
    assert(at6 === comp(7), "registered rounds=6 must already be the fixpoint")
    // convergence: 182/61/25/10/9 components by round — counts alone can
    // stop moving before labels do, hence the full-table pin (plain
    // flooding without the jump took 10 rounds to the same 9/1860)
    assert(at6.length === 9)
    assert(at6.map(_._2).max === 1860L)
  }

  test("labelPropIterate: weighted-majority adoption, singleton step is its special case") {
    import graft.ops.Analytics
    // square 1-2-3-4-1 with a heavy 1-2 edge plus pendant 5 on 3:
    // step 1 (heaviest neighbor): 1→2? no — node 1's edges: (1,2,w5),(1,4,w1)
    val pairs = Seq(
      (1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 4L, 1L), (3L, 5L, 2L))
      .toDF("item_a", "item_b", "n_ab")
    val l1 = Analytics.labelPropStep(pairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    // 1 adopts 2 (w5); 2 adopts 1 (w5); 3 adopts 5 (w2); 4 adopts 1 (tie w1,
    // min id); 5 adopts 3 (w2)
    assert(l1 === List((1L, 2L, 5L), (2L, 1L, 5L), (3L, 5L, 2L), (4L, 1L, 1L), (5L, 3L, 2L)))
    val l2 = Analytics.labelPropIterate(pairs, Analytics.labelPropStep(pairs))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    // iteration 2 sums weight per neighbor LABEL: node 3 sees labels
    // {1(via 2,w1), 1(via 4,w1) → 2, 3(via 5,w2)} — tie 2 vs 2 → label 1
    assert(l2.find(_._1 == 3L).get._2 === 1L)
  }

  test("labelPropIterate: fed back once on the sf0.01 basket graph, label mass converges") {
    import graft.ops.Analytics
    val pairs = Analytics.coOccurrence(
      Tables.lineitem(spark, "/root/testdata/sf0.01"), "l_orderkey", "l_partkey")
      .localCheckpoint()
    val l1 = Analytics.labelPropStep(pairs).localCheckpoint()
    val l2 = Analytics.labelPropIterate(pairs, l1).localCheckpoint()
    val l3 = Analytics.labelPropIterate(pairs, l2).localCheckpoint()
    def nLabels(df: org.apache.spark.sql.DataFrame): Long =
      df.select($"label").distinct().count()
    val (n1, n2, n3) = (nLabels(l1), nLabels(l2), nLabels(l3))
    // propagation can only merge communities from singleton init: the
    // distinct-label count must not grow as iterations feed back
    assert(n2 <= n1, s"iteration 2 grew the label space: $n1 -> $n2")
    assert(n3 <= n2, s"iteration 3 grew the label space: $n2 -> $n3")
    // and the assignment must be deterministic run-to-run
    val again = Analytics.labelPropIterate(pairs, l1)
      .as[(Long, Long, Long)].collect().sorted.toList
    assert(again === l2.as[(Long, Long, Long)].collect().sorted.toList)
  }

  test("markovAttribution: hand-solved absorbing chain, removal effects exact") {
    import graft.ops.Analytics
    // u1: view→purchase; u2: view→error(end); u3: click→view→purchase
    // T: view→{purchase ⌊2/3⌋e9, error ⌊1/3⌋e9}, click→view 1e9
    // p(view)=666666666, p(click)=666666666 (two iterations to converge)
    // π: view ⌊2/3⌋e9, click ⌊1/3⌋e9 → base = 444444443+222222221 = 666666664
    val rows = Seq(
      (1L, 1L, "view", 1000L), (2L, 1L, "purchase", 2000L),
      (3L, 2L, "view", 1000L), (4L, 2L, "error", 2000L),
      (5L, 3L, "click", 1000L), (6L, 3L, "view", 2000L), (7L, 3L, "purchase", 3000L)
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val got = Analytics.markovAttribution(rows)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("view").getLong(1) === 666666664L)
    assert(got("view").getLong(2) === 0L)            // paths die without view
    assert(got("view").getLong(3) === 666666664L)
    assert(got("click").getLong(2) === 444444443L)   // only the view-starters convert
    assert(got("click").getLong(3) === 222222221L)
    assert(got("error").getLong(3) === 0L)           // error carried no conversion mass
    assert(got("signup").getLong(3) === 0L)          // absent state: no-op removal
    assert(got("view").getLong(4) === 7500L)         // 666666664e4 // 888888885
    assert(got("click").getLong(4) === 2499L)
  }

  test("kCore: pendant chain peels away, the clique survives") {
    import graft.ops.Analytics
    // K4 on {1,2,3,4} plus a pendant path 4-5-6: 3-core = exactly the K4
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)
    ).toDF("src", "dst")
    val got = Analytics.kCore(edges, k = 3, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got === ((3L, 3L, 4L, 6L)))
    // k=2: the path still peels (5 and 6 have degree <= 2 but 6 has 1 →
    // peeling 6 leaves 5 with degree 1 → peels too); K4 plus nothing
    val got2 = Analytics.kCore(edges, k = 2, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got2 === ((2L, 3L, 4L, 6L)))
    // k larger than any degree: empty core
    val got3 = Analytics.kCore(edges, k = 5, rounds = 2)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got3._3 === 0L && got3._4 === 0L)
  }

  test("trussPeel: peeling starves the chain edge that one-shot support flags") {
    import graft.ops.Analytics
    // chain of two triangles {1,2,3},{2,3,4}: edge (2,3) has support 2 —
    // edgeSupport flags it in_4truss — but the four side edges have
    // support 1; the k=4 peel removes them and (2,3) starves to support
    // 0, so the 4-truss is empty and (2,3)'s trussness is 3, not 4
    val chain = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val oneShot = Analytics.edgeSupport(chain)
      .filter($"item_a" === 2L && $"item_b" === 3L)
      .select($"support", $"in_4truss").as[(Long, Long)].collect().head
    assert(oneShot === ((2L, 1L)), "one-shot support says 4-truss")
    val peeled = Analytics.trussPeel(chain, kMax = 4, rounds = 5)
      .select($"item_a", $"item_b", $"support", $"trussness")
      .as[(Long, Long, Long, Long)].collect().sortBy(e => (e._1, e._2)).toList
    assert(peeled === List(
      (1L, 2L, 1L, 3L), (1L, 3L, 1L, 3L), (2L, 3L, 2L, 3L),
      (2L, 4L, 1L, 3L), (3L, 4L, 1L, 3L)))
    // K4 plus a pendant triangle on edge (1,2): the K4 is a genuine
    // 4-truss (every edge support 2 within it); the pendant edges
    // (1,5),(2,5) survive k=3 (their triangle is intact) but peel at
    // k=4, dropping (1,2)'s support from 3 to 2 — still enough
    val k4p = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L)).toDF("src", "dst")
    val got = Analytics.trussPeel(k4p, kMax = 4, rounds = 5)
      .select($"item_a", $"item_b", $"trussness")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 4L && got((3L, 4L)) === 4L)
    assert(got((1L, 5L)) === 3L && got((2L, 5L)) === 3L)
    // census rows agree with the per-edge table, empty levels included
    val sum5 = Analytics.trussSummary(k4p, kMax = 5, rounds = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(sum5 === List((2L, 8L, 5L), (3L, 8L, 5L), (4L, 6L, 4L), (5L, 0L, 0L)))
  }

  test("trussPeel: registered round cap reaches the fixpoint on every fixture") {
    import graft.ops.Analytics
    // same guard as the kCore depth pin: the oracle unrolls a fixed
    // number of peel rounds, so the registered cap must already be the
    // fixpoint on the DEEPEST fixture — sf0.001's dense basket graph
    // (k=3: 2324 → 2244 in one round; k=4: five effective rounds,
    // 2244 → 2048 → 1997 → 1973 → 1968 → 1966), where sf0.01 needs
    // 3445 → 181 → (181 → 2 → 0) and sf0.1 is shallower still
    def summary(dir: String, rounds: Int) = {
      val edges = Analytics.coOccurrence(
        Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
        .select($"item_a".as("src"), $"item_b".as("dst"))
        .localCheckpoint()
      Analytics.trussSummary(edges, kMax = 4, rounds = rounds)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    }
    val deepCap = summary("/root/testdata/sf0.001", 8)
    val deepBeyond = summary("/root/testdata/sf0.001", 12)
    assert(deepCap === deepBeyond, "registered rounds=8 must already be the fixpoint")
    assert(deepCap.map(r => (r._1, r._2)) === List((2L, 2324L), (3L, 2244L), (4L, 1966L)))
    val midCap = summary("/root/testdata/sf0.01", 8)
    assert(midCap === List((2L, 3445L, 1880L), (3L, 181L, 165L), (4L, 0L, 0L)))
  }

  test("coreNumbers: pendant chain bottoms out at core 1, the clique at its degree") {
    import graft.ops.Analytics
    // K4 plus pendant path 4-5-6: node 5 starts at degree 2 but is NOT
    // in the 2-core — peeling 6 (degree 1) strands it, the cascade the
    // one-shot degree filter misses. K4 nodes peel at k=4 (degree 3).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = Analytics.coreNumbers(edges, kMax = 4, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("coreNumbers: registered round cap reaches the fixpoint on every fixture") {
    import graft.ops.Analytics
    // the oracle unrolls measured depths (k=3 at sf0.01 grinds 10
    // effective rounds, k=2 at sf0.1 five) — the registered cap must
    // already be the fixpoint so the unroll can't silently under-peel
    def hist(dir: String, rounds: Int) = {
      val edges = Analytics.coOccurrence(
        Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
        .select($"item_a".as("src"), $"item_b".as("dst"))
        .localCheckpoint()
      Analytics.coreNumbers(edges, kMax = 4, rounds = rounds)
        .groupBy($"core").count().as[(Long, Long)].collect().sortBy(_._1).toList
    }
    assert(hist("/root/testdata/sf0.01", 12) === hist("/root/testdata/sf0.01", 14))
    assert(hist("/root/testdata/sf0.01", 12) ===
      List((1L, 345L), (2L, 600L), (3L, 935L)))
    assert(hist("/root/testdata/sf0.1", 12) === hist("/root/testdata/sf0.1", 14))
  }

  test("linkPrediction: distance-2 non-edges ranked by common neighbors") {
    // square with one diagonal: 1-2, 1-3, 2-3, 2-4, 3-4. The only
    // non-adjacent distance-2 pair is (1,4), reachable through BOTH 2 and
    // 3 → cn = 2; deg(1) = deg(4) = 2, so Jaccard = 2/(2+2−2) = 1.0
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = Analytics.linkPrediction(edges)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got === List((1L, 4L, 2L, 2L, 2L, 10000L)))
  }

  test("attributionRules: four rules split a 3-touch journey as pinned; credit conserves") {
    // user 1: a→b→c→purchase (n=3); user 2: a→purchase (n=1);
    // user 3: purchase with no touch → 'direct' everywhere.
    // linear remainder (10000 − 3·3333 = 1) lands on the LAST touch;
    // U-shaped middle pot is 2000 for the single middle.
    val rows = Seq(
      (1L, 1L, "a", 1L), (2L, 1L, "b", 2L), (3L, 1L, "c", 3L),
      (4L, 1L, "purchase", 4L),
      (5L, 2L, "a", 1L), (6L, 2L, "purchase", 2L),
      (7L, 3L, "purchase", 5L))
      .toDF("event_id", "user_id", "event_type", "ts_ms")
    val got = Analytics.attributionRules(rows)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      ("first", "a") -> 20000L, ("first", "direct") -> 10000L,
      ("last", "a") -> 10000L, ("last", "c") -> 10000L,
      ("last", "direct") -> 10000L,
      ("linear", "a") -> 13333L, ("linear", "b") -> 3333L,
      ("linear", "c") -> 3334L, ("linear", "direct") -> 10000L,
      ("ushaped", "a") -> 14000L, ("ushaped", "b") -> 2000L,
      ("ushaped", "c") -> 4000L, ("ushaped", "direct") -> 10000L))
    // conservation: every rule distributes exactly 10⁴ per purchase
    Seq("first", "last", "linear", "ushaped").foreach { r =>
      assert(got.collect { case ((`r`, _), c) => c }.sum === 30000L, r)
    }
  }

  test("modularity: two triangles with one bridge score the textbook 70/196") {
    // communities {1,2,3} and {4,5,6}, bridge (3,4): m = 7,
    // L_c = 3 each, D_c = 7 each → Q·4m² = 2·(4·7·3 − 49) = 70 →
    // q_e6 = ⌊70·10⁶/196⌋ = 357142
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).map { case (a, b) => (a, b, 1L) }
      .toDF("item_a", "item_b", "n_ab")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("item", "label")
    val got = Analytics.modularity(pairs, labels)
      .as[(Long, Long, Long, Option[Long], Long)].collect().head
    assert(got === ((2L, 6L, 7L, Some(357142L), 3L)))
  }

  test("modularity: everything in one community scores exactly zero") {
    // one community: L = m and D = 2m → Q·4m² = 4m² − 4m² = 0
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L)).map { case (a, b) => (a, b, 1L) }
      .toDF("item_a", "item_b", "n_ab")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("item", "label")
    val got = Analytics.modularity(pairs, labels)
      .as[(Long, Long, Long, Option[Long], Long)].collect().head
    assert(got === ((1L, 3L, 3L, Some(0L), 3L)))
  }

  test("localClustering: exact per-node triangle credit, deg-1 dropped") {
    // triangle {1,2,3} + pendant 4 on 3 + isolated edge (5,6).
    // cc(1) = cc(2) = 2·1/(2·1) = 1 → bucket 10; cc(3) = 2·1/(3·2) →
    // 3333 e4 → bucket 3; degree-1 nodes (4, 5, 6) drop
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst")
    val got = Analytics.localClustering(edges)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (3L, 1L, 1L, 3L, 3333L),
      (10L, 2L, 2L, 4L, 20000L)))
  }

  test("localClustering: a 4-clique is all bucket 10; a path is all zero") {
    // K4: every node has deg 3 and sits on 3 triangles → cc = 1 exactly.
    // Path 10-11-12: node 11 has deg 2, no triangle → cc 0, bucket 0
    val k4 = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)) ++ Seq((10L, 11L), (11L, 12L))
    val got = Analytics.localClustering(k4.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // K4 has 4 triangles total, each node on C(3,2) = 3 of them → 12 credits
    assert(got === List(
      (0L, 1L, 0L, 2L, 0L),
      (10L, 4L, 12L, 12L, 40000L)))
  }

  test("basketRules: direction matters — confidence differs, exact rules get null conviction") {
    // baskets {A,B}, {A,B}, {A}: pair (A,B) n_ab=2, n_A=3, n_B=2, ng=3.
    // A→B: conf ⌊2·10⁴/3⌋ = 6666, conviction (3−2)·3·10⁴/(3·(3−2)) = 10000.
    // B→A: conf 10000 (exact rule) → conviction null. lift 10000 both ways.
    val rows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val got = Analytics.basketRules(rows, "l_orderkey", "l_partkey")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((10L, 20L)) === ((10L, 20L, 2L, 3L, 2L, 10000L, 6666L, Some(10000L))))
    assert(got((20L, 10L)) === ((20L, 10L, 2L, 2L, 3L, 10000L, 10000L, None)))
    assert(got.size === 2)
  }

  test("forecastBaseline: periodic series scores zero error; a spike day is the worst day") {
    // 14 days of 2 events/day; type "q" gets 2 extra on day 10. Scored
    // days are 7..13 (day−7 exists): "p" is error-free everywhere; "q"
    // errs only on day 10 (actual 4 vs pred 2): worst_abs_err 2,
    // mae ⌊2/7⌋ = 0, mape ⌊⌊2·10⁴/4⌋/7⌋ = ⌊5000/7⌋ = 714
    val base = for (d <- 0 until 14; i <- 0 until 2)
      yield (1L, "p", d * 86400000L + i, 1.0)
    val q = (for (d <- 0 until 14; i <- 0 until 2)
      yield (1L, "q", d * 86400000L + i, 1.0)) ++
      Seq((1L, "q", 10 * 86400000L + 50, 1.0), (1L, "q", 10 * 86400000L + 51, 1.0))
    val got = Analytics.forecastBaseline(
      (base ++ q).toDF("user_id", "event_type", "ts_ms", "value"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("p") === (("p", 7L, 0L, 0L, 7L, 0L)))
    assert(got("q") === (("q", 7L, 0L, 714L, 10L, 2L)))
  }

  test("sloBurnRate: pages only when short AND long windows are both over budget") {
    // 10 events/day; 2 errors/day (exactly the 20% target) for days 0–6,
    // then 5 errors/day from day 7. Day 6: both burns 10000 (on budget,
    // no page). Day 7: burn_1d 25000, burn_7d ⌊17·10⁸/(70·2000)⌋ = 12142
    // — both ≥ 11000 → page. Days 0–5: burn exactly 10000, no page.
    val rows = for (d <- 0 until 14; i <- 0 until 10) yield {
      val errs = if (d < 7) 2 else 5
      (1L, if (i < errs) "error" else "view", d * 86400000L + i, 1.0)
    }
    val got = Analytics.sloBurnRate(rows.toDF("user_id", "event_type", "ts_ms", "value"))
      .select("day", "burn_1d_e4", "burn_7d_e4", "alert")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(6L) === ((6L, 10000L, 10000L, 0L)))
    assert(got(7L) === ((7L, 25000L, 12142L, 1L)))
    (0L to 5L).foreach(d => assert(got(d)._4 === 0L))
    (7L to 13L).foreach(d => assert(got(d)._4 === 1L))
    // a single bad day inside an under-budget week (10% vs the 20%
    // target): 1d fires at 25000, the 7d window reads ⌊11·10⁸/(70·2000)⌋
    // = 7857 — suppressed. (A week ALREADY at budget pages on one bad
    // day, correctly — there is no slack to absorb it.)
    val blip = for (d <- 0 until 8; i <- 0 until 10) yield {
      val errs = if (d == 7) 5 else 1
      (1L, if (i < errs) "error" else "view", d * 86400000L + i, 1.0)
    }
    val g2 = Analytics.sloBurnRate(blip.toDF("user_id", "event_type", "ts_ms", "value"))
      .select("day", "burn_1d_e4", "burn_7d_e4", "alert")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(g2(7L) === ((7L, 25000L, 7857L, 0L)))
  }

  test("edgeSupport: per-edge triangle counts, truss flags, pendant edges keep zero rows") {
    // triangles {1,2,3} and {2,3,5} share edge (2,3); (3,4) is pendant.
    // K4 sanity: every K4 edge sits on exactly 2 triangles
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 5L), (3L, 5L))
      .toDF("src", "dst")
    val got = Analytics.edgeSupport(edges)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (1L, 2L, 1L, 1L, 0L),
      (1L, 3L, 1L, 1L, 0L),
      (2L, 3L, 2L, 1L, 1L),
      (2L, 5L, 1L, 1L, 0L),
      (3L, 4L, 0L, 0L, 0L),
      (3L, 5L, 1L, 1L, 0L)))
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("src", "dst")
    val gotK4 = Analytics.edgeSupport(k4)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(gotK4.size === 6 && gotK4.forall(r => r._3 === 2L && r._5 === 1L))
  }

  test("linkPrediction: hub centers above maxDeg generate no candidates") {
    // star: center 0 joined to 1..5. Every leaf pair is distance 2
    // through the hub; capping the hub out (maxDeg < 5) must leave
    // nothing — the fan-out bound is the correctness of the cap
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(Analytics.linkPrediction(star, maxDeg = 4).count() === 0L)
    // uncapped, the 10 leaf pairs all appear with cn = 1 and
    // jaccard = 1·10⁴/(1+1−1) = 10000
    val full = Analytics.linkPrediction(star, maxDeg = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(full.size === 10 && full.forall(r => r._3 == 1L && r._6 == 10000L))
  }

  test("sortedPairs: total on empty, singleton and two-item arrays") {
    import org.apache.spark.sql.functions.{col, explode}
    // sequence(1, n - 1) counts DOWN for n < 2; the helper must still
    // give no pairs there, with no caller-side size filter
    val arrays = Seq((0, Seq.empty[Long]), (1, Seq(7L)), (2, Seq(3L, 9L)))
      .toDF("id", "items")
    val got = arrays
      .select(col("id"), explode(Analytics.sortedPairs(col("items"))).as("p"))
      .select(col("id"), col("p.item_a"), col("p.item_b"))
      .as[(Int, Long, Long)].collect().toList
    assert(got === List((2, 3L, 9L)))
    val sizes = arrays
      .select(col("id"), org.apache.spark.sql.functions.size(Analytics.sortedPairs(col("items"))))
      .as[(Int, Int)].collect().toMap
    assert(sizes === Map(0 -> 0, 1 -> 0, 2 -> 1))
  }

  test("assortativity: a star is perfectly disassortative, a cycle degenerate") {
    import graft.ops.Analytics
    // K1,3: every oriented edge pairs degree 3 with degree 1 →
    // m=6, Σx=12, Σx²=30, Σxy=18 → r = (6·18−144)/(6·30−144) = −1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val (n, e, r) =
      Analytics.assortativity(star).as[(Long, Long, Option[Double])].collect().head
    assert((n, e) === ((4L, 3L)))
    assert(r === Some(-1.0))
    // 4-cycle: degree-regular → zero variance → null r, counts intact
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val (nc, ec, rc) =
      Analytics.assortativity(cycle).as[(Long, Long, Option[Double])].collect().head
    assert((nc, ec, rc) === ((4L, 4L, None)))
  }

  test("degreeHistogram: bit-length buckets split the star's hub from its leaves") {
    import graft.ops.Analytics
    // K1,3: hub degree 3 → bucket ⌊log₂3⌋ = 1; three degree-1 leaves → bucket 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val got = Analytics.degreeHistogram(star)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((0L, 3L, 1L, 1L, 3L), (1L, 1L, 3L, 3L, 3L)))
    // exact power of two lands in ITS OWN bucket (the float-log2 trap):
    // a hub of degree 4 must bucket at 2, not 1
    val star4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val hub = Analytics.degreeHistogram(star4)
      .as[(Long, Long, Long, Long, Long)].collect().filter(_._3 == 4L)
    assert(hub.map(_._1).toList === List(2L))
  }

  test("assortativity: duplicate and reversed input edges collapse before the moments") {
    import graft.ops.Analytics
    // same star fed with duplicates and flipped orientation — canonical
    // dedup must make it identical to the clean star
    val messy = Seq((1L, 0L), (0L, 1L), (2L, 0L), (0L, 3L), (3L, 0L))
      .toDF("src", "dst")
    val got = Analytics.assortativity(messy).as[(Long, Long, Option[Double])].collect().head
    assert(got === ((4L, 3L, Some(-1.0))))
  }
}
