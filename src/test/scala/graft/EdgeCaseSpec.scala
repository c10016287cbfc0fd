package graft

import graft.dedup.Dedup
import graft.ops.{AsOfJoin, Clickstream}
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty inputs, single rows, and
  * all-filtered-out cases must produce empty/correct results, not throw —
  * at 100 TB some partition or day WILL be empty.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyEvents: DataFrame =
    Seq.empty[(Long, Long, String, Long, Double)]
      .toDF("event_id", "user_id", "event_type", "ts_ms", "value")

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("this session's batch operators tolerate empty and degenerate inputs") {
    import graft.ops.{Profile, TimeSeries}
    assert(TimeSeries.reactivations(emptyEvents).count() === 0L)
    assert(TimeSeries.ewmaDaily(emptyEvents).count() === 0L)
    assert(TimeSeries.forecastBacktest(emptyEvents)
      .as[(Long, Long, Long, Long, Long)].collect().toList
      === List((0L, 0L, 0L, 0L, 0L)), "backtest with no baseline days: all-zero row")
    assert(TimeSeries.freshness(emptyEvents, "event_type").count() === 0L)
    assert(Clickstream.gapSensitivity(emptyEvents)
      .as[(Long, Long)].collect().forall(_._2 === 0L), "no events → 0 sessions at every gap")
    // single observed day: no pairs — percentile over zero slopes is null
    val oneDay = Seq((1L, 1L)).toDF("ts_ms", "v")
    val ts = TimeSeries.theilSen(oneDay).collect().head
    assert(ts.getLong(0) === 1L && ts.getLong(1) === 0L && ts.isNullAt(2))
    assert(Profile.joinCardinality(emptyEvents, "event_id", emptyEvents, "event_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toList
      === List((0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(Profile.snapshotDiff(emptyEvents, emptyEvents, "event_id", Seq("value"))
      .count() === 0L)
    assert(TextAnalysis.quotaAlloc(emptyDocs, "doc_id", 10L).count() === 0L)
    assert(TimeSeries.returnRate(
      Seq.empty[(String, Double, Double, java.sql.Timestamp)]
        .toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate")).count() === 0L)
  }

  test("round-15 operators tolerate empty inputs") {
    val emptySourced = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Dedup.corpusBuild(emptySourced).count() === 0L)
  }

  test("round-14 operators tolerate empty inputs") {
    import graft.ops.{Analytics, TimeSeries}
    val emptyPairs = Seq.empty[(Long, Long, Long)].toDF("item_a", "item_b", "n_ab")
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Analytics.betweennessWeighted(emptyPairs).count() === 0L)
    assert(Analytics.closeness(emptyEdges).count() === 0L)
    assert(Analytics.eccentricity(emptyEdges).count() === 0L)
    assert(Analytics.adamicAdar(emptyEdges).count() === 0L)
    assert(Analytics.supplierConcentration(
      Seq.empty[(Long, Long, Double)].toDF("l_partkey", "l_suppkey", "l_quantity"))
      .count() === 0L)
    assert(Analytics.supplierShareShift(
      Seq.empty[(Long, Double, java.sql.Timestamp)]
        .toDF("l_suppkey", "l_quantity", "l_shipdate")).count() === 0L)
    assert(Analytics.orderGaps(
      Seq.empty[(Long, Long, java.sql.Timestamp)]
        .toDF("o_custkey", "o_orderkey", "o_orderdate")).count() === 0L)
    assert(TimeSeries.activeStreaks(emptyEvents).count() === 0L)
    assert(TimeSeries.recordDays(emptyEvents).count() === 0L)
    assert(TimeSeries.fanoFactor(emptyEvents).count() === 0L)
    assert(Analytics.valueMigration(
      Seq.empty[(Long, Double, java.sql.Timestamp)]
        .toDF("o_custkey", "o_totalprice", "o_orderdate")).count() === 0L)
    assert(graft.dedup.Dedup.dedupSampleWeights(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"))
      .count() === 0L)
    assert(Clickstream.dwellByType(emptyEvents).count() === 0L)
    assert(Clickstream.depthConversion(emptyEvents).count() === 0L)
    assert(TextAnalysis.docKlDivergence(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")).count() === 0L)
    assert(graft.sim.Similarity.sphericalKmeansStep(
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label"),
      k = 2, dim = 2).count() === 0L)
  }

  test("round-6 batch operators tolerate empty and degenerate inputs") {
    import graft.ops.{Analytics, Stats}
    assert(Stats.mannWhitney(emptyEvents).count() === 0L)
    assert(Stats.hhi(emptyEvents).count() === 0L)
    // keyless summary agg on empty input: one row, zero count, NULL e4
    val g = Stats.gini(
      Seq.empty[(Long, Double)].toDF("o_custkey", "o_totalprice")).collect().head
    assert(g.getLong(0) === 0L && g.isNullAt(2))
    // empty events: the 24-hour domain is empty → no output row after agg?
    // one keyless agg always emits a row; rho over n=0 divides by zero →
    // the e4 column must be NULL, not a crash
    val sp = Stats.hourSpearman(emptyEvents).collect().head
    assert(sp.getLong(0) === 0L && sp.isNullAt(2))
    assert(Stats.compactionPlan(emptyEvents, "user_id").count() === 0L)
    assert(Stats.countMinEstimates(emptyEvents).count() === 0L)
    assert(Analytics.seqPairs(
      Seq.empty[(Long, Long, java.sql.Date)].toDF("o_orderkey", "o_custkey", "o_orderdate"),
      Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")).count() === 0L)
    assert(Analytics.labelPropStep(
      Seq.empty[(Long, Long, Long)].toDF("item_a", "item_b", "n_ab")).count() === 0L)
    assert(Analytics.rollingDistinct(emptyEvents).count() === 0L)
    // r7 additions: empty inputs flow through the new operators too
    assert(Analytics.components(
      Seq.empty[(Long, Long)].toDF("src", "dst"), rounds = 2).count() === 0L)
    assert(Analytics.substitutes(
      Seq.empty[(Long, Long, java.sql.Date)].toDF("o_orderkey", "o_custkey", "o_orderdate"),
      Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")).count() === 0L)
    assert(Analytics.abcMigration(
      Seq.empty[(Long, Double, java.sql.Date)]
        .toDF("l_partkey", "l_extendedprice", "l_shipdate")).count() === 0L)
    assert(Stats.exactValueRanks(emptyEvents).count() === 0L,
      "ceil-rank targets over n=0 must match nothing, not crash")
    // cuped on a single-day stream with IDENTICAL pre-spend: everything
    // lands pre-cut and the covariate has zero variance, so Sxx = 0 →
    // theta and the adjusted mean must be NULL (the oracle's CASE does
    // the same), never a divide-by-zero
    val oneDay = Seq((1L, 1L, "purchase", 1000L, 10.0), (2L, 2L, "purchase", 2000L, 10.0))
      .toDF("event_id", "user_id", "event_type", "ts_ms", "value")
    val cu = Analytics.cuped(oneDay).collect()
    assert(cu.nonEmpty && cu.forall(r => r.isNullAt(4) && r.isNullAt(5)))
    assert(graft.ops.TimeSeries.scd2AsOf(
      emptyEvents, "user_id", "event_type", "ts_ms", "event_id").count() === 0L)
    // xcorr over no events: the moments aggregate still emits one row,
    // and n_days must be 0 (count, matching the oracle's count(*)) with
    // every correlation NULL — first(__n) would have said NULL and
    // diverged from DuckDB
    val xc = graft.ops.TimeSeries.xcorrDaily(emptyEvents, "purchase", "error")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toList
    assert(xc.map(_._1) === (-3L to 3L).toList)
    assert(xc.forall(r => r._2 === 0L && r._3.isEmpty), s"empty xcorr: $xc")
    // single-day calendar: the midpoint equals the only day, half B is
    // EMPTY — drift rates must report 0 against greatest(n, 1), no crash
    val drift = graft.ops.Profile.statsDrift(
      oneDay, Seq("event_type"),
      Cols.floorDiv(org.apache.spark.sql.functions.col("ts_ms"), graft.ops.TimeSeries.DayMs))
      .collect().head
    assert(drift.getLong(2) === 0L && drift.getLong(8) === -10000L,
      s"half B must be empty and distinct drift -10000: $drift")
    val core = Analytics.kCore(
      Seq.empty[(Long, Long)].toDF("src", "dst"), k = 3, rounds = 2)
      .as[(Long, Long, Long, Long)].collect().head
    assert(core._3 === 0L && core._4 === 0L)
    assert(TextAnalysis.sourceChi2(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")).count() === 0L)
    // single-doc chunking on empty docs: no rows, no crash
    assert(TextAnalysis.chunk(emptyDocs).count() === 0L)
  }

  test("sessionize on an empty frame returns an empty frame") {
    assert(Clickstream.sessionize(emptyEvents).count() === 0L)
    assert(Clickstream.sessionizeTyped(emptyEvents).count() === 0L)
  }

  test("single-event session: window is [ts, ts+gap), zero checkout count") {
    val one = Seq((1L, 10L, "browse", 1000L, 0.0))
      .toDF("event_id", "user_id", "event_type", "ts_ms", "value")
    val s = Clickstream.sessionize(one)
      .select("event_count", "checkout_event_count", "win_begin_ms", "win_end_ms")
      .as[(Long, Long, Long, Long)].collect().head
    assert(s === ((1L, 0L, 1000L, 1000L + Clickstream.DefaultGapMs)))
  }

  test("r5 batch operators on empty inputs return empty, not errors") {
    import graft.ops.{Analytics, Profile, Scale, TimeSeries}
    assert(TimeSeries.trendSlope(emptyEvents, "event_type", "ts_ms").count() === 0L)
    assert(TimeSeries.cusumChangePoint(emptyEvents, "event_type", "ts_ms").count() === 0L)
    assert(TimeSeries.ohlcDaily(emptyEvents, "event_type", "ts_ms", "value").count() === 0L)
    assert(TimeSeries.autocorrDaily(emptyEvents, "event_type", "ts_ms").count() === 0L)
    assert(TimeSeries.statusTimeShare(
      emptyEvents, "user_id", "event_type", "ts_ms", "event_id").count() === 0L)
    assert(TimeSeries.latestState(
      emptyEvents, "user_id", "ts_ms", "event_id", Seq("value")).count() === 0L)
    assert(Profile.madOutliers(emptyEvents, "event_type", "value").count() === 0L)
    assert(Profile.equiDepthHistogram(emptyEvents, "value").count() === 0L)
    assert(Scale.samplePerKey(emptyEvents, "event_type", "event_id", 5).count() === 0L)
    assert(Analytics.paretoShares(emptyEvents, "user_id", "value").count() === 0L)
    assert(Clickstream.entryConversion(emptyEvents).count() === 0L)
    assert(Dedup.sortedNeighborPairs(emptyDocs).count() === 0L)
    assert(TextAnalysis.zipfFit(emptyDocs).collect().head
      === org.apache.spark.sql.Row(0L, null), "zipf on empty corpus: 0 terms, null slope")
    // chi2 on empty input: one row of nulls/zeros is acceptable — must not throw
    Profile.chi2Independence(emptyEvents, "event_type", "user_id").collect()
    // pagerank on an empty edge list: no nodes, empty ranks
    assert(Analytics.pageRank(
      Seq.empty[(String, String, Long)].toDF("src", "dst", "weight")).count() === 0L)
  }

  test("dedup operators on empty docs return empty, not errors") {
    assert(Dedup.exact(emptyDocs).count() === 0L)
    assert(Dedup.ngramJaccard(emptyDocs).count() === 0L)
    assert(Dedup.minhashLsh(emptyDocs).count() === 0L)
    assert(Dedup.simhash(emptyDocs).count() === 0L)
  }

  test("batch-13+ operators on empty inputs return empty (or a defined null row)") {
    import graft.ops.{Analytics, TimeSeries}
    import graft.sim.Similarity
    assert(Dedup.prefixJaccard(emptyDocs).count() === 0L)
    assert(Dedup.incremental(emptyDocs).count() === 0L)
    assert(Dedup.minhashQuality(emptyDocs).count() === 0L)
    assert(Dedup.methodAgreement(emptyDocs).count() === 0L)
    assert(Analytics.sessionConcurrency(emptyEvents).count() === 0L)
    assert(Analytics.abLift(emptyEvents).count() === 0L)
    assert(TimeSeries.stickiness(emptyEvents).count() === 0L)
    assert(TextAnalysis.noveltyCurve(emptyDocs).count() === 0L)
    val emptyOrders = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val emptyLines = Seq.empty[(Long, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_shipdate")
    assert(TimeSeries.fillRate(emptyOrders, emptyLines).count() === 0L)
    assert(TimeSeries.openOrders(
      emptyOrders.withColumnRenamed("o_orderpriority", "unused"), emptyLines).count() === 0L)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.kmeansStep(emptyEmb, k = 2, dim = 2).count() === 0L)
    assert(Similarity.dimFences(emptyEmb, dim = 2).count() === 0L)
    assert(Similarity.ivfRecall(emptyEmb).count() === 0L)
    // single-row aggregates on empty input: one defined row, no throw
    assert(Analytics.returnTime(emptyEvents)
      .select("n_gaps").as[Long].collect().head === 0L)
    assert(Dedup.recallHarness(emptyDocs)
      .as[(Long, Long, Option[Long])].collect().head === ((0L, 0L, None)))
  }

  test("round-13 operators tolerate empty inputs (empty or defined-null rows)") {
    import graft.ops.{Analytics, TimeSeries}
    import graft.sim.Similarity
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Analytics.betweennessSample(emptyEdges).count() === 0L)
    val emptyPairs = Seq.empty[(Long, Long, Long)].toDF("item_a", "item_b", "n_ab")
    assert(Analytics.cheapestPath(emptyPairs).count() === 0L)
    val emptyLi = Seq.empty[(Long, java.sql.Timestamp, Double, Double)]
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    assert(Analytics.safetyStock(emptyLi).count() === 0L)
    assert(Analytics.abcXyz(emptyLi).count() === 0L)
    assert(Analytics.demandSeasonality(emptyLi).count() === 0L)
    assert(Analytics.survivalKm(emptyEvents).count() === 0L)
    assert(TimeSeries.peakDays(emptyEvents).count() === 0L)
    val emptyOrd = Seq.empty[(Long, Long, Double, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val emptyCust = Seq.empty[(Long, String)].toDF("c_custkey", "c_mktsegment")
    assert(Analytics.segmentConcentration(emptyOrd, emptyCust).count() === 0L)
    val emptySupLines = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    assert(TimeSeries.supplierLeadTime(emptyOrd, emptySupLines).count() === 0L)
    assert(graft.multimodal.Multimodal.phashCanonical(spark, emptyDocs).count() === 0L)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    // the power-iteration pair: empty corpus yields an empty arm table
    // (whiten2) / the fixed step rows with null metrics (powerCurve) —
    // defined null rows, never a divide-by-zero throw
    assert(Similarity.whiten2(emptyEmb, dim = 2).count() === 0L)
    val pc = Similarity.powerCurve(emptyEmb, dim = 2)
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(pc.map(_._1).toList === List(1L, 2L, 3L, 4L))
    assert(pc.forall(r => r._2.isEmpty && r._3.isEmpty))
  }

  test("doc shorter than the shingle width yields no shingles but valid stats") {
    val tiny = Seq((1L, "two words")).toDF("doc_id", "text")
    assert(Dedup.minhashSignatures(tiny).count() === 0L) // no 3-gram shingles
    val st = TextAnalysis.docStats(tiny).select("n_tokens").as[Long].collect().head
    assert(st === 2L)
  }

  test("as-of join with an empty right side keeps every left row, null payload") {
    val left = Seq((1L, 100L, "p")).toDF("k", "ts", "lv")
    val right = Seq.empty[(Long, Long, String)].toDF("k", "ts", "rv")
    val got = AsOfJoin.asOfLeft(left, right, "k", "ts", Seq("rv"))
      .as[(Long, Long, String, Option[String])].collect().toList
    assert(got === List((1L, 100L, "p", None)))
  }

  test("stratified sample and split of empty docs are empty") {
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TextAnalysis.stratifiedSample(docs).count() === 0L)
    assert(TextAnalysis.splitAssign(docs).count() === 0L)
  }

  test("malformed JSON props: broken JSON extracts null; try_cast tolerates bad types") {
    val rows = Seq(
      (1L, """{"k": 42}"""), // valid
      (2L, """{"k": "notanum"}"""), // wrong type — extraction succeeds, cast decides
      (3L, "{broken"), // malformed JSON → extraction itself is null
      (4L, ""), // empty → null
      (5L, null.asInstanceOf[String])) // null → null
      .toDF("id", "props")
    // under ANSI (Spark 4 default) a plain cast of 'notanum' THROWS —
    // matching DuckDB's ::BIGINT, which is why ev_props_json can use it on
    // numeric-k data; the tolerant form for dirty corpora is try_cast
    val got = rows
      .select(
        col("id"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(42L), 2L -> None, 3L -> None, 4L -> None, 5L -> None))
  }

  test("near-dup clustering with no pairs: every doc is its own canonical singleton") {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_id_1", "doc_id_2")
    val got = Dedup.nearDupClusters(docs, noPairs)
      .select("doc_id", "cluster_id", "is_canonical", "cluster_size")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 1L, 1L), (2L, 2L, 1L, 1L)))
  }

  test("gap fill on an empty frame returns an empty grid (null bounds don't throw)") {
    // min/max over zero rows are NULL; the sequence() grid must collapse
    // to nothing, not error
    assert(graft.ops.TimeSeries.gapFillDaily(
      emptyEvents, "event_type", "ts_ms", "value").count() === 0L)
  }

  test("range join handles negative timestamps (floor bucketing, not truncation)") {
    // a point at t=-50 lives in bucket -1 ([-100, 0)); truncating division
    // would put it in bucket 0 and lose the match
    val points = Seq((1L, -50L)).toDF("pid", "t")
    val intervals = Seq((1L, -100L, 0L)).toDF("iid", "start_ms", "end_ms")
    val got = graft.ops.RangeJoin
      .pointsInIntervals(points, intervals, "t", "start_ms", "end_ms", bucketMs = 100L)
    assert(got.count() === 1L)
  }

  test("funnel emits zero-count rows for unreached stages, empty input included") {
    val got = graft.ops.Analytics
      .funnel(emptyEvents, Seq("view", "click"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, "view", 0L), (2L, "click", 0L)))
  }

  test("retention and profile on empty frames: empty triangle, zeroed report") {
    assert(graft.ops.Analytics.retention(emptyEvents).count() === 0L)
    val prof = graft.ops.Profile.profile(emptyEvents, Seq("event_id", "value"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(prof === List(("event_id", 0L, 0L, 0L), ("value", 0L, 0L, 0L)))
  }

  test("hash60 analyzes on a bare session with no graft registry (library portability)") {
    // newSession(): fresh SessionState → fresh function registry, no
    // GraftSession.tune — the helper must not depend on the SQL-name
    // registration (a user's plain getOrCreate() session)
    val bare = spark.newSession()
    val got = bare.range(3)
      .select(
        graft.Cols.hash60(col("id")).as("native"),
        expr("cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10) as bigint)")
          .as("composed"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native hash60 matches the composed built-in form, including empty string") {
    val df = Seq("", "a", "hello world", "ünïcödé ✓").toDF("s")
    val got = df.select(
      graft.Cols.hash60(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("composed"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, c) => assert(n === c) }
  }

  test("round-5 analytics operators on empty inputs return empty, not errors") {
    import graft.ops.{Analytics, Profile, TimeSeries}
    assert(Analytics.transitions(emptyEvents).count() === 0L)
    assert(Analytics.segmentOverlap(emptyEvents).count() === 0L)
    assert(Analytics.hourProfile(emptyEvents).count() === 0L)
    assert(Analytics.topPaths(emptyEvents).count() === 0L)
    assert(Analytics.interArrival(emptyEvents).count() === 0L)
    assert(Analytics.userEntropy(emptyEvents).count() === 0L)
    assert(Analytics.userLtv(emptyEvents).count() === 0L)
    assert(Analytics.lastTouchAttribution(emptyEvents).count() === 0L)
    assert(Analytics.coOccurrence(emptyEvents, "event_id", "event_type").count() === 0L)
    assert(Profile.histogram(emptyEvents, "event_type", "value").count() === 0L)
    assert(TimeSeries.rollingDaily(emptyEvents, "event_type", "ts_ms").count() === 0L)
    assert(TimeSeries.burstHours(emptyEvents, "event_type", "ts_ms").count() === 0L)
    assert(TimeSeries.dauNewReturning(emptyEvents).count() === 0L)
  }

  test("round-5 text/embedding operators on empty inputs return empty, not errors") {
    import graft.sim.Similarity
    assert(TextAnalysis.topNgrams(emptyDocs).count() === 0L)
    assert(TextAnalysis.stopwordCandidates(emptyDocs).count() === 0L)
    assert(TextAnalysis.filterPipeline(emptyDocs).count() === 0L)
    assert(TextAnalysis.prepPipeline(emptyDocs).count() === 0L)
    assert(Dedup.containment(emptyDocs).count() === 0L)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.l2Normalize(emptyEmb).count() === 0L)
    assert(Similarity.knnClassify(emptyEmb).count() === 0L)
    assert(Similarity.centroidShift(emptyEmb, dim = 2).count() === 0L)
    assert(Similarity.dimCorrelations(emptyEmb, dims = 2).count() === 3L - 2L,
      "one aggregate row explodes to one pair row even on empty input (NaN corr)")
  }

  test("round-8 operators tolerate empty and degenerate inputs") {
    import graft.ops.{Analytics, Scale, Stats}
    import graft.sim.Similarity
    assert(Stats.ksTest(emptyEvents).count() === 0L)
    assert(Stats.srmCheck(emptyEvents).count() === 0L)
    assert(Stats.powerMde(emptyEvents).count() === 0L)
    assert(Stats.hazardCurve(emptyEvents, "user_id", col("ts_ms"), 7).count() === 0L)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // keyless moment agg emits one row: zero nodes, null edges/r
    val a = Analytics.assortativity(emptyEdges).collect().head
    assert(a.getLong(0) === 0L && a.isNullAt(2))
    assert(Analytics.degreeHistogram(emptyEdges).count() === 0L)
    assert(Scale.tCloseness(
      Seq.empty[(Long, Double)].toDF("grp", "bal"), Seq("grp"), "bal").count() === 0L)
    assert(Scale.rebalancePlan(emptyEvents, "user_id").count() === 0L)
    assert(Dedup.splitLeakage(emptyDocs).count() === 0L)
    assert(Dedup.semanticDedup(
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label"))
      .count() === 0L)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.maxSimTopK(emptyEmb).count() === 0L)
    assert(Similarity.maxSimRerank(emptyEmb).count() === 0L)
    assert(Similarity.sqTopK(emptyEmb).count() === 0L)
    assert(Similarity.adcRerank(emptyEmb).count() === 0L)
    assert(Similarity.rqRerank(emptyEmb).count() === 0L)
    assert(Similarity.rrfFusion(emptyEmb).count() === 0L)
    assert(Similarity.ivfPqTopK(emptyEmb).count() === 0L)
    // one keyless-aggregate row per prefix arm: no truth, null recall
    assert(Similarity.mrlRecallCurve(emptyEmb)
      .as[(Long, Long, Long, Option[Long])].collect().toList
      === List(8L, 16L, 32L, 64L).map(d => (d, 0L, 0L, None)))
    assert(Similarity.embPsiIncremental(emptyEmb).count() === 0L)
    assert(TextAnalysis.knBigram(emptyDocs).count() === 0L)
    assert(TextAnalysis.fertility(
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars")).count() === 0L)
  }

  test("ksTest property: d_e6 equals brute-force sup |F_a − F_b| on random draws") {
    import graft.ops.Stats
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(5, 80)
      rows <- Gen.listOfN(n, for {
        user <- Gen.choose(1L, 30L)
        tpe <- Gen.oneOf("a", "b")
        v <- Gen.choose(-6, 6)
      } yield (user, tpe, v.toDouble / 4.0))
    } yield rows
    val draws = (0 until 5).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(4200L + i)).toList)
    draws.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("user_id", "event_type", "value")
      val armOf = df.select($"user_id",
        pmod(Cols.hash60(concat(lit("ab:"), $"user_id")), lit(2L)).as("arm"))
        .distinct().as[(Long, Long)].collect().toMap
      val got = Stats.ksTest(df)
        .as[(String, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> r).toMap
      rows.groupBy(_._2).foreach { case (tpe, tRows) =>
        val (as, bs) = tRows.partition { case (u, _, _) => armOf(u) == 0L }
        val ca = as.map(r => Math.round(r._3 * 100))
        val cb = bs.map(r => Math.round(r._3 * 100))
        val expected =
          if (ca.isEmpty || cb.isEmpty) None
          else Some {
            val dn = (ca ++ cb).distinct.map { v =>
              Math.abs(
                ca.count(_ <= v).toLong * cb.size - cb.count(_ <= v).toLong * ca.size)
            }.max
            Math.floorDiv(dn * 1000000L, ca.size.toLong * cb.size)
          }
        assert(got(tpe)._4 === expected, s"draw $i type $tpe")
      }
    }
  }

  test("knBigram property: KN mass over observed continuations stays below 1") {
    // Σ_w2 P_KN(w2|w1) over OBSERVED bigrams ≤ 1 with the shortfall =
    // the mass reserved for unseen continuations — the smoothing
    // invariant MLE violates the moment a continuation is missing
    import graft.text.TextAnalysis
    val d = docsFix(
      (1L, "a b c a b d a c"), (2L, "b a c b d"), (3L, "c a b a"))
    val rows = TextAnalysis.knBigram(d, topN = 1000)
      .as[(String, String, Long, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (w1, grp) =>
      val knMass = grp.map(_._6).sum
      val mleMass = grp.map(_._5).sum
      assert(knMass <= 1000000000L + grp.size, s"KN mass for '$w1' exceeds 1")
      assert(knMass < mleMass || grp.forall(_._3 * 4 <= 3),
        s"smoothing must shave observed mass for '$w1'")
    }
  }

  private def docsFix(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t) }.toDF("doc_id", "text")

  test("histogram + rolling invariants on real data: counts conserved, bins bounded") {
    import graft.ops.{Profile, TimeSeries}
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val h = Profile.histogram(events, "event_type", "value")
    assert(h.agg(sum(col("n_events"))).as[Long].head() === events.count())
    assert(h.filter(col("bin") < 0 || col("bin") > 9).count() === 0L)
    val r = TimeSeries.rollingDaily(events, "event_type", "ts_ms")
    assert(r.filter(col("rolling_n") < col("n_events")).count() === 0L)
    assert(r.filter(col("rolling_days") > 7 || col("rolling_days") < 1).count() === 0L)
  }
}
