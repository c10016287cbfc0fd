package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._

/** Salting and bucketing: results must equal the unsalted/unbucketed
  * plans; the point is shuffle shape, which the plan assertions pin.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted count+sum equals plain groupBy on skewed data") {
    // hot key: 10k rows of key=1, plus a long tail
    val rows = (1 to 10000).map(i => (1L, i.toDouble)) ++
      (1 to 500).map(i => ((i % 50 + 2).toLong, i.toDouble))
    val df = rows.toDF("k", "v")
    val plain = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_value"))
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, math.round(s * 100))) }.toMap
    val salted = Scale.saltedCountSum(df, "k", "v", saltFactor = 8)
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, math.round(s * 100))) }.toMap
    assert(salted === plain)
  }

  test("dp budget plan: marginal arms price noise against their smallest cell") {
    // cells: (0,A)=4, (0,B)=2, (1,A)=5 → nation sums {6,5}, segment {9,2}
    val rows = Seq.fill(4)((0L, "A")) ++ Seq.fill(2)((0L, "B")) ++ Seq.fill(5)((1L, "A"))
    val got = Scale.dpBudgetPlan(rows.toDF("c_nationkey", "c_mktsegment"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // eps/3 = 333333 e6; b = 1e10/333333 → 30000 e4 (expected |noise| 3.0)
    assert(got("by_nation") === (("by_nation", 2L, 5L, 6L, 333333L, 30000L, 6000L)))
    assert(got("by_segment") === (("by_segment", 2L, 2L, 9L, 333333L, 30000L, 15000L)))
    assert(got("full_cross") === (("full_cross", 3L, 2L, 5L, 333333L, 30000L, 15000L)))
  }

  test("bloom design: ceil/round integer sizing matches the closed form") {
    // 100 distinct keys, key 1 duplicated — NDV drives the size, not rows
    val rows = (1L to 100L).map(k => (k, 0)) ++ Seq((1L, 1), (1L, 2))
    val got = Scale.bloomDesign(rows.toDF("user_id", "v"), "user_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._3).sum === 100L) // NDV partitions across buckets
    assert(got.map(_._2).sum === 102L)
    for ((_, _, nKeys, mBits, kHashes, nBytes) <- got) {
      assert(mBits === (nKeys * 9585058L + 999999L) / 1000000L, s"m at n=$nKeys")
      // optimal k at 1% FPP is round(9.585·ln2) ≈ 6.64 → 7, for ANY n
      assert(kHashes === 7L)
      assert(nBytes === (mBits + 7L) / 8L)
    }
  }

  test("salted join equals plain join and spreads the hot key") {
    val big = ((1 to 5000).map(i => (1L, i)) ++ (1 to 100).map(i => (2L, i)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "cold")).toDF("k", "name")
    val plain = big.join(dim, "k").groupBy($"name").count()
      .as[(String, Long)].collect().toMap
    val salted = Scale.saltedJoin(big, dim, "k", saltFactor = 8)
      .groupBy($"name").count()
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("salted join plan: salt in the shuffle keys, small side exploded") {
    // the plan shape behind the ev_salted_join oracle row: the join keys
    // must include the salt (that's the fan-out — a hot key hashes to
    // saltFactor distinct (key, salt) partitions instead of one), and the
    // small side must carry the explode that replicates each dim row
    val big = ((1 to 5000).map(i => (1L, i)) ++ (1 to 100).map(i => (2L, i)))
      .toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "cold")).toDF("k", "name")
    val plan = Scale.saltedJoin(big, dim, "k", saltFactor = 8)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("__salt"), s"salt column missing from the plan:\n$plan")
    assert(plan.contains("Generate explode") || plan.contains("explode("),
      s"small-side salt replication missing:\n$plan")
    // the equi-join condition includes the salt key (either join flavor)
    assert(
      plan.linesIterator.exists(l =>
        (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("__salt")),
      s"join keys lost the salt:\n$plan")
  }

  test("key skew diagnostic: exact counts, hottest-key share, exact-rank p99") {
    // key 1: 60 rows of 100 total → top_share = 600000 ppm; keys 2..9 get
    // 5 rows each, so the ascending count list is [5×8, 60] and the exact
    // p99 rank is ceil(0.99·9) = 9 → value 60 (all integer, no interpolation)
    val rows = (1 to 60).map(i => (1L, i)) ++ (1 to 40).map(i => ((i % 8 + 2).toLong, i))
    val got = Scale.keySkew(rows.toDF("k", "v"), "k")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val (nRows, nKeys, maxRows, ppm, p99) = got.head
    assert(nRows === 100L && nKeys === 9L && maxRows === 60L && ppm === 600000L)
    assert(p99 === 60L)
    // 10 equal keys: rank ceil(0.99·10) = 10 → still the max count
    val even = (1 to 100).map(i => ((i % 10).toLong, i))
    val p99even = Scale.keySkew(even.toDF("k", "v"), "k")
      .as[(Long, Long, Long, Long, Long)].head()._5
    assert(p99even === 10L)
  }

  test("zone map: per-bucket envelopes are exact and a range probe prunes") {
    val rows = Seq(
      ("u1", 100L), ("u1", 900L), ("u2", 500L), ("u3", 50L), ("u3", 60L))
      .toDF("k", "ts_ms")
    val zm = Scale.zoneMap(rows, "k", "ts_ms", nBuckets = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    // every key lands in exactly one bucket; totals conserve
    assert(zm.map(_._2).sum === 5L)
    assert(zm.map(_._3).sum === 3L, "3 distinct keys across disjoint buckets")
    // envelope of the bucket holding u1 must span [100, 900]
    val u1Bucket = zm.filter(b => b._4 <= 100L && b._5 >= 900L)
    assert(u1Bucket.nonEmpty)
    // a probe for [2000, 3000] intersects no envelope -> full prune
    assert(zm.count(b => b._4 <= 3000L && b._5 >= 2000L) === 0)
  }

  test("l-diversity: homogeneous cells flagged even when large (k-anonymous)") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"), // 3 rows but 1 sensitive value → leak
      ("b", "x"), ("b", "y")) // 2 rows, 2 values → diverse
      .toDF("q1", "sens")
    val got = Scale.lDiversity(df, Seq("q1"), "sens")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(("a", 3L, 1L, 1L), ("b", 2L, 2L, 0L)))
  }

  test("k-anonymity: cells below k flagged, counts exact") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"))
      .toDF("q1", "q2")
    val got = Scale.kAnonymity(df, Seq("q1", "q2"), k = 2L)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      ("a", "x", 3L, 0L), ("a", "y", 1L, 1L), ("b", "x", 1L, 1L)))
  }

  test("bloom semi join equals plain semi join; filter runs before the join") {
    val big = (1 to 20000).map(i => (i.toLong % 997, i)).toDF("k", "v")
    val keys = Seq(1L, 5L, 900L, 12345L).toDF("k") // 12345 matches nothing
    val expected = big.join(keys, Seq("k"), "left_semi")
      .as[(Long, Int)].collect().toSet
    val got = Scale.bloomSemiJoin(big, keys, "k", expectedItems = 1000L)
    assert(got.as[(Long, Int)].collect().toSet === expected)
    // the might_contain pre-filter must sit on the big side BELOW the join
    // (that's the point: rows drop before they shuffle), fed by a scalar
    // subquery building the bloom aggregate — no driver-side collect
    val plan = got.queryExecution.executedPlan.toString()
    assert(plan.contains("might_contain"), s"bloom pre-filter missing:\n$plan")
    val filterLine = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = plan.linesIterator.indexWhere(l =>
      l.contains("Join") && l.contains("LeftSemi"))
    assert(joinLine >= 0 && filterLine > joinLine,
      s"pre-filter should be under the semi join in the plan tree:\n$plan")
  }

  test("per-key sample: exactly k hash-smallest rows per key, replayable") {
    val df = (1 to 100).map(i => (s"k${i % 3}", i.toLong)).toDF("key", "id")
    val got = Scale.samplePerKey(df, "key", "id", k = 5)
      .as[(String, Long, Long)].collect().toList
    // exactly 5 per key, ranks 1..5
    assert(got.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted == List(1L, 2L, 3L, 4L, 5L)
    })
    assert(got.size === 15)
    // the selected ids are the 5 hash-smallest of each key — recomputed
    // here independently with the same md5-derived 60-bit hash
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    val expected = (1 to 100).map(i => (s"k${i % 3}", i.toLong))
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        rows.map(_._2).sortBy(id => (h60(id.toString), id)).take(5).map((k, _))
      }.toSet
    assert(got.map(r => (r._1, r._2)).toSet === expected)
    // replay: a second run returns the identical sample
    val again = Scale.samplePerKey(df, "key", "id", k = 5)
      .as[(String, Long, Long)].collect().toList
    assert(again.toSet === got.toSet)
  }

  test("per-key sample: a key with fewer than k rows returns them all") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("key", "id")
    val got = Scale.samplePerKey(df, "key", "id", k = 5)
      .as[(String, Long, Long)].collect().toList
    assert(got.size === 3)
    assert(got.filter(_._1 == "b").map(_._3) === List(1L))
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket-spec").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "vb")
      a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/ta").saveAsTable("graft_bucket_a")
      b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/tb").saveAsTable("graft_bucket_b")
      val joined = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      assert(joined.count() === 1000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be exchange-free:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("zorder layout: hand-computed Morton codes; buckets are 64x64 rectangles") {
    val Day = 86400000L
    // (user, day): morton interleaves user bits (even) / day bits (odd).
    // user 3 (0b11), day 1 (0b1): z = 0b101 | 0b010 = 7 -> bucket 0
    // user 255, day 255: z = 0xFFFF = 65535 -> bucket 15
    // user 0, day 192 (0b11000000): z = bits 13,15 = 40960 -> bucket 10
    val events = Seq(
      (1L, 3L, "a", 1L * Day + 5),
      (2L, 255L, "a", 255L * Day + 5),
      (3L, 0L, "a", 192L * Day + 5))
      .toDF("event_id", "user_id", "event_type", "ts_ms")
    val got = Scale.zorderLayout(events, "user_id", "ts_ms")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 1L, 3L, 3L, 1L, 1L),
      (10L, 1L, 0L, 0L, 192L, 192L),
      (15L, 1L, 255L, 255L, 255L, 255L)))
    // rectangle bound: within one bucket both dims span < 64
    val spread = (0 until 512).map(i =>
      (i.toLong, (i * 7 % 256).toLong, "x", (i * 13 % 256).toLong * Day))
      .toDF("event_id", "user_id", "event_type", "ts_ms")
    val rects = Scale.zorderLayout(spread, "user_id", "ts_ms")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    rects.foreach { case (_, _, lo, hi, tlo, thi) =>
      assert(hi - lo < 64 && thi - tlo < 64)
    }
  }

  test("row checksum: order-independent, detects drop/dup, single row = own hash") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val shuffled = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("k", "v").repartition(7)
    def sum6(df: org.apache.spark.sql.DataFrame) =
      Scale.rowChecksum(df, "t", Seq("k", "v"))
        .as[(String, Long, Long, Long, Long, Long, Long)].head()
    val base = sum6(a)
    assert(base._2 === 3L)
    // row order and partitioning don't move any component
    assert(sum6(shuffled) === base)
    // a dropped row and a duplicated row each change the checksum
    val dropped = sum6(Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val duped = sum6(Seq((1L, "x"), (2L, "y"), (3L, "z"), (3L, "z")).toDF("k", "v"))
    assert(dropped != base && duped != base)
    // xor blindspot: duplicating row 3 cancels it entirely (h3 ^ h3 = 0),
    // so {1,2,3,3} and {1,2} share an xor — count and the split sum still
    // separate them, which is why all the components ship together
    assert(duped._3 === dropped._3)
    assert(duped._2 != dropped._2 && (duped._4, duped._5) != ((dropped._4, dropped._5)))
    // split sum reassembles the exact 90-bit total: (hi << 30) + lo over
    // the three hashes equals the BigInt sum of the hashes themselves
    val hs = Seq("1|x", "2|y", "3|z").toDF("s")
      .select(graft.Cols.hash60(col("s"))).as[Long].collect()
    val exact = hs.map(BigInt(_)).sum
    assert((BigInt(base._4) << 30) + BigInt(base._5) === exact)
    // single row: xor == min == max == hash60 of "k|v"; sum splits it
    val one = sum6(Seq((9L, "q")).toDF("k", "v"))
    val h = Seq(("9|q")).toDF("s")
      .select(graft.Cols.hash60(col("s"))).as[Long].head()
    assert(one === (("t", 1L, h, h >> 30, h & 0x3FFFFFFFL, h, h)))
  }

  test("tCloseness: matching cells score 0, polarized cells score 500000") {
    // group 1 all at the min, group 2 all at the max, equal sizes: the
    // global distribution is half bucket 0 / half bucket 15, each cell
    // is a point mass → every one of the 15 prefix gaps is n_g·N/2 →
    // t = 1/2 exactly (500000 e6), flagged at the 0.2 threshold
    val polar = ((1 to 10).map(_ => (1L, 0.0)) ++ (1 to 10).map(_ => (2L, 10.0)))
      .toDF("grp", "bal")
    val got = Scale.tCloseness(polar, Seq("grp"), "bal")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, 10L, 500000L, 1L), (2L, 10L, 500000L, 1L)))
    // two cells with IDENTICAL distributions → both match the global → 0
    val same = ((1 to 8).map(i => (1L, (i % 4).toDouble)) ++
      (1 to 8).map(i => (2L, (i % 4).toDouble))).toDF("grp", "bal")
    val gotSame = Scale.tCloseness(same, Seq("grp"), "bal")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(gotSame === List((1L, 8L, 0L, 0L), (2L, 8L, 0L, 0L)))
  }

  test("rebalancePlan: rendezvous movers go to the new node; mod reshuffles more") {
    val df = (1 to 3000).map(i => (i.toLong, "x")).toDF("user_id", "pad")
    val got = Scale.rebalancePlan(df, "user_id", nBuckets = 64, nodesBefore = 5)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // independent recomputation of the HRW movers through a different
    // formulation: explode the node list, rank scores per (bucket, era)
    val bkt = pmod(
      graft.Cols.hash60(concat(lit("shard:"), col("user_id").cast("string"))),
      lit(64L))
    val buckets = df.select(bkt.as("b")).distinct()
    val scored = buckets
      .select(col("b"), explode(sequence(lit(0L), lit(5L))).as("node"))
      .select(col("b"), col("node"),
        graft.Cols.hash60(concat(col("b").cast("string"), lit(":n"), col("node")))
          .as("s"))
    val winner = scored
      .groupBy(col("b"))
      .agg(max_by(col("node"), struct(col("s"), col("node"))).as("after"))
      .join(
        scored.filter(col("node") < 5)
          .groupBy(col("b"))
          .agg(max_by(col("node"), struct(col("s"), col("node"))).as("before")),
        Seq("b"))
    val expectedMoved = winner.filter(col("after") =!= col("before")).count()
    assert(got("rendezvous")._2 === expectedMoved)
    // every rendezvous mover lands on the NEW node — that is the point
    assert(winner
      .filter(col("after") =!= col("before") && col("after") =!= 5L)
      .count() === 0L)
    // naive modulo moves buckets where b%5 ≠ b%6 — the vast majority
    assert(got("mod")._2 > got("rendezvous")._2)
    // shares are exact floors of rows-moved over total rows
    assert(got("mod")._4 === Math.floorDiv(got("mod")._3 * 10000L, 3000L))
  }

  test("zorderPlan: a 4×4 grid splits into quadrants; date layout leaves custkey wide") {
    // 4 custkeys × 4 days, nFiles = 4. The 16-bit normalized cells are
    // {0, 21845, 43690, 65535}; only the top bit reaches the 2-bit file
    // id, so z-order assigns exact QUADRANTS (file = y-high bit ·2 +
    // x-high bit): each file holds a 2×2 block with raw spans (1, 1) →
    // sums (4, 4). The date layout buckets by the day cell alone: per
    // file one day (span 0) and the full custkey range (span 3) → sums
    // (12, 0). Both layouts place all 16 rows in 4 files.
    val rows = for { x <- 0 to 3; y <- 0 to 3 } yield
      (x.toLong, java.sql.Timestamp.valueOf(s"1992-01-0${y + 1} 00:00:00"))
    val df = rows.toDF("o_custkey", "o_orderdate")
    val got = Scale.zorderPlan(df, nFiles = 4)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      ("bydate", 4L, 16L, 12L, 0L),
      ("zorder", 4L, 16L, 4L, 4L)))
  }

  test("anonymizationPlan: the ladder coarsens to k; chosen flags the first safe rung") {
    // 16 customers, one (nation, segment) cell, balances 0.01..0.16 —
    // every cent bucket is a singleton (16 violating cells), the $10
    // bucket (cents // 1000 = 0) holds all 16 ≥ k → level 1 is chosen
    // and every coarser rung also passes
    val rows = (1 to 16).map(i => (0, "SEG", i * 0.01))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val got = Scale.anonymizationPlan(rows, k = 8L)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toList
    assert(got === List(
      (0L, "cent", 16L, 1L, 16L, 16L, 0L, 0L),
      (1L, "10_dollar", 1L, 16L, 0L, 0L, 1L, 1L),
      (2L, "100_dollar", 1L, 16L, 0L, 0L, 1L, 0L),
      (3L, "1000_dollar", 1L, 16L, 0L, 0L, 1L, 0L),
      (4L, "dropped", 1L, 16L, 0L, 0L, 1L, 0L)))
  }

  test("anonymizationPlan: nothing meets k → no rung chosen") {
    // two distinct (nation, segment) cells of 3 rows each: even dropping
    // the balance leaves cells below k = 8, chosen stays 0 everywhere
    val rows = (1 to 3).map(i => (0, "A", i * 1.0)) ++
      (1 to 3).map(i => (1, "B", i * 1.0))
    val got = Scale.anonymizationPlan(
      rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal"), k = 8L)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toList
    assert(got.forall(r => r._7 == 0L && r._8 == 0L))
    assert(got.map(_._1) === List(0L, 1L, 2L, 3L, 4L))
  }

  test("sampleAccuracy: brute-force recomputation of both arms; empty sample stays null") {
    // rate = 2 keeps the fixture sample non-trivial; replicate the hash
    // membership row by row and recompute every column independently
    val rows = (1 to 60).map(i => (i.toLong, "t", (i % 9).toDouble + 0.25)) ++
      Seq((1000L, "solo", 4.0)) // a 1-row type: sample almost surely empty or full
    val df = rows.toDF("event_id", "event_type", "value")
    val member = df.select($"event_id",
      (pmod(Cols.hash60(concat(lit("smp:"), $"event_id")), lit(2L)) === 0)
        .as("s"))
      .as[(Long, Boolean)].collect().toMap
    val got = Scale.sampleAccuracy(df, rate = 2)
      .as[(String, Long, Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap

    for (tpe <- Seq("t", "solo")) {
      val grp = rows.filter(_._2 == tpe)
      val cents = grp.map(r => r._1 -> math.round(r._3 * 100)).toMap
      val n = grp.size.toLong
      val meanE4 = Math.floorDiv(cents.values.sum * 10000L, n)
      val smp = grp.filter(r => member(r._1))
      val ns = smp.size.toLong
      val r = got(tpe)
      assert(r._2 === n && r._3 === meanE4 && r._4 === ns)
      if (ns == 0) {
        assert(r._5.isEmpty && r._6.isEmpty && r._7.isEmpty && r._8.isEmpty)
      } else {
        val sMean = Math.floorDiv(smp.map(x => cents(x._1)).sum * 10000L, ns)
        assert(r._5 === Some(ns * 2))
        assert(r._6 === Some(sMean))
        assert(r._7 === Some(Math.floorDiv(math.abs(ns * 2 - n) * 10000L, n)))
        assert(r._8 === Some(math.abs(sMean - meanE4)))
      }
    }
  }

  test("vacuumPlan: ladder sentences by age from the observed max month; reclaim ledger runs in order") {
    // max month = 1998-06. Ages: 0 (retain), 24 (archive), 40 and 60
    // (expire). Two orders in the old month land in however many of the
    // 4 hash-bucket files their keys map to.
    val rows = Seq(
      (1L, "1998-06-10"), (2L, "1996-06-10"), (3L, "1995-02-10"),
      (4L, "1993-06-10"), (5L, "1993-06-20"))
    val df = rows.toDF("o_orderkey", "o_orderdate")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
    val got = Scale.vacuumPlan(df)
      .select("month_id", "n_rows", "n_files", "age_months", "action", "cum_expired_rows")
      .as[(Long, Long, Long, Long, String, Long)].collect().sortBy(_._1).toList
    def mid(y: Int, m: Int) = (y * 12 + m - 1).toLong
    assert(got.map(r => (r._1, r._2, r._4, r._5)) === List(
      (mid(1993, 6), 2L, 60L, "expire"),
      (mid(1995, 2), 1L, 40L, "expire"),
      (mid(1996, 6), 1L, 24L, "archive"),
      (mid(1998, 6), 1L, 0L, "retain")))
    // reclaim ledger accumulates only expired rows, in month order
    assert(got.map(_._6) === List(2L, 3L, 3L, 3L))
    // file model: 1 ≤ n_files ≤ min(n_rows, 4)
    got.foreach(r => assert(r._3 >= 1L && r._3 <= math.min(r._2, 4L)))
  }
}
