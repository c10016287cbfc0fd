package graft

import graft.sim.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // vec_id 0 and 50 are queries (QueryStride = 50)
  private val embs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f), 0),
    (50L, Seq(0.0f, 1.0f, 0.0f), 0),
    (2L, Seq(0.9f, 0.1f, 0.0f), 0), // closest to 0
    (3L, Seq(0.0f, 0.9f, 0.1f), 1), // closest to 50
    (4L, Seq(0.5f, 0.5f, 0.0f), 1))
    .toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val got = Similarity.bruteForceTopK(embs, k = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (0L, 1L, 2L), (0L, 2L, 4L),
      (50L, 1L, 3L), (50L, 2L, 4L)))
  }

  test("isotropy: the pair-free identity matches hand pair sums per label") {
    val d = Seq(
      // label 0: two identical unit vectors → avg pair dot = norm² (1e6),
      // anisotropy exactly 1e6
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      // label 1: orthogonal pair → 0, 0
      (3L, Seq(1.0f, 0.0f), 1),
      (4L, Seq(0.0f, 1.0f), 1),
      // label 2: antipodal pair → avg pair dot −1e6, anisotropy −1e6
      (5L, Seq(1.0f, 0.0f), 2),
      (6L, Seq(-1.0f, 0.0f), 2),
      // label 3: a single vector — dropped (no pairs to average)
      (7L, Seq(1.0f, 0.0f), 3),
      // label 4: all-zero-quantizing vectors — the norm-relative ratio
      // has no denominator, so aniso is null (not a division blow-up)
      (8L, Seq(0.0f, 0.0f), 4),
      (9L, Seq(0.0f, 0.0f), 4))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.isotropy(d)
      .as[(Long, Long, Long, Long, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 4L))
    assert(got(0L) === ((0L, 2L, 1000000L, 1000000L, Some(1000000L))))
    assert(got(1L) === ((1L, 2L, 1000000L, 0L, Some(0L))))
    assert(got(2L) === ((2L, 2L, 1000000L, -1000000L, Some(-1000000L))))
    assert(got(4L) === ((4L, 2L, 0L, 0L, None)))
  }

  test("whiten gain: centering annihilates the common-direction anisotropy") {
    // dim 1 carries a mean offset (2,2,0,0 milli-units ×1000): raw reads
    // positive anisotropy; diagonal whitening (mean 1000, sigma exactly
    // 1000) maps it to ±1000 with Σw = 0, so the whitened arm collapses
    // to the centered floor −1e6/(n−1)
    val d = Seq(
      (1L, Seq(2.0f, 0.0f), 0), (2L, Seq(2.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f), 0), (4L, Seq(0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.whitenGain(d)
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("raw") === (("raw", 4L, 2000000L, 666666L, Some(333333L))))
    assert(got("whitened") === (("whitened", 4L, 1000000L, -333334L, Some(-333334L))))
  }

  test("whiten gain: a constant corpus whitens to zero with a null ratio") {
    val d = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.whitenGain(d)
      .as[(String, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("raw") === (("raw", 2L, 1000000L, 1000000L, Some(1000000L))))
    // x − mean = 0 everywhere → all-zero vectors: no norm, no ratio
    assert(got("whitened") === (("whitened", 2L, 0L, 0L, None)))
  }

  test("whiten2: rotation collapses off-axis elongation centering can't touch") {
    // mean-zero corpus elongated along the OFF-AXIS direction (1,1,0,0)
    // (amplitudes ±100..±400 milli-units) with two small orthogonal
    // noise legs on dims 3 (±50) and 4 (±30). Exact zero means ⇒ the
    // centered arm IS the raw arm, and the pair-free aniso identity sits
    // at its floor ⌊−1e6/7⌋ = −142858 for both — centering has nothing
    // to fix. The rotation arm projects out the two measured principal
    // directions, so the top-2 mass share collapses and only the dim-4
    // residual variance survives.
    val a = Seq(0.1f, -0.1f, 0.2f, -0.2f, 0.3f, -0.3f, 0.4f, -0.4f)
    val b = Seq(0.05f, 0.05f, -0.05f, -0.05f, 0.05f, 0.05f, -0.05f, -0.05f)
    val c = Seq(0.03f, 0.03f, 0.03f, 0.03f, -0.03f, -0.03f, -0.03f, -0.03f)
    val d = (0 until 8).map(j => (j.toLong, Seq(a(j), a(j), b(j), c(j)), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.whiten2(d, dim = 4)
      .as[(String, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set("raw", "centered", "rotated"))
    // exact zero means: centered ≡ raw, aniso at the mean-identity floor
    assert(got("centered") === got("raw").copy(_1 = "centered"))
    assert(got("raw")._4 === Some(-142858L))
    // nearly all mass along the two measured directions before rotation…
    assert(got("raw")._5.exists(_ >= 900000L), s"raw share: ${got("raw")}")
    // …and almost none after: the rotated cloud is the dim-4 residue
    assert(got("rotated")._5.exists(_ <= 100000L), s"rotated: ${got("rotated")}")
    assert(got("rotated")._3 <= got("centered")._3 / 20,
      s"rotated avg_norm2 did not collapse: ${got("rotated")} vs ${got("centered")}")
  }

  test("power curve: rayleigh climbs to the top-share plateau, drift dies") {
    // the whiten2 fixture: one dominant off-axis direction (eigengap
    // ~60×), so the curve should be essentially converged by step 2
    val a = Seq(0.1f, -0.1f, 0.2f, -0.2f, 0.3f, -0.3f, 0.4f, -0.4f)
    val b = Seq(0.05f, 0.05f, -0.05f, -0.05f, 0.05f, 0.05f, -0.05f, -0.05f)
    val c = Seq(0.03f, 0.03f, 0.03f, 0.03f, -0.03f, -0.03f, -0.03f, -0.03f)
    val d = (0 until 8).map(j => (j.toLong, Seq(a(j), a(j), b(j), c(j)), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.powerCurve(d, dim = 4)
      .as[(Long, Long, Option[Long], Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) === List(1L, 2L, 3L, 4L))
    // converging from below: the last Rayleigh is the best estimate
    assert(got.last._2 >= got.head._2)
    // the dominant direction holds nearly all the scatter
    assert(got.last._3.exists(_ >= 950000L), s"share: ${got.last}")
    // the e4 direction grid stops moving once converged
    assert(got.last._4 <= 50L, s"drift: ${got.last}")
    assert(got.last._4 <= got.head._4)
  }

  test("nn-descent: refinement never loses recall and respects the k bound") {
    // 60 unit vectors on a ring — each node's true neighbors are its
    // angular neighbors, so 2-hop expansion is exactly how a weak seed
    // graph reaches them; queries are the strided ids 0 and 50
    val ring = Seq.tabulate(60) { i =>
      val th = i * 2 * math.Pi / 60
      (i.toLong, Seq(math.cos(th).toFloat, math.sin(th).toFloat, 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.nnDescent(ring, rounds = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) === List(0L, 1L, 2L))
    for (r <- got) assert(r._5 === 10L) // 2 strided queries × top-5 truth
    // per-node candidate sets only grow (current edges stay candidates),
    // so recall and edge quality are monotone non-decreasing every round
    for (Seq(prev, next) <- got.sliding(2)) {
      assert(next._6 >= prev._6, s"recall regressed: $prev -> $next")
      // avg cosine is monotone only at constant edge count (new nodes
      // gaining their first neighbors can dilute the average)
      if (next._3 == prev._3)
        assert(next._4 >= prev._4, s"edge quality regressed: $prev -> $next")
    }
    assert(got.last._6 > 0L)
    // per-node top-k cut: never more than k edges per node
    for (r <- got) assert(r._3 <= r._2 * Similarity.TopK)
    // the 1-round registered variant is exactly the 2-round prefix
    val one = Similarity.nnDescent(ring)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(one === got.take(2))
  }

  test("adc top-k: with every vector in the codebook, ADC equals exact squared L2") {
    // all vec_ids < 8 → each vector is its own (zero-distance) centroid, so
    // the ADC lookup degenerates to the exact squared distance — the
    // boundary case that pins the table-lookup plumbing bit-for-bit
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), // the query (vec_id % 50 == 0)
      (1L, Seq(0.9f, 0.1f), 0), // d² = 100² + 100² = 20000
      (2L, Seq(0.0f, 1.0f), 0), // d² = 2,000,000
      (3L, Seq(-1.0f, 0.0f), 0), // d² = 4,000,000
      (4L, Seq(1.0f, 0.0f), 0)) // duplicate of the query — codes to cid 0, d² = 0
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.adcTopK(d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4).toList
    assert(got === List(
      (0L, 4L, 0L, 1L),
      (0L, 1L, 20000L, 2L),
      (0L, 2L, 2000000L, 3L),
      (0L, 3L, 4000000L, 4L)))
  }

  test("ivf-pq with all cells probed equals the plain ADC ranking") {
    // the fixture has 2 labels; nprobe=2 probes every cell, so the coarse
    // stage prunes nothing and the composition must reduce to pure ADC
    val adc = Similarity.adcTopK(embs, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(embs, k = 3, nprobe = 2, dim = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(ivfpq === adc)
    assert(adc.nonEmpty)
  }

  test("truncation agreement: prefix index flips one winner, keeps the other") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 1.0f), 0),
      (1L, Seq(1.0f, 0.2f, 1.0f, 1.0f), 0),  // full winner for 0
      (2L, Seq(1.0f, 0.0f, -1.0f, -1.0f), 0), // prefix-2 winner for 0
      (50L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (51L, Seq(0.0f, 1.0f, 0.1f, 0.0f), 1))  // winner for 50 both ways
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.truncationAgreement(e, dims = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((0L, 1L, 2L, 0L), (50L, 51L, 51L, 1L)))
  }

  test("IVF with all cells probed equals brute force exactly") {
    val brute = Similarity.bruteForceTopK(embs, k = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    // 2 labels in the fixture; nprobe=2 probes every cell → exact search
    val ivf = Similarity.ivfTopK(embs, k = 3, nprobe = 2, dim = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(ivf === brute)
  }

  test("int8 quantization: exact integer codes, bounded reconstruction error") {
    val got = Similarity.quantizeInt8(embs)
      .select("vec_id", "scale_milli", "q8", "max_err")
      .as[(Long, Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // vec 0 = (1,0,0): scale = 1000 milli, codes floor(x·127/scale)
    assert(got(0L)._2 === 1000L)
    assert(got(0L)._3 === "127,0,0")
    assert(got(0L)._4 === 0L)
    // vec 2 = (0.9,0.1,0): scale=900, codes (127, floor(100·127/900)=14, 0),
    // worst floor remainder = 12700 mod 900 = 100
    assert(got(2L)._2 === 900L)
    assert(got(2L)._3 === "127,14,0")
    assert(got(2L)._4 === 100L)
    // invariants for every vector: the max-magnitude component maps to
    // ±127 and the error never reaches one quantization step
    got.values.foreach { case (_, scale, q8, err) =>
      assert(q8.split(",").map(_.toLong.abs).max === 127L)
      assert(err >= 0L && err < scale)
    }
  }

  test("centroids: exact integer floor means per label, incl. negative components") {
    val e = Seq(
      (1L, Seq(1.0f, -0.5f), 0),
      (2L, Seq(0.0f, -0.2f), 0), // label 0 sums: (1000, -700) over n=2
      (3L, Seq(-1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroids(e, dim = 2)
      .select("label", "n_vecs", "centroid_milli", "cnorm2")
      .as[(Long, Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // floor(-700 / 2) = -350 (floor, NOT the -349 a truncating div gives)
    assert(got(0L) === ((0L, 2L, "500,-350", 500L * 500 + 350L * 350)))
    assert(got(1L) === ((1L, 1L, "-1000,1000", 2000000L)))
  }

  test("silhouette: matches an independent integer recomputation; traitor drags its label") {
    // label 0: two vectors near (1, 0) plus a TRAITOR sitting exactly on
    // label 1's mass; label 1: two vectors near (−1, 0)
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.2f), 0), (3L, Seq(-1.0f, 0.0f), 0),
      (4L, Seq(-1.0f, 0.0f), 1), (5L, Seq(-1.0f, -0.2f), 1))
    val got = Similarity.silhouette(rows.toDF("vec_id", "embedding", "label"), dim = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // independent recomputation with plain JVM integer math
    val q = rows.map { case (_, v, l) => (v.map(x => math.round(x.toDouble * 1000)), l) }
    val cents = q.groupBy(_._2).map { case (l, vs) =>
      val n = vs.size
      l -> Seq(0, 1).map(i => Math.floorDiv(vs.map(_._1(i)).sum, n))
    }
    def d2(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = q.groupBy(_._2).map { case (l, vs) =>
      val scores = vs.map { case (v, _) =>
        val a2 = d2(v, cents(l))
        val b2 = cents.collect { case (ol, c) if ol != l => d2(v, c) }.min
        if (math.max(a2, b2) > 0) Math.floorDiv((b2 - a2) * 10000, math.max(a2, b2)) else 0L
      }
      l -> (vs.size.toLong, Math.floorDiv(scores.sum, vs.size))
    }
    assert(got(0L) === ((0L, expected(0)._1, expected(0)._2)))
    assert(got(1L) === ((1L, expected(1)._1, expected(1)._2)))
    // the traitor's strongly negative score drags label 0 below label 1
    assert(got(0L)._3 < got(1L)._3)
    assert(got(1L)._3 > 5000L, s"separated label should score high: ${got(1L)}")
  }

  test("centroid outliers: the far vector flags, the tight cluster doesn't") {
    // four vectors at (1, 0), one at (5, 0): centroid (1800, 0) milli —
    // d2 = 640000 for the tight four, 10240000 for the stray (> 4×median)
    val rows = ((1 to 4).map(i => (i.toLong, Seq(1.0f, 0.0f), 0)) :+
      (5L, Seq(5.0f, 0.0f), 0))
    val got = Similarity.centroidOutliers(rows.toDF("vec_id", "embedding", "label"), dim = 2)
      .as[(Long, Long, Double, Long)].collect().toList
    assert(got === List((0L, 5L, 640000.0, 1L)))
  }

  test("LSH top-k returns a subset of brute-force candidates with same scoring") {
    val brute = Similarity.bruteForceTopK(embs, k = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.lshTopK(spark, embs, k = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(brute))
    // identical (query, neighbor) pairs score identically in both paths
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    lsh.foreach { case (q, n, c) => assert(bruteMap((q, n)) === c) }
  }

  test("l2 normalize: exact e4 unit components, zero vectors dropped") {
    val d = Seq(
      (1L, Seq(3.0f, 4.0f), 0), // norm 5 → components 0.6, 0.8
      (2L, Seq(0.0f, 0.0f), 0)) // zero vector — no unit direction
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.l2Normalize(d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toList
    // qv = [3000, 4000], norm2 = 25,000,000
    assert(got === List(
      (1L, 25000000L, 1L, 6000L),
      (1L, 25000000L, 2L, 8000L)))
  }

  test("dim correlations: exact ±1 on perfectly (anti-)correlated dims") {
    val d = Seq(
      (1L, Seq(0.001f, 0.001f, 0.003f), 0),
      (2L, Seq(0.002f, 0.002f, 0.002f), 0),
      (3L, Seq(0.003f, 0.003f, 0.001f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.dimCorrelations(d, dims = 3)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toList
    // dim2 tracks dim1 exactly (+1); dim3 mirrors it (−1)
    assert(got === List((1L, 2L, 1.0), (1L, 3L, -1.0), (2L, 3L, -1.0)))
  }

  test("centroid shift: exact integer squared distance between parity halves") {
    val d = Seq(
      // label 7: even half centroid [1,2], odd half centroid [3,6]
      (0L, Seq(0.001f, 0.002f), 7),
      (1L, Seq(0.003f, 0.006f), 7),
      // label 8 has only an even-half vector — no pair, no output row
      (2L, Seq(0.001f, 0.001f), 8))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidShift(d, dim = 2)
      .as[(Long, Long, Long, Long)].collect().toList
    // shift² = (1−3)² + (2−6)² = 20
    assert(got === List((7L, 1L, 1L, 20L)))
  }

  test("knn classify: majority vote over the exact top-k neighbor labels") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 9), // the query (vec_id % 50 == 0)
      (1L, Seq(1.0f, 0.1f), 1),
      (2L, Seq(1.0f, 0.2f), 1),
      (3L, Seq(1.0f, 0.3f), 1),
      (4L, Seq(0.1f, 1.0f), 2),
      (5L, Seq(0.2f, 1.0f), 2),
      (6L, Seq(-1.0f, 0.0f), 2)) // rank 6 — outside k=5, can't vote
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(d, k = 5)
      .as[(Long, Long, Long, Long)].collect().toList
    // top-5 labels: {1, 1, 1, 2, 2} → predicted 1 with 3 votes; true label 9
    assert(got === List((0L, 1L, 3L, 9L)))
  }

  test("kmeans step: nearest-centroid assignment, integer centroids, tie → smaller id") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), // seed centroid 0
      (1L, Seq(0.0f, 1.0f), 0), // seed centroid 1
      (2L, Seq(0.9f, 0.1f), 0), // d²(c0)=20000 < d²(c1)=1620000 → c0
      (3L, Seq(0.1f, 0.9f), 0), // → c1
      (4L, Seq(0.5f, 0.5f), 0)) // equidistant (500000) → tie → c0
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeansStep(d, k = 2, dim = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    // c0 = {0,2,4}: sums (2400,600)/3 → (800,200); inertia 0+20000+500000
    // c1 = {1,3}:   sums (100,1900)/2 → (50,950);  inertia 0+20000
    assert(got === List(
      (0L, 3L, 520000L, "800,200"),
      (1L, 2L, 20000L, "50,950")))
  }

  test("L2 top-k: euclidean and cosine rankings disagree on unnormalized vectors") {
    // query 0 = (1,0): vector 50 = (10,0) is cosine-perfect but FAR
    // (d² = 9100² over the milli grid); vector 1 = (0.9,0.1) is near
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f), 0),
      (50L, Seq(10.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val l2 = Similarity.bruteForceTopKL2(d)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toList
    assert(l2 === List(
      (0L, 1L, 20000L, 1L), (0L, 50L, 81000000L, 2L),
      (50L, 0L, 81000000L, 1L), (50L, 1L, 82820000L, 2L)))
    val cosTop = Similarity.bruteForceTopK(d)
      .filter($"query_id" === 0 && $"rank" === 1)
      .select("neighbor_id").as[Long].collect().head
    assert(cosTop === 50L, "cosine prefers the far colinear vector")
  }

  test("spherical kmeans step: max-cosine assignment on the unit grid, magnitude ignored") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), // seed centroid 0 → nv (10000, 0)
      (1L, Seq(0.0f, 2.0f), 0), // seed centroid 1 → nv (0, 10000) — length-2 normalizes away
      (2L, Seq(3.0f, 0.1f), 0), // nv (9994, 333): dot(c0) = 9994e4 ≫ dot(c1) → c0
      (3L, Seq(0.1f, 5.0f), 0)) // nv (200, 9998) → c1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.sphericalKmeansStep(d, k = 2, dim = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    // c0 = {0, 2}: Σdot = 1e8 + 99_940_000 → mean 99_970_000;
    //   direction sums (19994, 333) floor-div 2 → (9997, 166)
    // c1 = {1, 3}: Σdot = 1e8 + 99_980_000 → mean 99_990_000;
    //   sums (200, 19998) → (100, 9999)
    assert(got === List(
      (0L, 2L, 99970000L, "9997,166"),
      (1L, 2L, 99990000L, "100,9999")))
  }

  test("kmeans step 2: reassignment against floor centroids, descent holds, shift exact") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), // seed centroid 0
      (1L, Seq(0.0f, 1.0f), 0), // seed centroid 1
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.1f, 0.9f), 0),
      (4L, Seq(0.5f, 0.5f), 0)) // step 1: tie → c0; step 2 centroids moved
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeansStep2(d, k = 2, dim = 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toList
    // step-1 centroids: c0=(800,200), c1=(50,950). Every vector keeps
    // its cluster (e.g. v4=(500,500): d²(c0)=180000 < d²(c1)=405000), so
    // the recomputed centroids are unchanged and every shift is 0 — the
    // fixture converges in one step. Step-2 inertia is measured against
    // the step-1 centroids: c0 = 80000+20000+180000, c1 = 5000+5000.
    assert(got === List(
      (0L, 3L, 280000L, 0L, "800,200"),
      (1L, 2L, 10000L, 0L, "50,950")))
    // the Lloyd descent invariant the operator exists to monitor:
    // total inertia must not increase from step 1 to step 2
    val inertia1 = Similarity.kmeansStep(d, k = 2, dim = 2)
      .agg(org.apache.spark.sql.functions.sum($"inertia")).as[Long].head()
    assert(got.map(_._3).sum <= inertia1)
  }

  test("kmeans step 2: descent + pinned shift on the real embeddings fixture") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val s1 = Similarity.kmeansStep(emb)
      .agg(org.apache.spark.sql.functions.sum($"inertia")).as[Long].head()
    val s2rows = Similarity.kmeansStep2(emb)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(s2rows.map(_._3).sum <= s1,
      s"Lloyd descent violated: step1 total ${s1}, step2 ${s2rows.map(_._3).sum}")
    // at least one centroid must actually have moved between the steps
    // (otherwise the fixture converged at step 1 and the monitor is blind)
    assert(s2rows.exists(_._4 > 0L), "expected a nonzero centroid shift")
  }

  test("dim fences: quarter-unit quartiles, 1.5·IQR outlier counts") {
    val d = Seq(
      (0L, Seq(0.0f, 0.0f), 0),
      (1L, Seq(0.1f, 0.0f), 0),
      (2L, Seq(0.2f, 0.0f), 0),
      (3L, Seq(0.3f, 0.0f), 0),
      (4L, Seq(10.0f, 0.0f), 0)) // dim-1 outlier
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.dimFences(d, dim = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // dim 1 milli [0,100,200,300,10000]: q1=100→400/4, q3=300→1200/4;
    // F8_high = 5·1200 − 3·400 = 4800 → v > 600 ⇒ only 10000 flags
    // dim 2 all-zero: fences collapse to 0, nothing strictly outside
    assert(got === List(
      (1L, 5L, 400L, 1200L, 0L, 1L),
      (2L, 5L, 0L, 0L, 0L, 0L)))
  }

  test("power iteration step: v₁ = Xᵀ(X·1) exact, signed e4 ratios") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), // rowsum 1000
      (1L, Seq(1.0f, 1.0f), 0), // rowsum 2000
      (2L, Seq(-1.0f, 0.0f), 0)) // rowsum −1000
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.powerIterStep(d, dim = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    // dim1: 1000·1000 + 1000·2000 + (−1000)(−1000) = 4·10⁶ (max)
    // dim2: 1000·2000 = 2·10⁶ → ratio 5000
    assert(got === List((1L, 4000000L, 10000L), (2L, 2000000L, 5000L)))
  }

  test("ivf recall: all cells probed → recall 10000 against brute force") {
    // the shared embs fixture has 2 labels; nprobe=2 probes every cell,
    // so IVF recovers the exact top-k and per-query recall is 1.0
    val got = Similarity.ivfRecall(embs, dim = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((0L, 4L, 4L, 10000L), (50L, 4L, 4L, 10000L)))
  }

  test("product quantization: per-subspace argmin, smallest-cid ties, exact error") {
    // 64-dim vectors built from per-dim constants; codebook = vec 0 (all
    // zeros) and vec 1 (all milli-ones). Per 16-dim subspace:
    //   vec 2 (zeros then ones): halves split codes (0,0,1,1), err 0
    //   vec 3 (all twos): per subspace 16·(2-0)²=64 to c0, 16·(2-1)²=16
    //     to c1 → codes all 1, err 4·16 = 64
    //   vec 4 (alternating 0/1): dist 8 to each — tie → c0, err 8·4 = 32
    val rows = Seq(
      (0L, Array.fill(64)(0.0f), 0),
      (1L, Array.fill(64)(0.001f), 0),
      (2L, (Array.fill(32)(0.0f) ++ Array.fill(32)(0.001f)), 0),
      (3L, Array.fill(64)(0.002f), 0),
      (4L, Array.tabulate(64)(i => if (i % 2 == 0) 0.0f else 0.001f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.productQuantize(rows, k = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 0L, 0L, 0L, 0L, 0L),
      (1L, 1L, 1L, 1L, 1L, 0L),
      (2L, 0L, 0L, 1L, 1L, 0L),
      (3L, 1L, 1L, 1L, 1L, 64L),
      (4L, 0L, 0L, 0L, 0L, 32L)))
  }

  test("lshRecallCurve: truth pool = k·queries; recall consistent with the rankings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val curve = Similarity.lshRecallCurve(spark, emb)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.map(_._1).toList === List(1L, 3L, 5L))
    curve.foreach { case (k, nq, nTruth, nHit, recall) =>
      assert(nTruth === k * nq, "every query contributes exactly k truth rows")
      assert(nHit >= 0 && nHit <= nTruth)
      assert(recall === Math.floorDiv(nHit * 10000, nTruth))
    }
    // the k=5 arm must agree with the per-query ivf-style readout's pool:
    // recompute recall@5 independently from the two rankings
    val lsh5 = Similarity.lshTopK(spark, emb, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val brute5 = Similarity.bruteForceTopK(emb, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
    val hits = brute5.count(lsh5.contains)
    val k5 = curve.find(_._1 == 5L).get
    assert(k5._4 === hits.toLong)
  }

  test("lshBucketStats: every table accounts for the whole corpus; cost ≥ rows") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val stats = Similarity.lshBucketStats(spark, emb)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(stats.length === graft.dedup.Dedup.LshTables)
    stats.foreach { case (_, nBuckets, nVecs, maxBucket, joinCost) =>
      assert(nVecs === n, "each hash table buckets every vector exactly once")
      assert(maxBucket <= nVecs && nBuckets >= 1)
      // Σ s² ≥ Σ s with equality iff all buckets singleton
      assert(joinCost >= nVecs)
    }
  }

  test("lshSimHistogram: bins partition the candidate set") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val hist = Similarity.lshSimHistogram(spark, emb)
      .as[(Long, Long, Long, Long)].collect()
    assert(hist.forall(h => h._1 >= 0 && h._1 <= 9))
    assert(hist.forall(h => h._3 === h._2 + 2), "bins are fixed 0.2-wide")
    // total candidates equals the scored-candidate count from the range
    // search at threshold -1 (everything the buckets surface)
    val all = Similarity.lshRangeSearch(spark, emb, minCosine = -1.0).count()
    assert(hist.map(_._4).sum === all)
  }

  test("sqTopK: int8-code ranking preserves the axis-aligned neighbor order") {
    // axis-aligned fixture: codes are ±127 on one axis, so the code-space
    // cosine ranks exactly like the float cosine here
    val got = Similarity.sqTopK(embs, k = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      (0L, 1L, 2L), (0L, 2L, 4L),
      (50L, 1L, 3L), (50L, 2L, 4L)))
  }

  test("sqTopK: a scaled copy of the query gets code cosine 1.0") {
    // int8 codes are scale-invariant: v and 0.31·v share one code vector
    val d = Seq(
      (0L, Seq(0.8f, -0.4f, 0.2f), 0),
      (1L, Seq(0.248f, -0.124f, 0.062f), 0), // 0.31 × the query
      (2L, Seq(-0.8f, 0.4f, -0.2f), 0)) // antipode → cosine −1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.sqTopK(d, k = 2)
      .select("rank", "neighbor_id", "cosine8")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got.map(r => (r._1, r._2)) === List((1L, 1L), (2L, 2L)))
    assert(got.head._3 === 1.0, "identical codes must score exactly 1.0")
    // the antipode's code is NOT the exact negation (floor is asymmetric
    // around zero), but it must still land deep in negative territory
    assert(got(1)._3 < -0.999)
  }

  test("ivfBalance: exact cell accounting on a skewed quantizer") {
    // cells: label 0 holds 6 vectors, label 1 holds 2 → max/mean = 1.5,
    // effective cells = 8²/(36+4) = 1 (floor of 1.6)
    val d = ((0 until 6).map(i => (i.toLong, Seq(1.0f), 0)) ++
      Seq((6L, Seq(1.0f), 1), (7L, Seq(1.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfBalance(d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got === ((2L, 8L, 2L, 6L, 15000L, 1L)))
  }

  test("maxSimTopK: a facet moved to another token slot still matches at full strength") {
    // the late-interaction property the pooled single-dot rankers lack:
    // the query's only active subvector (block 0 = A, sixteen 1.0s) finds
    // A wherever it sits in the document
    def vec(blocks: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      blocks.foreach { case (b, x) => (0 until 16).foreach(i => v(b * 16 + i) = x) }
      v.toSeq
    }
    val a = 16L * 1000L * 1000L // dot(A, A) on milli-quantized 1.0s
    val d = Seq(
      (0L, vec(0 -> 1.0f), 0), // the query
      (1L, vec(1 -> 1.0f), 0), // A in block 1 → full-strength match
      (2L, vec(0 -> -1.0f), 0), // antipodal A → best dot is an empty block's 0
      (3L, vec(0 -> 0.5f, 1 -> 0.5f), 0)) // half-strength everywhere
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.maxSimTopK(d, k = 3)
      .select("rank", "neighbor_id", "maxsim")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, 1L, a), (2L, 3L, a / 2), (3L, 2L, 0L)))
  }

  test("maxSimRerank: a corpus-covering shortlist reproduces the exact MaxSim ranking") {
    def vec(blocks: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      blocks.foreach { case (b, x) => (0 until 16).foreach(i => v(b * 16 + i) = x) }
      v.toSeq
    }
    val d = Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(1 -> 1.0f), 0),
      (2L, vec(0 -> -1.0f), 0),
      (3L, vec(0 -> 0.5f, 1 -> 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    // shortlist 25 ≥ corpus → stage 1 prunes nothing; stage 2 must equal
    // the all-pairs MaxSim ranking bit for bit
    val rerank = Similarity.maxSimRerank(d, k = 3, shortlist = 25)
      .select("query_id", "rank", "neighbor_id", "maxsim")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    val full = Similarity.maxSimTopK(d, k = 3)
      .select("query_id", "rank", "neighbor_id", "maxsim")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(rerank === full)
  }

  test("sqRecall: perfect agreement on the fixture reports 10000 e4 per query") {
    val got = Similarity.sqRecall(embs, k = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((0L, 2L, 2L, 10000L), (50L, 2L, 2L, 10000L)))
  }

  test("mrlRecallCurve: prefix-2 tie flips a winner; full-dim anchor is recall 10000") {
    // query 0's true top-1 is vec 2 (full cosine ~0.999 vs 0.577 for
    // vec 1), but on the 2-dim prefix both score cosine 1.0 and the
    // neighbor-id tie-break hands the slot to vec 1 — a lost hit. query
    // 50 is orthogonal to everything (all cosines 0), so its top-1 is
    // the id tie-break (vec 0) at every prefix — a kept hit. The d=4
    // arm must anchor at exactly 10000.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 1.0f), 0),
      (50L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.0f, 1.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mrlRecallCurve(e, k = 1, dimsList = Seq(2, 4))
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1).toList
    assert(got === List(
      (2L, 2L, 1L, Some(5000L)),
      (4L, 2L, 2L, Some(10000L))))
  }

  test("binaryTopK/binaryRecall: sign-blind decoy wins the Hamming shortlist; sign-aligned truth survives") {
    // masks (4 live dims): v0=0011₂=3, v1=0111₂=7, v2=3, v3=1111₂=15,
    // v50=15. query 0's TRUE top-1 is v1 (cosine 0.9997) at Hamming 1,
    // but the decoy v2 (cosine 0.116) shares v0's exact sign pattern —
    // with overfetch·k = 1 the Hamming shortlist admits only v2, so the
    // rerank never sees v1: a pinned sign-blind miss (recall 0). query
    // 50's true top-1 v3 is also its unique Hamming-0 code, so the
    // shortlist keeps it: recall 10000.
    val e = Seq(
      (0L, Seq(0.6f, 0.6f, -0.01f, -0.01f), 0),
      (1L, Seq(0.6f, 0.6f, 0.01f, -0.01f), 0),
      (2L, Seq(0.1f, 0.1f, -1.0f, -1.0f), 0),
      (3L, Seq(0.9f, 0.9f, 0.9f, 0.9f), 0),
      (50L, Seq(1.0f, 1.0f, 1.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.binaryTopK(e, k = 1, overfetch = 1)
      .select("query_id", "neighbor_id", "hamming", "rank")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(top === List((0L, 2L, 0L, 1L), (50L, 3L, 0L, 1L)))
    val rec = Similarity.binaryRecall(e, k = 1, overfetch = 1)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(rec === List((0L, 1L, 0L, 0L), (50L, 1L, 1L, 10000L)))
  }

  test("clusterPurity: singleton clusters are pure; a mixed cluster ties to the smaller label") {
    // seeds = vec_ids < 8 → {0, 2, 3, 4} are their own centroids; vec 50
    // lands on centroid 3 (nearest by squared distance). cluster 3 then
    // mixes label 1 (vec 3) and label 0 (vec 50) one apiece — the
    // majority tie must resolve to the SMALLER label with purity 5000.
    val got = Similarity.clusterPurity(embs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 1L, 1L, 0L, 1L, 10000L),
      (2L, 1L, 1L, 0L, 1L, 10000L),
      (3L, 2L, 2L, 0L, 1L, 5000L),
      (4L, 1L, 1L, 1L, 1L, 10000L)))
  }

  test("ivfPqRecallCurve: all-cells probe equals pure ADC recall; probe widening is monotone") {
    val curve = Similarity.ivfPqRecallCurve(embs, k = 2, nprobes = Seq(1, 2), dim = 3)
      .as[(Long, Long, Long, Option[Long])].collect().sortBy(_._1).toList
    assert(curve.map(_._1) === List(1L, 2L))
    // the fixture has 2 labels, so nprobe = 2 probes every cell: the
    // coarse stage prunes nothing and the arm must match the plain ADC
    // ranking scored against the same brute truth (pqRecall's totals)
    val pq = Similarity.pqRecall(embs, k = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(curve(1)._2 === pq.map(_._2).sum)
    assert(curve(1)._3 === pq.map(_._3).sum)
    // both arms score against the same truth (equal n_truth); on THIS
    // fixture widening the probe gains hits — not a theorem (ADC
    // impostors from a new cell can evict true neighbors; the scaladoc's
    // non-monotone caveat), but pinned here as the fixture's behavior
    assert(curve(0)._2 === curve(1)._2)
    assert(curve(0)._3 <= curve(1)._3)
  }

  test("filteredTopK: post-filter ADC shortlist collapses on the selective label") {
    // every vec_id < 8 is its own codebook centroid, so the ADC shortlist
    // ranks by EXACT squared L2. query 0 (label 0): its exact top-1 (vec 2)
    // survives the unfiltered top-2 shortlist → recall 10000. query 50
    // (label 1): its only same-label neighbor (vec 5) is L2-far, so the
    // shortlist is all label-0 and post-filtering empties it → recall 0 —
    // the selective-predicate collapse this readout exists to expose, while
    // the pre-filtered arm still finds vec 5 via the label equi-join.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (50L, Seq(0.0f, 1.0f), 1),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(1.0f, -1.0f), 1),
      (6L, Seq(0.0f, 0.95f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.filteredTopK(e, k = 1, overfetch = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 0L, 3L, 1L, 2L, 1L, 10000L),
      (50L, 1L, 1L, 1L, 5L, 0L, 0L)))
  }

  test("hardNegatives: shortlist prunes to cross-label; anchor flags the confusable negative") {
    // codebook = every vec (< 8), so the ADC shortlist ranks by exact L2.
    // query 0 (label 0, no other label-0 vector): top-2 shortlist {2, 3}
    // are both cross-label → best negative is vec 2 by cosine; the anchor
    // is null (no positive exists). query 50 (label 1): shortlist {6, 5},
    // the same-label vec 5 is pruned, and the surviving negative vec 6
    // outscores the best positive (vec 5) → harder_than_pos = 1 — the
    // triplet-loss row this mining query exists to surface.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (50L, Seq(0.0f, 1.0f), 1),
      (2L, Seq(0.9f, 0.1f), 2),
      (3L, Seq(0.8f, 0.2f), 1),
      (5L, Seq(0.1f, 0.9f), 1),
      (6L, Seq(0.05f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(e, k = 1, overfetch = 2)
      .as[(Long, Long, Long, Long, Double, Option[Double], Option[Long])]
      .collect().sortBy(_._1).toList
    assert(got === List(
      (0L, 1L, 2L, 2L, 0.993884, None, None),
      (50L, 1L, 6L, 2L, 0.998752, Some(0.993884), Some(1L))))
  }

  test("embPsi: identical halves score zero, a shifted dimension flags drift") {
    // replicate the operator's content-free half assignment so the
    // fixture can place values per half deterministically
    def half(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"embhalf:$id".getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    // EQUAL half sizes: Laplace smoothing (n+1)/(N+bins) makes the
    // smoothed shares of even identical distributions differ when the
    // halves differ in size (a ~0 bias at real corpus sizes, visible at
    // n=20) — 10 ids per half keeps the p = q identity exact
    val pool = (0L until 200L)
    val ids = pool.filter(half(_) == 0L).take(10) ++ pool.filter(half(_) == 1L).take(10)
    // dim 1 stable everywhere; dim 2 shifts 0.0 → 0.9 in the current half
    val e = ids.map { id =>
      (id, Seq(0.1f, if (half(id) == 1) 0.9f else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.embPsi(e)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    val nRef = ids.count(half(_) == 0).toLong
    val nCur = ids.size.toLong - nRef
    // dim 1: every value in both halves is the same constant → all rows
    // land in bin 0, p = q in every bin, PSI exactly 0, no flag
    assert(got.head === ((1L, nRef, nCur, 0L, 0L)))
    // dim 2: reference is the collapsed range {0}, current all clamps to
    // the top bin — the distribution moved wholesale, PSI far over the
    // 0.2 alert line
    val d2 = got(1)
    assert(d2._1 === 2L && d2._2 === nRef && d2._3 === nCur)
    assert(d2._4 > 2000L && d2._5 === 1L)
  }

  test("pqTrainStep: hand-computed refit, Lloyd descent, starved codes keep zero rows") {
    // seed codes = vec_ids 0..7, each a constant 64-dim vector at
    // (i+1)·0.1 (→ (i+1)·100 milli — far apart, assignments unambiguous).
    // vecs 8 and 9 sit at code 0 plus +3 milli in dim 1 only.
    def const(v: Float) = Seq.fill(64)(v)
    val rows = (0 until 8).map(i => (i.toLong, const((i + 1) * 0.1f), 0)) ++
      Seq((8L, 0.103f +: const(0.1f).tail, 0), (9L, 0.103f +: const(0.1f).tail, 0))
    val got = Similarity.pqTrainStep(rows.toDF("vec_id", "embedding", "label"))
      .select("subspace", "code", "n_assigned", "err_before", "err_after", "displacement_sq")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.size === 32)
    // subspace 0, code 0: members {100.., 103.., 103..} in dim 1 →
    // centroid 102, err 18 → 6, displacement (102−100)² = 4
    assert(got((0L, 0L)) === ((0L, 0L, 3L, Some(18L), Some(6L), Some(4L))))
    // other subspaces of code 0: vecs 8/9 equal the code exactly
    (1L to 3L).foreach { j =>
      assert(got((j, 0L)) === ((j, 0L, 3L, Some(0L), Some(0L), Some(0L))))
    }
    // codes 1..7: only their own seed vector — zero error, zero move
    for (j <- 0L to 3L; c <- 1L to 7L)
      assert(got((j, c)) === ((j, c, 1L, Some(0L), Some(0L), Some(0L))))
    // Lloyd descent invariant everywhere
    got.values.foreach { r =>
      for (b <- r._4; a <- r._5) assert(a <= b, s"descent violated at $r")
    }
  }

  test("pqTrainConverge: full monotone Lloyd chain across rounds; refit feeds round 2") {
    // the pqTrainStep fixture: seed codes 0..7 far apart, vecs 8/9 at
    // code 0 plus +3 milli in dim 1. Round 1 refits code 0's subspace-0
    // centroid from 100 to 102 (err 18 → 6); round 2 re-assigns against
    // the refit codebook — same members, so err_assign(2) = err_refit(1)
    // and the refit is already the fixpoint (err_refit(2) = 6 too)
    def const(v: Float) = Seq.fill(64)(v)
    val rows = (0 until 8).map(i => (i.toLong, const((i + 1) * 0.1f), 0)) ++
      Seq((8L, 0.103f +: const(0.1f).tail, 0), (9L, 0.103f +: const(0.1f).tail, 0))
    val got = Similarity.pqTrainConverge(rows.toDF("vec_id", "embedding", "label"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.size === 8)
    assert(got((1L, 0L)) === ((1L, 0L, 10L, 18L, 6L)))
    assert(got((2L, 0L)) === ((2L, 0L, 10L, 6L, 6L)))
    (1L to 3L).foreach { j =>
      assert(got((1L, j)) === ((1L, j, 10L, 0L, 0L)))
      assert(got((2L, j)) === ((2L, j, 10L, 0L, 0L)))
    }
    // the full chain err_assign(r) ≥ err_refit(r) ≥ err_assign(r+1),
    // per subspace, on the real sf0.01 embeddings at 3 rounds
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val chain = Similarity.pqTrainConverge(emb, rounds = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._2).values
    chain.foreach { rows0 =>
      val seq = rows0.sortBy(_._1).flatMap(r => Seq(r._4, r._5)).toList
      seq.sliding(2).foreach { case List(hi, lo) =>
        assert(lo <= hi, s"Lloyd chain violated: $seq")
      }
    }
  }

  test("rqTrain: residual stage recovers what the coarse stage left; zero codeword guarantees descent") {
    // seeds 0..7 constant at (i+1)·0.1; vecs 8..15 = seed 0 plus
    // +1..+8 milli in dim 1 (they become the stage-2 codebook, each
    // quantizing its own residual exactly); vec 16 = seed 0 + 100 milli
    // in dim 1 — off-codebook, lands on the largest residual codeword
    def const(v: Float) = Seq.fill(64)(v)
    val rows = (0 until 8).map(i => (i.toLong, const((i + 1) * 0.1f), 0)) ++
      (1 to 8).map(j => ((7 + j).toLong, (0.1f + j * 0.001f) +: const(0.1f).tail, 0)) ++
      Seq((16L, 0.2f +: const(0.1f).tail, 0))
    val got = Similarity.rqTrain(rows.toDF("vec_id", "embedding", "label"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // stage 1: seeds are exact, vecs 8..15 err j², vec 16 err 100²
    assert(got.head === ((1L, 17L, (1 to 8).map(j => j * j).sum + 10000L, 8L)))
    // stage 2: everything recovered except vec 16's (100−8)² gap;
    // codes used = zero codeword + the 8 residual codewords
    assert(got(1) === ((2L, 17L, 92L * 92L, 9L)))
    // unconditional descent on the real sf0.01 embeddings
    val real = Similarity.rqTrain(Tables.embeddings(spark, "/root/testdata/sf0.01"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).map(_._3)
    assert(real(1) <= real(0), s"RQ descent violated: ${real.toList}")
  }

  test("ivfAppend: appends assign to the frozen centroids; a mislabeled vector flags mismatch") {
    // discover the deterministic 1-in-5 ingest split the operator uses
    def isApp(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ivfappend:$id".getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 5 == 0
    }
    val pool = (0L until 100L)
    val idxIds = pool.filterNot(isApp).take(20)
    val appIds = pool.filter(isApp).take(5)
    assert(appIds.size === 5)
    // index side: two clean clusters — label 0 along e1, label 1 along e2
    val idx = idxIds.zipWithIndex.map { case (id, i) =>
      val lbl = i % 2
      (id, if (lbl == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f), lbl)
    }
    // append batch: all vectors along e1 (→ frozen cell 0); every label is
    // 0 except the LAST append id, mislabeled 1 — the staleness signal
    val app = appIds.zipWithIndex.map { case (id, i) =>
      (id, Seq(1.0f, 0.0f), if (i == appIds.size - 1) 1 else 0)
    }
    val got = Similarity.ivfAppend((idx ++ app).toDF("vec_id", "embedding", "label"), dim = 2)
      .select("cell", "n_index", "n_appended", "n_after", "n_label_mismatch",
        "drift_e4", "needs_rebuild")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) === List(0L, 1L))
    val (c0, c1) = (got.head, got(1))
    // every append lands in cell 0; exactly one disagrees with its label
    assert(c0._2 === 10L && c0._3 === 5L && c0._4 === 15L && c0._5 === 1L)
    assert(c1._2 === 10L && c1._3 === 0L && c1._4 === 10L && c1._5 === 0L)
    // conservation: n_after sums to the whole corpus
    assert(got.map(_._4).sum === (idx.size + app.size).toLong)
    // the hot cell drifts up, the starved one down; 5 appends on a
    // 10-vector cell is 50% growth — over the 25% rebuild line
    assert(c0._6 > 0L && c1._6 < 0L)
    assert(c0._7 === 1L && c1._7 === 0L)
  }

  test("PQ operators reject a subspace count that does not tile the 64-dim vectors") {
    // 5 × 16 = 80 > 64: subspace 4 would slice past the array, every code
    // would tie to cid 0, and the ranking would be garbage without an error
    val e = (0L until 60L).map(i => (i, Seq.fill(64)((i % 7).toFloat / 7), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](Similarity.adcTopK(e, subspaces = 5))
    intercept[IllegalArgumentException](Similarity.productQuantize(e, subspaces = 5))
    intercept[IllegalArgumentException](Similarity.ivfPqTopK(e, subspaces = 5))
    assert(Similarity.adcTopK(e).count() > 0L, "the tiling count still runs")
  }

  test("exactRerank: every (query, other vector) pair as the shortlist is bruteForceTopK") {
    import graft.dedup.Dedup
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // nonzero 4-dim vectors on a coarse grid: many exact cosine ties, so
    // the neighbor-id tie-break is exercised too
    val gen = for {
      n <- Gen.choose(2, 130)
      rows <- Gen.listOfN(n, for {
        x0 <- Gen.choose(1, 4)
        rest <- Gen.listOfN(3, Gen.choose(-4, 4))
      } yield (x0 +: rest).map(_.toFloat / 4))
    } yield rows
    (0 until 4).foreach { i =>
      val rows = gen.apply(Gen.Parameters.default, Seed(9100L + i)).get
      val e = rows.zipWithIndex.map { case (v, id) => (id.toLong, v, id % 3) }
        .toDF("vec_id", "embedding", "label")
      val q = Dedup.quantized(e)
      val allPairs = Similarity.queryBatch(q).select($"vec_id".as("query_id"))
        .crossJoin(q.select($"vec_id".as("neighbor_id")))
        .filter($"query_id" =!= $"neighbor_id")
      val k = 1 + i
      def rows4(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "cosine", "rank")
          .as[(Long, Long, Double, Long)].collect().toSet
      val want = rows4(Similarity.bruteForceTopK(e, k))
      assert(want.nonEmpty)
      assert(rows4(Similarity.exactRerank(q, allPairs, k)) === want, s"draw $i (n=${rows.size})")
    }
  }
}
