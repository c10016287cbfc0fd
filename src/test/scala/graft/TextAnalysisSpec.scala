package graft

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")

  test("doc stats: exact token arithmetic") {
    val r = TextAnalysis.docStats(docs((1L, "The cat  and the Dog")))
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().head
    // norm: "the cat and the dog" → 5 tokens, 4 distinct
    assert(r._2 === 20L) // n_chars of raw text
    assert(r._3 === 5L)
    assert(r._4 === 4L)
    assert(r._5 === 3.0) // (19 - 4) / 5
    assert(r._6 === 0.6) // the, and, the
    assert(r._7 === 0.8)
  }

  test("doc kl: sparse observed-bucket terms, corpus-shaped docs below a skewed one") {
    // corpus: a=2, b=2, c=4, T=8 (the three words hash to distinct
    // buckets); docs 1/2 mirror each other, doc 3 is all one rare word
    val d = Seq((1L, "a b", "s0"), (2L, "a b", "s0"), (3L, "c c c c", "s1"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.docKlDivergence(d)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toList
    def term(c: Long, t: Long, cb: Long) =
      math.round((c.toDouble / t.toDouble) *
        math.log((c.toDouble * (8L + 1024L).toDouble) /
          (t.toDouble * (cb + 1L).toDouble)) * 1000000)
    val klAb = 2 * term(1, 2, 2)
    val klC = term(4, 4, 4)
    assert(got === List(
      (1L, "s0", 2L, klAb), (2L, "s0", 2L, klAb), (3L, "s1", 4L, klC)))
    assert(klC > klAb, "the concentrated doc must diverge more")
  }

  test("winnowing: docs sharing a ≥ k+w−1 run share a fingerprint; unrelated don't") {
    // the winnowing guarantee: any common substring of length ≥ k+w−1 = 7
    // leaves at least one common selected fingerprint. Docs 1 and 2 share
    // the 8-char run "abcdefgh"; doc 3 shares no 4-gram with either.
    val fp = TextAnalysis.winnowFingerprints(docs(
      (1L, "abcdefghijkl"),
      (2L, "zzz abcdefgh yyy"),
      (3L, "qrstuvw 012345")))
      .as[(Long, Long)].collect()
    val byDoc = fp.groupBy(_._1).map { case (d, r) => d -> r.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // selection really thins: doc 1 has 9 grams / 6 windows, ≤ 6 selected
    assert(byDoc(1L).size <= 6)
    // a doc shorter than k+w−1 emits nothing
    val none = TextAnalysis.winnowFingerprints(docs((9L, "abcdef"))).count()
    assert(none === 0L)
  }

  test("kn trigram: hand-computed exact rational at d = 3/4") {
    import graft.text.TextAnalysis
    // tokens a b c a b d a b c → trigram types abc(2), abd, bca, bda,
    // cab, dab; for (a,b,c): c12·=3, f12=2, m23(b,c)=1, m2·(b)=2,
    // f2(b)=2, n3(c)=1, D2=5 →
    //   P = [5·4·2·5 + 3·2·(1·5 + 3·2·1)] / (16·3·2·5) = 266/480
    val got = TextAnalysis.knTrigram(docs((1L, "a b c a b d a b c")))
      .as[(String, String, String, Long, Long, Long, Long)].collect().toList
    assert(got.size === 6)
    assert(got.head === (("a", "b", "c", 2L, 3L, 666666666L, 554166666L)))
    assert(got(1) === (("a", "b", "d", 1L, 3L, 333333333L, 220833333L)))
    // interpolated KN is a proper conditional: mass over the (a,b)
    // context stays below 1 even after discount redistribution
    val abMass = got.filter(r => r._1 == "a" && r._2 == "b").map(_._7).sum
    assert(abMass < 1000000000L && abMass > 0L)
  }

  test("source JS: identical sources score 0, disjoint vocabularies near ln2") {
    import graft.text.TextAnalysis
    val d = Seq(
      // sources a and b: identical token streams → every bucket's p == q
      (1L, "apple banana cherry apple", "a"),
      (2L, "apple banana cherry apple", "b"),
      // source c: fully disjoint vocabulary
      (3L, "xylophone quartz vortex jazz", "c"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceJs(d)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = got(("a", "b"))
    assert(ab._3 === 4L && ab._4 === 4L && ab._5 === 0L)
    // disjoint vocabularies diverge; the Laplace mass (4 real tokens vs
    // 1024 smoothing buckets here) keeps tiny fixtures far from the ln2
    // ceiling but strictly above the identical pair
    for (p <- Seq(got(("a", "c")), got(("b", "c")))) {
      assert(p._5 > 100L && p._5 < 693148L, s"js out of range: $p")
    }
    // symmetry of the construction: b is a's clone, so both pairs with c
    // score identically
    assert(got(("a", "c"))._5 === got(("b", "c"))._5)
  }

  test("heaps fit: all-new tokens read beta=1, a fixed template reads beta=0") {
    import graft.text.TextAnalysis
    // every doc contributes 3 brand-new tokens → vocab == tokens at every
    // bucket, so every pairwise log-log slope is exactly 1e6 and every
    // residual 0
    val fresh = docs((1L to 20L).map(i =>
      i -> s"w${i}a w${i}b w${i}c"): _*)
    val gotFresh = TextAnalysis.heapsFit(fresh)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(gotFresh === List((10L, 45L, 1000000L, 0L)))
    // the same 3-token template everywhere → vocab flat at 3: slope 0,
    // intercept ln(3)·1e6 = 1098612
    val fixed = docs((1L to 20L).map(i => i -> "a b c"): _*)
    val gotFixed = TextAnalysis.heapsFit(fixed)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(gotFixed === List((10L, 45L, 0L, 1098612L)))
  }

  test("token counts: whitespace vs bpe-ish vs subword estimate") {
    val r = TextAnalysis.tokenCounts(docs((1L, "abc 12cd ef")))
      .as[(Long, Long, Long, Long)].collect().head
    assert(r._2 === 3L) // ws tokens
    assert(r._3 === 4L) // abc | 12 | cd | ef
    assert(r._4 === 3L) // ceil(3/4)+ceil(4/4)+ceil(2/4)
  }

  test("tf-idf: corpus-wide terms score 0, rare terms rank first") {
    val r = TextAnalysis.tfidfTopTerms(docs(
      (1L, "shared shared rare1"),
      (2L, "shared rare2 rare2")), k = 2)
      .select("doc_id", "term", "term_rank")
      .as[(Long, String, Long)].collect().toSet
    // ln(2/2)=0 for "shared"; rare terms get ln(2/1)
    assert(r === Set((1L, "rare1", 1L), (1L, "shared", 2L), (2L, "rare2", 1L), (2L, "shared", 2L)))
  }

  test("tf-idf doc similarity: identical docs → cosine 1.0, disjoint absent") {
    val a = "zebra quagga okapi tapir bongo dikdik"
    val b = "entirely different words about database query engines"
    val got = TextAnalysis.tfidfDocSimilarity(
      docs((1L, a), (2L, a), (3L, b)), threshold = 0.9,
      maxTermDfFraction = 1.0) // tiny fixture: df-cap off (cap < 1 doc otherwise)
      .select("doc_id_1", "doc_id_2", "cosine")
      .as[(Long, Long, Double)].collect().toList
    assert(got === List((1L, 2L, 1.0)))
  }

  test("tf-idf doc similarity: corpus-dominant terms are capped out of the join") {
    // "common" is a top term of every doc (df = 4 > ceil(0.05*4)=1), so it
    // alone cannot make a candidate pair; docs sharing only it produce no row
    val got = TextAnalysis.tfidfDocSimilarity(
      docs(
        (1L, "common alpha beta"),
        (2L, "common gamma delta"),
        (3L, "common epsilon zeta"),
        (4L, "common eta theta")),
      threshold = 0.0)
    assert(got.count() === 0L)
  }

  test("stratified sample: per-stratum fractions, deterministic replay") {
    val rows = (1L to 500L).map(i => (i, s"text $i", if (i % 2 == 0) "en" else "xx"))
    val df = rows.toDF("doc_id", "text", "lang")
    val sampled = TextAnalysis.stratifiedSample(df)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    // en keeps ~10% of 250, xx keeps ~50% of 250 — loose bands, exact replay
    assert(sampled("en") > 10 && sampled("en") < 50)
    assert(sampled("xx") > 90 && sampled("xx") < 160)
    val again = TextAnalysis.stratifiedSample(df)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(again === sampled)
  }

  test("contamination: shared passages flag held-out docs; unique docs clean") {
    // every doc shares the same text → every held-out doc's shingles all
    // appear in train (assuming ≥1 train doc, guaranteed at n=200)
    val shared = (1L to 200L).map(i => (i, "alpha beta gamma delta epsilon"))
    val heldOut = TextAnalysis.splitAssign(docs(shared: _*))
      .filter($"split" =!= "train").count()
    val got = TextAnalysis.contamination(docs(shared: _*))
    assert(got.count() === heldOut)
    assert(got.filter($"contamination_ratio" =!= 1.0).count() === 0)
    assert(got.filter($"n_shingles" =!= 3L).count() === 0) // 5 tokens → 3 shingles
    // fully unique texts → zero overlap everywhere
    val uniq = (1L to 100L).map(i => (i, s"u$i v$i w$i x$i"))
    val clean = TextAnalysis.contamination(docs(uniq: _*))
    assert(clean.count() > 0)
    assert(clean.filter($"n_contaminated" =!= 0L).count() === 0)
  }

  test("hot passages: df counts documents, not in-doc repetitions") {
    val d = docs((1L, "a b c d"), (2L, "a b c x"), (3L, "a b c y"))
    val got = TextAnalysis.hotPassages(d, minDf = 3)
      .as[(String, Long)].collect().toList
    assert(got === List(("a b c", 3L)))
    // shingles are distinct per doc: repeating a passage inside one doc
    // doesn't lift its corpus df
    val rep = docs((1L, "a b c a b c a b c"), (2L, "a b c z"))
    val got2 = TextAnalysis.hotPassages(rep, minDf = 2)
      .as[(String, Long)].collect().toList
    assert(got2 === List(("a b c", 2L)))
  }

  test("repetition: most-common 2-gram coverage and duplicated 3-gram chars") {
    // "a b a b a b": 2-grams "a b"×3, "b a"×2 → top covers 3·3=9 of 11
    // norm chars; 3-grams "a b a"×2 + "b a b"×2 → 20 duplicated chars
    // (the overlapping-occurrence proxy can exceed 1.0 by design)
    val r = TextAnalysis.repetition(docs((1L, "a b a b a b")))
      .as[(Long, Long, Long, Double, Long, Double)].collect().head
    assert(r === ((1L, 11L, 9L, 0.8182, 20L, 1.8182)))
    // no repetition: every 2-gram unique (cnt-1 tie-break picks "p q"),
    // zero duplicated 3-grams
    val c = TextAnalysis.repetition(docs((2L, "p q r s")))
      .as[(Long, Long, Long, Double, Long, Double)].collect().head
    assert(c === ((2L, 7L, 3L, 0.4286, 0L, 0.0)))
    // sub-2-gram doc: both signals zero, no rows lost
    val s = TextAnalysis.repetition(docs((3L, "solo")))
      .as[(Long, Long, Long, Double, Long, Double)].collect().head
    assert(s === ((3L, 4L, 0L, 0.0, 0L, 0.0)))
  }

  test("unigram logprob: exact quantized surprisal sums and floor-div average") {
    // corpus: a×3, z×1 (total 4) → q(a)=round(ln(4/3)·1e4)=2877,
    // q(z)=round(ln 4·1e4)=13863
    val got = TextAnalysis.unigramLogprob(docs((1L, "a a a"), (2L, "z")))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, 3L, 3 * 2877L, 2877L), (2L, 1L, 13863L, 13863L)))
  }

  test("pack sequences: fixed budget packs in doc_id order within each split") {
    // uniform 4-token docs, budget 8 → exactly two docs per pack, per split
    val d = docs((1L to 40L).map(i => (i, "w x y z")): _*)
    val got = TextAnalysis.packSequences(d, budgetTokens = 8L)
      .select("split", "doc_id", "cum_before", "pack_id")
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === 40)
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, _, cum, pack), i) =>
        assert(cum === 4L * i)
        assert(pack === (i / 2).toLong)
      }
    }
  }

  test("surprisal deciles: complete cover, 1..10, monotone in score") {
    val rows = (1L to 200L).map(i => (i, (1L to (i % 20 + 3)).map(k => s"w${i * 31 % (k + 11)}").mkString(" ")))
    val got = TextAnalysis.surprisalDeciles(docs(rows: _*))
      .as[(Long, Long, Long)].collect()
    assert(got.length === 200)
    assert(got.forall(r => r._3 >= 1L && r._3 <= 10L))
    // deciles are monotone in the score: sorting by score never decreases
    // the decile, and equal scores share a decile
    val byScore = got.sortBy(_._2)
    byScore.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 <= b._3, s"decile not monotone: $a then $b")
        if (a._2 == b._2) assert(a._3 === b._3, s"tied scores split deciles: $a vs $b")
      case _ =>
    }
    // every decile is populated on a 200-doc spread
    assert(got.map(_._3).distinct.length === 10)
  }

  test("collocations: exact bigram PMI, min-count threshold") {
    // corpus: "a b a b" + "a b c" → bigrams: (a b)×3, (b a)×1, (b c)×1;
    // unigrams a:3 b:3 c:1 → n1=7, n2=5. minCount=2 keeps only "a b":
    // PMI = ln(3·7·7 / (3·3·5)) = ln(49/15) ≈ 1.18380 → e4 = 11838
    val got = TextAnalysis.collocations(docs((1L, "a b a b"), (2L, "a b c")), minCount = 2L)
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(got === List(("a b", 3L, 3L, 3L, 11838L)))
  }

  test("mixture sample: over-budget sources downsampled, small sources kept whole") {
    // source "big": 100 docs × 50 tokens = 5000 tokens (5× the 1000 budget
    // → keep_ppm = 200000); source "small": 4 docs × 50 = 200 tokens (under
    // budget → keep_ppm = 1000000, every doc kept)
    val text = Seq.fill(50)("w").mkString(" ")
    val rows = (1L to 100L).map(i => (i, text, "en", "big")) ++
      (101L to 104L).map(i => (i, text, "en", "small"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextAnalysis.mixtureSample(df, budgetTokens = 1000L)
      .select($"doc_id", $"source", $"keep_ppm", $"bucket")
      .as[(Long, String, Long, Long)].collect()
    val (big, small) = got.partition(_._2 == "big")
    assert(small.map(_._1).toSet === Set(101L, 102L, 103L, 104L))
    assert(small.forall(_._3 === 1000000L))
    assert(big.forall(_._3 === 200000L))
    // hash sampling: every kept row satisfies its fraction, and the kept
    // count is a plausible draw of p=0.2 over 100 docs
    assert(big.forall(r => r._4 < r._3))
    assert(big.length > 5 && big.length < 50, s"kept ${big.length} of 100 at p=0.2")
    // replays identically
    val again = graft.text.TextAnalysis.mixtureSample(df, budgetTokens = 1000L)
      .select($"doc_id").as[Long].collect().toSet
    assert(again === got.map(_._1).toSet)
  }

  test("bpe pairs: char-pair counts over normalized text, deterministic top-k") {
    val docs = Seq((1L, "aBab"), (2L, "ab"), (3L, "x")).toDF("doc_id", "text")
    // normalized: "abab" → ab, ba, ab; "ab" → ab; "x" filtered (len < 2)
    val got = graft.text.TextAnalysis.bpePairs(docs, k = 2)
      .as[(String, Long)].collect().toList
    assert(got === List(("ab", 3L), ("ba", 1L)))
  }

  test("bpeMerges: three rounds learn chained merges with exact counts") {
    // round 1: (a,b) dominates with count 3 → docs become
    //   [a▁b, a▁b, c] and [a▁b, c, c, c] (10 → 7 tokens).
    // round 2: (a▁b,c) and (c,c) tie at 2; lexicographic pins (a▁b,c) →
    //   [a▁b, a▁b▁c] and [a▁b▁c, c, c] (5 tokens).
    // round 3: all pairs count 1; smallest lhs wins → (a▁b, a▁b▁c) →
    //   doc 1 collapses to one token (4 total). Chained merges across
    //   rounds are the defining BPE behavior this pins.
    val d = docs((1L, "a b a b c"), (2L, "a b c c c"))
    val got = TextAnalysis.bpeMerges(d)
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "a", "b", 3L, 7L),
      (2L, "a▁b", "c", 2L, 5L),
      (3L, "a▁b", "a▁b▁c", 1L, 4L)))
  }

  test("bpeMerges: an equal-token run merges greedily left to right (odd parity)") {
    // "x x x x x": round 1 marks every adjacent (x,x) pair; the greedy
    // fold merges positions 1 and 3 only → [x▁x, x▁x, x]
    val got = TextAnalysis.bpeMerges(docs((1L, "x x x x x")))
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "x", "x", 4L, 3L),
      (2L, "x▁x", "x", 1L, 2L),
      (3L, "x▁x", "x▁x▁x", 1L, 1L)))
  }

  test("bpeCompression: per-source token mass before/after the learned merges") {
    // same corpus as the 3-round merge spec, split across two sources:
    // doc 1 (srcA) 5 → 1 tokens, doc 2 (srcB) 5 → 3 tokens (the merge
    // chain computed there) — exact per-source masses and e4 shares
    val d = Seq(
      (1L, "a b a b c", "en", "srcA"),
      (2L, "a b c c c", "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bpeCompression(d)
      .as[(String, Long, Long, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1).toList
    assert(got === List(
      ("srcA", 1L, 5L, 1L, 50000L, 10000L, Some(8000L)),
      ("srcB", 1L, 5L, 3L, 50000L, 30000L, Some(4000L))))
  }

  test("bpeMerges: empty corpus yields no merge rows") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TextAnalysis.bpeMerges(empty).count() === 0L)
  }

  test("feature hashing: bucket counts are deterministic and bounded by dim") {
    val docs = Seq((1L, "w1 w2 w1"), (2L, "w2")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.featureHashing(docs, dim = 8)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    // same token → same bucket everywhere; doc 1 has w1 twice
    assert(got.forall(r => r._2 >= 0 && r._2 < 8))
    assert(got.map(_._3).sum === 4L)
    val w2Buckets = got.filter(_._3 === 1L).map(_._2).distinct
    assert(w2Buckets.size === 1, "w2 must land in one bucket in both docs")
    // replays identically
    val again = graft.text.TextAnalysis.featureHashing(docs, dim = 8)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(again === got)
  }

  test("dedup spans: first occurrence wins, tail chunk kept, fingerprint exact") {
    val docs = Seq(
      (1L, "a b a b c d a b"), // chunks: [a b][a b][c d][a b] -> keep [a b][c d]
      (2L, "x y z")            // odd tail: [x y][z] -> nothing repeats
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.dedupSpans(docs, span = 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toList
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got === List(
      (1L, 4L, 2L, 2L, md5hex("a b c d")),
      (2L, 2L, 2L, 0L, md5hex("x y z"))))
  }

  test("pii scrub: emails, ipv4, digit runs redacted in order; counts partition") {
    val rows = Seq(
      (1L, "mail Bob.Smith+x@Example.COM or 10.0.0.1 acct 123456789 v123"),
      (2L, "clean text, nothing to mask")).toDF("id", "t")
    val got = graft.text.TextAnalysis.piiScrub(rows, "id", "t")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 1L, 1L, 1L, "mail <EMAIL> or <IP> acct <NUM> v123"),
      (2L, 0L, 0L, 0L, "clean text, nothing to mask")))
  }

  test("quota allocation: largest-remainder quotas sum exactly to the budget") {
    // a: 5, b: 3, c: 2 of 10; budget 7 → bases 3/2/1 (Σ6), deficit 1 goes
    // to the largest remainder (a: 35%10 = 5 beats c: 4 and b: 1)
    val docs = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .zipWithIndex.map { case (g, i) => (g, i.toLong) }.toDF("lang", "doc_id")
    val got = graft.text.TextAnalysis.quotaAlloc(docs, "lang", budget = 7L)
      .as[(String, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(("a", 5L, 4L), ("b", 3L, 2L), ("c", 2L, 1L)))
    assert(got.map(_._3).sum === 7L)
  }

  test("quota allocation: remainder ties break by group name") {
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("lang", "doc_id")
    val got = graft.text.TextAnalysis.quotaAlloc(docs, "lang", budget = 3L)
      .as[(String, Long, Long)].collect().sortBy(_._1).toList
    // both rem 1, deficit 1 → 'a' wins the tie deterministically
    assert(got === List(("a", 1L, 2L), ("b", 1L, 1L)))
  }

  test("largest remainder: quotas sum to the budget and never favor a smaller group") {
    // seeded group sizes and budgets, plus an all-equal case (every
    // remainder ties) and an exact division (no remainder), through both
    // users of the shared apportionment: quotaAlloc (docs per group) and
    // temperatureMix (√ of each language's token mass)
    val rnd = new scala.util.Random(13)
    val drawn = Seq.fill(6)((Seq.fill(2 + rnd.nextInt(5))(1 + rnd.nextInt(12)),
      3L + rnd.nextInt(30)))
    val cases = drawn ++ Seq((Seq(4, 4, 4), 10L), (Seq(2, 3, 5), 10L))
    // (group size, quota) rows of one run
    def check(what: String, got: Seq[(Long, Long)], budget: Long): Unit = {
      assert(got.map(_._2).sum === budget, s"$what: quotas must sum to $budget")
      for ((sa, qa) <- got; (sb, qb) <- got if sa > sb)
        assert(qa >= qb, s"$what: size $sa got quota $qa below size $sb's $qb")
    }
    cases.foreach { case (sizes, budget) =>
      val groups = sizes.zipWithIndex.map { case (n, g) => (s"g$g", n) }
      val perDoc = groups.flatMap { case (g, n) => Seq.fill(n)(g) }
        .zipWithIndex.map { case (g, i) => (g, i.toLong) }.toDF("lang", "doc_id")
      check(s"quotaAlloc $sizes / $budget",
        TextAnalysis.quotaAlloc(perDoc, "lang", budget)
          .as[(String, Long, Long)].collect().map(r => (r._2, r._3)), budget)
      // one document of n² tokens per language: its √ mass is exactly n
      val perLang = groups.map { case (g, n) => (g, Seq.fill(n * n)("w").mkString(" ")) }
        .toDF("lang", "text")
      check(s"temperatureMix $sizes / $budget",
        TextAnalysis.temperatureMix(perLang, budget)
          .select(col("n_tokens"), col("quota_tokens")).as[(Long, Long)].collect(), budget)
    }
  }

  test("vocabCoverage: empty or non-positive cutoffs are rejected by name") {
    Seq(Seq.empty[Int], Seq(5, 0)).foreach { cutoffs =>
      val e = intercept[IllegalArgumentException](
        TextAnalysis.vocabCoverage(docs((1L, "a b c")), cutoffs))
      assert(e.getMessage.contains("cutoffs"))
    }
  }

  test("split assignment: deterministic, complete, roughly 80/10/10") {
    val ids = (1L to 1000L).map(i => (i, s"doc $i")).toSeq
    val splits = TextAnalysis.splitAssign(docs(ids: _*))
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(splits.values.sum === 1000L)
    assert(splits("train") > 700 && splits("train") < 900)
    assert(splits("valid") > 50 && splits("valid") < 160)
    assert(splits("test") > 50 && splits("test") < 160)
    // replays identically
    val again = TextAnalysis.splitAssign(docs(ids: _*))
      .groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(again === splits)
  }

  test("top ngrams: occurrence counts (repeats count), deterministic ties") {
    val d = docs(
      (1L, "a b a b"), // bigrams: "a b", "b a", "a b"
      (2L, "a b c"), //   bigrams: "a b", "b c"
      (3L, "x")) //        too short — no bigrams
    val got = TextAnalysis.topNgrams(d, n = 2, k = 2)
      .as[(String, Long)].collect().toList
    // "a b" ×3; then "b a" and "b c" tie at 1 → lexicographic "b a" wins
    assert(got === List(("a b", 3L), ("b a", 1L)))
  }

  test("stopword candidates: df > half the corpus, in-plan threshold") {
    val d = docs(
      (1L, "the cat sat"),
      (2L, "the dog ran"),
      (3L, "pure noise here"))
    val got = TextAnalysis.stopwordCandidates(d)
      .as[(String, Long, Long)].collect().sortBy(_._1).toList
    // only "the" is in 2 of 3 docs (2*2 > 3); df_e4 = floor(20000/3)
    assert(got === List(("the", 2L, 6666L)))
  }

  test("prep pipeline: duplicates flagged, canonicals carry filter verdicts") {
    val passText = "the quick brown fox jumps over a lazy dog while " +
      "many other animals watch from their warm burrows nearby today"
    val d = docs(
      (1L, "Hello  World"), // canonical of the pair, too_short
      (2L, "hello world"), // normalized duplicate of 1
      (3L, passText)) // canonical, passes
    val got = TextAnalysis.prepPipeline(d)
      .select($"doc_id", $"canonical", $"reason")
      .as[(Long, Long, String)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 1L, "too_short"),
      (2L, 0L, "duplicate"),
      (3L, 1L, "pass")))
    // the split column is exactly splitAssign's (content-free, dedup-stable)
    val splits = TextAnalysis.prepPipeline(d)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val expected = TextAnalysis.splitAssign(d)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(splits === expected)
  }

  test("filter pipeline: first failing rule names the reason") {
    val passText = "the quick brown fox jumps over a lazy dog while " +
      "many other animals watch from their warm burrows nearby today"
    val d = docs(
      (1L, "way too short"), // < 20 tokens → too_short
      (2L, Seq.fill(91)("the").mkString(" ")), // 91 tokens → too_long
      (3L, (1 to 25).map(i => s"tok$i").mkString(" ")), // no stopwords → low_stopword
      (4L, passText)) // passes every rule
    val got = TextAnalysis.filterPipeline(d)
      .as[(Long, Long, String)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 0L, "too_short"),
      (2L, 0L, "too_long"),
      (3L, 0L, "low_stopword"),
      (4L, 1L, "pass")))
  }

  test("langid eval: confusion matrix with per-declared-row shares") {
    val df = Seq(
      (1L, "the and of to in it is was for on", "en"),
      (2L, "zzz qqq vvv kkk mmm nnn ppp rrr sss ttt", "en"),
      (3L, "xx yy zz ww vv uu tt ss rr qq", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdEval(df)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(got === List(
      ("de", "other", 1L, 10000L),
      ("en", "en", 1L, 5000L),
      ("en", "other", 1L, 5000L)))
  }

  test("bigram surprisal: repeated bigrams score lower than novel ones") {
    // doc 1 repeats one bigram; doc 2 is four distinct words (all-novel
    // bigrams); doc 3 has one token → no bigrams, no row
    val got = TextAnalysis.bigramSurprisal(docs(
      (1L, "aa bb aa bb aa bb"),
      (2L, "cc dd ee ff"),
      (3L, "gg")))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._1) === List(1L, 2L)) // doc 3 absent
    val byDoc = got.map(r => r._1 -> r).toMap
    assert(byDoc(1L)._2 === 5L) // 6 tokens → 5 bigrams
    assert(byDoc(2L)._2 === 3L)
    // "aa bb" occurs 3×, so doc 1's average conditional surprisal must
    // sit below doc 2's all-singleton bigrams
    assert(byDoc(1L)._4 < byDoc(2L)._4)
    // exact check for one term: doc 2's "cc dd": c1(cc)=1, c2=1, V=7
    // distinct tokens → q = round(ln((1+7)/(1+1))·1e4) = round(ln(4)·1e4)
    val q = math.round(math.log(4.0) * 10000)
    assert(byDoc(2L)._3 === 3 * q) // all three of doc 2's bigrams identical shape
  }

  test("zipf fit: slope matches an independent BigInt recomputation") {
    // term frequencies 8/4/2/1 — ranks tie-free by construction
    val text = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq.fill(2)("cc") :+ "dd")
      .mkString(" ")
    val got = TextAnalysis.zipfFit(docs((1L, text)))
      .as[(Long, Option[Long])].collect().head
    // independent recomputation: same quantization, BigInt normal equations
    val counts = Seq(8L, 4L, 2L, 1L)
    val q = counts.zipWithIndex.map { case (n, i) =>
      (math.round(math.log(i + 1.0) * 10000), math.round(math.log(n.toDouble) * 10000))
    }
    val m = BigInt(q.size)
    val (sx, sy) = (BigInt(q.map(_._1).sum), BigInt(q.map(_._2).sum))
    val sxy = BigInt(q.map(p => p._1 * p._2).sum)
    val sxx = BigInt(q.map(p => p._1 * p._1).sum)
    val num = (m * sxy - sx * sy) * 10000
    val den = m * sxx - sx * sx
    val expected = (num - (((num % den) + den) % den)) / den // floor, den > 0
    assert(got === (4L, Some(expected.toLong)))
    assert(expected < -10000L && expected > -20000L, "steeper than ideal Zipf on 8/4/2/1")
  }

  test("zipf fit: a single-term corpus has no rank variance, null slope") {
    val got = TextAnalysis.zipfFit(docs((1L, "same same same")))
      .as[(Long, Option[Long])].collect().head
    assert(got === (1L, None))
  }

  test("entropy rate: per-language bigram conditional entropy, e4 quantize-then-sum") {
    val d = Seq(
      (1L, "a b a b", "en"), // bigrams (a b)×2, (b a)×1
      (2L, "a c", "en"), // (a c)×1 → t(a)=3, total 4
      (3L, "p q", "xx")) // single deterministic bigram → H = 0
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.entropyRate(d)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toList
    // en: −(2/4)ln(2/3)→2027, −(1/4)ln(1)→0, −(1/4)ln(1/3)→2747 ⇒ 4774
    assert(got === List(("en", 3L, 4L, 4774L), ("xx", 1L, 1L, 0L)))
  }

  test("novelty curve: first-occurrence shingle shares in doc_id order") {
    val got = TextAnalysis.noveltyCurve(docs(
      (1L, "a b c d"), // {a b c, b c d} — both novel
      (2L, "a b c d"), // exact repeat — zero novel
      (3L, "a b c x y z"))) // {a b c} seen, 3 of 4 novel
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 2L, 2L, 10000L),
      (2L, 2L, 0L, 0L),
      (3L, 4L, 3L, 7500L)))
  }

  test("sourceChi2: identical sources score zero; a skewed source dominates") {
    def docsWithSource(rows: (Long, String, String)*) =
      rows.map { case (id, t, src) => (id, t, "en", src) }
        .toDF("doc_id", "text", "lang", "source")
    // two sources with identical term distributions → every cell o == e
    val evenScores = TextAnalysis.sourceChi2(docsWithSource(
      (1L, "a b c a b c", "web"), (2L, "a b c a b c", "wiki")), topTerms = 3)
      .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(evenScores.values.forall(_ === 0L), s"identical sources must score 0: $evenScores")
    // one source is all-'z' while the other mixes → both diverge, the
    // statistic is symmetric here (2×2-ish grid) and strictly positive
    val skew = TextAnalysis.sourceChi2(docsWithSource(
      (1L, "z z z z z z z z", "spam"), (2L, "a b c d a b c d", "web")), topTerms = 5)
      .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(skew("spam") > 0L && skew("web") > 0L)
  }

  test("charEntropy: constant text scores zero, uniform alphabet hand-computed") {
    val out = TextAnalysis.charEntropy(docs(
      (1L, "aaaaaaaa"),                      // one symbol → H = 0, low
      (2L, "abcdefghijklmnopqrstuvwxyz"),    // 26 uniform → 26·round(ln26/26·1e4)
      (3L, "")))                             // empty after normalize → absent
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length === 2, "empty doc must be absent")
    assert(out(0) === ((1L, 8L, 1L, 0L, 1L)))
    assert(out(1) === ((2L, 26L, 26L, 26L * 1253L, 0L)))
  }

  test("chunk: windows cover every token with the declared overlap") {
    val words = (1 to 200).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunk(docs((1L, words)), chunkTokens = 64, stride = 48)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._2)
    // 200 tokens → 1 + ceil((200-64)/48) = 1 + 3 = 4 chunks
    assert(out.length === 4)
    assert(out.map(_._3).toList === List(1L, 49L, 97L, 145L))
    // full chunks carry 64 tokens; the last carries the remainder 200-144
    assert(out.map(_._4).toList === List(64L, 64L, 64L, 56L))
    // reconstruction: dropping each chunk's 16-token overlap with its
    // predecessor and concatenating yields the original text
    val rebuilt = out.zipWithIndex.map { case ((_, _, _, _, text), i) =>
      val toks = text.split(" ")
      if (i == 0) toks else toks.drop(64 - 48)
    }.flatten.mkString(" ")
    assert(rebuilt === words)
  }

  test("chunk: short and empty docs emit exactly one chunk") {
    val out = TextAnalysis.chunk(docs((1L, "only three words"), (2L, "")))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.length === 2)
    assert(out(0) === ((1L, 0L, 1L, 3L, "only three words")))
    // empty text normalizes to one empty token — one chunk, same as the
    // tokCte convention everywhere else
    assert(out(1)._2 === 0L && out(1)._4 === 1L)
  }

  test("knBigram: hand-computed Kneser–Ney quarters on a two-bigram corpus") {
    // corpus: "a b a b" + "b a" → c("a b") = 2, c("b a") = 2,
    // c1(a) = c1(b) = 2, f1 = 1 each, n2 = 1 each, D = 2.
    // P_KN = [max(4·2−3,0)·2 + 3·1·1] / (4·2·2) = 13/16 = 0.8125
    val d = docs((1L, "a b a b"), (2L, "b a"))
    val got = TextAnalysis.knBigram(d)
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      ("a", "b", 2L, 2L, 1000000000L, 812500000L),
      ("b", "a", 2L, 2L, 1000000000L, 812500000L)))
  }

  test("knBigram: unseen-side mass — a hapax bigram keeps the continuation floor") {
    // "x y" appears once: max(4−3,0) = 1 quarter survives the discount,
    // plus the continuation term — strictly between 0 and the MLE
    val d = docs((1L, "x y"), (2L, "p q p q p q"))
    val got = TextAnalysis.knBigram(d)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val hapax = got(("x", "y"))
    assert(hapax._5 === 1000000000L) // MLE says certainty
    assert(hapax._6 > 0L && hapax._6 < hapax._5, "KN must discount the hapax below MLE")
  }

  test("fertility: exact token/char budget per (source, lang) slice") {
    val d = Seq(
      (1L, "one two three", "en", "web", 13L),
      (2L, "four five", "en", "web", 9L),
      (3L, "sechs", "de", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.fertility(d)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._2).toList
    // de: 1 token / 5 chars → 200000 e6; en: 5 tokens / 22 chars
    assert(got === List(
      ("web", "de", 1L, 1L, 5L, 200000L, 50000L),
      ("web", "en", 2L, 5L, 22L,
        Math.floorDiv(5L * 1000000L, 22L), Math.floorDiv(22L * 10000L, 5L))))
  }

  test("burstiness: bursty term scores VMR above the evenly-dispersed term") {
    // "a" once in each of 4 docs (VMR 0: zero variance); "b" 4× in one doc
    // (VMR (N·Σc²−T²)/(N·T) = (64−16)/16 = 3); both have total_tf 4
    val r = TextAnalysis.burstiness(docs(
      (1L, "a b b b b"), (2L, "a"), (3L, "a"), (4L, "a")))
      .as[(String, Long, Long, Double, Long)].collect().toList
    assert(r === List(
      ("a", 4L, 4L, 0.0, 10000L),
      ("b", 4L, 1L, 3.0, 2500L)))
  }

  test("burstiness: topTerms cut keeps the highest-mass terms only") {
    val r = TextAnalysis.burstiness(
      docs((1L, "x x x y y z")), topTerms = 2)
      .as[(String, Long, Long, Double, Long)].collect().map(_._1).toList
    assert(r === List("x", "y"))
  }

  test("dupProfile: type and mass fractions are exact per n-gram order") {
    // unigrams: {x:4, y:1} → 5 total / 2 distinct / 1 dup type / mass 4
    // bigrams:  {"x x":2, "x y":1} → 3 / 2 / 1 / 2
    // n=3: {"x x x":1, "x x y":1} → no dups; n≥5: no grams at all
    val r = TextAnalysis.dupProfile(
      docs((1L, "x x x y"), (2L, "x")), ns = Seq(1, 2, 3, 5))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(r === List(
      (1L, 5L, 2L, 1L, 4L, 5000L, 8000L),
      (2L, 3L, 2L, 1L, 2L, 5000L, 6666L),
      (3L, 2L, 2L, 0L, 0L, 0L, 0L),
      (5L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("filterFunnel: marginal attribution follows rule order; overlap shows in flagged-vs-marginal") {
    // d1 (3 toks) dies at too_short; d2 (95 distinct toks) dies at
    // too_long but ALSO flags low_stopword standalone — the overlap the
    // funnel separates (s3 = 2 but m3 = 1); d3 (30× same token) dies at
    // low_stopword and flags low_diversity standalone; d4 survives all.
    val d2txt = (1 to 95).map(i => s"w$i").mkString(" ")
    val d3txt = Seq.fill(30)("x").mkString(" ")
    val d4txt = ("the the " + (1 to 28).map(i => s"w$i").mkString(" "))
    val got = TextAnalysis.filterFunnel(docs(
      (1L, "a b c"), (2L, d2txt), (3L, d3txt), (4L, d4txt)))
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "too_short", 1L, 1L, 3L),
      (2L, "too_long", 1L, 1L, 2L),
      (3L, "low_stopword", 2L, 1L, 1L),
      (4L, "low_diversity", 1L, 0L, 1L)))
  }

  test("vocabGrowth: cumulative curve and marginal yield, position buckets against the max id") {
    // md = 4, buckets = 2 → bucket(d) = least(2, ⌊2d/4⌋+1): doc 1 →
    // bucket 1, docs 2-4 → bucket 2. bucket 1 mints {a, b} over 2
    // tokens (yield 10000); bucket 2 mints {c, d} over 5 (yield 4000).
    val got = TextAnalysis.vocabGrowth(
      docs((1L, "a b"), (2L, "b c"), (3L, "a"), (4L, "c d")), buckets = 2)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toList
    assert(got === List(
      (1L, 1L, 2L, 2L, 2L, Some(10000L)),
      (2L, 4L, 7L, 4L, 2L, Some(4000L))))
  }

  test("winnowLeakage: a held-out copy of a train doc leaks fully; unique text doesn't") {
    // split hash: doc 1 → train (bucket 23), doc 2 → valid (88),
    // doc 25 → test (96). doc 2 duplicates doc 1's text, so every one
    // of its winnow fingerprints sits in the train index; doc 25 shares
    // no 4-char substring with doc 1, so nothing leaks. Train docs
    // themselves never appear in the output.
    val leak = TextAnalysis.winnowLeakage(docs(
      (1L, "the quick brown fox jumps over dog"),
      (2L, "the quick brown fox jumps over dog"),
      (25L, "zz yy kk mm vv pp qq rr")))
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(leak.map(r => (r._1, r._2)) === List((2L, "valid"), (25L, "test")))
    val d2 = leak(0)
    assert(d2._3 > 0 && d2._4 === d2._3 && d2._5 === 10000L)
    val d25 = leak(1)
    assert(d25._3 > 0 && d25._4 === 0L && d25._5 === 0L)
  }

  test("decontaminationScreen: full copy spans the whole doc, partial copy a partial span, clean stays clean, df-cap mutes boilerplate") {
    val corpus = docs((1L, "the quick brown fox jumps over the lazy dog"))
    val bench = docs(
      (100L, "the quick brown fox jumps over the lazy dog"), // verbatim copy
      (101L, "xq1z quick brown fox 9vv7"), // 15-char verbatim chunk inside unique text
      (102L, "purely 8martian 55text")) // shares no 4-gram with the corpus
    val r = TextAnalysis.decontaminationScreen(corpus, bench)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // 43 norm chars → 40 gram hashes → 37 windows; the verbatim copy has
    // an identical hash array, so EVERY positional window's fingerprint
    // sits in the corpus set: one span covering the entire document, and
    // max_span_chars = 37 + 6 = 43 = the doc length
    val full = r(100L)
    assert(full === ((100L, 37L, 37L, 10000L, 1L, 37L, 43L)))
    // partial copy: some but not all windows hit, at least one span whose
    // char bound honors the ≥ 7-char winnow guarantee
    val part = r(101L)
    assert(part._3 >= 1L && part._3 < part._2)
    assert(part._4 > 0L && part._4 < 10000L)
    assert(part._5 >= 1L && part._7 >= 7L)
    // clean doc: present in the report, all-zero contamination
    assert(r(102L)._3 === 0L && r(102L)._5 === 0L && r(102L)._6 === 0L && r(102L)._7 === 0L)
    // df-cap: with the shared chunk in MORE corpus docs than the cap its
    // fingerprints are boilerplate and stop counting — the verbatim copy
    // can no longer report a full-document span
    val capped = TextAnalysis.decontaminationScreen(
      docs(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "zz the quick brown fox jumps over the lazy dog")),
      bench, maxCorpusDf = 1L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(capped(100L)._3 < 37L)
  }

  test("spanDupProfile: cross-doc repeats count, within-doc-only repeats don't") {
    // span 2 chunk grid: d1 {a b, c d}, d2 {a b, x y}, d3 {zz ww},
    // d4 {p q, p q}. "a b" spans two docs (crossdoc type, mass 2);
    // "p q" repeats but only INSIDE d4 — excluded by the d > 1 cut, the
    // whole point of the cross-doc readout. total 7, distinct 5 →
    // type_frac ⌊1·10⁴/5⌋ = 2000, mass_frac ⌊2·10⁴/7⌋ = 2857.
    // span 4 grid: one chunk per doc ("zz ww" is a short remainder
    // chunk), all distinct → zero crossdoc everywhere.
    val r = TextAnalysis.spanDupProfile(
      docs((1L, "a b c d"), (2L, "a b x y"), (3L, "zz ww"), (4L, "p q p q")),
      spans = Seq(2, 4))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    assert(r === List(
      (2L, 7L, 5L, 1L, 2L, 2000L, 2857L),
      (4L, 4L, 4L, 0L, 0L, 0L, 0L)))
  }

  test("epochPlan: upweighted tiny source crosses the 4-epoch line; dup mass collapses unique tokens") {
    // big: 16 distinct 4-token docs (unique 64) + one verbatim duplicate
    // (total 68, unique stays 64); tiny: one 4-token doc (unique 4).
    // sqrt_unique: big 8, tiny 2 → su 10, tu 68, budget 2·68 = 136.
    // alloc: big ⌊136·8/10⌋ = 108 → ⌊10800/64⌋ = 168 e2 epochs (ok);
    // tiny ⌊136·2/10⌋ = 27 → ⌊2700/4⌋ = 675 e2 epochs → over_4 = 1.
    val big = (0 until 16).map(i => (i.toLong, s"aa$i bb$i cc$i dd$i", "big")) :+
      (100L, "aa0 bb0 cc0 dd0", "big")
    val tiny = Seq((200L, "zz yy xx ww", "tiny"))
    val got = TextAnalysis.epochPlan((big ++ tiny).toDF("doc_id", "text", "source"))
      .select("source", "n_docs", "total_tokens", "unique_tokens", "dup_share_e4",
        "alloc_tokens", "epochs_e2", "over_4_epochs")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("big") === (("big", 17L, 68L, 64L, Math.floorDiv(4L * 10000L, 68L),
      108L, 168L, 0L)))
    assert(got("tiny") === (("tiny", 1L, 4L, 4L, 0L, 27L, 675L, 1L)))
  }

  test("pplBuckets: an OOV-junk source lands whole in the tail, fluent sources in the head") {
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$id".getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val m = java.lang.Long.parseLong(hex, 16) % 100
      if (m < 80) "train" else if (m < 90) "valid" else "test"
    }
    val pool = (1L to 400L)
    val trainIds = pool.filter(splitOf(_) == "train").take(8)
    val testIds = pool.filter(splitOf(_) == "test").take(2)
    // 8 fluent train docs (source ref) + 1 fluent and 1 pure-OOV test doc:
    // ten scores, eight+one low and one high — the low mass sits at or
    // under the first tercile cut (head), the junk doc above the second
    val rows = trainIds.map((_, "alpha beta gamma delta", "ref")) ++
      Seq((testIds.head, "alpha beta gamma delta", "clean"),
        (testIds(1), "qqq www zzz xxx", "junk"))
    val got = TextAnalysis.pplBuckets(rows.toDF("doc_id", "text", "source"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("junk", "tail")) === ((1L, 10000L)))
    assert(got(("clean", "head")) === ((1L, 10000L)))
    assert(got(("ref", "head")) === ((8L, 10000L)))
    assert(got.size === 3)
  }

  test("lmPerplexityFilter: OOV-heavy held-out doc scores high and filters; in-vocab doc doesn't") {
    // discover the deterministic split so the fixture controls which docs
    // train the LM and which are held out
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$id".getBytes("US-ASCII"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val m = java.lang.Long.parseLong(hex, 16) % 100
      if (m < 80) "train" else if (m < 90) "valid" else "test"
    }
    val pool = (1L to 400L)
    val trainIds = pool.filter(splitOf(_) == "train").take(8)
    val testIds = pool.filter(splitOf(_) == "test").take(2)
    // train docs: a tiny common-word LM; held-out doc A reuses the common
    // words, held-out doc B is pure OOV junk
    val rows = trainIds.map((_, "alpha beta gamma delta")) ++
      Seq((testIds.head, "alpha beta alpha beta"),
        (testIds(1), "qqq www zzz xxx"))
    val got = TextAnalysis.lmPerplexityFilter(rows.toDF("doc_id", "text"))
      .select("doc_id", "split", "n_tokens", "n_oov", "avg_xent_e4", "would_filter")
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    val a = got(testIds.head); val b = got(testIds(1))
    assert(a._2 === "test" && b._2 === "test")
    // doc A: all four tokens in the train vocabulary — zero OOV
    assert(a._4 === 0L && b._4 === 4L)
    // the Laplace LM: N = 32 train tokens, V = 4 types, c("alpha") = 8 →
    // per-token xent ln(37/9); OOV tokens get ln(37/1)
    assert(a._5 === math.floor(math.round(math.log(37.0 / 9.0) * 10000)).toLong)
    assert(b._5 === math.round(math.log(37.0) * 10000))
    // junk filters at the 80000 e4 line (ln 37 ≈ 3.61 nats → 36109): the
    // fixture LM is tiny, so assert the ORDERING and the verdict at a
    // realistic line instead of the default
    assert(b._5 > a._5)
    val strict = TextAnalysis.lmPerplexityFilter(
      rows.toDF("doc_id", "text"), thresholdE4 = 30000L)
      .select("doc_id", "would_filter").as[(Long, Long)].collect().toMap
    assert(strict(testIds(1)) === 1L && strict(testIds.head) === 0L)
    // train docs self-score but are never OOV
    trainIds.foreach { id => assert(got(id)._4 === 0L) }
  }
}
