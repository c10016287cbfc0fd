package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary plumbing: payload bytes survive the media-record mapping") {
    val docs = Seq((1L, "hello"), (2L, "wörld")).toDF("doc_id", "text")
    val got = Multimodal.asMediaRecords(docs)
      .select(col("doc_id"), octet_length(col("payload")))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) === 5)
    assert(got(2L) === 6) // ö is 2 bytes in UTF-8 — byte length, not char length
  }

  test("image near-dup pigeonhole recovers exactly the brute-force hamming pairs") {
    // 13 chunks guarantee complete recall at hamming ≤ 12 — the blocked
    // path must equal the all-pairs computation, not approximate it
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Multimodal.imageNearDups(spark, docs)
      .as[(Long, Long, Long)].collect().toSet
    val hashes = Multimodal.phash(spark, docs)
      .select("doc_id", "phash").distinct().as[(Long, String)].collect()
    val brute = (for {
      (d1, p1) <- hashes; (d2, p2) <- hashes
      if d1 < d2
      h = p1.zip(p2).count { case (a, b) => a != b }
      if h <= 12
    } yield (d1, d2, h.toLong)).toSet
    assert(got === brute)
  }

  test("audio near-dup pigeonhole recovers exactly the brute-force hamming pairs") {
    // 7 chunks guarantee complete recall at hamming ≤ 6 — the blocked
    // path must equal the all-pairs computation over the energy signatures
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Multimodal.audioNearDups(spark, docs)
      .as[(Long, Long, Long)].collect().toSet
    val fps = Multimodal.audioFingerprint(spark, docs)
      .select("doc_id", "audio_fp").distinct().as[(Long, String)].collect()
    val brute = (for {
      (d1, f1) <- fps; (d2, f2) <- fps
      if d1 < d2
      h = f1.zip(f2).count { case (a, b) => a != b }
      if h <= 6
    } yield (d1, d2, h.toLong)).toSet
    assert(got === brute)
  }

  test("real PPM codec: exact dimensions and mean pixel from genuine bytes") {
    // 2x1 P6 image behind a header comment, pixels (10,20,30) and
    // (40,50,60): grays 20 and 50, mean gray 35
    val img = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    assert(Multimodal.Codecs.bordersPpm(img) === ((2L, 1L, 0L, 0L, 0L, 0L)))
    assert(Multimodal.Codecs.grayHistPpm(img) === ((2L, 0L, 0L, 0L, 35L)))
  }

  test("real WAV codec: fmt-chunk fields and 16-bit sample mean") {
    // minimal PCM WAV: mono, 8000 Hz, 16-bit, 4 samples {100, -100, 300, 500}
    val samples = Seq[Short](100, -100, 300, 500)
    def wav(bits: Short): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // channels
        .putInt(8000) // sample rate
        .putInt(8000 * 2) // byte rate
        .putShort(2) // block align
        .putShort(bits) // bits per sample
        .put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val s = Multimodal.Codecs.pcm16(wav(16))
    assert(s.toSeq === samples.map(_.toLong))
    assert(s.sum / s.length === (100 - 100 + 300 + 500) / 4)
    // the fmt chunk's bits field gates the read: an 8-bit clip has no
    // 16-bit samples
    assert(Multimodal.Codecs.pcm16(wav(8)).isEmpty)
    assert(Multimodal.Codecs.zcrWav(wav(8)) === ((0L, 0L, 0L)))
  }

  test("RIFF walk survives corrupt chunk lengths: terminates, never reads out of bounds") {
    import java.nio.{ByteBuffer, ByteOrder}
    // a chunk claiming length 0xFFFFFFF0: the unclamped walk turned
    // len.toInt negative and stepped the cursor BACKWARDS — an
    // executor-pinning infinite loop on one corrupt record
    val poison = {
      val bb = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(24)
        .put("WAVE".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF0)
        .put("data".getBytes("US-ASCII")).putInt(4).putInt(0x11223344)
      bb.array()
    }
    // the poisoned chunk clamps to the rest of the file, so the buried
    // data chunk is unreachable — every probe reports the safe default
    assert(Multimodal.Codecs.pcm16(poison).isEmpty)
    assert(Multimodal.Codecs.zcrWav(poison) === ((0L, 0L, 0L)))
    assert(Multimodal.Codecs.autocorrWav(poison) === ((0, 0L, 0L)))
    assert(Multimodal.Codecs.fingerprintWav(poison).forall(_ == '0'))
    // an over-claiming data length (says 2^31-8 bytes, has 4): the clamp
    // reads only the samples that exist instead of throwing
    val overClaim = {
      val bb = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(Int.MaxValue - 7)
        .putShort(100).putShort(-100)
      bb.array()
    }
    assert(Multimodal.Codecs.pcm16(overClaim).toSeq === Seq(100L, -100L))
    // two samples, one sign flip, none below 10% of the peak
    assert(Multimodal.Codecs.zcrWav(overClaim) === ((2L, 1L, 0L)))
  }

  test("resizePpm: nearest-neighbor gather emits a valid P6 of the source pixels") {
    // 4x2 image whose pixels encode their (x, y) position
    val header = "P6\n4 2\n255\n".getBytes("US-ASCII")
    val pixels = (0 until 2).flatMap(y => (0 until 4).flatMap(x =>
      Seq((10 * x + y).toByte, (100 + 10 * x + y).toByte, (200 + x).toByte))).toArray
    // nearest-neighbor: target (0,0)→source (0,0); target (1,0)→source (2,0)
    val kept = Seq(0, 100, 200, 20, 120, 202).map(_.toByte)
    assert(Multimodal.Codecs.resizePpm(header ++ pixels, 2, 1).toSeq ===
      ("P6\n2 1\n255\n".getBytes("US-ASCII") ++ kept).toSeq)
  }

  test("aHash: quadrant image hashes to the hand-computed bitstring") {
    // 2x2 gray quadrants 10/20/30/40: resized to 8x8, each quadrant fills
    // a 4x4 block; mean = 25, so only the 30 and 40 quadrants set bits
    def gray(g: Int) = Seq(g.toByte, g.toByte, g.toByte)
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      (gray(10) ++ gray(20) ++ gray(30) ++ gray(40)).toArray
    val h = Multimodal.Codecs.aHashPpm(img)
    assert(h === "0" * 32 + "1" * 32)
  }

  test("aHash: resolution-invariant under pixel doubling; small edit flips few bits") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8 * 8 * 3)(rnd.nextInt(256).toByte)
    // pin the last pixel to gray 0 so the edit below provably crosses the mean
    base(base.length - 1) = 0; base(base.length - 2) = 0; base(base.length - 3) = 0
    val small = "P6\n8 8\n255\n".getBytes("US-ASCII") ++ base
    // 16x16 by 2x2 block replication: nearest-neighbor resize back to 8x8
    // samples the top-left of each block, reproducing the original
    val doubledPix = (0 until 16).flatMap { y =>
      (0 until 16).flatMap { x =>
        val so = ((y / 2) * 8 + (x / 2)) * 3
        Seq(base(so), base(so + 1), base(so + 2))
      }
    }.toArray
    val doubled = "P6\n16 16\n255\n".getBytes("US-ASCII") ++ doubledPix
    assert(Multimodal.Codecs.aHashPpm(small) === Multimodal.Codecs.aHashPpm(doubled))
    // flip one pixel to the extreme: at most a few bits change
    val edited = small.clone()
    edited(edited.length - 1) = 255.toByte
    edited(edited.length - 2) = 255.toByte
    edited(edited.length - 3) = 255.toByte
    val d = Multimodal.Codecs.aHashPpm(small).zip(Multimodal.Codecs.aHashPpm(edited))
      .count { case (a, b) => a != b }
    assert(d >= 1 && d <= 4, s"one-pixel edit should flip few bits, flipped $d")
  }

  test("grayHist: quadrant image lands one quadrant per bin; mean exact") {
    // 2x2 gray quadrants 10/70/140/210 → one pixel in each bin;
    // mean = (10+70+140+210)/4 = 107 (integer floor)
    def gray(g: Int) = Seq(g.toByte, g.toByte, g.toByte)
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      (gray(10) ++ gray(70) ++ gray(140) ++ gray(210)).toArray
    assert(Multimodal.Codecs.grayHistPpm(img) === ((1L, 1L, 1L, 1L, 107L)))
    // truncated payload: missing pixels read black (bin 0), no crash
    val cut = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ gray(210).toArray
    assert(Multimodal.Codecs.grayHistPpm(cut) === ((3L, 0L, 0L, 1L, 52L)))
    // crafted headers over one pixel (10,20,30): every declared pixel
    // counts, the unbacked ones as black, in Long — the pixel count
    // neither wraps (65536² = 2³²) nor overflows a byte offset
    def crafted(w: Int, h: Int) =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30)
    assert(Multimodal.Codecs.grayHistPpm(crafted(100000, 100000)) ===
      ((10000000000L, 0L, 0L, 0L, 0L)))
    assert(Multimodal.Codecs.grayHistPpm(crafted(30000, 30000)) ===
      ((900000000L, 0L, 0L, 0L, 0L)))
    assert(Multimodal.Codecs.grayHistPpm(crafted(65536, 65536)) ===
      ((4294967296L, 0L, 0L, 0L, 0L)))
  }

  test("dHash: gradient direction sets bits; invariant to brightness shift") {
    // 9x8 source resizes to 9x8 identically; a left-to-right DECREASING
    // gradient sets every bit, increasing sets none
    def img(g: (Int, Int) => Int): Array[Byte] =
      "P6\n9 8\n255\n".getBytes("US-ASCII") ++
        (0 until 8).flatMap(y => (0 until 9).flatMap { x =>
          val v = g(x, y).toByte; Seq(v, v, v)
        }).toArray
    assert(Multimodal.Codecs.dHashPpm(img((x, _) => 90 - x * 10)) === "1" * 64)
    assert(Multimodal.Codecs.dHashPpm(img((x, _) => x * 10)) === "0" * 64)
    // monotone brightness change preserves the gradient signature — the
    // invariance aHash does not have
    val base = img((x, y) => 10 + ((x * 7 + y * 13) % 80))
    val brighter = img((x, y) => 110 + ((x * 7 + y * 13) % 80))
    assert(Multimodal.Codecs.dHashPpm(base) === Multimodal.Codecs.dHashPpm(brighter))
  }

  test("zcrWav: hand-computed crossings with DC removal; degenerate clips") {
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    // alternating square wave: 3 sign flips, nothing below 10% of peak
    assert(Multimodal.Codecs.zcrWav(wav(Seq[Short](10, -10, 10, -10))) === ((4L, 3L, 0L)))
    // same wave riding a +100 DC offset: centering must recover the flips
    assert(Multimodal.Codecs.zcrWav(wav(Seq[Short](110, 90, 110, 90))) === ((4L, 3L, 0L)))
    // constant signal: centered to all-zero, no crossings, zero peak
    assert(Multimodal.Codecs.zcrWav(wav(Seq[Short](5, 5, 5, 5))) === ((4L, 0L, 0L)))
    // loud symmetric pair + near-silence (zero mean, so c = 8·s): peak
    // 8000, quiet slots are |s| < 100 → the six small samples; crossings
    // at the four leading sign flips (zero counts as non-negative)
    val mixed = Seq[Short](1000, -1000, 10, -10, 0, 0, 0, 0)
    assert(Multimodal.Codecs.zcrWav(wav(mixed)) === ((8L, 4L, 6L)))
    // empty data chunk: all-zero report, no crash
    assert(Multimodal.Codecs.zcrWav(wav(Seq.empty)) === ((0L, 0L, 0L)))
  }

  test("videoFrameStats: real frame walk, stride sampling, garbage tail stops the walk") {
    def frame(gray: Int): Array[Byte] =
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(12)(gray.toByte)
    val clip = frame(10) ++ frame(30)
    // stride 1 keeps both frames: kept gray sum = 4·10 + 4·30 = 160
    assert(Multimodal.Codecs.videoFrameStats(clip, 1) ===
      ((2L, 2L, 160L, 46L, 46L)))
    // stride 2 keeps frame 0 only; bytes_kept = one 23-byte frame
    assert(Multimodal.Codecs.videoFrameStats(clip, 2) ===
      ((2L, 1L, 40L, 46L, 23L)))
    // a garbage tail is not a P6 header → the walk stops cleanly
    val withTail = clip ++ "XX".getBytes("US-ASCII")
    assert(Multimodal.Codecs.videoFrameStats(withTail, 1) ===
      ((2L, 2L, 160L, 48L, 46L)))
    // empty payload: nothing to walk
    assert(Multimodal.Codecs.videoFrameStats(Array.empty[Byte], 1) ===
      ((0L, 0L, 0L, 0L, 0L)))
  }

  test("videoKeyframes: shot boundary detected at the right frame; static clip keeps one keyframe") {
    def frame(gray: Int): Array[Byte] =
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(12)(gray.toByte)
    // cut between frames 1 and 2 (gray 10 → 200), plus a small shift
    // below the threshold-10 line between frames 2 and 3 (200 → 205)
    val clip = frame(10) ++ frame(10) ++ frame(200) ++ frame(205)
    assert(Multimodal.Codecs.videoKeyframes(clip, 10L) === ((4L, 2L, 190L, 2L)))
    // at threshold 1 the small shift also keys
    assert(Multimodal.Codecs.videoKeyframes(clip, 1L) === ((4L, 3L, 190L, 2L)))
    // static clip: one keyframe, no change frame
    val static = frame(50) ++ frame(50) ++ frame(50)
    assert(Multimodal.Codecs.videoKeyframes(static, 1L) === ((3L, 1L, 0L, -1L)))
    // empty payload: nothing to walk
    assert(Multimodal.Codecs.videoKeyframes(Array.empty[Byte], 1L) === ((0L, 0L, 0L, -1L)))
  }

  test("entropyPpm: flat fill scores zero; a two-level plane scores exactly quantized ln 2") {
    def plane(pix: Array[Byte]): Array[Byte] = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ pix
    // flat: all four pixels gray 50 → one level, entropy 0
    assert(Multimodal.Codecs.entropyPpm(plane(Array.fill(12)(50.toByte))) === ((1L, 0L)))
    // two levels 50/50: each p = 1/2 → 2 · round(0.5·ln2·10⁴) = 2·3466
    val two = plane(Array.fill(6)(50.toByte) ++ Array.fill(6)(200.toByte))
    assert(Multimodal.Codecs.entropyPpm(two) ===
      ((2L, 2L * math.round(0.5 * math.log(2.0) * 10000))))
    // malformed header: nothing to scan
    assert(Multimodal.Codecs.entropyPpm("XX".getBytes("US-ASCII")) === ((0L, 0L)))
    // crafted headers over one pixel (10,20,30): gray 20 once, black for
    // the rest of the declared plane — two levels, each term rounds to 0
    for ((w, h) <- Seq((100000, 100000), (30000, 30000), (65536, 65536))) {
      val crafted = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30)
      assert(Multimodal.Codecs.entropyPpm(crafted) === ((2L, 0L)), s"${w}x$h")
    }
  }

  test("bordersPpm: letterbox trims under the relative threshold; flat plane trims nothing") {
    def img(w: Int, h: Int)(g: (Int, Int) => Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
        (0 until h).flatMap(y => (0 until w).flatMap { x =>
          val v = g(x, y).toByte; Seq(v, v, v)
        }).toArray
    // 6×5: first/last rows and first two cols are black, interior 200 —
    // row-dark ⟺ 10·s < 2400, col-dark ⟺ 12·s < 2400 (hand-checked)
    val boxed = img(6, 5)((x, y) =>
      if (y == 0 || y == 4 || x < 2) 0 else 200)
    assert(Multimodal.Codecs.bordersPpm(boxed) === ((6L, 5L, 1L, 1L, 2L, 0L)))
    // flat plane: no line is strictly below half the mean → zero trims
    assert(Multimodal.Codecs.bordersPpm(img(6, 5)((_, _) => 50)) ===
      ((6L, 5L, 0L, 0L, 0L, 0L)))
  }

  test("silenceWav: run segmentation, lead/tail trims, degenerate clips") {
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    // zero-mean clip: c = 8·s, peak 8000, quiet = |s| < 100. Quiet runs:
    // head {0,0}, middle {10,-10}, tail {0,0} → 3 runs, longest 2,
    // lead 2, tail 2; six quiet samples total
    val clip = Seq[Short](0, 0, 1000, 10, -10, -1000, 0, 0)
    assert(Multimodal.Codecs.silenceWav(wav(clip)) ===
      ((8L, 6L, 3L, 2L, 2L, 2L)))
    // all-loud alternating wave: no quiet anywhere, zero trims
    assert(Multimodal.Codecs.silenceWav(wav(Seq[Short](10, -10, 10, -10))) ===
      ((4L, 0L, 0L, 0L, 0L, 0L)))
    // constant clip: peak 0, the strict < keeps every sample LOUD (the
    // zcrWav quiet convention) → no runs, no trims
    assert(Multimodal.Codecs.silenceWav(wav(Seq[Short](5, 5, 5, 5))) ===
      ((4L, 0L, 0L, 0L, 0L, 0L)))
    // empty data chunk: all-zero report, no crash
    assert(Multimodal.Codecs.silenceWav(wav(Seq.empty)) ===
      ((0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("clippingWav: flat-top plateau reads as one long hot run") {
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    // zero-mean clip: c = 8·s, peak 8000 (n-scaled), hot = |c| >= 7200:
    // two flat-top plateaus of 3 → 6 hot samples, 2 runs, longest 3
    val clipped = Seq[Short](0, 1000, 1000, 1000, 0, -1000, -1000, -1000)
    assert(Multimodal.Codecs.clippingWav(wav(clipped)) ===
      ((8L, 8000L, 6L, 2L, 3L)))
    // transients: c = 6·s, peak 6000, hot = |c| >= 5400 — the isolated
    // peaks at 0/5 are 1-runs, the adjacent ±pair at 2..3 one 2-run
    // (the hot test is sign-blind: runs measure time at peak amplitude)
    assert(Multimodal.Codecs.clippingWav(wav(Seq[Short](1000, 0, 1000, -1000, 0, -1000))) ===
      ((6L, 6000L, 4L, 3L, 2L)))
    // constant clip: peak 0, the >= convention reads all samples hot —
    // the degenerate twin of silenceWav's all-quiet
    assert(Multimodal.Codecs.clippingWav(wav(Seq[Short](5, 5, 5, 5))) ===
      ((4L, 0L, 4L, 1L, 4L)))
    assert(Multimodal.Codecs.clippingWav(wav(Seq.empty)) ===
      ((0L, 0L, 0L, 0L, 0L)))
  }

  test("phash pipeline: duplicate texts cluster, distinct text stands alone") {
    val docs = Seq(
      (1L, "same words here all along the row"),
      (2L, "same words here all along the row"),
      (3L, "a completely different document body"))
      .toDF("doc_id", "text")
    val got = Multimodal.phash(spark, docs)
      .as[(Long, String, Long)].collect().sortBy(_._1).toList
    assert(got.map(_._3) === List(2L, 2L, 1L))
    assert(got(0)._2 === got(1)._2)
    assert(got(0)._2 !== got(2)._2)
    assert(got.forall(_._2.length === 64))
  }

  test("wav fingerprint: hand-computed energy bits; negative samples count; short clip silent") {
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => bb.putShort(s))
      bb.array()
    }
    // windows of 4: energies 0, 40000, 40000 (sign-squared), 100; mean 20025
    val samples = Seq[Short](0, 0, 0, 0, 100, 100, 100, 100, -200, 0, 0, 0, 10, 0, 0, 0)
    assert(Multimodal.Codecs.fingerprintWav(wav(samples), windows = 4) === "0110")
    // clip shorter than the window grid: all-silent signature, no crash
    assert(Multimodal.Codecs.fingerprintWav(wav(Seq[Short](5, 5, 5)), windows = 4) === "0000")

    // autocorrelation on a period-2 square wave: R0 = 8·100 = 800,
    // R(1) = 7·(−100) = −700, R(2) = 6·100 = 600, R(3) = 5·(−100) = −500
    val sq = Seq[Short](10, -10, 10, -10, 10, -10, 10, -10)
    assert(Multimodal.Codecs.autocorrWav(wav(sq), maxLag = 3) === ((2, 600L, 800L)))
    // silence: every R(L) = 0 — first-occurrence argmax picks lag 1
    assert(Multimodal.Codecs.autocorrWav(wav(Seq.fill(6)(0: Short)), maxLag = 3) === ((1, 0L, 0L)))
    // empty data chunk: (0, 0, 0), no crash
    assert(Multimodal.Codecs.autocorrWav(wav(Seq.empty), maxLag = 3) === ((0, 0L, 0L)))
  }

  test("resize of a truncated PPM yields black for missing pixels, not a crash") {
    // header claims 4x2 but only one pixel of data follows
    val truncated = "P6\n4 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30)
    val out = Multimodal.Codecs.resizePpm(truncated, 2, 2)
    // only target (0,0) maps to the one existing source pixel; rest black
    assert(out.toSeq ===
      ("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30) ++
        Array.fill[Byte](9)(0)).toSeq)
  }

  test("pcm16: the last data chunk wins; a missing one gives no samples") {
    def wav(extraEmptyData: Boolean, withData: Boolean): Array[Byte] = {
      val frames = (0 until 4).map(i => (i * 100).toShort)
      val dataBytes = if (withData) frames.length * 2 else 0
      val extra = if (extraEmptyData) 8 else 0
      val bb = java.nio.ByteBuffer.allocate(44 + extra + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(1.toShort).putInt(8000).putInt(16000)
        .putShort(2.toShort).putShort(16.toShort)
      if (extraEmptyData) bb.put("data".getBytes("US-ASCII")).putInt(0)
      if (withData) {
        bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
        frames.foreach(bb.putShort)
      }
      bb.array()
    }
    // a stray zero-length data chunk precedes the real one: the samples
    // come from the LAST chunk, for the reader and for every probe on it
    val stray = wav(extraEmptyData = true, withData = true)
    assert(Multimodal.Codecs.pcm16(stray).toSeq === Seq(0L, 100L, 200L, 300L))
    // centered 4·s − 600 = (−600, −200, 200, 600): one sign flip, peak 600
    assert(Multimodal.Codecs.zcrWav(stray) === ((4L, 1L, 0L)))
    // no data chunk at all: no samples, not a crash
    val missing = wav(extraEmptyData = false, withData = false)
    assert(Multimodal.Codecs.pcm16(missing).isEmpty)
    assert(Multimodal.Codecs.zcrWav(missing) === ((0L, 0L, 0L)))
  }

  test("decode stub: deterministic features from payload bytes") {
    val docs = Seq((3L, "x" * 100)).toDF("doc_id", "text")
    val f = Multimodal.decodeFeatures(spark, Multimodal.asMediaRecords(docs)).collect().head
    assert(f.n_bytes === 100L)
    assert(f.width === 64 + 100 % 64)
    assert(f.height === 64 + (100 / 7) % 64)
    assert(f.frames === 1 + 100 % 8)
    assert(f.media_type === "image") // doc_id 3 % 3 == 0
    // md5 of 100 'x' bytes — fixed
    assert(f.checksum.length === 32)
    val rerun = Multimodal.decodeFeatures(spark, Multimodal.asMediaRecords(docs)).collect().head
    assert(f === rerun)
  }

  test("phashCanonical: quality rule picks the highest-entropy member per cluster") {
    // docs 1/2 are byte-identical images (one cluster, tied entropy →
    // id tie-break keeps 1); doc 3 is a singleton and stays its own
    // canonical. The argmax/flag logic is the unit under test — entropy
    // itself is pinned by the entropyPpm spec.
    val docs = Seq(
      (1L, "repeated payload text"),
      (2L, "repeated payload text"),
      (3L, "zq zq zq zq zq zq zq zq zq"))
      .toDF("doc_id", "text")
    val ent = Multimodal.imageEntropy(spark, docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val got = Multimodal.phashCanonical(spark, docs)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 2L, 1L, ent(1L), 0L),
      (3L, 1L, 3L, ent(3L), 0L)))
  }

  test("imageNearDupClusters: identical texts hash to one cluster, distinct text stays canonical") {
    // same text → byte-identical PPM → hamming 0 pair (1,2); doc 3's
    // image is far from both, so it remains its own singleton cluster
    val docs = Seq(
      (1L, "repeated payload text"),
      (2L, "repeated payload text"),
      (3L, "zq zq zq zq zq zq zq zq zq"))
      .toDF("doc_id", "text")
    val got = Multimodal.imageNearDupClusters(spark, docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 1L, 1L, 2L),
      (2L, 1L, 0L, 2L),
      (3L, 3L, 1L, 1L)))
  }
}
