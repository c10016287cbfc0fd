package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, read by codecs in batched `mapPartitions` stages.
  *
  * [[Codecs]] holds one pure-JVM reader per media format whose layout is
  * header arithmetic: binary PPM (P6) images, concatenated-P6 video clips
  * and 16-bit PCM WAV audio. No native library is needed, and each probe
  * is pinned byte-exactly in MultimodalSpec. The registered queries build
  * those payloads from the document text ([[asPpmImages]],
  * [[asVideoClips]], [[asWavAudio]]), so the SQL oracle can replay them.
  * `mm_decode_features` and `mm_type_stats` run [[DecodeStub]] instead,
  * which derives deterministic fake features from any payload's size and
  * hash.
  *
  * Scale notes: media blobs ride in their own column so parquet column
  * pruning keeps metadata-only queries from ever reading the bytes;
  * `mapPartitions` amortizes per-batch codec setup (the reason this is not
  * a per-row UDF); decode output is narrow (metadata + features), so the
  * wide binary never shuffles.
  */
object Multimodal {

  /** A media record: opaque payload + metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Deterministic decode result (the stubbed "codec" output). */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Long,
      height: Long,
      frames: Long,
      checksum: String)

  /** STUB decoder: a real implementation would parse image/audio headers
    * here (one codec instance per partition, reused across the batch).
    * The fake derives all "decoded" properties purely from payload size
    * and content hash, so it is exactly reproducible by the SQL oracle.
    */
  object DecodeStub {
    def decode(r: MediaRecord): MediaFeatures = {
      val n = r.payload.length.toLong
      val md = java.security.MessageDigest.getInstance("MD5")
      val checksum = md.digest(r.payload).map("%02x".format(_)).mkString
      MediaFeatures(
        doc_id = r.doc_id,
        media_type = r.media_type,
        n_bytes = n,
        width = 64 + n % 64,
        height = 64 + (n / 7) % 64,
        frames = 1 + n % 8,
        checksum = checksum)
    }
  }

  /** Pure-JVM readers for the formats whose layout is header arithmetic
    * plus byte math: binary PPM (P6) images, concatenated-P6 clips and
    * 16-bit PCM WAV audio. Each building block has one definition here:
    * the little-endian reads, the P6 header, the gray read, the clamped
    * RIFF walk, the PCM sample load, DC removal and the multi-frame walk.
    * Every probe is total: a truncated or crafted payload reads as a
    * defined result, never a task failure, because one corrupt record
    * must never fail the job.
    */
  object Codecs {

    private def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    /** Parsed P6 header of the frame at `start`: (width, height, maxval,
      * absolute pixel-data offset).
      */
    private[multimodal] def ppmHeader(
        bytes: Array[Byte], start: Int = 0): (Long, Long, Long, Int) = {
      var i = start + 2
      def skipSpace(): Unit = {
        while (i < bytes.length &&
          (Character.isWhitespace(bytes(i)) || bytes(i) == '#')) {
          if (bytes(i) == '#') while (i < bytes.length && bytes(i) != '\n') i += 1
          else i += 1
        }
      }
      def int(): Long = {
        skipSpace()
        var v = 0L
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        v
      }
      val w = int(); val h = int(); val maxval = int()
      i += 1 // the single whitespace byte after maxval
      (w, h, maxval, i)
    }

    /** Integer gray `(r+g+b)/3` of the RGB triple at byte offset `o`. A
      * pixel the payload does not fully back reads as black (0), like
      * [[resizePpm]]'s missing pixels.
      */
    private def gray(b: Array[Byte], o: Long): Int =
      if (o >= 0 && o + 2 < b.length) {
        val i = o.toInt
        ((b(i) & 0xff) + (b(i + 1) & 0xff) + (b(i + 2) & 0xff)) / 3
      } else 0

    /** REAL nearest-neighbor image resize for binary PPM — emits a valid
      * P6 whose pixel (x, y) is the source pixel (x·w/newW, y·h/newH).
      * Pure byte gather; the resize step of [[aHashPpm]] and [[dHashPpm]].
      */
    def resizePpm(bytes: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
      val (w, h, maxval, off) = ppmHeader(bytes)
      val header = s"P6\n$newW $newH\n$maxval\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + newW * newH * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var y = 0; var o = header.length
      while (y < newH) {
        val sy = (y.toLong * h / newH)
        var x = 0
        while (x < newW) {
          val sx = (x.toLong * w / newW)
          // Long index + bounds guard: a truncated payload (header claims
          // more pixels than the bytes carry) or a >715M-pixel image
          // (Int overflow in the offset math) must yield black pixels for
          // the missing range, not crash the executor
          val so = off.toLong + (sy * w + sx) * 3
          if (so >= 0 && so + 2 < bytes.length) {
            out(o) = bytes(so.toInt); out(o + 1) = bytes(so.toInt + 1)
            out(o + 2) = bytes(so.toInt + 2)
          }
          o += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** Average-hash (aHash) perceptual signature of a binary PPM: REAL
      * nearest-neighbor resize to 8×8 ([[resizePpm]]), integer gray
      * `(r+g+b)/3` per pixel, bit i set iff `64·gray_i > Σgray`
      * (strictly above the mean, exact integers throughout), emitted as
      * a 64-char row-major bitstring — string form so the signature is
      * sign-free and trivially comparable across engines. The classic
      * perceptual-dedup property holds by construction: the same image
      * at different resolutions hashes equal (nearest-neighbor resize
      * commutes), and a small edit flips only the bits whose cells it
      * touches, so near-dup detection is a Hamming-distance bucket join
      * — the same machinery as [[graft.dedup.Dedup]]'s SimHash pairs,
      * now fed by pixels instead of tokens.
      */
    def aHashPpm(bytes: Array[Byte]): String = {
      val small = resizePpm(bytes, 8, 8)
      val (_, _, _, off) = ppmHeader(small)
      val grays = new Array[Long](64)
      var i = 0
      var sum = 0L
      while (i < 64) {
        val g = gray(small, off + i * 3)
        grays(i) = g
        sum += g
        i += 1
      }
      val sb = new java.lang.StringBuilder(64)
      i = 0
      while (i < 64) {
        sb.append(if (64L * grays(i) > sum) '1' else '0')
        i += 1
      }
      sb.toString
    }

    /** Difference-hash (dHash) signature of a binary PPM: REAL
      * nearest-neighbor resize to 9×8 ([[resizePpm]]), integer gray per
      * pixel, bit (r,c) set iff `gray(r,c) > gray(r,c+1)` — the
      * horizontal-gradient signature. Complements [[aHashPpm]]: aHash
      * keys on absolute brightness vs the mean (flips under global
      * brightness shifts near the mean), dHash keys on LOCAL gradients
      * (invariant to any monotone brightness change), so the two
      * disagree on different edit classes — running both is the image
      * analogue of the SimHash+MinHash method-agreement matrix.
      */
    def dHashPpm(bytes: Array[Byte]): String = {
      val small = resizePpm(bytes, 9, 8)
      val (_, _, _, off) = ppmHeader(small)
      val grays = new Array[Long](72)
      var i = 0
      while (i < 72) {
        grays(i) = gray(small, off + i * 3)
        i += 1
      }
      val sb = new java.lang.StringBuilder(64)
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          sb.append(if (grays(r * 9 + c) > grays(r * 9 + c + 1)) '1' else '0')
          c += 1
        }
        r += 1
      }
      sb.toString
    }

    /** Shared RIFF chunk walk: yields (chunk id, body offset, body
      * length) with the declared 32-bit length CLAMPED to the bytes that
      * actually exist. The clamp is the corrupt-input guard every walker
      * needs: a chunk length ≥ 2³¹ turns `len.toInt` negative and steps
      * the cursor BACKWARDS (an executor spinning forever on one
      * record), and an over-claiming length walks reads past the buffer.
      * Clamped, the cursor advances ≥ 8 bytes per chunk, so the walk
      * always terminates.
      */
    private def walkRiff(bytes: Array[Byte])(f: (String, Int, Long) => Unit): Unit = {
      var o = 12
      while (o + 8 <= bytes.length) {
        val id = new String(bytes, o, 4, "US-ASCII")
        val len = math.min(le32(bytes, o + 4), (bytes.length - o - 8).toLong)
        f(id, o + 8, len)
        o += 8 + len.toInt + (len.toInt & 1)
      }
    }

    /** The signed 16-bit samples of a PCM WAV, read over [[walkRiff]]: the
      * fmt chunk gives the bits per sample (a clip with no fmt chunk is
      * read as 16-bit), the LAST data chunk holds the samples, and only
      * the samples whose bytes exist are loaded. A non-16-bit clip or a
      * missing data chunk gives no samples.
      */
    def pcm16(bytes: Array[Byte]): Array[Long] = {
      var bits = 16
      var dataOff = -1; var dataLen = 0L
      walkRiff(bytes) { (id, off, len) =>
        if (id == "fmt " && len >= 16) bits = le16(bytes, off + 14)
        else if (id == "data") { dataOff = off; dataLen = len }
      }
      val n =
        if (dataOff < 0 || bits != 16) 0
        else math.min(dataLen / 2, (bytes.length - dataOff).toLong / 2).toInt
      val s = new Array[Long](n)
      var i = 0
      while (i < n) { s(i) = le16(bytes, dataOff + 2 * i).toShort.toLong; i += 1 }
      s
    }

    /** DC removal in exact integers: over the n samples the CENTERED
      * signal is `n·sᵢ − Σs` (scaling by n keeps it integral; its sign
      * pattern equals that of sᵢ − mean). Returns (Σs, max |n·sᵢ − Σs|).
      */
    private def centered(s: Array[Long]): (Long, Long) = {
      val n = s.length.toLong
      var sum = 0L
      var i = 0
      while (i < s.length) { sum += s(i); i += 1 }
      var peak = 0L
      i = 0
      while (i < s.length) {
        val c = math.abs(n * s(i) - sum)
        if (c > peak) peak = c
        i += 1
      }
      (sum, peak)
    }

    /** Energy fingerprint of a 16-bit PCM WAV — the audio twin of
      * [[aHashPpm]]: the [[pcm16]] sample stream is split into `windows`
      * equal windows (tail samples beyond an even split are ignored), each
      * window's energy is the exact integer Σ s², and bit w is set iff
      * `windows·E_w > ΣE` — strictly above the mean energy. Emitted as a
      * `windows`-char bitstring: a loudness *shape* signature, invariant
      * to where in the stream the energy sits only up to window
      * granularity, so time-shifted copies collide and silence never
      * matches speech.
      */
    def fingerprintWav(bytes: Array[Byte], windows: Int = 64): String = {
      val s = pcm16(bytes)
      val per = s.length / windows
      val sb = new java.lang.StringBuilder(windows)
      if (per == 0) { // too short for the window grid: all-silent signature
        var w = 0
        while (w < windows) { sb.append('0'); w += 1 }
        return sb.toString
      }
      val energies = new Array[Long](windows)
      var total = 0L
      var w = 0
      while (w < windows) {
        var e = 0L
        var k = 0
        while (k < per) {
          val x = s(w * per + k)
          e += x * x
          k += 1
        }
        energies(w) = e
        total += e
        w += 1
      }
      w = 0
      while (w < windows) {
        sb.append(if (windows.toLong * energies(w) > total) '1' else '0')
        w += 1
      }
      sb.toString
    }

    /** Exact integer autocorrelation of a 16-bit PCM WAV: over the
      * [[pcm16]] samples, `R(L) = Σ s[i]·s[i+L]` for L = 1..maxLag with
      * `R(0)` as the energy reference. Returns (bestLag, rBest, r0) where
      * bestLag is the SMALLEST lag attaining the max (first-occurrence
      * argmax, the deterministic tie-break) — the classic dominant-period
      * probe behind pitch detection and buzz/hum QA, kept in pure integer
      * math so every engine agrees bit-for-bit. An empty or non-16-bit
      * clip reports (0, 0, 0).
      */
    def autocorrWav(bytes: Array[Byte], maxLag: Int = 32): (Int, Long, Long) = {
      val s = pcm16(bytes)
      val n = s.length
      if (n == 0) return (0, 0L, 0L)
      var r0 = 0L
      var i = 0
      while (i < n) { r0 += s(i) * s(i); i += 1 }
      var bestLag = 0; var rBest = Long.MinValue
      var lag = 1
      while (lag <= maxLag) {
        var r = 0L
        i = 0
        while (i + lag < n) { r += s(i) * s(i + lag); i += 1 }
        if (r > rBest) { rBest = r; bestLag = lag }
        lag += 1
      }
      (bestLag, rBest, r0)
    }

    /** Gray-level histogram of a binary PPM plane: 256 counts over the
      * declared w·h pixels, and that pixel count. Only the pixels the
      * payload backs are read; the rest count as black (level 0)
      * arithmetically, so a header that claims more pixels than the bytes
      * carry costs no more than the bytes do. A zero dimension, or a w·h
      * that overflows a Long, is an empty plane.
      */
    private def grayLevels(bytes: Array[Byte]): (Array[Long], Long) = {
      val (w, h, _, off) = ppmHeader(bytes)
      val n = if (w <= 0 || h <= 0 || w > Long.MaxValue / h) 0L else w * h
      val counts = new Array[Long](256)
      val backed = math.min(n, math.max(0L, (bytes.length - off).toLong) / 3)
      var i = 0L
      while (i < backed) { counts(gray(bytes, off + 3 * i)) += 1; i += 1 }
      counts(0) += n - backed
      (counts, n)
    }

    /** 4-bin gray histogram + exact integer mean over a binary PPM's
      * full pixel plane ([[grayLevels]]) — the exposure/contrast QA probe
      * (everything in bin 0 = black frame, everything in one bin =
      * flat/synthetic image). Bins are gray>>6 (0–63, 64–127, 128–191,
      * 192–255); gray = (r+g+b)/3 integer, same as the hash codecs.
      */
    def grayHistPpm(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
      val (counts, n) = grayLevels(bytes)
      val bins = new Array[Long](4)
      var sum = 0L
      var g = 0
      while (g < 256) {
        bins(g >> 6) += counts(g)
        sum += g * counts(g)
        g += 1
      }
      (bins(0), bins(1), bins(2), bins(3), if (n == 0) 0L else sum / n)
    }

    /** Gray-level entropy over a binary PPM plane ([[grayLevels]]) — the
      * image twin of the per-document character entropy (flat synthetic
      * fills and single-color frames score near 0; busy natural planes
      * approach ln of the distinct-level count): per gray level g present,
      * `round(−(cnt/n)·ln(cnt/n)·10⁴)` summed in ascending gray order
      * (quantize-then-sum — identical terms in both engines). Returns
      * (n_gray_levels, entropy_e4); truncated payloads read as black
      * like the other plane walks.
      */
    def entropyPpm(bytes: Array[Byte]): (Long, Long) = {
      val (counts, n) = grayLevels(bytes)
      if (n == 0) return (0L, 0L)
      var levels = 0L
      var ent = 0L
      var g = 0
      while (g < 256) {
        val c = counts(g)
        if (c > 0) {
          levels += 1
          val p = c.toDouble / n
          ent += math.round(-p * math.log(p) * 10000)
        }
        g += 1
      }
      (levels, ent)
    }

    /** DC-removed zero-crossing and quiet-fraction probe for 16-bit PCM
      * WAV — over the n [[pcm16]] samples and their [[centered]] signal
      * `s'ᵢ = n·sᵢ − Σs`: `n_crossings` counts adjacent sign flips (the
      * voiced/unvoiced + buzz frequency probe) and `n_quiet` counts
      * samples with `10·|s'ᵢ| < max|s'|` (below 10% of peak amplitude —
      * the silence-trim readout). An empty or non-16-bit clip reports
      * (0, 0, 0).
      */
    def zcrWav(bytes: Array[Byte]): (Long, Long, Long) = {
      val s = pcm16(bytes)
      if (s.isEmpty) return (0L, 0L, 0L)
      val n = s.length.toLong
      val (sum, peak) = centered(s)
      var crossings = 0L
      var quiet = 0L
      var i = 0
      while (i < s.length) {
        val c = n * s(i) - sum
        if (i > 0 && ((c >= 0) != ((n * s(i - 1) - sum) >= 0))) crossings += 1
        if (10L * math.abs(c) < peak) quiet += 1
        i += 1
      }
      (n, crossings, quiet)
    }

    /** Silence-run segmentation over the real WAV path — the same
      * DC-removed quiet test as [[zcrWav]] (10·|n·x − Σx| < peak), read
      * as RUNS: (n_samples, n_quiet, n_runs, longest_run, lead_quiet,
      * tail_quiet). lead/tail are the head/trail quiet sample counts —
      * exactly what a silence-trim stage would cut; n_runs vs n_quiet
      * separates "one long dropout" from "choppy dropouts".
      */
    def silenceWav(bytes: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
      val s = pcm16(bytes)
      if (s.isEmpty) return (0L, 0L, 0L, 0L, 0L, 0L)
      val n = s.length.toLong
      val (sum, peak) = centered(s)
      var nQuiet = 0L; var nRuns = 0L; var longest = 0L; var cur = 0L
      var firstLoud = -1L; var lastLoud = -1L
      var i = 0
      while (i < s.length) {
        if (10L * math.abs(n * s(i) - sum) < peak) {
          cur += 1
          if (cur == 1) nRuns += 1
          if (cur > longest) longest = cur
          nQuiet += 1
        } else {
          cur = 0
          if (firstLoud < 0) firstLoud = i
          lastLoud = i
        }
        i += 1
      }
      val lead = if (firstLoud < 0) n else firstLoud
      val tail = if (lastLoud < 0) n else n - 1 - lastLoud
      (n, nQuiet, nRuns, longest, lead, tail)
    }

    /** Clipping / limiter-plateau probe over the real WAV path — the
      * same DC-removed samples as [[zcrWav]], read at the TOP of
      * the amplitude range: a sample is HOT when `10·|n·x − Σx| ≥ 9·peak`
      * (within 10 % of the clip's own peak — relative, so it detects
      * post-normalization clipping where a fixed full-scale test reads
      * nothing). Returns (n_samples, peak_abs, n_hot, hot_runs,
      * longest_hot_run); `peak_abs` is in the same n-scaled centered
      * units as the test (`max n·|x − mean|`). Genuine clipping shows as
      * LONG runs (flat-top plateaus), a healthy transient as 1-sample
      * runs; the test is sign-blind, so runs measure consecutive time at
      * peak amplitude whatever the polarity. A constant
      * clip (peak 0) reads all-hot by the ≥ convention — the degenerate
      * twin of [[silenceWav]]'s all-quiet. Empty/non-16-bit → zeros.
      */
    def clippingWav(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
      val s = pcm16(bytes)
      if (s.isEmpty) return (0L, 0L, 0L, 0L, 0L)
      val n = s.length.toLong
      val (sum, peak) = centered(s)
      var nHot = 0L; var runs = 0L; var longest = 0L; var cur = 0L
      var i = 0
      while (i < s.length) {
        if (10L * math.abs(n * s(i) - sum) >= 9L * peak) {
          cur += 1
          if (cur == 1) runs += 1
          if (cur > longest) longest = cur
          nHot += 1
        } else cur = 0
        i += 1
      }
      (n, peak, nHot, runs, longest)
    }

    /** Multi-frame walk over a concatenated-PPM "video" container: parses
      * each frame's P6 header in place and calls `frame(index, bytes,
      * pixelOffset, pixels)`, where `bytes` is the part of the frame the
      * payload holds and `pixels` the plane pixels it backs (a final
      * partial pixel counts, and reads black through [[gray]]). Returns
      * the frame count. A header that is not P6 (a garbage tail) or whose
      * dimensions are not positive or exceed the payload length stops
      * the walk at the frames parsed so far: a real frame needs ≥ 3
      * bytes per pixel, and the bound keeps w·h·3 inside Long.
      */
    private def walkP6Frames(bytes: Array[Byte])(frame: (Long, Long, Int, Int) => Unit): Long = {
      var pos = 0
      var f = 0L
      while (pos + 2 <= bytes.length &&
        bytes(pos) == 'P'.toByte && bytes(pos + 1) == '6'.toByte) {
        val (w, h, _, off) = ppmHeader(bytes, pos)
        if (w <= 0 || h <= 0 || w > bytes.length || h > bytes.length) {
          pos = bytes.length
        } else {
          val frameLen = (off - pos).toLong + w * h * 3L
          val remain = (bytes.length - pos).toLong
          frame(f, math.min(frameLen, remain), off,
            math.min(w * h, math.max(0L, bytes.length.toLong - off + 2) / 3).toInt)
          f += 1
          if (frameLen >= remain) pos = bytes.length else pos += frameLen.toInt
        }
      }
      f
    }

    /** Σ gray over `n` pixels starting at byte offset `off`. */
    private def graySum(bytes: Array[Byte], off: Int, n: Int): Long = {
      var sum = 0L
      var i = 0
      while (i < n) { sum += gray(bytes, off + 3L * i); i += 1 }
      sum
    }

    /** Frame-sampling stats over [[walkP6Frames]]: keeps every
      * `everyK`-th frame. Returns (n_frames, frames_kept, kept_gray_sum,
      * bytes_total, bytes_kept); truncated final planes read as black,
      * like [[grayHistPpm]].
      */
    def videoFrameStats(bytes: Array[Byte], everyK: Int): (Long, Long, Long, Long, Long) = {
      var kept = 0L
      var keptGray = 0L
      var keptBytes = 0L
      val n = walkP6Frames(bytes) { (f, frameBytes, off, pixels) =>
        if (f % everyK == 0) {
          kept += 1
          keptBytes += frameBytes
          keptGray += graySum(bytes, off, pixels)
        }
      }
      (n, kept, keptGray, bytes.length.toLong, keptBytes)
    }

    /** Scene-change keyframes over [[walkP6Frames]]: per frame the
      * integer mean gray of the payload-backed pixels, a frame is a
      * KEYFRAME when it is the first frame or its mean shifted by
      * ≥ `threshold` gray levels from the previous frame — the
      * shot-boundary heuristic a frame-sampling stage upgrades to when
      * uniform striding wastes budget on static shots. Returns (n_frames,
      * n_keyframes, max_delta, first_change_frame or −1).
      */
    def videoKeyframes(bytes: Array[Byte], threshold: Long): (Long, Long, Long, Long) = {
      var prev = 0L
      var keyframes = 0L
      var maxDelta = 0L
      var firstChange = -1L
      val n = walkP6Frames(bytes) { (f, _, off, pixels) =>
        val mean = if (pixels > 0) graySum(bytes, off, pixels) / pixels else 0L
        if (f == 0L) keyframes += 1
        else {
          val d = math.abs(mean - prev)
          if (d > maxDelta) maxDelta = d
          if (d >= threshold) {
            keyframes += 1
            if (firstChange < 0) firstChange = f
          }
        }
        prev = mean
      }
      (n, keyframes, maxDelta, firstChange)
    }

    /** Letterbox/border detection over a binary PPM — the image twin of
      * [[silenceWav]]: a row is DARK when its mean gray is under half the
      * global mean (`2·H·row_sum < total`, integer-exact; columns
      * symmetric with `2·W·col_sum < total`), and the readout is the
      * head/tail dark-row and dark-column counts — exactly what a
      * letterbox-trim preprocessing stage would crop. Relative threshold
      * (not absolute black) so synthetic and low-contrast planes still
      * rank their darkest margins. Returns (w, h, lead_rows, tail_rows,
      * lead_cols, tail_cols); an all-dark plane (total = 0 → nothing is
      * strictly darker) reports zero trims, like [[zcrWav]]'s quiet rule.
      */
    def bordersPpm(bytes: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
      val (w0, h0, _, off) = ppmHeader(bytes)
      if (w0 <= 0 || h0 <= 0) return (w0, h0, 0L, 0L, 0L, 0L)
      // clamp the scan dims to what the payload can actually back (3
      // bytes/pixel): for a well-formed plane cap = w0·h0 so nothing
      // changes, while a crafted "46341 46341" header can no longer
      // request a ~2^31-entry sum array or wrap negative. Exact division
      // for legit payloads keeps (cap+w-1)/w ≡ h0.
      val cap = math.max(0L, (bytes.length - off).toLong) / 3
      val wl = math.min(w0, cap)
      val hl = math.min(h0, if (wl > 0) (cap + wl - 1) / wl else 0L)
      if (wl <= 0 || hl <= 0) return (w0, h0, 0L, 0L, 0L, 0L)
      val w = wl.toInt; val h = hl.toInt
      val rowSum = new Array[Long](h)
      val colSum = new Array[Long](w)
      var total = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = gray(bytes, off + (y * w + x) * 3L)
          rowSum(y) += g; colSum(x) += g; total += g
          x += 1
        }
        y += 1
      }
      def trims(sums: Array[Long], cross: Int): (Long, Long) = {
        def dark(s: Long): Boolean = 2L * cross * s < total
        var lead = 0
        while (lead < sums.length && dark(sums(lead))) lead += 1
        if (lead == sums.length) return (lead.toLong, 0L)
        var tail = 0
        while (tail < sums.length && dark(sums(sums.length - 1 - tail))) tail += 1
        (lead.toLong, tail.toLong)
      }
      val (lr, tr) = trims(rowSum, h)
      val (lc, tc) = trims(colSum, w)
      (w0, h0, lr, tr, lc, tc)
    }
  }

  /** The codec stage every real-codec query runs: each `(doc_id,
    * payload)` row maps through `f` in a batched `mapPartitions`, and the
    * result columns are named `names`. Map-only, so the payloads never
    * shuffle.
    */
  private def codecMap[T <: Product : TypeTag](
      spark: SparkSession, media: DataFrame, names: String*)(
      f: (Long, Array[Byte]) => T): DataFrame = {
    import spark.implicits._
    media
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => f(id, bytes) })
      .toDF(names: _*)
  }

  /** The document text repeated and cut to exactly `n` characters: the
    * byte plane every synthetic payload below is built from, replayable
    * by the SQL oracle as `substr(repeat(text, …), 1, n)`.
    */
  private def textPlane(n: Int): Column =
    expr(s"substring(repeat(text, cast($n / length(text) as int) + 1), 1, $n)")

  /** Documents as 4-frame concatenated-PPM "video" clips: frame f's
    * 16×16 plane reads the repeated text stream at a 37-byte stride, so
    * consecutive frames differ but overlap (video-like). Same
    * expression-level synth as [[asPpmImages]] — every frame is a VALID
    * P6 the real codecs parse.
    */
  def asVideoClips(docs: DataFrame, frames: Int = 4): DataFrame = {
    // Fan-out of the single-split scan is the CALLER's decision (the
    // registry wraps docs in Tables.fanOutScan for the queries whose
    // decode stage measured heavy): doing it here taxed every single-pass
    // readout consumer with a round-robin exchange (VERDICT r15 #1).
    val stream = textPlane(768 + (frames - 1) * 37)
    val frameCols = (0 until frames).map { f =>
      concat(lit("P6\n16 16\n255\n"), substring(stream, 1 + f * 37, 768))
    }
    docs.select(
      col("doc_id"),
      encode(concat(frameCols: _*), "UTF-8").as("payload"))
  }

  /** Frame-sampled video stats over the real multi-frame walk
    * ([[Codecs.videoFrameStats]]): per clip the frame count, frames kept
    * at stride `everyK`, the kept frames' exact floor mean gray, and the
    * byte savings — the frame-sample + cheap-feature stage of a video
    * ingest pipeline.
    */
  def videoFrames(spark: SparkSession, docs: DataFrame, everyK: Int = 2): DataFrame =
    codecMap(spark, asVideoClips(docs), "doc_id", "n_frames", "frames_kept", "kept_mean_gray",
      "bytes_total", "bytes_kept") { (id, bytes) =>
      val (n, k, g, bt, bk) = Codecs.videoFrameStats(bytes, everyK)
      (id, n, k, if (k > 0) g / (k * 256L) else 0L, bt, bk)
    }

  /** Gray-level entropy table over the real PPM path: per image the
    * distinct gray-level count and the e4 entropy of the gray
    * distribution ([[Codecs.entropyPpm]]) — the flat-fill / synthetic-
    * frame screen [[grayHist]]'s 4 coarse bins can't resolve (a plane
    * alternating between two levels in one bin looks "concentrated"
    * there but scores near-ln 2 here, while a true single-color fill
    * scores 0).
    */
  def imageEntropy(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asPpmImages(docs), "doc_id", "n_gray_levels", "entropy_e4") { (id, bytes) =>
      val (levels, ent) = Codecs.entropyPpm(bytes)
      (id, levels, ent)
    }

  /** Scene-change keyframe table over the real multi-frame container
    * walk ([[Codecs.videoKeyframes]]): per clip the frame count, the
    * keyframes a shot-boundary sampler would keep (first frame + every
    * mean-gray shift ≥ 1 level), the largest inter-frame shift, and the
    * first change frame — the content-aware upgrade of
    * [[videoFrames]]'s uniform stride (static shots stop wasting the
    * frame budget).
    */
  def videoKeyframes(spark: SparkSession, docs: DataFrame, threshold: Long = 1L): DataFrame =
    codecMap(spark, asVideoClips(docs),
      "doc_id", "n_frames", "n_keyframes", "max_delta", "first_change_frame") { (id, bytes) =>
      val (n, k, d, fc) = Codecs.videoKeyframes(bytes, threshold)
      (id, n, k, d, if (fc < 0) None else Some(fc))
    }

  /** Documents as media records: the UTF-8 text bytes stand in for a real
    * payload (same plumbing, fake codec). Media type fans out
    * deterministically so downstream queries exercise per-type handling.
    */
  def asMediaRecords(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** The decode stage: binary in, typed features out, batched per
    * partition. This is the operator a real pipeline runs with an actual
    * codec; keep the decode narrow and let column pruning drop `payload`
    * afterwards.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      // per-partition setup happens once here (codec init in real life)
      it.map(DecodeStub.decode)
    }
  }

  /** End-to-end: documents → binary media column → stubbed decode →
    * features. Registered with a full SQL oracle because the stub is
    * deterministic on payload bytes.
    */
  def features(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, asMediaRecords(Tables.documents(spark, dir))).toDF()

  /** Per-type rollup over decoded features — the "did the decode stage
    * feed analytics" smoke at scale.
    */
  def typeStats(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir)
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("width")), 4).as("avg_width"),
        round(avg(col("height")), 4).as("avg_height"),
        max(col("frames")).as("max_frames"))

  /** Documents as deterministic 16×16 binary PPM images: the ASCII text
    * bytes, repeated/truncated to the 768-byte pixel plane, behind a real
    * P6 header — a payload BOTH engines can reconstruct (the fixtures are
    * pure ASCII, so DuckDB's char arithmetic sees the same bytes), which
    * is what lets the full decode→resize→hash path carry an exact oracle.
    */
  def asPpmImages(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(concat(lit("P6\n16 16\n255\n"), textPlane(768)), "UTF-8").as("payload"))

  /** Per-image perceptual signature `(doc_id, <name>)` from `hash` over
    * the [[asPpmImages]] payloads.
    */
  private def imageSigs(spark: SparkSession, docs: DataFrame, name: String)(
      hash: Array[Byte] => String): DataFrame =
    codecMap(spark, asPpmImages(docs), "doc_id", name)((id, bytes) => (id, hash(bytes)))

  /** Per-image signature plus the duplicate-cluster size per signature —
    * image-level dedup with the same grouping shape as exact text dedup.
    *
    * Scale: the codec runs map-only; the window is partitioned BY HASH
    * (no global sort), so cluster counting shuffles once on the
    * signature — identical to the exact-dedup aggregate at 100 TB.
    */
  private def hashClusters(spark: SparkSession, docs: DataFrame, name: String)(
      hash: Array[Byte] => String): DataFrame =
    imageSigs(spark, docs, name)(hash).select(
      col("doc_id"), col(name),
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(name)))
        .as("n_same_hash"))

  /** Near-duplicate pairs over the 64-character bitstring column `sig`:
    * signatures within `maxHamming` bits, found by exact pigeonhole
    * blocking — the 64-bit signature splits into `maxHamming + 1` chunks,
    * any pair within the threshold must agree exactly on at least one
    * chunk (complete recall, no probabilistic miss), and exact Hamming
    * verification runs on the blocked candidates only. The
    * [[graft.dedup.Dedup.simhashNearDups]] pairing discipline applied to
    * the real-codec signatures.
    *
    * Scale: candidates are bounded by chunk-bucket sizes (Σ df² over
    * `maxHamming + 1` small buckets), never |docs|²; verification is two
    * XOR + popcounts per candidate on the pre-parsed 32-bit halves.
    */
  private def hammingPairs(sigs: DataFrame, sig: String, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val halves = sigs.select(
      col("doc_id"),
      col(sig),
      conv(substring(col(sig), 1, 32), 2, 10).cast("long").as("__hi"),
      conv(substring(col(sig), 33, 32), 2, 10).cast("long").as("__lo"))
    val bounds = (0 until chunks).map(c => (c * 64 / chunks, (c + 1) * 64 / chunks))
    // the parsed halves ride along through the chunk explode (16 bytes per
    // row), so each chunk collision verifies inline with two XOR+popcounts
    // — no candidate-pair distinct, no back-joins; only the (tiny)
    // verified output deduplicates across chunks
    val ch = halves.select(
      col("doc_id"), col("__hi"), col("__lo"),
      posexplode(array(bounds.map { case (s0, e0) =>
        substring(col(sig), s0 + 1, e0 - s0)
      }: _*)).as(Seq("c", "chunk")))
    ch.as("a")
      .join(ch.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        (bit_count(col("a.__hi").bitwiseXOR(col("b.__hi"))) +
          bit_count(col("a.__lo").bitwiseXOR(col("b.__lo")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Perceptual-hash table: REAL PPM decode + nearest-neighbor resize +
    * aHash per image ([[Codecs.aHashPpm]]), then the duplicate-cluster
    * size per signature ([[hashClusters]]).
    */
  def phash(spark: SparkSession, docs: DataFrame): DataFrame =
    hashClusters(spark, docs, "phash")(Codecs.aHashPpm)

  /** Image near-duplicate pairs: aHash signatures within `maxHamming`
    * bits ([[hammingPairs]], 13 chunks at the default 12) — near-dup
    * image detection as a first-class dedup operator.
    */
  def imageNearDups(spark: SparkSession, docs: DataFrame, maxHamming: Int = 12): DataFrame =
    hammingPairs(imageSigs(spark, docs, "phash")(Codecs.aHashPpm), "phash", maxHamming)

  /** Documents as deterministic mono 16-bit PCM WAVs (8 kHz, 512 samples):
    * the ASCII text bytes, repeated/truncated to the 1024-byte PCM plane,
    * behind a real RIFF/WAVE header built once on the driver — the audio
    * twin of [[asPpmImages]], and the same both-engines-can-replay trick
    * (ASCII high bytes keep every little-endian sample non-negative, so
    * the oracle needs no sign correction; the codec itself is
    * sign-correct, pinned by spec).
    */
  def asWavAudio(docs: DataFrame): DataFrame = {
    val dataLen = 1024
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(8000).putInt(16000)
      .putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    docs.select(
      col("doc_id"),
      concat(lit(bb.array()), encode(textPlane(1024), "UTF-8")).as("payload"))
  }

  /** Per-clip 64-window energy signature `(doc_id, audio_fp)`
    * ([[Codecs.fingerprintWav]]) over the [[asWavAudio]] payloads.
    */
  private def audioSigs(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asWavAudio(docs), "doc_id", "audio_fp") { (id, bytes) =>
      (id, Codecs.fingerprintWav(bytes))
    }

  /** Audio fingerprint table: REAL WAV container walk + integer energy
    * signature per clip, plus the set-bit count (how much of the clip is
    * above mean loudness).
    */
  def audioFingerprint(spark: SparkSession, docs: DataFrame): DataFrame =
    audioSigs(spark, docs)
      .select(
        col("doc_id"), col("audio_fp"),
        length(regexp_replace(col("audio_fp"), "0", "")).cast("long").as("n_set"))

  /** Audio near-duplicate pairs — the audio tier of the near-dup family
    * ([[imageNearDups]] for images, simhash for text): clips whose
    * 64-window energy signatures ([[audioFingerprint]]) sit within
    * `maxHamming` bits ([[hammingPairs]], 7 chunks at the default 6).
    * Re-encoded or level-shifted copies of a clip keep their energy
    * SHAPE (the signature thresholds on the clip's own mean), which is
    * exactly what makes this the audio dedup screen.
    */
  def audioNearDups(spark: SparkSession, docs: DataFrame, maxHamming: Int = 6): DataFrame =
    hammingPairs(audioSigs(spark, docs), "audio_fp", maxHamming)

  /** Dominant-period table: exact integer autocorrelation over the real
    * WAV path — per clip the smallest lag (1..32 samples) maximizing
    * `R(L)`, its value, and the `R(0)` energy. The O(maxLag·N) inner
    * loop is per-clip CPU, no shuffle grows with it.
    */
  def audioAutocorr(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asWavAudio(docs), "doc_id", "best_lag", "r_best", "r0") { (id, bytes) =>
      val (lag, rBest, r0) = Codecs.autocorrWav(bytes)
      (id, lag.toLong, rBest, r0)
    }

  /** Difference-hash table: REAL PPM decode + 9×8 nearest-neighbor
    * resize + horizontal-gradient dHash per image ([[Codecs.dHashPpm]]),
    * with the duplicate cluster size per signature — [[phash]]'s
    * gradient-keyed partner (invariant to monotone brightness changes
    * where aHash is not).
    */
  def dhash(spark: SparkSession, docs: DataFrame): DataFrame =
    hashClusters(spark, docs, "dhash")(Codecs.dHashPpm)

  /** Gray-histogram table over the real PPM path: per image the 4-bin
    * brightness distribution and exact integer mean gray — the
    * exposure/contrast QA screen (black frames, blown highlights, flat
    * synthetic fills all show as mass collapsing into one bin).
    */
  def grayHist(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asPpmImages(docs),
      "doc_id", "bin0", "bin1", "bin2", "bin3", "mean_gray") { (id, bytes) =>
      val (b0, b1, b2, b3, mean) = Codecs.grayHistPpm(bytes)
      (id, b0, b1, b2, b3, mean)
    }

  /** Zero-crossing / quiet-fraction table over the real WAV path: per
    * clip the sample count, DC-removed adjacent sign flips, the e4
    * crossing rate (per adjacent pair), and the below-10%-of-peak quiet
    * fraction — the voiced/unvoiced + silence-trim QA screen.
    */
  def audioZcr(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asWavAudio(docs), "doc_id", "n_samples", "n_crossings", "n_quiet") {
      (id, bytes) =>
        val (n, crossings, quiet) = Codecs.zcrWav(bytes)
        (id, n, crossings, quiet)
    }
      .select(
        col("doc_id"), col("n_samples"), col("n_crossings"),
        when(col("n_samples") > 1,
          graft.Cols.floorDiv(col("n_crossings") * 10000L, col("n_samples") - 1L))
          .otherwise(lit(0L)).as("zcr_e4"),
        col("n_quiet"),
        when(col("n_samples") > 0,
          graft.Cols.floorDiv(col("n_quiet") * 10000L, col("n_samples")))
          .otherwise(lit(0L)).as("quiet_e4"))

  /** Silence-segmentation table over the real WAV path: per clip the
    * quiet-sample mass read as RUNS — run count, longest run, and the
    * head/trail trim sizes a silence-trim preprocessing stage would cut
    * ([[Codecs.silenceWav]]; same DC-removed 10 %-of-peak quiet test as
    * [[audioZcr]]). Separates "one long dropout" (one run, long) from
    * "choppy audio" (many short runs) — the segmentation QA screen next
    * to audioZcr's aggregate quiet fraction.
    */
  def audioSilence(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asWavAudio(docs), "doc_id", "n_samples", "n_quiet", "n_runs",
      "longest_run", "lead_quiet", "tail_quiet") { (id, bytes) =>
      val (n, q, r, lg, ld, tl) = Codecs.silenceWav(bytes)
      (id, n, q, r, lg, ld, tl)
    }

  /** Clipping QC table over the real WAV path: per clip the near-peak
    * sample mass read as RUNS ([[Codecs.clippingWav]] — DC-removed,
    * within-10 %-of-peak test, the top-of-range mirror of
    * [[audioSilence]]'s quiet runs). `longest_hot_run` is the number a
    * loudness-QC gate thresholds: flat-top plateaus mean the recording
    * or a limiter clipped, many 1-sample runs are healthy transients.
    */
  def audioClipping(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asWavAudio(docs),
      "doc_id", "n_samples", "peak_abs", "n_hot", "hot_runs", "longest_hot_run") { (id, bytes) =>
      val (n, peak, hot, runs, longest) = Codecs.clippingWav(bytes)
      (id, n, peak, hot, runs, longest)
    }
      .withColumn(
        "hot_e4",
        when(col("n_samples") > 0,
          graft.Cols.floorDiv(col("n_hot") * 10000L, col("n_samples")))
          .otherwise(lit(0L)))

  /** Letterbox/border-trim table over the real PPM path: per image the
    * head/tail dark-row and dark-column counts under the relative
    * half-of-global-mean threshold ([[Codecs.bordersPpm]]) — what a
    * letterbox-crop preprocessing stage would cut, the image twin of
    * [[audioSilence]]'s lead/tail quiet trims.
    */
  def imageBorders(spark: SparkSession, docs: DataFrame): DataFrame =
    codecMap(spark, asPpmImages(docs), "doc_id", "w", "h", "lead_rows", "tail_rows",
      "lead_cols", "tail_cols") { (id, bytes) =>
      val (w, h, lr, tr, lc, tc) = Codecs.bordersPpm(bytes)
      (id, w, h, lr, tr, lc, tc)
    }

  /** Image near-dup CLUSTERS: connected components over the
    * [[imageNearDups]] pair set via the shared dedup machinery
    * ([[graft.dedup.Dedup.nearDupClusters]] — distributed min-label
    * propagation with pointer jumping, never a driver-side union-find):
    * every image gets its cluster id (= smallest reachable doc_id), a
    * canonical flag, and the cluster size. This is the step that turns
    * pairwise phash hits into an actionable keep/drop ledger — the
    * image twin of `dedup_clusters`, closing the multimodal dedup
    * story end to end (signature → pairs → clusters).
    *
    * Scale: inherits both constituents' postures — pigeonhole-blocked
    * pair generation (never |images|²) and O(log n)-round component
    * labeling, one checkpoint per round.
    */
  def imageNearDupClusters(spark: SparkSession, docs: DataFrame): DataFrame =
    // fan ONLY the decode-bound pair side: the contraction side reads
    // doc_id alone, and fanning it buys nothing for an id projection
    // (measured r16: wrapping the whole docs input cost the query ~1.2×)
    graft.dedup.Dedup.nearDupClusters(
      docs, imageNearDups(spark, graft.Tables.fanOutScan(docs)))

  /** Quality-ranked canonical per near-dup image cluster: the member a
    * keep-list should retain is the HIGHEST-ENTROPY one (ties → smaller
    * id), not the min-id representative the union-find happens to elect
    * — near-dup clusters routinely mix an original with recompressed /
    * flattened copies, and [[imageEntropy]] is exactly the flat-copy
    * screen. `differs_from_min_id` counts how often the quality rule
    * overrules the structural one — the value-add readout.
    *
    * Scale: [[imageNearDupClusters]] and [[imageEntropy]] keep their own
    * plans (banded pairs, map-only codec walk); this adds one doc-keyed
    * equi-join and a rank window partitioned by cluster.
    */
  def phashCanonical(spark: SparkSession, docs: DataFrame): DataFrame = {
    val cl = imageNearDupClusters(spark, docs).select(col("doc_id"), col("cluster_id"))
    // the entropy walk is decode-bound — fan its scan (imageNearDupClusters
    // fans its own pair side; the join/window below stay on plain inputs)
    val ent = imageEntropy(spark, graft.Tables.fanOutScan(docs))
      .select(col("doc_id"), col("entropy_e4"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("entropy_e4").desc, col("doc_id"))
    cl.join(ent, "doc_id")
      .withColumn("__rn", row_number().over(byCluster))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col("doc_id"))).as("canon_doc_id"),
        max(when(col("__rn") === 1, col("entropy_e4"))).as("canon_entropy_e4"))
      .select(
        col("cluster_id"), col("n_members"), col("canon_doc_id"), col("canon_entropy_e4"),
        when(col("canon_doc_id") =!= col("cluster_id"), 1L).otherwise(0L)
          .as("differs_from_min_id"))
  }

  // Per-QUERY fan-out of the single-split documents scan (guide §2.5):
  // opt-in only where the r15→r16 A/B measured the decode/pair stage
  // heavy enough to beat the round-robin exchange it costs; single-pass
  // readouts read the plain scan (VERDICT r15 #1 — the blanket builder
  // fan-out taxed them 1.2–1.9×).
  private def fannedDocs(s: SparkSession, d: String) =
    graft.Tables.fanOutScan(Tables.documents(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode_features" -> ((s, d) => features(s, d)),
    "mm_type_stats" -> ((s, d) => typeStats(s, d)),
    "mm_phash" -> ((s, d) => phash(s, Tables.documents(s, d))),
    "mm_phash_pairs" -> ((s, d) => imageNearDups(s, fannedDocs(s, d))),
    "mm_phash_clusters" -> ((s, d) => imageNearDupClusters(s, Tables.documents(s, d))),
    // keep-list canonical per phash cluster: the highest-entropy member
    // (quality rule), flagged where it overrules the min-id electee
    "mm_phash_canonical" -> ((s, d) => phashCanonical(s, Tables.documents(s, d))),
    "mm_audio_fp" -> ((s, d) => audioFingerprint(s, Tables.documents(s, d))),
    "mm_audio_autocorr" -> ((s, d) => audioAutocorr(s, fannedDocs(s, d))),
    // pigeonhole-banded Hamming pairs over the audio energy signature —
    // the audio tier of the near-dup family
    "mm_audio_pairs" -> ((s, d) => audioNearDups(s, fannedDocs(s, d))),
    "mm_dhash" -> ((s, d) => dhash(s, Tables.documents(s, d))),
    "mm_audio_zcr" -> ((s, d) => audioZcr(s, fannedDocs(s, d))),
    // near-peak plateau QC: clipping shows as long hot runs
    "mm_audio_clipping" -> ((s, d) => audioClipping(s, fannedDocs(s, d))),
    "mm_audio_silence" -> ((s, d) => audioSilence(s, Tables.documents(s, d))),
    "mm_image_borders" -> ((s, d) => imageBorders(s, Tables.documents(s, d))),
    "mm_video_frames" -> ((s, d) => videoFrames(s, fannedDocs(s, d))),
    // shot-boundary keyframes: first frame + every mean-gray shift ≥ 1
    "mm_video_keyframes" -> ((s, d) => videoKeyframes(s, fannedDocs(s, d))),
    "mm_gray_hist" -> ((s, d) => grayHist(s, Tables.documents(s, d))),
    // gray-level entropy: the flat-fill screen the 4-bin hist can't see
    "mm_image_entropy" -> ((s, d) => imageEntropy(s, Tables.documents(s, d))),
  )

  private val featuresCte =
    """WITH f AS (
      |  SELECT doc_id,
      |    ['image', 'audio', 'video'][(doc_id % 3)::INT + 1] AS media_type,
      |    octet_length(encode(text))::BIGINT AS n_bytes,
      |    md5(text) AS checksum
      |  FROM documents
      |), feat AS (
      |  SELECT doc_id, media_type, n_bytes,
      |    64 + n_bytes % 64 AS width,
      |    64 + (n_bytes // 7) % 64 AS height,
      |    1 + n_bytes % 8 AS frames,
      |    checksum
      |  FROM f
      |)""".stripMargin

  /** Shared cluster pipeline for the phash oracles (mm_phash_clusters,
    * mm_phash_canonical): decode tile → 8×8 aHash → 13-chunk pigeonhole
    * Hamming pairs (≤ 12) → reachability closure to
    * `cl(doc_id, cluster_id)`.
    */
  private def phashClusterSql: String = {
    val chunks = 13
    val chunkStructs = (0 until chunks).map { c =>
      val s0 = c * 64 / chunks
      val e0 = (c + 1) * 64 / chunks
      s"{'c': $c, 'chunk': substr(phash, ${s0 + 1}, ${e0 - s0})}"
    }
    s"""WITH RECURSIVE px AS (
       |  SELECT doc_id,
       |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    [(ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 1, 1)) +
       |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 2, 1)) +
       |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 3, 1))) // 3
       |     for i in range(0, 64)] AS grays
       |  FROM px
       |), s AS (
       |  SELECT doc_id, grays, list_sum(grays) AS tot FROM g
       |), h AS (
       |  SELECT doc_id,
       |    array_to_string(
       |      [CASE WHEN 64 * grays[i] > tot THEN '1' ELSE '0' END
       |       for i in range(1, 65)], '') AS phash
       |  FROM s
       |), ch0 AS (
       |  SELECT doc_id, phash,
       |    unnest([${chunkStructs.mkString(",\n      ")}]) AS u
       |  FROM h
       |), ch AS (
       |  SELECT doc_id, phash, u.c AS c, u.chunk AS chunk FROM ch0
       |), hits AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |    list_sum([CASE WHEN substr(a.phash, i, 1) <> substr(b.phash, i, 1)
       |              THEN 1 ELSE 0 END
       |              for i in generate_series(1, 64)])::BIGINT AS hamming
       |  FROM ch a JOIN ch b
       |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT DISTINCT doc_id_1 AS d1, doc_id_2 AS d2
       |  FROM hits WHERE hamming <= 12
       |), edges AS (
       |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
       |), reach(n, m) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.m = e.a
       |), cl AS (
       |  SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "mm_decode_features" ->
      s"""$featuresCte
         |SELECT doc_id, media_type, n_bytes, width, height, frames, checksum FROM feat""".stripMargin,
    "mm_type_stats" ->
      s"""$featuresCte
         |SELECT media_type, count(*) AS n_media,
         |       sum(n_bytes)::BIGINT AS total_bytes,
         |       round(avg(width), 4) AS avg_width,
         |       round(avg(height), 4) AS avg_height,
         |       max(frames) AS max_frames
         |FROM feat GROUP BY media_type""".stripMargin,
    // replays decode → 16→8 nearest-neighbor resize (src pixel (2c, 2r))
    // → integer aHash in char arithmetic (fixtures are pure ASCII, so
    // ord(char) == payload byte)
    "mm_phash" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [(ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 1, 1)) +
        |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 2, 1)) +
        |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 3, 1))) // 3
        |     for i in range(0, 64)] AS grays
        |  FROM px
        |), s AS (
        |  SELECT doc_id, grays, list_sum(grays) AS tot FROM g
        |), h AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      [CASE WHEN 64 * grays[i] > tot THEN '1' ELSE '0' END
        |       for i in range(1, 65)], '') AS phash
        |  FROM s
        |)
        |SELECT doc_id, phash,
        |  count(*) OVER (PARTITION BY phash) AS n_same_hash
        |FROM h""".stripMargin,
    // the mm_phash bitstring CTEs + 13-chunk pigeonhole blocking + exact
    // 64-position Hamming verify on candidates (Spark verifies the same
    // value via parsed-int XOR/popcount — value-identical either way)
    "mm_phash_pairs" -> {
      val chunks = 13
      val chunkStructs = (0 until chunks).map { c =>
        val s0 = c * 64 / chunks
        val e0 = (c + 1) * 64 / chunks
        s"{'c': $c, 'chunk': substr(phash, ${s0 + 1}, ${e0 - s0})}"
      }
      s"""WITH px AS (
         |  SELECT doc_id,
         |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
         |  FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    [(ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 1, 1)) +
         |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 2, 1)) +
         |      ord(substr(pix, ((i // 8) * 32 + (i % 8) * 2) * 3 + 3, 1))) // 3
         |     for i in range(0, 64)] AS grays
         |  FROM px
         |), s AS (
         |  SELECT doc_id, grays, list_sum(grays) AS tot FROM g
         |), h AS (
         |  SELECT doc_id,
         |    array_to_string(
         |      [CASE WHEN 64 * grays[i] > tot THEN '1' ELSE '0' END
         |       for i in range(1, 65)], '') AS phash
         |  FROM s
         |), ch0 AS (
         |  SELECT doc_id, phash,
         |    unnest([${chunkStructs.mkString(",\n      ")}]) AS u
         |  FROM h
         |), ch AS (
         |  SELECT doc_id, phash, u.c AS c, u.chunk AS chunk FROM ch0
         |), hits AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    list_sum([CASE WHEN substr(a.phash, i, 1) <> substr(b.phash, i, 1)
         |              THEN 1 ELSE 0 END
         |              for i in generate_series(1, 64)])::BIGINT AS hamming
         |  FROM ch a JOIN ch b
         |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |)
         |SELECT DISTINCT doc_id_1, doc_id_2, hamming
         |FROM hits WHERE hamming <= 12""".stripMargin
    },
    // the mm_phash_pairs chain + the dedup_clusters recursive transitive
    // closure (exact at oracle scale; Spark runs min-label propagation)
    "mm_phash_clusters" ->
      s"""$phashClusterSql
         |SELECT doc_id, cluster_id,
         |  (CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END)::BIGINT AS is_canonical,
         |  (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size
         |FROM cl""".stripMargin,
    // the shared cluster pipeline + the mm_image_entropy CTEs off the
    // SAME px tile, argmax by (entropy desc, id) per cluster
    "mm_phash_canonical" ->
      s"""$phashClusterSql, eg AS (
         |  SELECT doc_id,
         |    [(ord(substr(pix, i * 3 + 1, 1)) + ord(substr(pix, i * 3 + 2, 1)) +
         |      ord(substr(pix, i * 3 + 3, 1))) // 3
         |     for i in range(0, 256)] AS grays256
         |  FROM px
         |), ee AS (
         |  SELECT doc_id, unnest(grays256) AS gray FROM eg
         |), ec AS (
         |  SELECT doc_id, gray, count(*)::BIGINT AS cnt FROM ee GROUP BY 1, 2
         |), ent AS (
         |  SELECT doc_id,
         |    sum(round(-(cnt::DOUBLE / 256) * ln(cnt::DOUBLE / 256) * 10000))::BIGINT
         |      AS entropy_e4
         |  FROM ec GROUP BY 1
         |), r AS (
         |  SELECT cl.cluster_id, cl.doc_id, ent.entropy_e4,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |                       ORDER BY ent.entropy_e4 DESC, cl.doc_id) AS rn
         |  FROM cl JOIN ent USING (doc_id)
         |)
         |SELECT cluster_id, count(*)::BIGINT AS n_members,
         |  max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS canon_doc_id,
         |  max(CASE WHEN rn = 1 THEN entropy_e4 END)::BIGINT AS canon_entropy_e4,
         |  (CASE WHEN max(CASE WHEN rn = 1 THEN doc_id END) <> cluster_id
         |        THEN 1 ELSE 0 END)::BIGINT AS differs_from_min_id
         |FROM r GROUP BY 1""".stripMargin,
    // replays the WAV energy signature: little-endian 16-bit samples from
    // ASCII chars (lo + 256*hi, never >= 32768 on ASCII so no sign branch),
    // 64 windows of 8 samples, bit = strictly-above-mean energy
    "mm_audio_fp" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
        |     for i in range(0, 512)] AS v
        |  FROM px
        |), sq AS (
        |  SELECT doc_id, [x * x for x in v] AS s FROM smp
        |), en AS (
        |  SELECT doc_id,
        |    [list_sum(s[8 * w + 1:8 * w + 8]) for w in range(0, 64)] AS e
        |  FROM sq
        |), t AS (
        |  SELECT doc_id, e, list_sum(e) AS tot FROM en
        |), fp AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      [CASE WHEN 64 * e[w] > tot THEN '1' ELSE '0' END
        |       for w in range(1, 65)], '') AS audio_fp
        |  FROM t
        |)
        |SELECT doc_id, audio_fp,
        |  length(replace(audio_fp, '0', ''))::BIGINT AS n_set
        |FROM fp""".stripMargin,
    // the mm_gray_hist pixel reconstruction, per-gray counts, and the
    // identical round(−p·ln p·10⁴) terms summed per doc
    "mm_image_entropy" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [(ord(substr(pix, i * 3 + 1, 1)) + ord(substr(pix, i * 3 + 2, 1)) +
        |      ord(substr(pix, i * 3 + 3, 1))) // 3
        |     for i in range(0, 256)] AS grays
        |  FROM px
        |), e AS (
        |  SELECT doc_id, unnest(grays) AS gray FROM g
        |), c AS (
        |  SELECT doc_id, gray, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_gray_levels,
        |  sum(round(-(cnt::DOUBLE / 256) * ln(cnt::DOUBLE / 256) * 10000))::BIGINT
        |    AS entropy_e4
        |FROM c GROUP BY 1""".stripMargin,
    // the mm_audio_fp fingerprint CTEs + the mm_phash_pairs chunk
    // pigeonhole (7 chunks for Hamming ≤ 6) and inline Hamming verify
    "mm_audio_pairs" -> {
      val chunks = 7
      val chunkStructs = (0 until chunks).map { c =>
        val s0 = c * 64 / chunks
        val e0 = (c + 1) * 64 / chunks
        s"{'c': $c, 'chunk': substr(audio_fp, ${s0 + 1}, ${e0 - s0})}"
      }
      s"""WITH px AS (
         |  SELECT doc_id,
         |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
         |  FROM documents
         |), smp AS (
         |  SELECT doc_id,
         |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
         |     for i in range(0, 512)] AS v
         |  FROM px
         |), sq AS (
         |  SELECT doc_id, [x * x for x in v] AS s FROM smp
         |), en AS (
         |  SELECT doc_id,
         |    [list_sum(s[8 * w + 1:8 * w + 8]) for w in range(0, 64)] AS e
         |  FROM sq
         |), t AS (
         |  SELECT doc_id, e, list_sum(e) AS tot FROM en
         |), fp AS (
         |  SELECT doc_id,
         |    array_to_string(
         |      [CASE WHEN 64 * e[w] > tot THEN '1' ELSE '0' END
         |       for w in range(1, 65)], '') AS audio_fp
         |  FROM t
         |), ch0 AS (
         |  SELECT doc_id, audio_fp,
         |    unnest([${chunkStructs.mkString(",\n      ")}]) AS u
         |  FROM fp
         |), ch AS (
         |  SELECT doc_id, audio_fp, u.c AS c, u.chunk AS chunk FROM ch0
         |), hits AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    list_sum([CASE WHEN substr(a.audio_fp, i, 1) <> substr(b.audio_fp, i, 1)
         |              THEN 1 ELSE 0 END
         |              for i in generate_series(1, 64)])::BIGINT AS hamming
         |  FROM ch a JOIN ch b
         |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |)
         |SELECT DISTINCT doc_id_1, doc_id_2, hamming
         |FROM hits WHERE hamming <= 6""".stripMargin
    },
    // replays the autocorrelation: same ASCII-sample reconstruction as
    // mm_audio_fp, R(L) by nested list comprehension, first-occurrence
    // argmax via list_position (ties -> smallest lag, as the codec does)
    "mm_audio_autocorr" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
        |     for i in range(0, 512)] AS v
        |  FROM px
        |), ac AS (
        |  SELECT doc_id,
        |    list_sum([x * x for x in v])::BIGINT AS r0,
        |    [list_sum([v[i] * v[i + l] for i in range(1, 513 - l)])::BIGINT
        |     for l in range(1, 33)] AS rs
        |  FROM smp
        |)
        |SELECT doc_id, list_position(rs, list_max(rs))::BIGINT AS best_lag,
        |  list_max(rs)::BIGINT AS r_best, r0
        |FROM ac""".stripMargin,
    // replays 16→9×8 nearest-neighbor resize (src pixel (x*16//9, 2y))
    // then the horizontal-gradient compare in char arithmetic
    "mm_dhash" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [(ord(substr(pix, ((i // 9) * 2 * 16 + ((i % 9) * 16) // 9) * 3 + 1, 1)) +
        |      ord(substr(pix, ((i // 9) * 2 * 16 + ((i % 9) * 16) // 9) * 3 + 2, 1)) +
        |      ord(substr(pix, ((i // 9) * 2 * 16 + ((i % 9) * 16) // 9) * 3 + 3, 1))) // 3
        |     for i in range(0, 72)] AS grays
        |  FROM px
        |), h AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      [CASE WHEN grays[(i // 8) * 9 + (i % 8) + 1]
        |              > grays[(i // 8) * 9 + (i % 8) + 2] THEN '1' ELSE '0' END
        |       for i in range(0, 64)], '') AS dhash
        |  FROM g
        |)
        |SELECT doc_id, dhash,
        |  count(*) OVER (PARTITION BY dhash) AS n_same_hash
        |FROM h""".stripMargin,
    // same ASCII-sample reconstruction as mm_audio_fp; centered signal
    // n·s − Σs keeps DC removal integer; all ratios non-negative
    "mm_audio_zcr" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
        |     for i in range(0, 512)] AS v
        |  FROM px
        |), ctr AS (
        |  SELECT doc_id, [512 * x - list_sum(v) for x in v] AS c FROM smp
        |), m AS (
        |  SELECT doc_id, c,
        |    list_max(list_transform(c, x -> abs(x)))::BIGINT AS peak
        |  FROM ctr
        |), agg AS (
        |  SELECT doc_id, 512::BIGINT AS n_samples,
        |    list_sum([CASE WHEN (c[i] >= 0) <> (c[i + 1] >= 0) THEN 1 ELSE 0 END
        |              for i in range(1, 512)])::BIGINT AS n_crossings,
        |    list_sum([CASE WHEN 10 * abs(c[i]) < peak THEN 1 ELSE 0 END
        |              for i in range(1, 513)])::BIGINT AS n_quiet
        |  FROM m
        |)
        |SELECT doc_id, n_samples, n_crossings,
        |  (n_crossings * 10000 // (n_samples - 1))::BIGINT AS zcr_e4,
        |  n_quiet, (n_quiet * 10000 // n_samples)::BIGINT AS quiet_e4
        |FROM agg""".stripMargin,
    // the zcr synth/centering CTEs read at the TOP of the range: hot =
    // within 10% of peak (10|c| >= 9·peak), runs via gaps-and-islands
    "mm_audio_clipping" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
        |     for i in range(0, 512)] AS v
        |  FROM px
        |), ctr AS (
        |  SELECT doc_id, [512 * x - list_sum(v) for x in v] AS c FROM smp
        |), m AS (
        |  SELECT doc_id, c,
        |    list_max(list_transform(c, x -> abs(x)))::BIGINT AS peak
        |  FROM ctr
        |), qi AS (
        |  SELECT m.doc_id, m.peak, t.i,
        |    CASE WHEN 10 * abs(c[t.i]) >= 9 * peak THEN 1 ELSE 0 END AS hot
        |  FROM m, range(1, 513) t(i)
        |), runs AS (
        |  SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM qi WHERE hot = 1
        |), rstat AS (
        |  SELECT doc_id, count(*)::BIGINT AS run_len FROM runs GROUP BY doc_id, grp
        |), agg AS (
        |  SELECT doc_id, sum(run_len)::BIGINT AS n_hot,
        |    count(*)::BIGINT AS hot_runs, max(run_len)::BIGINT AS longest_hot_run
        |  FROM rstat GROUP BY 1
        |)
        |SELECT m.doc_id, 512::BIGINT AS n_samples, m.peak AS peak_abs,
        |  coalesce(agg.n_hot, 0)::BIGINT AS n_hot,
        |  coalesce(agg.hot_runs, 0)::BIGINT AS hot_runs,
        |  coalesce(agg.longest_hot_run, 0)::BIGINT AS longest_hot_run,
        |  (coalesce(agg.n_hot, 0) * 10000 // 512)::BIGINT AS hot_e4
        |FROM m
        |LEFT JOIN agg ON agg.doc_id = m.doc_id""".stripMargin,
    // the zcr synth/centering CTEs; quiet runs via gaps-and-islands
    // (i − row_number over quiet rows), lead/tail from the first/last
    // loud index; every quantity positive → // and coalesce are exact
    "mm_audio_silence" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (1024 // length(text))::INT + 1), 1, 1024) AS pcm
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |    [ord(substr(pcm, 2 * i + 1, 1)) + 256 * ord(substr(pcm, 2 * i + 2, 1))
        |     for i in range(0, 512)] AS v
        |  FROM px
        |), ctr AS (
        |  SELECT doc_id, [512 * x - list_sum(v) for x in v] AS c FROM smp
        |), m AS (
        |  SELECT doc_id, c,
        |    list_max(list_transform(c, x -> abs(x)))::BIGINT AS peak
        |  FROM ctr
        |), qi AS (
        |  SELECT m.doc_id, t.i,
        |    CASE WHEN 10 * abs(c[t.i]) < peak THEN 1 ELSE 0 END AS q
        |  FROM m, range(1, 513) t(i)
        |), runs AS (
        |  SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM qi WHERE q = 1
        |), rstat AS (
        |  SELECT doc_id, count(*)::BIGINT AS run_len FROM runs GROUP BY doc_id, grp
        |), agg AS (
        |  SELECT doc_id, sum(run_len)::BIGINT AS n_quiet,
        |    count(*)::BIGINT AS n_runs, max(run_len)::BIGINT AS longest_run
        |  FROM rstat GROUP BY 1
        |), edges AS (
        |  SELECT doc_id,
        |    coalesce(min(CASE WHEN q = 0 THEN i END) - 1, 512)::BIGINT AS lead_quiet,
        |    coalesce(512 - max(CASE WHEN q = 0 THEN i END), 512)::BIGINT AS tail_quiet
        |  FROM qi GROUP BY 1
        |)
        |SELECT m.doc_id, 512::BIGINT AS n_samples,
        |  coalesce(agg.n_quiet, 0)::BIGINT AS n_quiet,
        |  coalesce(agg.n_runs, 0)::BIGINT AS n_runs,
        |  coalesce(agg.longest_run, 0)::BIGINT AS longest_run,
        |  edges.lead_quiet, edges.tail_quiet
        |FROM m
        |LEFT JOIN agg ON agg.doc_id = m.doc_id
        |JOIN edges ON edges.doc_id = m.doc_id""".stripMargin,
    // the 4-frame 37-byte-stride synth recomputed straight from text
    // (byte = char on the ASCII corpus); kept frames {0, 2}; container
    // byte sizes are the synth constants 4·781 / 2·781
    "mm_video_frames" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (879 // length(text))::INT + 1), 1, 879) AS s
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_sum(flatten([[(ord(substr(s, f * 37 + i * 3 + 1, 1))
        |               + ord(substr(s, f * 37 + i * 3 + 2, 1))
        |               + ord(substr(s, f * 37 + i * 3 + 3, 1))) // 3
        |              for i in range(0, 256)] for f in [0, 2]]))::BIGINT AS kept_sum
        |  FROM px
        |)
        |SELECT doc_id, 4::BIGINT AS n_frames, 2::BIGINT AS frames_kept,
        |  (kept_sum // 512)::BIGINT AS kept_mean_gray,
        |  3124::BIGINT AS bytes_total, 1562::BIGINT AS bytes_kept
        |FROM g""".stripMargin,
    // per-frame mean gray from the same analytic frame reconstruction,
    // lag deltas per clip, keyframes = 1 + shifts ≥ 1
    "mm_video_keyframes" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (879 // length(text))::INT + 1), 1, 879) AS s
        |  FROM documents
        |), fm AS (
        |  SELECT doc_id, f.f,
        |    (list_sum([(ord(substr(s, f.f * 37 + i * 3 + 1, 1))
        |               + ord(substr(s, f.f * 37 + i * 3 + 2, 1))
        |               + ord(substr(s, f.f * 37 + i * 3 + 3, 1))) // 3
        |              for i in range(0, 256)]) // 256)::BIGINT AS m
        |  FROM px, range(0, 4) f(f)
        |), d AS (
        |  SELECT doc_id, f, abs(m - lag(m) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
        |  FROM fm
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_frames,
        |  (1 + count(CASE WHEN delta >= 1 THEN 1 END))::BIGINT AS n_keyframes,
        |  coalesce(max(delta), 0)::BIGINT AS max_delta,
        |  min(CASE WHEN delta >= 1 THEN f END)::BIGINT AS first_change_frame
        |FROM d GROUP BY 1""".stripMargin,
    // the gray_hist 16x16 plane; dark ⟺ 2·16·line_sum < total (integer);
    // lead = first not-dark index (16 when all dark → tail 0), tail =
    // 15 − last not-dark index — the bordersPpm trim semantics exactly
    "mm_image_borders" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [(ord(substr(pix, i * 3 + 1, 1)) + ord(substr(pix, i * 3 + 2, 1)) +
        |      ord(substr(pix, i * 3 + 3, 1))) // 3
        |     for i in range(0, 256)] AS grays
        |  FROM px
        |), t AS (
        |  SELECT doc_id, grays, list_sum(grays)::BIGINT AS total FROM g
        |), rs AS (
        |  SELECT doc_id, rr.r,
        |    list_sum(grays[rr.r * 16 + 1 : rr.r * 16 + 16])::BIGINT AS s, total
        |  FROM t, range(0, 16) rr(r)
        |), cs AS (
        |  SELECT doc_id, cc.c,
        |    list_sum([grays[r * 16 + cc.c + 1] for r in range(0, 16)])::BIGINT AS s,
        |    total
        |  FROM t, range(0, 16) cc(c)
        |), re AS (
        |  SELECT doc_id,
        |    coalesce(min(CASE WHEN NOT (32 * s < total) THEN r END), 16)::BIGINT
        |      AS lead_rows,
        |    (CASE WHEN max(CASE WHEN NOT (32 * s < total) THEN r END) IS NULL THEN 0
        |          ELSE 15 - max(CASE WHEN NOT (32 * s < total) THEN r END)
        |     END)::BIGINT AS tail_rows
        |  FROM rs GROUP BY 1
        |), ce AS (
        |  SELECT doc_id,
        |    coalesce(min(CASE WHEN NOT (32 * s < total) THEN c END), 16)::BIGINT
        |      AS lead_cols,
        |    (CASE WHEN max(CASE WHEN NOT (32 * s < total) THEN c END) IS NULL THEN 0
        |          ELSE 15 - max(CASE WHEN NOT (32 * s < total) THEN c END)
        |     END)::BIGINT AS tail_cols
        |  FROM cs GROUP BY 1
        |)
        |SELECT re.doc_id, 16::BIGINT AS w, 16::BIGINT AS h,
        |  re.lead_rows, re.tail_rows, ce.lead_cols, ce.tail_cols
        |FROM re JOIN ce USING (doc_id)""".stripMargin,
    // full 256-pixel plane in char arithmetic; bins by gray >> 6
    "mm_gray_hist" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    substr(repeat(text, (768 // length(text))::INT + 1), 1, 768) AS pix
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    [(ord(substr(pix, i * 3 + 1, 1)) + ord(substr(pix, i * 3 + 2, 1)) +
        |      ord(substr(pix, i * 3 + 3, 1))) // 3
        |     for i in range(0, 256)] AS grays
        |  FROM px
        |)
        |SELECT doc_id,
        |  list_sum([CASE WHEN x // 64 = 0 THEN 1 ELSE 0 END for x in grays])::BIGINT AS bin0,
        |  list_sum([CASE WHEN x // 64 = 1 THEN 1 ELSE 0 END for x in grays])::BIGINT AS bin1,
        |  list_sum([CASE WHEN x // 64 = 2 THEN 1 ELSE 0 END for x in grays])::BIGINT AS bin2,
        |  list_sum([CASE WHEN x // 64 = 3 THEN 1 ELSE 0 END for x in grays])::BIGINT AS bin3,
        |  (list_sum(grays) // 256)::BIGINT AS mean_gray
        |FROM g""".stripMargin,
  )
}
