package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType}

/** Single-pass PCM16LE kernels called by [[PcmExpressions.pcmStats]] /
  * [[PcmExpressions.synthPcm16]] and the other PCM columns — the byte loops behind
  * [[graft.operators.Multimodal.audioFeatures]] / `synthPcm16`. A
  * higher-order-function formulation of the same math evaluates its
  * lambdas interpretively PER SAMPLE (Spark's array HOFs do not
  * participate in whole-stage codegen) and measured ~20 s for 5 k docs ×
  * 480 samples at sf0.1; one fused kernel call per row inside the
  * projection's codegen span is ~50× cheaper and is exactly the
  * "custom native Expression beats everything interpreted" rule.
  */
object PcmKernel {

  /** (n_samples, Σs², peak, zero_crossings, n_full_frames,
    * active_frames) in one pass. Sign rule: zero counts positive; only
    * FULL frames of `frame` samples are scored; a frame is active iff
    * its energy Σs² strictly exceeds `threshold` (exact long compare).
    * Odd trailing bytes stay out of the sample stream. Bit-identical to
    * the HOF formulation this replaces (q282/q283 oracles unchanged). */
  def stats(bytes: Array[Byte], frame: Int, threshold: Long): Array[Long] = {
    val n = bytes.length / 2
    var ss = 0L; var peak = 0L; var zc = 0L
    var frameAcc = 0L; var nFrames = 0L; var active = 0L
    var prev = 0; var i = 0
    while (i < n) {
      val raw = (bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)
      val s = if (raw < 32768) raw else raw - 65536
      ss += s.toLong * s
      val a = math.abs(s.toLong)
      if (a > peak) peak = a
      if (i > 0 && ((prev >= 0 && s < 0) || (prev < 0 && s >= 0))) zc += 1
      prev = s
      frameAcc += s.toLong * s
      if ((i + 1) % frame == 0) {
        if (frameAcc > threshold) active += 1
        nFrames += 1
        frameAcc = 0L
      }
      i += 1
    }
    Array(n.toLong, ss, peak, zc, nFrames, active)
  }

  /** Deterministic integer-ratio LINEAR resample of an s16le stream —
    * the 8 kHz-telephony → 16 kHz-model-rate step of a speech pipeline.
    * Output sample j sits at rational input position j·from/to:
    * `idx = floorDiv(j·from, to)`, `frac = j·from mod to`,
    * `out[j] = s[idx] + floorDiv((s[idx+1] − s[idx])·frac, to)` —
    * pure integer math (floorDiv, exact in any engine), linear
    * interpolation floored onto the PCM lattice, so the SQL oracle
    * regenerates every output sample from the closed-form input signal.
    * `n_out = floorDiv((n_in−1)·to, from) + 1` — the output covers
    * exactly the input span (last output lands ON the last input when
    * the ratio divides evenly). Odd trailing bytes stay out, mirroring
    * [[stats]]. Empty/one-sample inputs pass through unchanged. */
  def resample(bytes: Array[Byte], fromRate: Int, toRate: Int): Array[Byte] = {
    val nIn = bytes.length / 2
    if (nIn <= 1 || fromRate == toRate) {
      val out = new Array[Byte](nIn * 2)
      System.arraycopy(bytes, 0, out, 0, nIn * 2)
      return out
    }
    def sample(k: Int): Int = {
      val raw = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
      if (raw < 32768) raw else raw - 65536
    }
    val nOut = (Math.floorDiv((nIn - 1).toLong * toRate, fromRate) + 1L).toInt
    val out = new Array[Byte](nOut * 2)
    var j = 0
    while (j < nOut) {
      val num = j.toLong * fromRate
      val idx = Math.floorDiv(num, toRate).toInt
      val frac = Math.floorMod(num, toRate.toLong)
      val s0 = sample(idx)
      val v =
        if (frac == 0L) s0
        else s0 + Math.floorDiv((sample(idx + 1) - s0).toLong * frac, toRate.toLong).toInt
      val u = if (v < 0) v + 65536 else v
      out(2 * j) = (u & 0xff).toByte
      out(2 * j + 1) = ((u >> 8) & 0xff).toByte
      j += 1
    }
    out
  }

  /** Energy-VAD SPEECH SEGMENTS of an s16le stream — the utterance
    * extraction step between decode/resample and a usable speech-data
    * pipeline (split long telephony audio into trainable utterances,
    * drop silence). One pass, flattened `(start_frame, span_frames)`
    * pairs:
    *
    *  1. frame energies: Σs² per FULL frame of `frame` samples (the
    *     [[stats]] rule — odd trailing bytes and a partial tail frame
    *     stay out);
    *  2. a frame is ACTIVE iff its energy STRICTLY exceeds `threshold`
    *     (exact long compare, the [[stats]] activity rule);
    *  3. active frames separated by ≤ `maxGap` inactive frames merge
    *     into one segment (hangover — a clap of silence inside an
    *     utterance must not split it);
    *  4. merged segments SPANNING fewer than `minFrames` frames drop
    *     (an isolated energy blip is not speech).
    *
    * All-integer and positional, so a SQL oracle replays it with one
    * gaps-and-islands pass over the closed-form frame energies. */
  def vadSegments(
      bytes: Array[Byte], frame: Int, threshold: Long,
      maxGap: Int, minFrames: Int): Array[Long] = {
    val n = bytes.length / 2
    val nFrames = n / frame
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var segStart = -1; var lastActive = -1
    def close(): Unit = {
      if (segStart >= 0 && lastActive - segStart + 1 >= minFrames) {
        out += segStart.toLong; out += (lastActive - segStart + 1).toLong
      }
    }
    var f = 0
    while (f < nFrames) {
      var e = 0L
      var i = f * frame
      val end = i + frame
      while (i < end) {
        val raw = (bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)
        val s = (if (raw < 32768) raw else raw - 65536).toLong
        e += s * s
        i += 1
      }
      if (e > threshold) {
        if (segStart < 0) { segStart = f; lastActive = f }
        else if (f - lastActive - 1 <= maxGap) lastActive = f
        else { close(); segStart = f; lastActive = f }
      }
      f += 1
    }
    close()
    out.toArray
  }

  /** PEAK-NORMALIZE an s16le stream — the loudness-alignment step of a
    * speech-data pipeline (mixed-gain telephony captures must match the
    * model's expected level before features are comparable): one pass
    * finds `peak = max|s|`, a second rescales every sample to
    * `out_i = floorDiv(s_i · targetPeak, peak)` — exact integer math
    * (the [[resample]] floor-div discipline; the peak sample maps to
    * ±targetPeak exactly, everything else scales proportionally, floored
    * onto the PCM lattice). All-zero/empty streams pass through
    * unchanged (no gain can be defined); odd trailing bytes stay out. */
  def gainNormalize(bytes: Array[Byte], targetPeak: Int): Array[Byte] = {
    val n = bytes.length / 2
    def sample(k: Int): Int = {
      val raw = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
      if (raw < 32768) raw else raw - 65536
    }
    var peak = 0L
    var i = 0
    while (i < n) {
      val a = math.abs(sample(i).toLong)
      if (a > peak) peak = a
      i += 1
    }
    val out = new Array[Byte](n * 2)
    if (peak == 0L) {
      System.arraycopy(bytes, 0, out, 0, n * 2)
      return out
    }
    i = 0
    while (i < n) {
      val v = Math.floorDiv(sample(i).toLong * targetPeak, peak).toInt
      val u = if (v < 0) v + 65536 else v
      out(2 * i) = (u & 0xff).toByte
      out(2 * i + 1) = ((u >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** DOWNMIX an interleaved-stereo s16le stream (L R L R …) to mono:
    * `m_i = floorDiv(L_i + R_i, 2)` — the telephony two-leg capture →
    * one-model-channel step. Exact integer math (floor keeps both
    * engines identical on odd sums of mixed sign); a trailing
    * incomplete pair (and any odd byte) stays out, mirroring
    * [[stats]]. */
  def stereoDownmix(bytes: Array[Byte]): Array[Byte] = {
    val nPairs = bytes.length / 4
    val out = new Array[Byte](nPairs * 2)
    var i = 0
    while (i < nPairs) {
      def sample(k: Int): Int = {
        val raw = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
        if (raw < 32768) raw else raw - 65536
      }
      val m = Math.floorDiv(sample(2 * i) + sample(2 * i + 1), 2)
      val u = if (m < 0) m + 65536 else m
      out(2 * i) = (u & 0xff).toByte
      out(2 * i + 1) = ((u >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Extract ONE channel (0 = left, 1 = right) of an interleaved-stereo
    * s16le stream — the per-leg analysis path next to [[stereoDownmix]].
    * A trailing incomplete pair stays out (channel lengths always
    * match). */
  def deinterleave(bytes: Array[Byte], channel: Int): Array[Byte] = {
    val nPairs = bytes.length / 4
    val out = new Array[Byte](nPairs * 2)
    var i = 0
    while (i < nPairs) {
      out(2 * i) = bytes(4 * i + 2 * channel)
      out(2 * i + 1) = bytes(4 * i + 2 * channel + 1)
      i += 1
    }
    out
  }

  /** s16le bytes of the closed-form pseudo-signal
    * `((id·31 + k·7) mod 65536) − 32768` — the [[PcmExpressions.synthPcm16]] body;
    * bit-identical to the format_string/unhex formulation it replaces. */
  def synth(id: Long, nSamples: Int): Array[Byte] = {
    val out = new Array[Byte](nSamples * 2)
    var k = 0
    while (k < nSamples) {
      val s = java.lang.Math.floorMod(id * 31 + k.toLong * 7, 65536L) - 32768L
      val u = (if (s < 0) s + 65536L else s).toInt
      out(2 * k) = (u & 0xff).toByte
      out(2 * k + 1) = ((u >> 8) & 0xff).toByte
      k += 1
    }
    out
  }
}

/** G.711 µ-law → PCM16LE transcode: one byte per sample in, two bytes
  * per sample out — the telephony codec whose decode is PURE integer
  * math (ITU G.711: complement, unpack sign/exponent/mantissa, bias
  * 0x84), so this audio format is fully real with zero dependencies.
  * Kernel shared by the interpreted and generated paths and by the SQL
  * oracle's formula mirror. */
object MulawKernel {
  /** The canonical ulaw2linear: `~u`; `t = ((u&0x0f)<<3 + 0x84) << exp`;
    * `±(t − 0x84)` by the sign bit. Output range ±32124. */
  def decodeSample(b: Byte): Int = {
    val u = (~b) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** µ-law byte stream → s16le byte stream. */
  def toPcm16(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val s = decodeSample(bytes(i))
      val u = if (s < 0) s + 65536 else s
      out(2 * i) = (u & 0xff).toByte
      out(2 * i + 1) = ((u >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** The canonical linear2ulaw (Sun g711.c lineage: >>2 to 14 bits,
    * CLIP 8159, BIAS>>2 = 33, segment search over seg_uend
    * {0x3F,0x7F,0xFF,0x1FF,…} = (0x40<<seg)−1): the WRITE path of the
    * telephony codec. `encodeSample(decodeSample(c)) == c` for every
    * code except negative zero 0x7F → 0xFF (both decode to 0 — the
    * canonical-zero collapse), spec-pinned over all 256, plus
    * mid-segment vectors pinning the segment boundaries themselves. */
  def encodeSample(pcm: Int): Byte = {
    var p = pcm >> 2
    val mask = if (p < 0) { p = -p; 0x7f } else 0xff
    if (p > 8159) p = 8159
    p += 33
    var seg = 0
    while (seg < 8 && p > ((0x40 << seg) - 1)) seg += 1
    val u = if (seg >= 8) 0x7f else (seg << 4) | ((p >> (seg + 1)) & 0xf)
    (u ^ mask).toByte
  }

  /** s16le byte stream → µ-law byte stream (two bytes in, one out). Odd
    * trailing bytes stay out, mirroring [[PcmKernel.stats]]. */
  def fromPcm16(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length / 2
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val raw = (bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)
      out(i) = encodeSample(if (raw < 32768) raw else raw - 65536)
      i += 1
    }
    out
  }

  /** Deterministic µ-law byte synthesis: `(id·17 + k·11) mod 256` —
    * every byte value is a valid µ-law code, and the closed form lets a
    * SQL oracle regenerate the codes without parsing bytes. */
  def synth(id: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var k = 0
    while (k < n) {
      out(k) = java.lang.Math.floorMod(id * 17 + k.toLong * 11, 256L).toByte
      k += 1
    }
    out
  }
}

/** G.711 A-law → PCM16LE — the European-trunk sibling of [[MulawKernel]]
  * (ITU G.711: XOR 0x55, segment/mantissa unpack; note the INVERTED sign
  * convention vs µ-law — bit 7 set means positive). Pure integer math,
  * zero dependencies. */
object AlawKernel {
  /** Canonical alaw2linear. Output range ±32256. */
  def decodeSample(b: Byte): Int = {
    val v = (b ^ 0x55) & 0xff
    val mant = v & 0x0f
    val seg = (v & 0x70) >> 4
    val t =
      if (seg == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (seg - 1)
    if ((v & 0x80) != 0) t else -t
  }

  /** The canonical linear2alaw (Sun g711.c lineage: >>3 to 13 bits,
    * `-p-1` negative fold, segment table 0x1F..0xFFF, XOR 0x55/0xD5):
    * the WRITE path. Unlike µ-law, `encodeSample(decodeSample(c)) == c`
    * for ALL 256 codes (A-law has no ±0 collapse) — spec-pinned. */
  def encodeSample(pcm: Int): Byte = {
    var p = pcm >> 3
    val mask = if (p >= 0) 0xd5 else { p = -p - 1; 0x55 }
    var seg = 0
    while (seg < 8 && p > (segAEnd(seg))) seg += 1
    val a =
      if (seg >= 8) 0x7f
      else (seg << 4) | (if (seg < 2) (p >> 1) & 0xf else (p >> seg) & 0xf)
    (a ^ mask).toByte
  }
  private val segAEnd = Array(0x1f, 0x3f, 0x7f, 0xff, 0x1ff, 0x3ff, 0x7ff, 0xfff)

  /** s16le byte stream → A-law byte stream (two bytes in, one out). */
  def fromPcm16(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length / 2
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val raw = (bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)
      out(i) = encodeSample(if (raw < 32768) raw else raw - 65536)
      i += 1
    }
    out
  }

  /** A-law byte stream → s16le byte stream. */
  def toPcm16(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val s = decodeSample(bytes(i))
      val u = if (s < 0) s + 65536 else s
      out(2 * i) = (u & 0xff).toByte
      out(2 * i + 1) = ((u >> 8) & 0xff).toByte
      i += 1
    }
    out
  }
}

/** Byte-stream frame splitting on a magic signature — the container
  * step of a frame pipeline (concatenated PNG/JPEG streams, MJPEG-style
  * captures): scan for every occurrence of the marker, emit one frame
  * per occurrence running to the next (garbage before the first marker
  * is ignored — a stream picked up mid-capture must not poison the
  * split). Kernel + fused expression, one scan per row. */
object FrameSplitKernel {
  def split(bytes: Array[Byte], magic: Array[Byte]): Array[Array[Byte]] = {
    if (bytes.length < magic.length || magic.length == 0) return Array.empty
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i <= bytes.length - magic.length) {
      var j = 0
      while (j < magic.length && bytes(i + j) == magic(j)) j += 1
      if (j == magic.length) { starts += i; i += magic.length } else i += 1
    }
    val out = new Array[Array[Byte]](starts.length)
    var f = 0
    while (f < starts.length) {
      val end = if (f + 1 < starts.length) starts(f + 1) else bytes.length
      out(f) = java.util.Arrays.copyOfRange(bytes, starts(f), end)
      f += 1
    }
    out
  }
}

object PcmExpressions {
  private def bytesIn(name: String, kernel: AnyRef, method: String, bin: Column,
      params: Any*): Column =
    KernelCall.column(name, kernel, method, BinaryType, Seq(bin -> BinaryType), params: _*)

  private def synth(name: String, kernel: AnyRef, id: Column, nSamples: Int): Column = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    KernelCall.column(name, kernel, "synth", BinaryType, Seq(id -> LongType), nSamples)
  }

  /** Frames split on a magic byte signature: binary → array<binary>. */
  def splitFrames(bin: Column, magic: Array[Byte]): Column = {
    require(magic.nonEmpty, "magic must be non-empty")
    KernelCall.column("graft_split_frames", FrameSplitKernel, "split",
      ArrayType(BinaryType, containsNull = false), Seq(bin -> BinaryType), magic.clone())
  }

  /** µ-law bytes → s16le bytes. */
  def mulawToPcm16(bin: Column): Column =
    bytesIn("graft_mulaw_to_pcm16", MulawKernel, "toPcm16", bin)

  /** A-law bytes → s16le bytes. */
  def alawToPcm16(bin: Column): Column =
    bytesIn("graft_alaw_to_pcm16", AlawKernel, "toPcm16", bin)

  /** s16le bytes → µ-law bytes (the encode/write path). */
  def pcm16ToMulaw(bin: Column): Column =
    bytesIn("graft_pcm16_to_mulaw", MulawKernel, "fromPcm16", bin)

  /** s16le bytes → A-law bytes (the encode/write path). */
  def pcm16ToAlaw(bin: Column): Column =
    bytesIn("graft_pcm16_to_alaw", AlawKernel, "fromPcm16", bin)

  /** Synth µ-law bytes from a long id column. */
  def synthMulaw(id: Column, nSamples: Int): Column =
    synth("graft_synth_mulaw", MulawKernel, id, nSamples)

  /** Fused PCM stats column: array<long> of
    * (n_samples, sum_sq, peak, zero_crossings, n_frames, active_frames). */
  def pcmStats(bin: Column, frameSamples: Int, energyThreshold: Long): Column = {
    require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")
    KernelCall.column("graft_pcm_stats", PcmKernel, "stats", KernelCall.LongArray,
      Seq(bin -> BinaryType), frameSamples, energyThreshold)
  }

  /** Synth s16le bytes from a long id column. */
  def synthPcm16(id: Column, nSamples: Int): Column =
    synth("graft_synth_pcm16", PcmKernel, id, nSamples)

  /** Integer-ratio linear resample of s16le bytes (e.g. 8000 → 16000). */
  def resamplePcm16(bin: Column, fromRate: Int, toRate: Int): Column = {
    require(fromRate >= 1 && toRate >= 1, s"rates must be positive, got $fromRate -> $toRate")
    bytesIn("graft_resample_pcm16", PcmKernel, "resample", bin, fromRate, toRate)
  }

  /** Interleaved-stereo s16le → mono (floorDiv pair average). */
  def stereoDownmix(bin: Column): Column =
    bytesIn("graft_stereo_downmix", PcmKernel, "stereoDownmix", bin)

  /** One channel (0 = left, 1 = right) of interleaved-stereo s16le. */
  def deinterleave(bin: Column, channel: Int): Column = {
    require(channel == 0 || channel == 1, s"channel must be 0 or 1, got $channel")
    bytesIn("graft_deinterleave", PcmKernel, "deinterleave", bin, channel)
  }

  /** Peak-normalize s16le bytes so max|s| = targetPeak (exact floor-div
    * scaling; all-zero streams pass through). */
  def gainNormalize(bin: Column, targetPeak: Int): Column = {
    require(targetPeak >= 1 && targetPeak <= 32767, s"targetPeak out of [1, 32767]: $targetPeak")
    bytesIn("graft_pcm16_gain", PcmKernel, "gainNormalize", bin, targetPeak)
  }

  /** Energy-VAD speech segments: binary → array<long> of flattened
    * (start_frame, span_frames) pairs. */
  def vadSegments(
      bin: Column, frameSamples: Int, energyThreshold: Long,
      maxGapFrames: Int, minSpanFrames: Int): Column = {
    require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")
    require(maxGapFrames >= 0, s"maxGapFrames must be >= 0, got $maxGapFrames")
    require(minSpanFrames >= 1, s"minSpanFrames must be >= 1, got $minSpanFrames")
    KernelCall.column("graft_vad_segments", PcmKernel, "vadSegments", KernelCall.LongArray,
      Seq(bin -> BinaryType), frameSamples, energyThreshold, maxGapFrames, minSpanFrames)
  }
}
