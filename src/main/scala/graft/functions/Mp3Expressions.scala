package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** MPEG audio (MP3) container-header kernel — the audio sibling of
  * [[JpegKernel]] and the same gate split: the JDK ships NO MP3 decoder
  * (probed + dated in SURVEY §8.3 — `javax.sound.sampled` accepts only
  * WAV/AIFF/AU, so the payload decode is environment-blocked and
  * spec-documented), but the CONTAINER — frame sync, bitrate/samplerate
  * tables, frame count, duration estimate — is deterministic from the
  * synthesis parameters and therefore DuckDB-oracle-expressible (q335).
  *
  * The walk is the published MPEG-1/2 audio framing (ISO/IEC 11172-3
  * §2.4.1 / 13818-3), Layer III only (the "MP3" of crawls):
  *
  *  - optional ID3v2 prefix: `"ID3" ver(2) flags(1) size(4 syncsafe)` —
  *    skipped (the tag is metadata, not audio frames);
  *  - frame header, 4 bytes: 11-bit sync `FFE`, 2-bit version
  *    (11 = MPEG1, 10 = MPEG2, 00 = MPEG2.5, 01 reserved), 2-bit layer
  *    (01 = Layer III), protection bit, 4-bit bitrate index (0 = free and
  *    15 = bad both rejected), 2-bit samplerate index (3 reserved),
  *    padding bit, then channel mode in byte 3 (11 = mono);
  *  - Layer III frame size `= 144·bitrate/samplerate + padding` bytes for
  *    MPEG1 (1152 samples/frame), `72·bitrate/samplerate + padding` for
  *    MPEG2/2.5 (576 samples/frame) — integer division, the published
  *    formula;
  *  - every frame must match the FIRST frame's version + samplerate (true
  *    of any real file; bitrate MAY vary — VBR streams walk fine), so
  *    `duration_ms = totalSamples·1000 / samplerate` is exact integer
  *    arithmetic an independent engine replays.
  */
object Mp3Kernel {

  /** Layer III bitrates (kbps) by index 1..14; index 0 = "free format"
    * and 15 = invalid are both rejected (a free-format frame's size is
    * not derivable from the header alone). */
  private val BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)

  private val RateV1 = Array(44100, 48000, 32000, 0)
  private val RateV2 = Array(22050, 24000, 16000, 0)
  private val RateV25 = Array(11025, 12000, 8000, 0)

  /** Samplerate of (version 1|2|25, rate index 0..2) — the published table. */
  def sampleRate(version: Int, rateIdx: Int): Int =
    (if (version == 1) RateV1 else if (version == 2) RateV2 else RateV25)(rateIdx)

  /** Layer III frame size in bytes — `144·bitrate/rate + padding` (MPEG1)
    * / `72·bitrate/rate + padding` (MPEG2/2.5), integer division; the
    * synthesis side uses the SAME formula the walk steps by, while the
    * q335 oracle replays it independently in SQL. */
  def frameBytes(version: Int, bitrateIdx: Int, rateIdx: Int, padding: Int): Int = {
    val kb = (if (version == 1) BitrateV1 else BitrateV2)(bitrateIdx)
    val mult = if (version == 1) 144 else 72
    (mult * kb * 1000 / sampleRate(version, rateIdx)) + padding
  }

  /** `[is_mp3, version, sample_rate, bitrate_kbps, channels, n_frames,
    * duration_ms]` (longs) — is_mp3 = 1 iff at least one COMPLETE valid
    * Layer III frame starts at offset 0 (after an optional ID3v2 tag);
    * version is 1 / 2 / 25 (for MPEG2.5); bitrate/channels are the FIRST
    * frame's (bitrate may vary frame to frame — VBR); the walk stops at
    * the first invalid/incomplete/foreign-samplerate frame, counting only
    * complete frames (a truncated crawl tail never throws and never
    * counts a partial frame). Non-MP3 bytes degrade to [0, -1, ...]. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 4) return fail
    var i = 0
    // ID3v2 prefix: "ID3" + ver(2) + flags(1) + 4-byte syncsafe size
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      i = 10 + size
    }
    var version = -1L; var rate = -1L; var kbps = -1L; var channels = -1L
    var frames = 0L; var samples = 0L
    var done = false
    while (!done) {
      if (i + 4 > bytes.length) done = true
      else {
        val b1 = bytes(i) & 0xff; val b2 = bytes(i + 1) & 0xff
        val b3 = bytes(i + 2) & 0xff; val b4 = bytes(i + 3) & 0xff
        val verBits = (b2 >> 3) & 3
        val layerBits = (b2 >> 1) & 3
        val bIdx = (b3 >> 4) & 15
        val rIdx = (b3 >> 2) & 3
        val padding = (b3 >> 1) & 1
        val mode = (b4 >> 6) & 3
        val sync = b1 == 0xff && (b2 & 0xe0) == 0xe0
        if (!sync || verBits == 1 || layerBits != 1 || bIdx == 0 || bIdx == 15 || rIdx == 3)
          done = true
        else {
          val v = if (verBits == 3) 1L else if (verBits == 2) 2L else 25L
          val r = (if (verBits == 3) RateV1 else if (verBits == 2) RateV2 else RateV25)(rIdx).toLong
          val kb = (if (verBits == 3) BitrateV1 else BitrateV2)(bIdx).toLong
          val mult = if (verBits == 3) 144L else 72L
          val spf = if (verBits == 3) 1152L else 576L
          val frameBytes = mult * kb * 1000L / r + padding
          if (frames > 0 && (v != version || r != rate)) done = true // foreign frame: stop
          else if (i + frameBytes > bytes.length) done = true // incomplete tail
          else {
            if (frames == 0) {
              version = v; rate = r; kbps = kb
              channels = if (mode == 3) 1L else 2L
            }
            frames += 1
            samples += spf
            i += frameBytes.toInt
          }
        }
      }
    }
    if (frames == 0) fail
    else Array(1L, version, rate, kbps, channels, frames, samples * 1000L / rate)
  }
}

object Mp3Expressions {
  /** array<long> [is_mp3, version, sample_rate, bitrate_kbps, channels,
    * n_frames, duration_ms] of a binary column. */
  def mp3Info(bin: Column): Column =
    KernelCall.column("graft_mp3_info", Mp3Kernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
