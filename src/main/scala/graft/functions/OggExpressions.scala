package graft.functions

import graft.functions.LittleEndian.{le16, le32, le64}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Ogg (RFC 3533) page-walk kernel with Opus (RFC 7845) header
  * detection — the container half of the Opus leg, same gate split as
  * [[Mp3Kernel]]/[[JpegKernel]]: the JDK ships no Opus decoder (the
  * payload stays env-blocked, pinned in `OggSpec`), but the page
  * structure — capture pattern, granule positions, CRC, segment lacing —
  * is deterministic from the synthesis parameters and
  * DuckDB-oracle-expressible (q336).
  *
  * The walk is the published framing:
  *
  *  - page header: `"OggS" version(0) header_type granule(8 LE)
  *    serial(4 LE) page_seq(4 LE) crc(4 LE) n_segs segtable(n_segs)`,
  *    payload = Σ lacing values;
  *  - every page carries a CRC-32 (poly 0x04c11db7, UNreflected, init 0,
  *    xorout 0) over the whole page with the CRC field zeroed — the walk
  *    VERIFIES it and stops at the first mismatch (a corrupted page
  *    must not contribute granules);
  *  - an Opus stream's BOS page payload starts `"OpusHead"` (RFC 7845
  *    §5.1): version, channel count, pre-skip (2 LE), input sample rate
  *    (4 LE — informational; Opus granules ALWAYS count 48 kHz samples),
  *    output gain, mapping family;
  *  - `duration_ms = max(0, last_granule − pre_skip) · 1000 / 48000`,
  *    exact integer arithmetic (RFC 7845 §4: granule = 48 kHz sample
  *    count through the page, inclusive of pre-skip).
  */
object OggKernel {

  /** RFC 3533 CRC-32: polynomial 0x04c11db7, not reflected, init 0,
    * no final xor — NOT java.util.zip.CRC32 (which is the reflected
    * IEEE variant with init/xorout 0xffffffff). */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  /** CRC over `bytes[from, until)` with the 4 CRC bytes at `crcAt`
    * treated as zero (the RFC's "crc field zeroed" rule without copying
    * the page). */
  def pageCrc(bytes: Array[Byte], from: Int, until: Int, crcAt: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      val b = if (i >= crcAt && i < crcAt + 4) 0 else bytes(i) & 0xff
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ b) & 0xff)
      i += 1
    }
    crc
  }

  /** `[is_ogg, is_opus, channels, pre_skip, n_pages, last_granule,
    * duration_ms]` (longs) — is_ogg = 1 iff at least one CRC-valid page
    * starts at offset 0; is_opus = 1 iff the first page carries the BOS
    * flag and an `OpusHead` payload (channels/pre_skip from it, else
    * −1); n_pages counts CRC-valid pages (the walk STOPS at the first
    * bad capture pattern, truncated header, or CRC mismatch — a corrupt
    * page contributes neither count nor granule); duration is the Opus
    * 48 kHz closed form off the last VALID granule. Garbage degrades to
    * [0, 0, -1, ...], never throws. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, 0L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 28) return fail
    var i = 0
    var pages = 0L
    var lastGranule = 0L
    var isOpus = 0L
    var channels = -1L
    var preSkip = -1L
    var done = false
    while (!done) {
      if (i + 27 > bytes.length) done = true
      else if (!(bytes(i) == 'O' && bytes(i + 1) == 'g' && bytes(i + 2) == 'g' &&
          bytes(i + 3) == 'S' && bytes(i + 4) == 0)) done = true
      else {
        val nSegs = bytes(i + 26) & 0xff
        val headerLen = 27 + nSegs
        if (i + headerLen > bytes.length) done = true
        else {
          var payloadLen = 0
          var s = 0
          while (s < nSegs) { payloadLen += bytes(i + 27 + s) & 0xff; s += 1 }
          val pageLen = headerLen + payloadLen
          if (i + pageLen > bytes.length) done = true
          else {
            val stored = le32(bytes, i + 22)
            val computed = pageCrc(bytes, i, i + pageLen, i + 22) & 0xffffffffL
            if (stored != computed) done = true
            else {
              val headerType = bytes(i + 5) & 0xff
              val granule = le64(bytes, i + 6)
              if (pages == 0L && (headerType & 0x02) != 0 && payloadLen >= 19 &&
                  bytes(i + headerLen) == 'O' && bytes(i + headerLen + 1) == 'p' &&
                  bytes(i + headerLen + 2) == 'u' && bytes(i + headerLen + 3) == 's' &&
                  bytes(i + headerLen + 4) == 'H' && bytes(i + headerLen + 5) == 'e' &&
                  bytes(i + headerLen + 6) == 'a' && bytes(i + headerLen + 7) == 'd') {
                isOpus = 1L
                channels = (bytes(i + headerLen + 9) & 0xff).toLong
                preSkip = le16(bytes, i + headerLen + 10).toLong
              }
              pages += 1L
              // granule −1 marks a pages-spanning packet with no packet
              // ending here (RFC 3533 §6) — it carries no time position
              if (granule != -1L) lastGranule = granule
              i += pageLen
            }
          }
        }
      }
    }
    if (pages == 0L) fail
    else {
      val effPre = if (preSkip >= 0) preSkip else 0L
      val dur =
        if (isOpus == 1L) math.max(0L, lastGranule - effPre) * 1000L / 48000L
        else -1L
      Array(1L, isOpus, channels, preSkip, pages, lastGranule, dur)
    }
  }
}

object OggExpressions {
  /** array<long> [is_ogg, is_opus, channels, pre_skip, n_pages,
    * last_granule, duration_ms] of a binary column. */
  def oggInfo(bin: Column): Column =
    KernelCall.column("graft_ogg_info", OggKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
