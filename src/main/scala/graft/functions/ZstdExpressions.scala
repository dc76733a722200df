package graft.functions

import graft.functions.LittleEndian.{le16, le32}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Zstandard frame kernel (RFC 8878) — the MODERN-LAKE sibling of the
  * q337 gzip leg: zstd is the codec the lake actually runs (parquet
  * `compression=zstd`, shuffle/broadcast compression — Spark ships
  * `zstd-jni` on its own classpath, so like gzip the codec is FULLY
  * available and the leg has NO env-blocked half). The walk parses the
  * frame header by hand from the published layout — magic
  * `28 B5 2F FD` (LE), the frame-header-descriptor byte
  * (FCS-field-size bits 6-7, single-segment bit 5, content-checksum
  * bit 2, dictionary-ID bits 0-1), the optional window descriptor, the
  * frame content size at its flag-derived width (with the +256 offset
  * on the 2-byte form) — then REALLY decompresses through the native
  * library, which verifies the trailing xxhash64-low-32 content
  * checksum when the descriptor announces one: a flipped checksum byte
  * must surface as `decode_ok = 0` with the header fields intact, the
  * q337/q338 tamper discipline.
  */
object ZstdKernel {

  /** One zstd frame over a payload with an EXPLICIT compression level
    * and checksum choice (`ZstdCompressCtx` — the one-shot
    * `Zstd.compress` hardcodes no-checksum). */
  def zstd(payload: Array[Byte], level: Int, checksum: Boolean): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(payload)
    } finally ctx.close()
  }

  /** `[is_zstd, fcs, has_checksum, single_segment, decode_ok, n_decoded]`
    * (longs) — is_zstd = 1 iff the magic and a parseable frame header
    * with a PRESENT content-size field are found (a frame without FCS is
    * legal zstd but fails a lake's audit contract — content size is what
    * admission control reads, so its absence is flagged, not tolerated);
    * decode_ok = 1 iff the native decompress round-trips EXACTLY fcs
    * bytes (the library verifies the content checksum when present —
    * corruption anywhere, including a lying checksum, lands here).
    * Decoded bytes are counted, never returned. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 6) return fail
    if (le32(bytes, 0) != 0xfd2fb528L) return fail
    val fhd = bytes(4) & 0xff
    val fcsFlag = (fhd >> 6) & 0x3
    val singleSegment = ((fhd >> 5) & 0x1) == 1
    val hasChecksum = ((fhd >> 2) & 0x1) == 1
    val dictFlag = fhd & 0x3
    var i = 5
    if (!singleSegment) i += 1 // window descriptor byte
    i += (dictFlag match { case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4 })
    val fcsSize = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (fcsSize == 0) return fail // no content size: fails the audit contract
    if (i + fcsSize > bytes.length) return fail
    val fcs = fcsSize match {
      case 1 => (bytes(i) & 0xffL)
      case 2 => 256L + le16(bytes, i)
      case 4 => le32(bytes, i)
      case _ => le32(bytes, i) | (le32(bytes, i + 4) << 32)
    }
    if (fcs < 0) return fail
    val ckL = if (hasChecksum) 1L else 0L
    val ssL = if (singleSegment) 1L else 0L
    // Decompression-bomb guard — an audit-scan policy: a frame CLAIMING
    // more than 1 GiB of content is refused unread (decode_ok = 0), with
    // the header fields still reported.
    if (fcs > (1L << 30)) return Array(1L, fcs, ckL, ssL, 0L, -1L)
    val (ok, n) = decodedLength(bytes, fcs) match {
      case Some(len) => (if (len == fcs) 1L else 0L, len)
      case None      => (0L, -1L)
    }
    Array(1L, fcs, ckL, ssL, ok, n)
  }

  /** Decoded bytes never take more than this much heap per call. */
  private final val DecodeBufferBytes = 32 * 1024

  /** The decoded length of `bytes` as the one-shot `Zstd.decompress(bytes,
    * fcs)` returns it, or None where that call fails. The one-shot call
    * allocates the claimed `fcs` up front, so it runs only for a claim that
    * fits in [[DecodeBufferBytes]]: a 20-byte corrupt frame claiming a GiB
    * would cost a GiB of heap per call. A larger claim is decoded as a
    * stream and counted through a buffer of that size, never kept, with the
    * one-shot call's failures: output beyond `fcs` (the buffer it would have
    * filled), a corrupt, truncated or trailing-garbage input, a content size
    * or checksum that does not match. The stream's window limit is lifted to
    * the format's maximum, as the one-shot call (which uses its output as
    * the window) has none. */
  private def decodedLength(bytes: Array[Byte], fcs: Long): Option[Long] =
    try {
      if (fcs <= DecodeBufferBytes) Some(com.github.luben.zstd.Zstd.decompress(bytes, fcs.toInt).length.toLong)
      else {
        val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
          new java.io.ByteArrayInputStream(bytes), com.github.luben.zstd.RecyclingBufferPool.INSTANCE)
        try {
          in.setLongMax(31)
          val buf = new Array[Byte](DecodeBufferBytes)
          var total = 0L
          var r = in.read(buf)
          while (r >= 0 && total <= fcs) { total += r; r = in.read(buf) }
          if (total > fcs) None else Some(total)
        } finally in.close()
      }
    } catch { case _: java.io.IOException | _: com.github.luben.zstd.ZstdException => None }
}

object ZstdExpressions {
  /** array<long> [is_zstd, fcs, has_checksum, single_segment, decode_ok,
    * n_decoded] of a binary column holding a zstd frame. */
  def zstdInfo(bin: Column): Column =
    KernelCall.column("graft_zstd_info", ZstdKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
