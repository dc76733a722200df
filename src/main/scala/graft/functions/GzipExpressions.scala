package graft.functions

import graft.functions.LittleEndian.{le16, le32, writeLe32}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Gzip (RFC 1952) member kernel — the COMPRESSED-CORPUS ingestion leg:
  * unlike the JPEG/MP3/Opus legs, the JDK ships the FULL codec
  * (`java.util.zip.Deflater`/`Inflater`), so both halves are real AND
  * exact — the header fields are deterministic from the synthesis
  * parameters, and the decoded payload is byte-identical to the planted
  * text, so a single q337 row gates compress → header walk → REAL
  * inflate → CRC/ISIZE trailer verification cross-engine (DuckDB
  * regenerates every field from the plant formulas; no lossy half at
  * all).
  *
  * Header walk (RFC 1952 §2.3): magic `1f 8b`, CM (8 = deflate), FLG
  * (FTEXT/FHCRC/FEXTRA/FNAME/FCOMMENT — the optional fields are SKIPPED
  * structurally: XLEN-prefixed extra, NUL-terminated name/comment,
  * 2-byte header CRC), MTIME (4 LE), XFL, OS; then the raw-deflate
  * stream; then the 8-byte trailer `CRC32(4 LE) ISIZE(4 LE)` — both
  * VERIFIED against the inflated bytes (a flipped trailer byte must
  * surface as `crc_ok = 0`, gate-visibly).
  */
object GzipKernel {

  /** One gzip member with EXPLICIT header fields (the JDK's
    * `GZIPOutputStream` hardcodes MTIME = 0 / OS = 0 and offers no
    * FNAME — writing the 10-byte header by hand + a raw `Deflater` +
    * the CRC32/ISIZE trailer gives the synthesis full field control
    * while staying byte-consumable by `GZIPInputStream`, which the spec
    * pins as the real-consumer parity check). */
  def gzip(payload: Array[Byte], mtime: Long, xfl: Int, os: Int,
      fname: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val flg = if (fname != null) 0x08 else 0x00
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
    writeLe32(out, mtime)
    out.write(xfl); out.write(os)
    if (fname != null) {
      fname.getBytes("ISO-8859-1").foreach(b => out.write(b & 0xff))
      out.write(0)
    }
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      deflater.setInput(payload)
      deflater.finish()
      val buf = new Array[Byte](4096)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        out.write(buf, 0, n)
      }
    } finally deflater.end()
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    writeLe32(out, crc.getValue)
    writeLe32(out, payload.length.toLong) // ISIZE: length mod 2^32
    out.toByteArray
  }

  /** `[is_gzip, mtime, xfl, os, has_name, isize, crc_ok, n_decoded]`
    * (longs) — is_gzip = 1 iff the magic/CM parse and the raw-deflate
    * stream inflates cleanly with exactly the 8-byte trailer remaining;
    * crc_ok = 1 iff BOTH trailer fields match the inflated bytes
    * (CRC32 and length mod 2³²). Truncation, a corrupt deflate stream,
    * or unparseable optional fields degrade to [0, -1, ...]; a clean
    * inflate with a lying trailer keeps is_gzip = 1 and reports
    * crc_ok = 0 (the gate-visible tamper case). Decoded bytes are
    * counted, never returned — the kernel stays a fixed-width audit
    * row at any payload size. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 18) return fail
    if ((bytes(0) & 0xff) != 0x1f || (bytes(1) & 0xff) != 0x8b || (bytes(2) & 0xff) != 8)
      return fail
    val flg = bytes(3) & 0xff
    val mtime = le32(bytes, 4)
    val xfl = (bytes(8) & 0xff).toLong
    val os = (bytes(9) & 0xff).toLong
    var i = 10
    try {
      if ((flg & 0x04) != 0) { // FEXTRA
        if (i + 2 > bytes.length) return fail
        i += 2 + le16(bytes, i)
      }
      if ((flg & 0x08) != 0) { // FNAME
        while (bytes(i) != 0) i += 1
        i += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT
        while (bytes(i) != 0) i += 1
        i += 1
      }
      if ((flg & 0x02) != 0) i += 2 // FHCRC
      if (i + 8 > bytes.length) return fail
      val inflater = new java.util.zip.Inflater(true)
      try {
        inflater.setInput(bytes, i, bytes.length - i)
        val crc = new java.util.zip.CRC32()
        val buf = new Array[Byte](4096)
        var n = 0L
        while (!inflater.finished()) {
          val k = inflater.inflate(buf)
          if (k == 0 && !inflater.finished()) return fail // truncated/needs-dict
          crc.update(buf, 0, k)
          n += k
        }
        if (inflater.getRemaining != 8) return fail // trailer must be exactly 8
        val at = bytes.length - 8
        val crcOk =
          if (le32(bytes, at) == crc.getValue &&
            le32(bytes, at + 4) == (n & 0xffffffffL)) 1L
          else 0L
        Array(1L, mtime, xfl, os, if ((flg & 0x08) != 0) 1L else 0L, le32(bytes, at + 4),
          crcOk, n)
      } finally inflater.end()
    } catch {
      case _: java.util.zip.DataFormatException => fail
      case _: ArrayIndexOutOfBoundsException => fail
    }
  }
}

object GzipExpressions {
  /** array<long> [is_gzip, mtime, xfl, os, has_name, isize, crc_ok,
    * n_decoded] of a binary column. */
  def gzipInfo(bin: Column): Column =
    KernelCall.column("graft_gzip_info", GzipKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
