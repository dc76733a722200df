package graft.functions

import graft.functions.LittleEndian.{le16, le32, writeLe16, writeLe32}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** ZIP archive kernel (PKWARE APPNOTE / the format `java.util.zip`
  * implements) — the DATASET-DISTRIBUTION leg: public corpora and
  * labeling exports overwhelmingly ship as zip, and the correct audit
  * walk is central-directory-FIRST (find the end-of-central-directory
  * record from the tail, walk the directory, then verify each entry's
  * stream at its recorded local-header offset) — the property that makes
  * zip seekable object storage: a reader lists a terabyte archive
  * reading kilobytes. The per-entry verification is REAL: stored entries
  * byte-compared by length, deflated entries inflated with a raw
  * `Inflater`, both CRC32-checked against the directory's stored value —
  * a tampered directory CRC must surface as `n_crc_bad` with every other
  * tally intact (the q337/q338/q339 discipline on zip's own checksum
  * channel).
  */
object ZipKernel {

  /** One archive over (name, payload, stored?) entries: local headers +
    * data, then the central directory, then the EOCD record — method 0
    * (stored) or 8 (raw deflate), real CRC32s, fixed DOS time/date. */
  def zip(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val recorded = entries.map { case (name, payload, storeIt) =>
      val offset = out.size()
      val crc = new java.util.zip.CRC32()
      crc.update(payload)
      val data =
        if (storeIt) payload
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(payload); d.finish()
            val buf = new Array[Byte](4096)
            val acc = new java.io.ByteArrayOutputStream()
            while (!d.finished()) { val k = d.deflate(buf); acc.write(buf, 0, k) }
            acc.toByteArray
          } finally d.end()
        }
      val nameB = name.getBytes("US-ASCII")
      writeLe32(out, 0x04034b50L) // local file header
      writeLe16(out, 20); writeLe16(out, 0); writeLe16(out, if (storeIt) 0 else 8)
      writeLe16(out, 0x6000); writeLe16(out, 0x5b10) // fixed DOS time/date
      writeLe32(out, crc.getValue); writeLe32(out, data.length.toLong)
      writeLe32(out, payload.length.toLong)
      writeLe16(out, nameB.length); writeLe16(out, 0)
      out.write(nameB); out.write(data)
      (name, nameB, crc.getValue, data.length.toLong, payload.length.toLong,
        storeIt, offset)
    }
    val cdStart = out.size()
    recorded.foreach { case (_, nameB, crc, csize, usize, storeIt, offset) =>
      writeLe32(out, 0x02014b50L) // central directory header
      writeLe16(out, 20); writeLe16(out, 20); writeLe16(out, 0)
      writeLe16(out, if (storeIt) 0 else 8)
      writeLe16(out, 0x6000); writeLe16(out, 0x5b10)
      writeLe32(out, crc); writeLe32(out, csize); writeLe32(out, usize)
      writeLe16(out, nameB.length); writeLe16(out, 0); writeLe16(out, 0)
      writeLe16(out, 0); writeLe16(out, 0); writeLe32(out, 0L); writeLe32(out, offset.toLong)
      out.write(nameB)
    }
    val cdSize = out.size() - cdStart
    writeLe32(out, 0x06054b50L) // end of central directory
    writeLe16(out, 0); writeLe16(out, 0)
    writeLe16(out, recorded.size); writeLe16(out, recorded.size)
    writeLe32(out, cdSize.toLong); writeLe32(out, cdStart.toLong); writeLe16(out, 0)
    out.toByteArray
  }

  /** Flip one byte of the LAST central-directory entry's stored CRC —
    * the q346 tamper plant (synthesis-only: assumes the comment-free
    * EOCD the builder writes). The stream itself stays intact, so the
    * walk must report the entry with `n_crc_bad` ticking. */
  def tamperLastDirectoryCrc(bytes: Array[Byte]): Array[Byte] = {
    val e = bytes.length - 22
    val n = le16(bytes, e + 10)
    var i = le32(bytes, e + 16).toInt
    var k = 0
    while (k < n - 1) {
      i += 46 + le16(bytes, i + 28) + le16(bytes, i + 30) + le16(bytes, i + 32)
      k += 1
    }
    bytes(i + 16) = (bytes(i + 16) ^ 0xff).toByte
    bytes
  }

  /** `[is_zip, n_entries, n_stored, total_usize, n_crc_bad,
    * n_verify_fail]` (longs) — central-directory-first walk with REAL
    * per-entry verification. A directory CRC that disagrees with the
    * recomputed stream CRC ticks `n_crc_bad` (the entry still counts —
    * tamper-visible, not tally-poisoning); an entry whose stream cannot
    * be read at all (bad local magic, corrupt deflate, size mismatch)
    * ticks `n_verify_fail` and is excluded from n_stored/total_usize.
    * No EOCD, a truncated directory, or an out-of-range offset fails the
    * row to `[0, -1, …]`. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 22) return fail
    // EOCD: scan back over the (possibly empty) comment for PK\5\6 —
    // and VALIDATE each candidate before trusting it (r17 advice): a
    // trailing comment or stored payload near the tail can contain the
    // 4 signature bytes, so the first hit is only the EOCD if its own
    // comment length lands the record exactly at end-of-file and its
    // directory (offset + size) ends where the record begins.
    var e = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    def eocdValid(at: Int): Boolean =
      le32(bytes, at) == 0x06054b50L &&
        at + 22 + le16(bytes, at + 20) == bytes.length &&
        le32(bytes, at + 16) + le32(bytes, at + 12) == at.toLong
    while (e >= floor && !eocdValid(e)) e -= 1
    if (e < floor) return fail
    val n = le16(bytes, e + 10)
    val cdOff = le32(bytes, e + 16)
    if (cdOff < 0 || cdOff > bytes.length) return fail
    var i = cdOff.toInt
    var k = 0
    var nStored = 0L; var usizeTotal = 0L; var crcBad = 0L; var verifyFail = 0L
    try {
      while (k < n) {
        if (i + 46 > bytes.length || le32(bytes, i) != 0x02014b50L) return fail
        val method = le16(bytes, i + 10)
        val crcStored = le32(bytes, i + 16)
        val csize = le32(bytes, i + 20)
        val usize = le32(bytes, i + 24)
        val nameLen = le16(bytes, i + 28)
        val extraLen = le16(bytes, i + 30)
        val commentLen = le16(bytes, i + 32)
        val lfhOff = le32(bytes, i + 42)
        // verify the stream at the local header
        var ok = true
        val crc = new java.util.zip.CRC32()
        if (lfhOff + 30 > bytes.length || le32(bytes, lfhOff.toInt) != 0x04034b50L) ok = false
        else {
          val lo = lfhOff.toInt
          val lNameLen = le16(bytes, lo + 26)
          val lExtraLen = le16(bytes, lo + 28)
          val dataAt = lo + 30 + lNameLen + lExtraLen
          if (dataAt + csize > bytes.length) ok = false
          else if (method == 0) {
            if (csize != usize) ok = false
            else crc.update(bytes, dataAt, usize.toInt)
          } else if (method == 8) {
            val inf = new java.util.zip.Inflater(true)
            try {
              inf.setInput(bytes, dataAt, csize.toInt)
              val buf = new Array[Byte](4096)
              var total = 0L
              var stuck = false
              while (!inf.finished() && !stuck) {
                val m = inf.inflate(buf)
                if (m == 0 && !inf.finished()) stuck = true
                else { crc.update(buf, 0, m); total += m }
              }
              if (stuck || total != usize) ok = false
            } catch { case _: java.util.zip.DataFormatException => ok = false }
            finally inf.end()
          } else ok = false // unsupported method
        }
        if (!ok) verifyFail += 1
        else {
          if (method == 0) nStored += 1
          usizeTotal += usize
          if (crc.getValue != crcStored) crcBad += 1
        }
        i += 46 + nameLen + extraLen + commentLen
        k += 1
      }
    } catch { case _: ArrayIndexOutOfBoundsException => return fail }
    Array(1L, n.toLong, nStored, usizeTotal, crcBad, verifyFail)
  }
}

object ZipExpressions {
  /** array<long> [is_zip, n_entries, n_stored, total_usize, n_crc_bad,
    * n_verify_fail] of a binary column holding a zip archive. */
  def zipInfo(bin: Column): Column =
    KernelCall.column("graft_zip_info", ZipKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
