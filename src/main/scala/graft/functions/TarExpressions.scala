package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** POSIX ustar shard kernel (IEEE 1003.1) — the TRAINING-SHARD leg: the
  * WebDataset convention (the de facto multimodal-training container —
  * tar shards of samples, each sample a basename KEY with one file per
  * modality: `key.txt`, `key.bin`, …) is plain ustar, so the audit scan
  * of a shard corpus is a 512-byte-block header walk: verify the stored
  * header CHECKSUM (unsigned byte sum with the checksum field read as
  * spaces — the format's own tamper channel), parse the octal size
  * field, step whole entries without touching payload bytes, group
  * basenames into sample keys, and stop at the end-of-archive zero
  * block.
  *
  * Fixed-width audit row out; per-row state is one key set bounded by
  * the shard's entry count (WebDataset shards are sample-count-bounded
  * by construction — the whole point of sharding). Checksum-bad entries
  * are counted in `n_chksum_bad` and EXCLUDED from every other tally
  * (an entry you cannot trust the header of is an entry you cannot
  * count), but the walk continues — size is parsed before the verdict,
  * so one tampered header never hides the rest of the shard.
  */
object TarKernel {

  private def writeOctal(b: Array[Byte], off: Int, width: Int, v: Long): Unit = {
    // "%0<width-1>o" + NUL — the POSIX form
    var i = off + width - 2
    var x = v
    while (i >= off) { b(i) = ('0' + (x & 7)).toByte; x >>= 3; i -= 1 }
    b(off + width - 1) = 0
  }

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off; val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L; var any = false
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); i += 1; any = true
    }
    if (!any) -1L else v
  }

  private def checksumOf(b: Array[Byte], off: Int): Long = {
    var s = 0L; var i = 0
    while (i < 512) {
      s += (if (i >= 148 && i < 156) 0x20L else (b(off + i) & 0xffL))
      i += 1
    }
    s
  }

  /** One ustar entry: 512-byte header (name, 0644 mode, octal size and
    * mtime, verified checksum, typeflag '0', `ustar` magic) + payload
    * padded to the 512 boundary. */
  def entry(name: String, payload: Array[Byte], mtime: Long): Array[Byte] = {
    val nameB = name.getBytes("US-ASCII")
    require(nameB.length <= 100, s"ustar name limit is 100 bytes, got ${nameB.length}")
    val n = 512 + ((payload.length + 511) / 512) * 512
    val out = new Array[Byte](n)
    System.arraycopy(nameB, 0, out, 0, nameB.length)
    writeOctal(out, 100, 8, 0x1a4L) // mode 0644
    writeOctal(out, 108, 8, 0L) // uid
    writeOctal(out, 116, 8, 0L) // gid
    writeOctal(out, 124, 12, payload.length.toLong)
    writeOctal(out, 136, 12, mtime)
    out(156) = '0' // typeflag: regular file
    val magic = "ustar\u000000".getBytes("US-ASCII") // POSIX: "ustar" NUL, version "00"
    System.arraycopy(magic, 0, out, 257, magic.length)
    val ck = checksumOf(out, 0)
    // chksum: 6 octal digits, NUL, space (the historical layout)
    var i = 153; var x = ck
    while (i >= 148) { out(i) = ('0' + (x & 7)).toByte; x >>= 3; i -= 1 }
    out(154) = 0; out(155) = ' '
    System.arraycopy(payload, 0, out, 512, payload.length)
    out
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < 512) { if (b(off + i) != 0) return false; i += 1 }
    true
  }

  /** `[is_tar, n_entries, n_keys, total_size, n_txt, n_bin,
    * n_chksum_bad]` (longs) — one header walk, payloads never read.
    * `n_keys` counts distinct WebDataset sample keys (the name with its
    * last extension stripped) over checksum-GOOD regular-file entries;
    * `n_txt`/`n_bin` tally the planted modality extensions. Truncation,
    * a bad magic, an unparseable size, or bytes after the end-of-archive
    * zero block that are not padding fail the whole row to `[0, -1, …]`.
    */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 1024 || bytes.length % 512 != 0) return fail
    var pos = 0
    var nEntries = 0L; var totalSize = 0L
    var nTxt = 0L; var nBin = 0L; var nBad = 0L
    var nHeaders = 0L
    val keys = new java.util.HashSet[String]()
    while (pos + 512 <= bytes.length && !isZeroBlock(bytes, pos)) {
      // magic "ustar" at 257 (POSIX NUL"00" or GNU " \0" both accepted)
      if (bytes(pos + 257) != 'u' || bytes(pos + 258) != 's' ||
        bytes(pos + 259) != 't' || bytes(pos + 260) != 'a' ||
        bytes(pos + 261) != 'r') return fail
      val size = octal(bytes, pos + 124, 12)
      if (size < 0) return fail
      val stored = octal(bytes, pos + 148, 8)
      val good = stored == checksumOf(bytes, pos)
      nHeaders += 1
      if (!good) nBad += 1
      else {
        val tf = bytes(pos + 156)
        if (tf == '0' || tf == 0) { // regular file
          var e = pos
          while (e < pos + 100 && bytes(e) != 0) e += 1
          val name = new String(bytes, pos, e - pos, "US-ASCII")
          val dot = name.lastIndexOf('.')
          keys.add(if (dot < 0) name else name.substring(0, dot))
          val ext = if (dot < 0) "" else name.substring(dot + 1)
          if (ext == "txt") nTxt += 1
          if (ext == "bin") nBin += 1
          nEntries += 1
          totalSize += size
        }
      }
      val step = 512L + ((size + 511L) / 512L) * 512L
      if (step <= 0L || pos + step > bytes.length) return fail // truncated payload
      pos += step.toInt
    }
    if (pos + 512 > bytes.length) return fail // no end-of-archive block
    // everything from the zero block on must be padding
    while (pos < bytes.length) {
      if (bytes(pos) != 0) return fail
      pos += 1
    }
    if (nHeaders < 1) return fail
    Array(1L, nEntries, keys.size.toLong, totalSize, nTxt, nBin, nBad)
  }
}

object TarExpressions {
  /** array<long> [is_tar, n_entries, n_keys, total_size, n_txt, n_bin,
    * n_chksum_bad] of a binary column holding a ustar shard. */
  def tarInfo(bin: Column): Column =
    KernelCall.column("graft_tar_info", TarKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
