package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Charset sniff + STRICT UTF-8 validation kernel — the encoding step a
  * crawl pipeline runs before any text operator sees a byte: real crawl
  * payloads arrive as raw bytes in whatever encoding the origin served,
  * and mojibake admitted here poisons every downstream token count,
  * shingle, and LM statistic. The walk sniffs the byte-order marks
  * (UTF-8 `EF BB BF`, UTF-16LE `FF FE`, UTF-16BE `FE FF`), then
  * validates the body as RFC 3629 UTF-8 with the FULL strict table —
  * continuation-range checks per lead byte, overlong rejection (C0/C1
  * and the E0/F0 low-continuation windows), the ED surrogate exclusion,
  * the F4 > U+10FFFF cap — counting code points, multibyte code points,
  * and invalid bytes (one per rejected byte, resynchronizing at the
  * next byte: the replacement-character strategy, so one bad byte never
  * cascades).
  */
object Utf8Kernel {

  /** `[encoding, n_chars, n_invalid, n_multibyte, has_bom]` (longs) —
    * encoding 1 = UTF-8 (with or without BOM), 2 = UTF-16LE BOM,
    * 3 = UTF-16BE BOM. For UTF-16 the UTF-8 counters read -1 (the sniff
    * stops at the BOM; transcoding is a different operator). Null bytes
    * → `[0, -1, …]`. */
  def info(bytes: Array[Byte]): Array[Long] = {
    if (bytes == null) return Array(0L, -1L, -1L, -1L, -1L)
    val n = bytes.length
    if (n >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return Array(2L, -1L, -1L, -1L, -1L)
    if (n >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return Array(3L, -1L, -1L, -1L, -1L)
    var i = 0
    var bom = 0L
    if (n >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb &&
      (bytes(2) & 0xff) == 0xbf) { bom = 1L; i = 3 }
    var chars = 0L; var invalid = 0L; var multi = 0L
    def cont(j: Int, lo: Int, hi: Int): Boolean =
      j < n && { val b = bytes(j) & 0xff; b >= lo && b <= hi }
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { chars += 1; i += 1 }
      else if (b0 >= 0xc2 && b0 <= 0xdf) {
        if (cont(i + 1, 0x80, 0xbf)) { chars += 1; multi += 1; i += 2 }
        else { invalid += 1; i += 1 }
      } else if (b0 == 0xe0) {
        if (cont(i + 1, 0xa0, 0xbf) && cont(i + 2, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 3
        } else { invalid += 1; i += 1 }
      } else if ((b0 >= 0xe1 && b0 <= 0xec) || b0 == 0xee || b0 == 0xef) {
        if (cont(i + 1, 0x80, 0xbf) && cont(i + 2, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 3
        } else { invalid += 1; i += 1 }
      } else if (b0 == 0xed) { // exclude surrogates U+D800..DFFF
        if (cont(i + 1, 0x80, 0x9f) && cont(i + 2, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 3
        } else { invalid += 1; i += 1 }
      } else if (b0 == 0xf0) { // exclude overlong < U+10000
        if (cont(i + 1, 0x90, 0xbf) && cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 4
        } else { invalid += 1; i += 1 }
      } else if (b0 >= 0xf1 && b0 <= 0xf3) {
        if (cont(i + 1, 0x80, 0xbf) && cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 4
        } else { invalid += 1; i += 1 }
      } else if (b0 == 0xf4) { // cap at U+10FFFF
        if (cont(i + 1, 0x80, 0x8f) && cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) {
          chars += 1; multi += 1; i += 4
        } else { invalid += 1; i += 1 }
      } else { // stray continuation, C0/C1 overlong lead, F5..FF
        invalid += 1; i += 1
      }
    }
    Array(1L, chars, invalid, multi, bom)
  }
}

object Utf8Expressions {
  /** array<long> [encoding, n_chars, n_invalid, n_multibyte, has_bom]
    * of a binary column (encoding 1 = UTF-8, 2 = UTF-16LE, 3 =
    * UTF-16BE). */
  def utf8Info(bin: Column): Column =
    KernelCall.column("graft_utf8_info", Utf8Kernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
