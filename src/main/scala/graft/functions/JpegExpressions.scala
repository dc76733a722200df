package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType}

/** JPEG container-header kernel — the format-verification half of the
  * JPEG leg (the r15 verdict's "dims/flags are oracle-expressible even
  * though the pixel decode is not": DuckDB cannot decode JPEG, but the
  * dimensions a correct encoder wrote are derivable from the synthesis
  * parameters, so a dims row gates the encode+parse round trip while the
  * lossy pixel path stays spec-pinned).
  *
  * The scan is the published JFIF/JPEG marker walk (ITU T.81 §B): SOI
  * `FF D8`, then segments `FF <marker> <len16be> <payload>` (len includes
  * itself), fill `FF` bytes skipped, standalone markers (TEM `01`,
  * RST `D0–D7`, EOI `D9`) carry no length, and the frame header — any
  * SOFn `C0–CF` except DHT `C4`, JPG `C8`, DAC `CC` — carries
  * `precision(1) height(2be) width(2be)`. The walk stops at SOS `DA`
  * (entropy-coded data follows; a frame header always precedes it).
  */
object JpegKernel {

  /** `[is_jpeg, width, height]` — is_jpeg = 1 iff the bytes start with
    * SOI and a well-formed SOFn header is found before SOS/EOI/EOF;
    * width/height are −1 unless is_jpeg = 1 (the query layer nulls
    * them). Truncated/garbage segments degrade to [0, −1, −1], never
    * throw — a 100 TB crawl always has a corrupt tail. */
  def dims(bytes: Array[Byte]): Array[Int] = {
    val fail = Array(0, -1, -1)
    if (bytes == null || bytes.length < 4) return fail
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return fail
    var i = 2
    while (i + 1 < bytes.length) {
      if ((bytes(i) & 0xff) != 0xff) return fail
      // skip fill bytes (consecutive FFs before the marker id)
      while (i + 1 < bytes.length && (bytes(i + 1) & 0xff) == 0xff) i += 1
      if (i + 1 >= bytes.length) return fail
      val m = bytes(i + 1) & 0xff
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
      else if (m == 0xd9 || m == 0xda) return fail       // EOI/SOS before SOF
      else {
        if (i + 3 >= bytes.length) return fail
        val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > bytes.length) return fail
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7) return fail
          val h = ((bytes(i + 5) & 0xff) << 8) | (bytes(i + 6) & 0xff)
          val w = ((bytes(i + 7) & 0xff) << 8) | (bytes(i + 8) & 0xff)
          return Array(1, w, h)
        }
        i += 2 + len
      }
    }
    fail
  }
}

object JpegExpressions {
  /** array<int> [is_jpeg, width, height] of a binary column. */
  def jpegDims(bin: Column): Column =
    KernelCall.column("graft_jpeg_dims", JpegKernel, "dims",
      ArrayType(IntegerType, containsNull = false), Seq(bin -> BinaryType))
}
