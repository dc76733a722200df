package graft.functions

import graft.functions.LittleEndian.{le32, le64, writeLe32, writeLe64}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** TFRecord shard kernel (the TensorFlow `tf.data` on-disk record
  * format) — with the ustar/WebDataset leg (q339) this covers both
  * mainstream training-shard containers: a TFRecord is
  * `[length u64 LE][masked-CRC32C of the length bytes, u32 LE]
  * [payload][masked-CRC32C of the payload, u32 LE]`, where the mask is
  * the published `((crc >>> 15) | (crc << 17)) + 0xa282ead8` rotation
  * (the snappy/LevelDB masking, adopted verbatim by TFRecord) and the
  * CRC is Castagnoli CRC32C — which the JDK ships
  * (`java.util.zip.CRC32C`), so like gzip/zstd/zip BOTH halves are
  * real with no env-blocked part.
  *
  * The two checksums have different audit semantics, and the walk
  * honors the difference: the LENGTH crc exists to validate framing —
  * if it lies, every subsequent offset is untrusted and the row FAILS
  * (the container-walk fail-loud rule); the DATA crc validates one
  * payload — if it lies, the record still counts and `n_crc_bad`
  * ticks (the q337 tamper-visible rule). Payload bytes are stepped
  * over, never buffered.
  */
object TfRecordKernel {

  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    val crc = c.getValue // u32 in a long
    val rot = ((crc >>> 15) | (crc << 17)) & 0xffffffffL
    (rot + 0xa282ead8L) & 0xffffffffL
  }

  /** One shard over the payloads — real masked CRC32C framing. */
  def tfrecord(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    payloads.foreach { p =>
      val len = new java.io.ByteArrayOutputStream(8)
      writeLe64(len, p.length.toLong)
      val lenB = len.toByteArray
      out.write(lenB)
      writeLe32(out, maskedCrc(lenB, 0, 8))
      out.write(p)
      writeLe32(out, maskedCrc(p, 0, p.length))
    }
    out.toByteArray
  }

  /** `[is_tfrecord, n_records, total_bytes, n_crc_bad]` (longs) — one
    * framing walk, payloads stepped over. A lying LENGTH crc, a length
    * running past EOF, or trailing partial bytes fail the row to
    * `[0, -1, …]`; a lying DATA crc counts the record and ticks
    * `n_crc_bad`. An empty shard is a valid zero-record shard. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L)
    if (bytes == null) return fail
    var pos = 0
    var n = 0L; var total = 0L; var bad = 0L
    while (pos < bytes.length) {
      if (pos + 12 > bytes.length) return fail
      val len = le64(bytes, pos)
      if (len < 0 || len > Int.MaxValue.toLong) return fail
      if (le32(bytes, pos + 8) != maskedCrc(bytes, pos, 8)) return fail // framing lie
      val dataAt = pos + 12
      if (dataAt + len + 4 > bytes.length) return fail
      if (le32(bytes, (dataAt + len).toInt) != maskedCrc(bytes, dataAt, len.toInt))
        bad += 1
      n += 1
      total += len
      pos = (dataAt + len + 4).toInt
    }
    Array(1L, n, total, bad)
  }
}

object TfRecordExpressions {
  /** array<long> [is_tfrecord, n_records, total_bytes, n_crc_bad] of a
    * binary column holding a TFRecord shard. */
  def tfrecordInfo(bin: Column): Column =
    KernelCall.column("graft_tfrecord_info", TfRecordKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
