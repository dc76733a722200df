package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Protobuf wire-format kernel (the published proto3 encoding) — the
  * PAYLOAD layer under the q347 TFRecord walk: a TFRecord shard's
  * records are `tf.Example` protos, and the schema-free audit a
  * pipeline can always run is the WIRE walk — varint tags
  * (`field_no << 3 | wire_type`), varint values (7-bit little-endian
  * groups, max 10 bytes), length-delimited fields stepped by their own
  * length prefix, fixed64/fixed32 stepped by width. No descriptor
  * needed: the wire format is self-delimiting by design, which is
  * exactly what makes a generic integrity scan possible at corpus
  * scale. A message that cannot be walked to EOF — truncated varint, a
  * length running past the end, the deprecated group wire types, a
  * field number of 0 — fails the row (a message you cannot frame is a
  * message you cannot trust any field of). */
object ProtoKernel {

  /** `[is_proto, n_fields, n_varint, n_len, varint_sum, len_total]`
    * (longs) — one wire walk; varint payloads are summed (mod 2^63 by
    * long arithmetic), length-delimited payloads are stepped over and
    * their lengths summed. An empty message is valid with zero
    * fields. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null) return fail
    val n = bytes.length
    var i = 0
    var nFields = 0L; var nVarint = 0L; var nLen = 0L
    var varintSum = 0L; var lenTotal = 0L
    // returns the varint in the low 63 bits, advancing `i`; -1 on break
    def varint(): Long = {
      var v = 0L; var shift = 0; var k = 0
      while (k < 10) {
        if (i >= n) return -1L
        val b = bytes(i) & 0xff
        i += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v & Long.MaxValue
        shift += 7
        k += 1
      }
      -1L // unterminated 10-byte varint
    }
    while (i < n) {
      val tag = varint()
      if (tag < 0) return fail
      val fieldNo = tag >>> 3
      val wire = (tag & 7L).toInt
      if (fieldNo == 0) return fail // field 0 is reserved/invalid
      wire match {
        case 0 =>
          val v = varint()
          if (v < 0) return fail
          nVarint += 1; varintSum += v
        case 1 => // fixed64
          if (i + 8 > n) return fail
          i += 8
        case 2 =>
          val len = varint()
          if (len < 0 || i + len > n) return fail
          i += len.toInt
          nLen += 1; lenTotal += len
        case 5 => // fixed32
          if (i + 4 > n) return fail
          i += 4
        case _ => return fail // 3/4 are the deprecated groups; 6/7 invalid
      }
      nFields += 1
    }
    Array(1L, nFields, nVarint, nLen, varintSum, lenTotal)
  }

  /** Wire-encode helpers for the synthesis side. */
  def writeVarint(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write((v & 0x7f).toInt)
  }
  def writeVarintField(out: java.io.ByteArrayOutputStream, fieldNo: Int, value: Long): Unit = {
    writeVarint(out, (fieldNo.toLong << 3) | 0L)
    writeVarint(out, value)
  }
  def writeBytesField(out: java.io.ByteArrayOutputStream, fieldNo: Int, payload: Array[Byte]): Unit = {
    writeVarint(out, (fieldNo.toLong << 3) | 2L)
    writeVarint(out, payload.length.toLong)
    out.write(payload, 0, payload.length)
  }
}

object ProtoExpressions {
  /** array<long> [is_proto, n_fields, n_varint, n_len, varint_sum,
    * len_total] of a binary column holding one wire-format message. */
  def protoInfo(bin: Column): Column =
    KernelCall.column("graft_proto_info", ProtoKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
