package graft.operators

import graft.TestSpark
import graft.functions.SafetensorsKernel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The safetensors leg (q348): pins the header-parse and
  * integrity-contract edges the SQL oracle only sees in aggregate —
  * scalar tensors, out-of-order offsets, gaps/overlaps, unknown dtypes,
  * size lies, metadata skipping, and the fail-loud posture. */
class SafetensorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def artifact(header: String, dataLen: Int): Array[Byte] = {
    val h = header.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    var v = h.length.toLong; var j = 0
    while (j < 8) { out.write((v & 0xff).toInt); v >>= 8; j += 1 }
    out.write(h); out.write(new Array[Byte](dataLen))
    out.toByteArray
  }

  test("header parse: dtypes, scalar shape, out-of-order offsets, metadata skip") {
    // tensors declared out of byte order; a scalar ([] = 1 element)
    val h = """{"__metadata__":{"who":"graft","v":"1"},""" +
      """"b":{"dtype":"F16","shape":[3,2],"data_offsets":[8,20]},""" +
      """"a":{"dtype":"F64","shape":[],"data_offsets":[0,8]},""" +
      """"c":{"dtype":"I8","shape":[5],"data_offsets":[20,25]}}"""
    // [is_safetensors, n_tensors, data_bytes, n_f32, n_f16, max_rank, has_metadata]
    assert(SafetensorsKernel.info(artifact(h, 25)).toSeq ==
      Seq(1L, 3L, 25L, 0L, 1L, 2L, 1L))
  }

  test("integrity contract: size lies, gaps, overlaps, unknown dtypes all fail") {
    // span 10 != 3*4
    val lie = """{"a":{"dtype":"F32","shape":[3],"data_offsets":[0,10]}}"""
    assert(SafetensorsKernel.info(artifact(lie, 10)).head == 0L)
    // gap between tensors
    val gap = """{"a":{"dtype":"U8","shape":[2],"data_offsets":[0,2]},""" +
      """"b":{"dtype":"U8","shape":[2],"data_offsets":[3,5]}}"""
    assert(SafetensorsKernel.info(artifact(gap, 5)).head == 0L)
    // overlap
    val ovl = """{"a":{"dtype":"U8","shape":[3],"data_offsets":[0,3]},""" +
      """"b":{"dtype":"U8","shape":[3],"data_offsets":[2,5]}}"""
    assert(SafetensorsKernel.info(artifact(ovl, 5)).head == 0L)
    // data region longer than the spans cover
    val long = """{"a":{"dtype":"U8","shape":[2],"data_offsets":[0,2]}}"""
    assert(SafetensorsKernel.info(artifact(long, 3)).head == 0L)
    // unknown dtype
    val dt = """{"a":{"dtype":"F8_E4M3","shape":[2],"data_offsets":[0,2]}}"""
    assert(SafetensorsKernel.info(artifact(dt, 2)).head == 0L)
    // malformed JSON, garbage, null
    assert(SafetensorsKernel.info(artifact("""{"a":{""", 0)).head == 0L)
    assert(SafetensorsKernel.info("NOTASAFET".getBytes).head == 0L)
    assert(SafetensorsKernel.info(null).head == 0L)
  }

  test("64-bit overflow lies fail loud (r17 advice): wrapped products cannot fake a span") {
    // shape [2^62, 4] F32: elems*sz wraps to 0 under plain Long
    // arithmetic, which would satisfy a zero-length span — the checked
    // multiply must fail the row instead
    val wrap = """{"a":{"dtype":"F32","shape":[4611686018427387904,4],""" +
      """"data_offsets":[0,0]}}"""
    assert(SafetensorsKernel.info(artifact(wrap, 0)).head == 0L)
    // two dims whose product wraps to a SMALL positive span
    val wrap2 = """{"a":{"dtype":"U8","shape":[6148914691236517206,3],""" +
      """"data_offsets":[0,2]}}"""
    assert(SafetensorsKernel.info(artifact(wrap2, 2)).head == 0L)
    // a 25-digit offset literal overflows digit accumulation -> Bad row,
    // never a wrapped offset that happens to tile
    val bigOff = """{"a":{"dtype":"U8","shape":[2],""" +
      """"data_offsets":[0,1000000000000000000000000]}}"""
    assert(SafetensorsKernel.info(artifact(bigOff, 2)).head == 0L)
    // a header length of 2^63 - 1 wraps `8 + hlen` negative: found by
    // KernelFuzzSpec, it threw StringIndexOutOfBoundsException
    val maxLen = artifact("""{"a":1}""", 0)
    for (k <- 0 until 7) maxLen(k) = 0xff.toByte
    maxLen(7) = 0x7f
    assert(SafetensorsKernel.info(maxLen).toSeq == Seq(0L, -1L, -1L, -1L, -1L, -1L, -1L))
  }

  test("DataFrame chain: safetensorsArtifacts -> safetensorsInfo round-trips the plants") {
    val ids = Seq(
      (5L, 2, true, false),
      (11L, 3, false, true)
    ).toDF("media_id", "n_t", "with_meta", "truncate_data")
    val got = Multimodal.safetensorsInfo(
        Multimodal.safetensorsArtifacts(ids).select(col("media_id"), col("content")),
        "content")
      .orderBy("media_id").collect()
    // id 5: k=0 rk=1+(5)%3=3 dims (2+5%4,2+6%4,2+7%4)=(3,4,5) F16? (5+0)%3=2 no -> F32 240B
    //       k=1 rk=1+(6)%3=1 dims (2+6%4)=(4) F16? (5+2)%3=1 no -> F32 16B
    val r5 = got(0)
    assert(r5.getBoolean(1) && r5.getLong(2) == 2L && r5.getLong(3) == 256L)
    assert(r5.getLong(4) == 2L && r5.getLong(5) == 0L && r5.getLong(6) == 3L &&
      r5.getBoolean(7))
    // id 11: truncated by one byte -> the row fails
    assert(!got(1).getBoolean(1) && got(1).isNullAt(2))
  }
}
