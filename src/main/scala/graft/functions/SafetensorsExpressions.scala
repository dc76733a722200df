package graft.functions

import graft.functions.LittleEndian.le64
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** safetensors header kernel (the published huggingface format: a u64 LE
  * header length, a JSON header mapping tensor names to
  * `{dtype, shape, data_offsets}`, then the packed tensor data) — the
  * MODEL-ARTIFACT leg: embedding tables, quantizer codebooks, and
  * checkpoint shards move through a 100 TB pipeline as safetensors
  * files, and the audit a deployment runs before trusting one is
  * exactly this walk: parse the header with a REAL (if minimal) JSON
  * parser, then verify the format's integrity contract — every tensor's
  * `data_offsets` span must equal `product(shape) × dtype_size`, and
  * the spans must tile the data region EXACTLY (begin at 0, no gaps, no
  * overlaps, end at the file's end) — the validation rule the reference
  * implementation enforces on load. Data bytes are stepped over, never
  * read: header-proportional work per file, the property that lets the
  * audit scan a checkpoint corpus at manifest speed. */
object SafetensorsKernel {

  private val DtypeSizes = Map(
    "F64" -> 8L, "F32" -> 4L, "F16" -> 2L, "BF16" -> 2L,
    "I64" -> 8L, "I32" -> 4L, "I16" -> 2L, "I8" -> 1L, "U8" -> 1L, "BOOL" -> 1L)

  /** Minimal strict JSON reader for the header subset: objects, arrays,
    * strings (with escapes), and nonnegative integers. */
  private final class P(s: String) {
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c) throw Bad
      i += 1
    }
    def peek(): Char = { ws(); if (i >= s.length) throw Bad; s.charAt(i) }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') { i += 1; sb.append(s.charAt(i)) }
        else sb.append(s.charAt(i))
        i += 1
        if (i >= s.length) throw Bad
      }
      i += 1
      sb.toString
    }
    def num(): Long = {
      ws()
      var v = 0L; var any = false
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        // overflow-checked: a 20+-digit offset/shape literal must fail the
        // row, not wrap into a small value that then satisfies the span
        // arithmetic (these are attacker-controlled bytes)
        try v = Math.addExact(Math.multiplyExact(v, 10L), (s.charAt(i) - '0').toLong)
        catch { case _: ArithmeticException => throw Bad }
        i += 1; any = true
      }
      if (!any) throw Bad
      v
    }
    // depth-capped: a crawl-scale header is attacker-controlled bytes,
    // and a deeply-nested metadata value must fail the row, not the JVM
    def skipValue(depth: Int = 0): Unit = {
      if (depth > 32) throw Bad
      peek() match {
        case '{' =>
          expect('{')
          if (peek() == '}') { i += 1; return }
          var more = true
          while (more) {
            str(); expect(':'); skipValue(depth + 1)
            if (peek() == ',') i += 1 else more = false
          }
          expect('}')
        case '[' =>
          expect('[')
          if (peek() == ']') { i += 1; return }
          var more = true
          while (more) {
            skipValue(depth + 1)
            if (peek() == ',') i += 1 else more = false
          }
          expect(']')
        case '"' => str()
        case _ => num()
      }
    }
  }
  private object Bad extends Exception { override def fillInStackTrace(): Throwable = this }

  /** `[is_safetensors, n_tensors, data_bytes, n_f32, n_f16, max_rank,
    * has_metadata]` (longs) — header-proportional validation: any JSON
    * malformation, unknown dtype, span ≠ shape × dtype_size, or a data
    * region the spans do not tile exactly fails the row to `[0, -1, …]`
    * (a checkpoint whose header lies is a checkpoint you do not
    * load). */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 9) return fail
    val hlen = le64(bytes, 0)
    if (hlen <= 0 || hlen > bytes.length - 8L) return fail // no `8 + hlen` wrap
    val dataLen = bytes.length.toLong - 8L - hlen
    val header = new String(bytes, 8, hlen.toInt, "UTF-8")
    try {
      val p = new P(header)
      p.expect('{')
      var nTensors = 0L; var nF32 = 0L; var nF16 = 0L
      var maxRank = 0L; var meta = 0L
      var spans = List.empty[(Long, Long)]
      if (p.peek() != '}') {
        var more = true
        while (more) {
          val name = p.str()
          p.expect(':')
          if (name == "__metadata__") { meta = 1L; p.skipValue() }
          else {
            p.expect('{')
            var dtype: String = null
            var shape = List.empty[Long]
            var off: (Long, Long) = null
            var fields = true
            while (fields) {
              p.str() match {
                case "dtype" => p.expect(':'); dtype = p.str()
                case "shape" =>
                  p.expect(':'); p.expect('[')
                  if (p.peek() != ']') {
                    var m2 = true
                    while (m2) {
                      shape = p.num() :: shape
                      if (p.peek() == ',') p.i += 1 else m2 = false
                    }
                  }
                  p.expect(']')
                case "data_offsets" =>
                  p.expect(':'); p.expect('[')
                  val b0 = p.num(); p.expect(','); val e0 = p.num()
                  p.expect(']')
                  off = (b0, e0)
                case _ => p.expect(':'); p.skipValue()
              }
              if (p.peek() == ',') p.i += 1 else fields = false
            }
            p.expect('}')
            if (dtype == null || off == null) return fail
            val sz = DtypeSizes.getOrElse(dtype, -1L)
            if (sz < 0) return fail
            // overflow-checked products: a crafted shape like [2^62, 4]
            // F32 wraps elems*sz to 0 under plain Long arithmetic and a
            // zero-length span would then PASS the integrity check — the
            // exact lying-header class the fail-loud contract exists for
            val elems =
              try shape.foldLeft(1L)((a, b) => Math.multiplyExact(a, b))
              catch { case _: ArithmeticException => return fail }
            val spanBytes =
              try Math.multiplyExact(elems, sz)
              catch { case _: ArithmeticException => return fail }
            if (off._2 < off._1 || off._2 - off._1 != spanBytes) return fail
            spans = off :: spans
            nTensors += 1
            if (dtype == "F32") nF32 += 1
            if (dtype == "F16") nF16 += 1
            if (shape.length.toLong > maxRank) maxRank = shape.length.toLong
          }
          if (p.peek() == ',') p.i += 1 else more = false
        }
      }
      p.expect('}')
      // the spans must tile [0, dataLen] exactly — no gaps, no overlaps
      val sorted = spans.sortBy(_._1)
      var cursor = 0L
      sorted.foreach { case (b0, e0) =>
        if (b0 != cursor) return fail
        cursor = e0
      }
      if (cursor != dataLen) return fail
      Array(1L, nTensors, dataLen, nF32, nF16, maxRank, meta)
    } catch {
      case Bad => fail
      case _: StringIndexOutOfBoundsException => fail
    }
  }
}

object SafetensorsExpressions {
  /** array<long> [is_safetensors, n_tensors, data_bytes, n_f32, n_f16,
    * max_rank, has_metadata] of a binary column. */
  def safetensorsInfo(bin: Column): Column =
    KernelCall.column("graft_safetensors_info", SafetensorsKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
