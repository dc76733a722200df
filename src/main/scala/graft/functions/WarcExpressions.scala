package graft.functions

import graft.functions.LittleEndian.{le16, le32}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, StringType}

/** WARC shard kernel (ISO 28500 / WARC 1.0) — the CRAWL-INGESTION leg:
  * web-archive shards (the Common Crawl distribution format, the de facto
  * source corpus of LLM pretraining) are CONCATENATED GZIP MEMBERS, one
  * WARC record per member ("record-at-time compression", ISO 28500 annex
  * D — exactly so a reader can split a shard at member boundaries without
  * decoding the whole file). The walk composes the q337 gzip machinery
  * (structural header skip, REAL `Inflater` decode, CRC32/ISIZE trailer
  * verification PER MEMBER) with a WARC record parse of each member's
  * inflated bytes (version line, named headers, `Content-Length`-framed
  * block, the closing CRLF CRLF), plus one layer more: `response`
  * records carry an HTTP message, whose status line is read too.
  *
  * Like the other codec legs the kernel emits a FIXED-WIDTH audit row —
  * counts and totals, never payload bytes — and buffers at most ONE
  * member's inflated record at a time (the record-at-time property is
  * what bounds memory at shard scale: members are record-sized, shards
  * are gigabytes).
  */
object WarcKernel {

  private val Crlf = "\r\n"

  /** One WARC/1.0 record, bytes-exact per ISO 28500 §4: version line,
    * named headers (`WARC-Type`, `WARC-Record-ID`, `WARC-Date`,
    * `WARC-Target-URI` for response/request, `Content-Length`), CRLF,
    * the content block, CRLF CRLF. */
  def record(warcType: String, recordId: String, date: String,
      targetUri: String, payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder()
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(warcType).append(Crlf)
    sb.append("WARC-Record-ID: ").append(recordId).append(Crlf)
    sb.append("WARC-Date: ").append(date).append(Crlf)
    if (targetUri != null)
      sb.append("WARC-Target-URI: ").append(targetUri).append(Crlf)
    sb.append("Content-Length: ").append(payload.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes("US-ASCII")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** RFC 9112 §7.1 chunk framing of a body — the SYNTHESIS sibling of
    * the kernel's de-chunker (shards planted through this must recover
    * byte-exactly): `chunkSize`-byte chunks, hex size lines, zero-size
    * terminator, no trailers. */
  def chunkEncode(body: Array[Byte], chunkSize: Int): Array[Byte] = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < body.length) {
      val n = math.min(chunkSize, body.length - i)
      out.write(java.lang.Integer.toHexString(n).getBytes("US-ASCII"))
      out.write('\r'); out.write('\n')
      out.write(body, i, n)
      out.write('\r'); out.write('\n')
      i += n
    }
    out.write("0\r\n\r\n".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** Parsed per-record flags: `[valid, isResponse, isRequest, isMetadata,
    * httpOk, contentLength]` — valid = 1 iff the version line reads
    * `WARC/1.0`, the headers carry a parseable `Content-Length` and a
    * `WARC-Type`, and the block is EXACTLY that length followed by the
    * closing CRLF CRLF; httpOk = 1 iff a response block's status line
    * reads `HTTP/1.<minor> <2xx>` (HTTP/1.0 and 1.1 alike, any 2xx —
    * the breadth real crawl shards need, r17 advice). */
  private def parseRecord(b: Array[Byte]): Array[Long] = {
    val invalid = Array(0L, 0L, 0L, 0L, 0L, 0L)
    // version line
    val v = "WARC/1.0\r\n".getBytes("US-ASCII")
    if (b.length < v.length) return invalid
    var i = 0
    while (i < v.length) { if (b(i) != v(i)) return invalid; i += 1 }
    var warcType: String = null
    var contentLength = -1L
    // header lines until the empty line
    var done = false
    while (!done) {
      var j = i
      while (j + 1 < b.length && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 >= b.length) return invalid // no CRLF before EOF
      if (j == i) { done = true; i = j + 2 } // empty line: end of headers
      else {
        val line = new String(b, i, j - i, "US-ASCII")
        val colon = line.indexOf(':')
        if (colon <= 0) return invalid
        val name = line.substring(0, colon).trim
        val value = line.substring(colon + 1).trim
        if (name.equalsIgnoreCase("WARC-Type")) warcType = value
        else if (name.equalsIgnoreCase("Content-Length")) {
          try contentLength = java.lang.Long.parseLong(value)
          catch { case _: NumberFormatException => return invalid }
        }
        i = j + 2
      }
    }
    if (warcType == null || contentLength < 0) return invalid
    // block framing: exactly contentLength bytes, then CRLF CRLF, then EOF
    if (i + contentLength + 4 != b.length) return invalid
    val e = (i + contentLength).toInt
    if (b(e) != '\r' || b(e + 1) != '\n' || b(e + 2) != '\r' || b(e + 3) != '\n')
      return invalid
    val isResp = if (warcType == "response") 1L else 0L
    val isReq = if (warcType == "request") 1L else 0L
    val isMeta = if (warcType == "metadata") 1L else 0L
    var httpOk = 0L
    if (isResp == 1L && contentLength >= 12) {
      // status line `HTTP/1.<minor> <2xx>`: real crawl shards carry
      // HTTP/1.0 alongside 1.1, and any 2xx is a success per RFC 9110
      // §15.3 — matching only the literal "HTTP/1.1 200" silently
      // dropped valid documents (r17 advice)
      val p = "HTTP/1.".getBytes("US-ASCII")
      var k = 0
      var m = true
      while (k < p.length) { if (b(i + k) != p(k)) m = false; k += 1 }
      def digit(x: Byte): Boolean = x >= '0' && x <= '9'
      if (m && digit(b(i + 7)) && b(i + 8) == ' ' && b(i + 9) == '2' &&
        digit(b(i + 10)) && digit(b(i + 11)) &&
        (contentLength == 12 || b(i + 12) == ' ' || b(i + 12) == '\r'))
        httpOk = 1L
    }
    Array(1L, isResp, isReq, isMeta, httpOk, contentLength)
  }

  /** `[is_warc, n_members, n_records, n_response, n_request, n_metadata,
    * n_http_ok, content_total, n_crc_bad]` (longs) — one pass over the
    * concatenated members. is_warc = 1 iff the walk consumes the WHOLE
    * input as structurally-clean gzip members and at least one member
    * holds a valid WARC record. A member whose stored CRC32/ISIZE trailer
    * lies (bytes tampered after compression) still inflates and its
    * record still counts, but `n_crc_bad` ticks — the gate-visible tamper
    * channel, q337's discipline. A member that inflates to a non-record
    * counts in n_members only. Any structural break (bad magic at a
    * member boundary, corrupt deflate stream, truncated trailer) fails
    * the whole row to `[0, -1, …]` — a shard you cannot walk is a shard
    * you cannot trust any count of. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 20) return fail
    var pos = 0
    var nMembers = 0L; var nRecords = 0L
    var nResp = 0L; var nReq = 0L; var nMeta = 0L; var nHttpOk = 0L
    var contentTotal = 0L; var nCrcBad = 0L
    try {
      while (pos < bytes.length) {
        if (pos + 18 > bytes.length) return fail
        if ((bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b ||
          (bytes(pos + 2) & 0xff) != 8) return fail
        val flg = bytes(pos + 3) & 0xff
        var i = pos + 10
        if ((flg & 0x04) != 0) { // FEXTRA
          if (i + 2 > bytes.length) return fail
          i += 2 + le16(bytes, i)
        }
        if ((flg & 0x08) != 0) { while (bytes(i) != 0) i += 1; i += 1 } // FNAME
        if ((flg & 0x10) != 0) { while (bytes(i) != 0) i += 1; i += 1 } // FCOMMENT
        if ((flg & 0x02) != 0) i += 2 // FHCRC
        if (i + 8 > bytes.length) return fail
        val inflater = new java.util.zip.Inflater(true)
        val rec =
          try {
            inflater.setInput(bytes, i, bytes.length - i)
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](4096)
            while (!inflater.finished()) {
              val k = inflater.inflate(buf)
              if (k == 0 && !inflater.finished()) return fail // truncated
              out.write(buf, 0, k)
            }
            val consumed = (bytes.length - i) - inflater.getRemaining
            val trailerAt = i + consumed
            if (trailerAt + 8 > bytes.length) return fail
            val decoded = out.toByteArray
            val crc = new java.util.zip.CRC32()
            crc.update(decoded)
            if (le32(bytes, trailerAt) != crc.getValue ||
              le32(bytes, trailerAt + 4) != (decoded.length.toLong & 0xffffffffL))
              nCrcBad += 1
            pos = trailerAt + 8
            decoded
          } finally inflater.end()
        nMembers += 1
        val r = parseRecord(rec)
        if (r(0) == 1L) {
          nRecords += 1
          nResp += r(1); nReq += r(2); nMeta += r(3); nHttpOk += r(4)
          contentTotal += r(5)
        }
      }
    } catch {
      case _: java.util.zip.DataFormatException => return fail
      case _: ArrayIndexOutOfBoundsException => return fail
    }
    if (nRecords < 1) return fail
    Array(1L, nMembers, nRecords, nResp, nReq, nMeta, nHttpOk, contentTotal, nCrcBad)
  }

  /** The PAYLOAD sibling of [[info]] — the extraction step a crawl
    * pipeline actually runs: walk the members and return the HTTP BODY of
    * the first `response` record whose status line reads
    * `HTTP/1.<minor> <2xx>` (the bytes after the HTTP message's first
    * CRLF CRLF, de-chunked if the message is chunked, decoded UTF-8),
    * or null when no such record exists or the walk breaks structurally.
    * Skipping non-2xx responses is the real-pipeline rule — error pages
    * are well-formed HTML and would otherwise flow straight into the
    * corpus (q341 plants exactly that trap). Early-exits at the first
    * hit, so the common case inflates one or two members, not the
    * shard. */
  def firstOkHtmlBody(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 20) return null
    var pos = 0
    try {
      while (pos < bytes.length) {
        if (pos + 18 > bytes.length) return null
        if ((bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b ||
          (bytes(pos + 2) & 0xff) != 8) return null
        val flg = bytes(pos + 3) & 0xff
        var i = pos + 10
        if ((flg & 0x04) != 0) {
          if (i + 2 > bytes.length) return null
          i += 2 + le16(bytes, i)
        }
        if ((flg & 0x08) != 0) { while (bytes(i) != 0) i += 1; i += 1 }
        if ((flg & 0x10) != 0) { while (bytes(i) != 0) i += 1; i += 1 }
        if ((flg & 0x02) != 0) i += 2
        if (i + 8 > bytes.length) return null
        val inflater = new java.util.zip.Inflater(true)
        val rec =
          try {
            inflater.setInput(bytes, i, bytes.length - i)
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](4096)
            while (!inflater.finished()) {
              val k = inflater.inflate(buf)
              if (k == 0 && !inflater.finished()) return null
              out.write(buf, 0, k)
            }
            val consumed = (bytes.length - i) - inflater.getRemaining
            if (i + consumed + 8 > bytes.length) return null
            pos = i + consumed + 8
            out.toByteArray
          } finally inflater.end()
        val body = okHtmlBodyOf(rec)
        if (body != null) return body
      }
      null
    } catch {
      case _: java.util.zip.DataFormatException => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  /** The 2xx-response body of one record's bytes, or null: a valid
    * WARC/1.0 `response` record whose Content-Length-framed block opens
    * with an `HTTP/1.<minor> <2xx>` status line — returns the block
    * bytes after the HTTP header section's CRLF CRLF, de-chunked first
    * when the message declares `Transfer-Encoding: chunked` (RFC 9112
    * §7.1 — common in real Common Crawl responses; a chunked 200 body
    * used to extract nothing, r17 "what's missing" #3). */
  private def okHtmlBodyOf(b: Array[Byte]): String = {
    val r = parseRecord(b)
    if (r(0) != 1L || r(1) != 1L || r(4) != 1L) return null // valid response, 2xx
    // re-locate the block: headers end at the first CRLF CRLF of the record
    var i = 0
    while (i + 3 < b.length &&
      !(b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')) i += 1
    val blockStart = i + 4
    val blockEnd = b.length - 4 // the record's closing CRLF CRLF
    // HTTP body: after the message's own header/body separator
    var j = blockStart
    while (j + 3 < blockEnd &&
      !(b(j) == '\r' && b(j + 1) == '\n' && b(j + 2) == '\r' && b(j + 3) == '\n')) j += 1
    if (j + 3 >= blockEnd) return null // no separator: header-only message
    val headers = new String(b, blockStart, j - blockStart, "ISO-8859-1")
    val chunked = headers.linesIterator.exists { line =>
      val c = line.indexOf(':')
      c > 0 && line.substring(0, c).trim.equalsIgnoreCase("transfer-encoding") &&
        line.substring(c + 1).toLowerCase(java.util.Locale.ROOT).contains("chunked")
    }
    if (!chunked) return new String(b, j + 4, blockEnd - (j + 4), "UTF-8")
    val body = dechunk(b, j + 4, blockEnd)
    if (body == null) null else new String(body, "UTF-8")
  }

  /** RFC 9112 §7.1 chunked-transfer decoding over `b[from, to)`: hex
    * chunk-size line (chunk extensions after `;` ignored), CRLF, data,
    * CRLF, …, terminated by a zero-size chunk (trailer fields, if any,
    * are ignored). Returns null on any framing violation — a body that
    * cannot be de-chunked must not leak half-decoded into the corpus. */
  private def dechunk(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = from
    while (i < to) {
      var j = i
      while (j + 1 < to && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 >= to) return null // size line without CRLF
      val line = new String(b, i, j - i, "US-ASCII")
      val semi = line.indexOf(';')
      val hex = (if (semi >= 0) line.substring(0, semi) else line).trim
      val size =
        try java.lang.Long.parseLong(hex, 16)
        catch { case _: NumberFormatException => return null }
      if (size < 0 || size > (to - (j + 2)).toLong) return null
      if (size == 0) return out.toByteArray // trailers (if any) ignored
      out.write(b, j + 2, size.toInt)
      val n = j + 2 + size.toInt
      if (n + 1 >= to || b(n) != '\r' || b(n + 1) != '\n') return null
      i = n + 2
    }
    null // ran out of input before the zero-size terminator
  }
}

object WarcExpressions {
  /** array<long> [is_warc, n_members, n_records, n_response, n_request,
    * n_metadata, n_http_ok, content_total, n_crc_bad] of a binary
    * column holding a record-at-time-gzipped WARC shard. */
  def warcInfo(bin: Column): Column =
    KernelCall.column("graft_warc_info", WarcKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))

  /** string: the HTTP body of the shard's first 2xx-status response
    * record; null when the shard has none or cannot be walked. */
  def warcBody(bin: Column): Column =
    KernelCall.column("graft_warc_body", WarcKernel, "firstOkHtmlBody", StringType,
      Seq(bin -> BinaryType))
}
