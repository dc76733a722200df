package graft.functions

import graft.functions.LittleEndian.{le32, writeLe32, writeLe64}
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BinaryType

/** Parquet footer kernel (Apache Parquet file format: `PAR1` magic at
  * both ends, data pages, then a thrift-compact `FileMetaData` footer
  * followed by its little-endian u32 length and the closing magic) — the
  * audit leg for THE format the lake itself stores. A deployment's
  * object-integrity scan walks exactly this: verify both magics, bound
  * the footer length, parse the thrift-compact metadata down to row
  * groups and column chunks, and check the TILING contract — every
  * chunk's `[first_page_offset, first_page_offset +
  * total_compressed_size)` region must lie inside the data section and
  * no two regions may overlap (overlapping or out-of-range chunk spans
  * are how a lying footer smuggles double-counted or out-of-file reads
  * into a scan planner). Data pages are stepped over, never read:
  * footer-proportional work per file, manifest-speed over a 100 TB
  * object store.
  *
  * The thrift-compact reader is GENERIC (unknown fields of every type
  * are skipped recursively, exactly as a thrift decoder must), so the
  * same walk audits footers written by real writers — parquet-mr /
  * Spark footers carry statistics, column orders, bloom offsets and
  * encryption fields this kernel skips structurally; `ParquetFooterSpec`
  * pins that parity against Spark-written testdata bytes. */
object ParquetFooterKernel {

  private object Bad extends Exception {
    override def fillInStackTrace(): Throwable = this
  }

  // --- thrift compact protocol: reader -----------------------------------

  /** Minimal TCompactProtocol reader over a byte range: varints, zigzag,
    * field headers (short + long form), strings, lists, and generic
    * recursive skip. Bounds-checked; any structural violation throws
    * [[Bad]]. */
  private final class TReader(b: Array[Byte], var i: Int, end: Int) {
    def u8(): Int = {
      if (i >= end) throw Bad
      val v = b(i) & 0xff; i += 1; v
    }
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw Bad
      }
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    def bytes(): Array[Byte] = {
      val len = varint()
      if (len < 0 || len > end - i) throw Bad
      val out = java.util.Arrays.copyOfRange(b, i, i + len.toInt)
      i += len.toInt
      out
    }
    /** (type, fieldId) or (0, _) at stop; `last` is the previous field id
      * in the enclosing struct (compact deltas). */
    def fieldHeader(last: Int): (Int, Int) = {
      val h = u8()
      if (h == 0) return (0, 0)
      val t = h & 0x0f
      val delta = (h >> 4) & 0x0f
      val id = if (delta != 0) last + delta else zigzag().toInt
      (t, id)
    }
    /** (elemType, size) list header. */
    def listHeader(): (Int, Int) = {
      val h = u8()
      val t = h & 0x0f
      val s = (h >> 4) & 0x0f
      val size = if (s != 15) s else varint().toInt
      if (size < 0) throw Bad
      (t, size)
    }
    def skip(t: Int): Unit = t match {
      case 1 | 2 => () // bool encoded in the field header
      case 3 => u8()
      case 4 | 5 | 6 => zigzag()
      case 7 => i += 8; if (i > end) throw Bad // double: 8 fixed bytes
      case 8 => bytes()
      case 9 | 10 =>
        val (et, size) = listHeader()
        var k = 0
        while (k < size) { skipListElem(et); k += 1 }
      case 11 =>
        val h = u8() // size varint came first? map: varint size then types byte
        // compact maps: varint size, then (if size > 0) one byte of
        // key/value types; h here is the first byte of the size varint —
        // rewind and do it properly
        i -= 1
        val size = varint().toInt
        if (size > 0) {
          val kv = u8()
          val kt = (kv >> 4) & 0x0f; val vt = kv & 0x0f
          var k = 0
          while (k < size) { skipListElem(kt); skipListElem(vt); k += 1 }
        }
      case 12 =>
        var lastId = 0
        var done = false
        while (!done) {
          val (ft, id) = fieldHeader(lastId)
          if (ft == 0) done = true else { skip(ft); lastId = id }
        }
      case _ => throw Bad
    }
    /** In list/map context bools are one byte; everything else skips as
      * in field context. */
    def skipListElem(t: Int): Unit = t match {
      case 1 | 2 => u8()
      case other => skip(other)
    }
  }

  // --- thrift compact protocol: writer (synthesis) ------------------------

  /** Minimal TCompactProtocol writer — ascending small field ids only
    * (short-form headers), which is all the synthesized footer needs. */
  private final class TWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var lastId = List(0)
    def result: Array[Byte] = out.toByteArray
    private def u8(v: Int): Unit = out.write(v & 0xff)
    private def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { u8(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      u8(v.toInt)
    }
    private def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def field(id: Int, t: Int): Unit = {
      val delta = id - lastId.head
      require(delta >= 1 && delta <= 15, s"short-form delta out of range: $delta")
      u8((delta << 4) | t)
      lastId = id :: lastId.tail
    }
    def i32(id: Int, v: Long): Unit = { field(id, 5); zigzag(v) }
    def i64(id: Int, v: Long): Unit = { field(id, 6); zigzag(v) }
    def str(id: Int, s: String): Unit = {
      field(id, 8)
      val b = s.getBytes("UTF-8")
      varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def listBegin(id: Int, elemType: Int, size: Int): Unit = {
      field(id, 9)
      if (size < 15) u8((size << 4) | elemType)
      else { u8(0xf0 | elemType); varint(size.toLong) }
    }
    /** i32 list element (enum lists). */
    def listI32Elem(v: Long): Unit = zigzag(v)
    def listStrElem(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def structBegin(id: Int): Unit = { field(id, 12); lastId = 0 :: lastId }
    /** A struct that is itself a LIST element carries no field header. */
    def structElemBegin(): Unit = lastId = 0 :: lastId
    def structEnd(): Unit = { u8(0); lastId = lastId.tail }
  }

  // --- synthesis ----------------------------------------------------------

  /** One REAL single-column (required INT64 `v`, PLAIN, uncompressed)
    * parquet file: `rowsPerGroup(g)` rows in row group `g`, values
    * `base + running row index`. Each chunk is one data page v1 (no
    * def/rep levels — the column is required at the top level). The
    * footer is written with the same thrift-compact writer the reader is
    * tested against, and the whole file is readable by parquet-mr /
    * Spark (`ParquetFooterSpec` pins that real-consumer parity).
    * `lieOverlap` ships an honest data section under a LYING footer: the
    * last chunk's first-page offset is shifted +7, sliding its declared
    * region across the footer boundary (1 row group) or a neighbour
    * (more) — the tiling-contract tamper plant, gate-visible in q350. */
  def build(rowsPerGroup: Seq[Int], base: Long, lieOverlap: Boolean): Array[Byte] = {
    require(rowsPerGroup.nonEmpty && rowsPerGroup.forall(_ >= 1),
      s"rowsPerGroup must be nonempty positive, got $rowsPerGroup")
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    // data section: per group one page = thrift PageHeader ++ LE64 values
    var value = base
    val chunkOffsets = new Array[Long](rowsPerGroup.length)
    val chunkBytes = new Array[Long](rowsPerGroup.length)
    rowsPerGroup.zipWithIndex.foreach { case (rows, g) =>
      chunkOffsets(g) = out.size.toLong
      val ph = new TWriter
      ph.i32(1, 0) // type = DATA_PAGE
      ph.i32(2, 8L * rows) // uncompressed_page_size
      ph.i32(3, 8L * rows) // compressed_page_size
      ph.structBegin(5) // data_page_header
      ph.i32(1, rows.toLong) // num_values
      ph.i32(2, 0) // encoding = PLAIN
      ph.i32(3, 3) // definition_level_encoding = RLE
      ph.i32(4, 3) // repetition_level_encoding = RLE
      ph.structEnd()
      val phb = {
        val w = ph.result
        // PageHeader is a top-level struct: terminate the field list
        val t = new java.io.ByteArrayOutputStream()
        t.write(w, 0, w.length); t.write(0)
        t.toByteArray
      }
      out.write(phb, 0, phb.length)
      var r = 0
      while (r < rows) { writeLe64(out, value); value += 1; r += 1 }
      chunkBytes(g) = phb.length.toLong + 8L * rows
    }
    val footerAt = out.size.toLong
    // FileMetaData
    val w = new TWriter
    w.i32(1, 1) // version
    w.listBegin(2, 12, 2) // schema: root + one leaf
    w.structElemBegin() // root: name + num_children
    w.field(4, 8); w.listStrElem("schema")
    w.i32(5, 1)
    w.structEnd()
    w.structElemBegin() // leaf: type INT64, repetition REQUIRED, name v
    w.i32(1, 2) // type = INT64
    w.i32(3, 0) // repetition_type = REQUIRED
    w.field(4, 8); w.listStrElem("v")
    w.structEnd()
    w.i64(3, rowsPerGroup.map(_.toLong).sum) // num_rows
    w.listBegin(4, 12, rowsPerGroup.length) // row_groups
    rowsPerGroup.zipWithIndex.foreach { case (rows, g) =>
      val lie = if (lieOverlap && g == rowsPerGroup.length - 1) 7L else 0L
      w.structElemBegin()
      w.listBegin(1, 12, 1) // columns: one chunk
      w.structElemBegin()
      w.i64(2, chunkOffsets(g)) // file_offset
      w.structBegin(3) // meta_data = ColumnMetaData
      w.i32(1, 2) // type = INT64
      w.listBegin(2, 5, 1); w.listI32Elem(0) // encodings = [PLAIN]
      w.listBegin(3, 8, 1); w.listStrElem("v") // path_in_schema
      w.i32(4, 0) // codec = UNCOMPRESSED
      w.i64(5, rows.toLong) // num_values
      w.i64(6, chunkBytes(g)) // total_uncompressed_size
      w.i64(7, chunkBytes(g)) // total_compressed_size
      w.i64(9, chunkOffsets(g) + lie) // data_page_offset
      w.structEnd()
      w.structEnd()
      w.i64(2, chunkBytes(g)) // total_byte_size
      w.i64(3, rows.toLong) // num_rows
      w.structEnd()
    }
    w.str(6, "graft parquet synthesis")
    val fm = {
      val b = w.result
      val t = new java.io.ByteArrayOutputStream()
      t.write(b, 0, b.length); t.write(0) // top-level struct stop
      t.toByteArray
    }
    out.write(fm, 0, fm.length)
    writeLe32(out, out.size.toLong - footerAt)
    out.write("PAR1".getBytes("US-ASCII"))
    out.toByteArray
  }

  // --- audit --------------------------------------------------------------

  /** `[is_parquet, n_row_groups, n_columns, n_rows, n_chunks,
    * data_bytes, tiling_ok]` (longs). Structural breaks (magic, footer
    * length out of bounds, thrift malformation, missing required
    * fields) fail the row to `[0, -1, …]`; an INTEGRITY lie in a
    * parseable footer — a chunk region outside the data section or
    * overlapping another — reads `tiling_ok = 0` with the tallies
    * intact (tamper-visible, not tally-poisoning: the q337/q346
    * discipline). `n_columns` counts schema LEAVES; `data_bytes` sums
    * declared `total_compressed_size`. */
  def info(bytes: Array[Byte]): Array[Long] = {
    val fail = Array(0L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (bytes == null || bytes.length < 12) return fail
    val n = bytes.length
    def magicAt(i: Int): Boolean =
      bytes(i) == 'P' && bytes(i + 1) == 'A' && bytes(i + 2) == 'R' && bytes(i + 3) == '1'
    if (!magicAt(0) || !magicAt(n - 4)) return fail
    val flen = le32(bytes, n - 8)
    if (flen <= 0 || flen > n - 12) return fail
    val footerAt = n - 8 - flen.toInt
    try {
      val r = new TReader(bytes, footerAt, n - 8)
      var nRows = -1L
      var nLeaves = 0L
      var sawSchema = false; var sawGroups = false
      var nGroups = 0L; var nChunks = 0L; var dataBytes = 0L
      var regions = List.empty[(Long, Long)]
      var lastId = 0
      var done = false
      while (!done) {
        val (t, id) = r.fieldHeader(lastId)
        if (t == 0) done = true
        else {
          (id, t) match {
            case (2, 9) => // schema
              sawSchema = true
              val (et, size) = r.listHeader()
              if (et != 12 || size < 1) throw Bad
              var k = 0
              while (k < size) {
                // SchemaElement: a leaf has no num_children (field 5)
                var children = -1L
                var sLast = 0
                var sDone = false
                while (!sDone) {
                  val (st, sid) = r.fieldHeader(sLast)
                  if (st == 0) sDone = true
                  else {
                    if (sid == 5 && st == 5) children = r.zigzag()
                    else r.skip(st)
                    sLast = sid
                  }
                }
                if (k > 0 && children <= 0) nLeaves += 1
                k += 1
              }
            case (3, 6) => nRows = r.zigzag()
            case (4, 9) => // row_groups
              sawGroups = true
              val (et, size) = r.listHeader()
              if (et != 12) throw Bad
              var g = 0
              while (g < size) {
                nGroups += 1
                var gLast = 0
                var gDone = false
                while (!gDone) {
                  val (gt, gid) = r.fieldHeader(gLast)
                  if (gt == 0) gDone = true
                  else {
                    if (gid == 1 && gt == 9) { // columns
                      val (ct, csize) = r.listHeader()
                      if (ct != 12) throw Bad
                      var c = 0
                      while (c < csize) {
                        nChunks += 1
                        var cLast = 0
                        var cDone = false
                        var dataOff = -1L; var dictOff = -1L; var csizeBytes = -1L
                        while (!cDone) {
                          val (ht, hid) = r.fieldHeader(cLast)
                          if (ht == 0) cDone = true
                          else {
                            if (hid == 3 && ht == 12) { // ColumnMetaData
                              var mLast = 0
                              var mDone = false
                              while (!mDone) {
                                val (mt, mid) = r.fieldHeader(mLast)
                                if (mt == 0) mDone = true
                                else {
                                  (mid, mt) match {
                                    case (7, 6) => csizeBytes = r.zigzag()
                                    case (9, 6) => dataOff = r.zigzag()
                                    case (11, 6) => dictOff = r.zigzag()
                                    case _ => r.skip(mt)
                                  }
                                  mLast = mid
                                }
                              }
                            } else r.skip(ht)
                            cLast = hid
                          }
                        }
                        if (dataOff < 0 || csizeBytes < 0) throw Bad
                        val start = if (dictOff >= 0) math.min(dictOff, dataOff) else dataOff
                        regions = (start, start + csizeBytes) :: regions
                        dataBytes += csizeBytes
                        c += 1
                      }
                    } else r.skip(gt)
                    gLast = gid
                  }
                }
                g += 1
              }
            case _ => r.skip(t)
          }
          lastId = id
        }
      }
      if (!sawSchema || !sawGroups || nRows < 0 || nLeaves < 1) return fail
      // tiling contract: regions inside [4, footerAt), pairwise disjoint
      var tilingOk = 1L
      val sorted = regions.sortBy(_._1)
      var cursor = 4L
      sorted.foreach { case (s, e) =>
        if (s < cursor || e > footerAt || e < s) tilingOk = 0L
        else cursor = e
      }
      Array(1L, nGroups, nLeaves, nRows, nChunks, dataBytes, tilingOk)
    } catch {
      case Bad => fail
      case _: ArrayIndexOutOfBoundsException => fail
      case _: NegativeArraySizeException => fail
    }
  }
}

object ParquetFooterExpressions {
  /** array<long> [is_parquet, n_row_groups, n_columns, n_rows, n_chunks,
    * data_bytes, tiling_ok] of a binary column holding a parquet file. */
  def parquetFooterInfo(bin: Column): Column =
    KernelCall.column("graft_parquet_footer_info", ParquetFooterKernel, "info", KernelCall.LongArray,
      Seq(bin -> BinaryType))
}
