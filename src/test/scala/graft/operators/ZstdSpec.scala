package graft.operators

import graft.TestSpark
import graft.functions.ZstdKernel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The zstd frame leg (q342): pins the halves the SQL oracle cannot see —
  * the frame-layout facts the gate deliberately excludes (single-segment
  * choice, the 2-byte FCS +256 offset at sizes that trigger it), the
  * checksum-presence contract of the synthesis, and the degrade
  * taxonomy (checksum tamper vs mid-frame damage vs garbage). */
class ZstdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("round trip: levels and checksum choice; header fields parse back") {
    val payload = ("lake object " * 10).getBytes("UTF-8")
    for (level <- Seq(1, 3, 19); ck <- Seq(false, true)) {
      val bytes = ZstdKernel.zstd(payload, level, ck)
      // [is_zstd, fcs, has_checksum, single_segment, decode_ok, n_decoded]
      val got = ZstdKernel.info(bytes).toSeq
      assert(got(0) == 1L && got(1) == payload.length.toLong)
      assert(got(2) == (if (ck) 1L else 0L))
      assert(got(4) == 1L && got(5) == payload.length.toLong, s"level $level ck $ck: $got")
    }
    // empty payload: a legal zero-length frame
    val empty = ZstdKernel.info(ZstdKernel.zstd(Array.empty, 3, true)).toSeq
    assert(empty(0) == 1L && empty(1) == 0L && empty(4) == 1L)
  }

  test("fcs widths: the 2-byte form's +256 offset and the 4-byte form") {
    // 300 bytes sits in the 2-byte FCS window when not single-segment;
    // whatever width the library picks, the parsed fcs must be exact
    for (n <- Seq(1, 255, 300, 70000)) {
      val payload = Array.fill[Byte](n)(('a' + n % 26).toByte)
      val got = ZstdKernel.info(ZstdKernel.zstd(payload, 3, false)).toSeq
      assert(got(1) == n.toLong && got(4) == 1L, s"n=$n: $got")
    }
  }

  test("degrade taxonomy: checksum tamper flags decode_ok, damage and garbage fail") {
    val payload = "twelve tokens of perfectly ordinary text".getBytes("UTF-8")
    val bytes = ZstdKernel.zstd(payload, 3, checksum = true)
    // flipped last (checksum) byte: header intact, decode rejected
    val flip = bytes.clone(); flip(flip.length - 1) = (flip(flip.length - 1) ^ 0xff).toByte
    val a = ZstdKernel.info(flip).toSeq
    assert(a(0) == 1L && a(1) == payload.length.toLong && a(2) == 1L && a(4) == 0L)
    // mid-frame damage: never a clean (is_zstd = 1, decode_ok = 1) readout
    val mid = bytes.clone(); mid(8) = (mid(8) ^ 0x3f).toByte
    val m = ZstdKernel.info(mid).toSeq
    assert(m.head == 0L || m(4) == 0L, s"mid-frame damage slipped through: $m")
    // truncation, garbage, null
    assert(ZstdKernel.info(bytes.take(5)).head == 0L)
    assert(ZstdKernel.info("NOTAZSTD".getBytes).head == 0L)
    assert(ZstdKernel.info(null).head == 0L)
  }

  test("DataFrame chain: zstdDocuments -> zstdInfo round-trips the plants") {
    val ids = Seq(
      (2L, "alpha beta gamma", 1, true, false),
      (3L, "delta", 4, false, false),
      (11L, "epsilon zeta", 2, true, true)
    ).toDF("media_id", "text", "level", "with_checksum", "corrupt_tail")
    val got = Multimodal.zstdInfo(
        Multimodal.zstdDocuments(ids).select(col("media_id"), col("content")), "content")
      .orderBy("media_id").collect()
    // (media_id, is_zstd, fcs, has_checksum, decode_ok, n_decoded)
    assert(got(0).getBoolean(1) && got(0).getLong(2) == 16L &&
      got(0).getBoolean(3) && got(0).getBoolean(4) && got(0).getLong(5) == 16L)
    assert(got(1).getBoolean(1) && got(1).getLong(2) == 5L &&
      !got(1).getBoolean(3) && got(1).getBoolean(4))
    assert(got(2).getBoolean(1) && got(2).getLong(2) == 12L &&
      got(2).getBoolean(3) && !got(2).getBoolean(4) && got(2).isNullAt(5))
  }

  /** decode_ok and n_decoded as the one-shot decompress into an fcs-sized
    * buffer reported them. */
  private def oneShot(bytes: Array[Byte], fcs: Long): Seq[Long] =
    try {
      val out = com.github.luben.zstd.Zstd.decompress(bytes, fcs.toInt)
      Seq(if (out.length.toLong == fcs) 1L else 0L, out.length.toLong)
    } catch { case _: com.github.luben.zstd.ZstdException => Seq(0L, -1L) }

  test("the streamed decode reports what the one-shot decompress did") {
    // 40,000 bytes: a claim above the 32 KiB one-shot limit streams
    val text = ("stream me " * 4000).getBytes("UTF-8")
    val frames = Seq(ZstdKernel.zstd(text, 3, true), ZstdKernel.zstd(text.take(300), 19, false),
      ZstdKernel.zstd(Array.empty, 1, true))
    // a skippable frame: magic 0x184D2A50, 4-byte length, payload
    val skippable = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 1, 2, 3)
    val rng = new scala.util.Random(17)
    val cases = frames ++
      frames.flatMap(f => frames.map(g => f ++ g)) ++       // concatenated frames
      frames.map(_ ++ skippable) ++
      frames.flatMap(f => (1 to 6).map(k => f ++ Array.fill(k)(rng.nextInt(256).toByte))) ++ // trailing garbage
      frames.flatMap(f => (6 until f.length).map(f.take)) ++ // truncations
      frames.flatMap(f => (0 until 400).map { _ =>            // flipped bytes
        val m = f.clone(); val i = rng.nextInt(m.length); m(i) = (m(i) ^ (1 << rng.nextInt(8))).toByte; m
      })
    var (compared, streamed) = (0, 0)
    cases.foreach { c =>
      val got = ZstdKernel.info(c).toSeq
      if (got(0) == 1L && got(1) <= (1 << 20)) {
        assert(got.drop(4) == oneShot(c, got(1)), s"${c.map("%02x".format(_)).mkString}: $got")
        compared += 1
        if (got(1) > 32 * 1024) streamed += 1
      }
    }
    assert(compared > 500 && streamed > 200, s"$compared compared, $streamed streamed")
  }

  test("a corrupt frame claiming a GiB costs a bounded buffer, not the claim") {
    // magic, single-segment with a 4-byte content size of 2^30 - 1, garbage
    val bomb = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0xa0.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0x3f) ++ Array.fill[Byte](11)(0x55)
    assert(bomb.length == 20)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated = mx.getThreadAllocatedBytes(Thread.currentThread.getId)
    ZstdKernel.info(bomb) // class loading and the decoder's buffer pool
    (1 to 3).foreach { _ =>
      val before = allocated
      val got = ZstdKernel.info(bomb).toSeq
      val bytes = allocated - before
      assert(got == Seq(1L, (1L << 30) - 1, 0L, 1L, 0L, -1L))
      assert(bytes < (1L << 20), s"$bytes bytes allocated by one call")
    }
  }
}
