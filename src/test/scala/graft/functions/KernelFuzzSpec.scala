package graft.functions

import graft.TestSpark
import graft.operators.Multimodal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Fixture bytes of every byte kernel, the mutations the fuzz spec draws
  * from them, and the Column builder of every kernel-call expression
  * with a fixed-seed input corpus. */
object KernelCorpus {
  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val text = utf8("graft kernel fixture — the quick brown fox jumps over the lazy dog. " * 3)
  private val text2 = utf8("second payload ✓ 😀 0123456789")

  private def jpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 40 << 16) | (y * 30 << 8) | 0x55)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", out)
    out.toByteArray
  }

  private def mp3Frame(bIdx: Int, rIdx: Int): Array[Byte] = {
    val out = new Array[Byte](Mp3Kernel.frameBytes(1, bIdx, rIdx, 0))
    out(0) = 0xff.toByte; out(1) = 0xfb.toByte; out(2) = ((bIdx << 4) | (rIdx << 2)).toByte
    out
  }

  private def safetensors(header: String, dataLen: Int): Array[Byte] = {
    val h = utf8(header)
    val out = new java.io.ByteArrayOutputStream()
    var v = h.length.toLong
    for (_ <- 0 until 8) { out.write((v & 0xff).toInt); v >>= 8 }
    out.write(h); out.write(new Array[Byte](dataLen))
    out.toByteArray
  }

  private def warcShard(records: Array[Byte]*): Array[Byte] =
    records.map(r => GzipKernel.gzip(r, 0L, 0, 255, null)).reduce(_ ++ _)

  private lazy val warc = {
    val http = utf8("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>hi</p></html>")
    warcShard(
      WarcKernel.record("response", "<urn:uuid:1-0>", "2024-01-01T00:00:00Z", "http://a/", http),
      WarcKernel.record("request", "<urn:uuid:1-1>", "2024-01-01T00:00:00Z", "http://a/",
        utf8("GET / HTTP/1.1\r\n\r\n")),
      WarcKernel.record("metadata", "<urn:uuid:1-2>", "2024-01-01T00:00:00Z", null, utf8("k: v")))
  }

  private lazy val oggs: Seq[Array[Byte]] = {
    val spark = TestSpark.spark
    import spark.implicits._
    Multimodal.syntheticOpusOggs(
      Seq((1L, 2, 312, 2, 960, false), (2L, 1, 400, 3, 1920, false))
        .toDF("media_id", "channels", "pre_skip", "n_audio_pages", "samples_per_page",
          "corrupt_crc"))
      .orderBy("media_id").collect().map(_.getAs[Array[Byte]]("content")).toSeq
  }

  val pcm: Seq[Array[Byte]] = Seq(PcmKernel.synth(7L, 480), PcmKernel.synth(11L, 333) :+ 5.toByte)
  val g711: Seq[Array[Byte]] = Seq(MulawKernel.synth(5L, 200), MulawKernel.synth(9L, 77))
  val magic: Array[Byte] = Array(0x89, 'F', 'R', 'M').map(_.toByte)
  val frames: Seq[Array[Byte]] = Seq(
    Array[Byte](1, 2) ++ magic ++ text2 ++ magic ++ magic ++ text2.take(5), magic ++ text)

  /** Fixture bytes per info kernel: what its own builder (or the
    * synthesis the queries use) writes. */
  lazy val fixtures: Map[String, Seq[Array[Byte]]] = Map(
    "gzip" -> Seq(GzipKernel.gzip(text, 1700000000L, 0, 3, "doc.txt"),
      GzipKernel.gzip(text2, 0L, 2, 255, null)),
    "zstd" -> Seq(ZstdKernel.zstd(text, 3, true), ZstdKernel.zstd(text2, 1, false)),
    "tfrecord" -> Seq(TfRecordKernel.tfrecord(Seq(text, text2)), TfRecordKernel.tfrecord(Seq(text2))),
    "warc" -> Seq(warc),
    "tar" -> Seq(TarKernel.entry("a/0.txt", text, 12345L) ++ TarKernel.entry("a/0.bin", text2, 0L) ++
      new Array[Byte](1024)),
    "proto" -> Seq({
      val out = new java.io.ByteArrayOutputStream()
      ProtoKernel.writeVarintField(out, 1, 300L)
      ProtoKernel.writeVarintField(out, 16, 1L)
      ProtoKernel.writeBytesField(out, 2, text2)
      out.toByteArray
    }),
    "safetensors" -> Seq(safetensors(
      """{"__metadata__":{"who":"graft"},"b":{"dtype":"F16","shape":[3,2],"data_offsets":[8,20]},""" +
        """"a":{"dtype":"F32","shape":[2],"data_offsets":[0,8]}}""", 20)),
    "parquet_footer" -> Seq(ParquetFooterKernel.build(Seq(7, 12, 3), 100L, lieOverlap = false),
      ParquetFooterKernel.build(Seq(5), 0L, lieOverlap = true)),
    "zip" -> Seq(ZipKernel.zip(Seq(("a.txt", text, true), ("b.bin", text2, false)))),
    "mp3" -> Seq(mp3Frame(9, 0) ++ mp3Frame(9, 0) ++ mp3Frame(5, 0), mp3Frame(3, 1)),
    "jpeg" -> Seq(jpeg(9, 5)),
    "utf8" -> Seq(text2, Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ text2),
    "ogg" -> oggs)

  private val forced: Seq[Array[Byte]] = Seq(
    "7fffffff", "ffffff7f", "80000000", "00000080", "ffffffff",
    "7fffffffffffffff", "ffffffffffffff7f", "8000000000000000", "0000000000000080"
  ).map(h => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  private def bytesOf(n: Int): Gen[Array[Byte]] =
    Gen.containerOfN[Array, Byte](n, Arbitrary.arbitrary[Byte])

  /** One mutation: bit flips, a truncation, inserted bytes, or a 4/8-byte
    * window overwritten with a length-field extreme. */
  def mutation(b: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    Gen.listOf(Gen.choose(0, math.max(0, b.length * 8 - 1))).map { bits =>
      val out = b.clone()
      if (out.nonEmpty) bits.take(8).foreach(i => out(i / 8) = (out(i / 8) ^ (1 << (i % 8))).toByte)
      out
    },
    Gen.choose(0, b.length).map(b.take),
    for (at <- Gen.choose(0, b.length); n <- Gen.choose(1, 16); ins <- bytesOf(n))
      yield b.take(at) ++ ins ++ b.drop(at),
    for (at <- Gen.choose(0, b.length); f <- Gen.oneOf(forced)) yield {
      val out = b.clone()
      var k = 0
      while (k < f.length && at + k < out.length) { out(at + k) = f(k); k += 1 }
      out
    })

  private def mutations(b: Array[Byte], k: Int): Gen[Array[Byte]] =
    if (k == 0) Gen.const(b) else mutation(b).flatMap(mutations(_, k - 1))

  /** Random bytes, or one to three mutations of a fixture. */
  def input(fx: Seq[Array[Byte]]): Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.choose(0, 600).flatMap(bytesOf),
    6 -> (for (b <- Gen.oneOf(fx); k <- Gen.choose(1, 3); m <- mutations(b, k)) yield m))

  /** `n` fixed-seed draws of `gen`. */
  def draws[T](gen: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).map(i => gen.pureApply(params, Seed(seed * 1000003L + i)))
  }

  /** Canonical text of a kernel result or a collected cell. */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update(utf8(l + "\n")))
    md.digest().take(8).map(x => f"${x & 0xff}%02x").mkString
  }

  /** Input of a Column builder. */
  sealed trait In
  case object Bin extends In    // binary `content`
  case object Text extends In   // string `text`
  case object Id extends In     // bigint `id`
  case object Robots extends In // strings `robots`, `path`

  case class Builder(name: String, in: In, fixture: Seq[Array[Byte]], build: Seq[Column] => Column)

  private def bin(name: String, fx: => Seq[Array[Byte]])(f: Column => Column): Builder =
    Builder(name, Bin, fx, cs => f(cs.head))

  /** Every Column builder that goes through the kernel-call adapter. */
  lazy val builders: Seq[Builder] = Seq(
    bin("graft_gzip_info", fixtures("gzip"))(GzipExpressions.gzipInfo),
    bin("graft_zstd_info", fixtures("zstd"))(ZstdExpressions.zstdInfo),
    bin("graft_ogg_info", fixtures("ogg"))(OggExpressions.oggInfo),
    bin("graft_tfrecord_info", fixtures("tfrecord"))(TfRecordExpressions.tfrecordInfo),
    bin("graft_safetensors_info", fixtures("safetensors"))(SafetensorsExpressions.safetensorsInfo),
    bin("graft_proto_info", fixtures("proto"))(ProtoExpressions.protoInfo),
    bin("graft_parquet_footer_info", fixtures("parquet_footer"))(
      ParquetFooterExpressions.parquetFooterInfo),
    bin("graft_zip_info", fixtures("zip"))(ZipExpressions.zipInfo),
    bin("graft_tar_info", fixtures("tar"))(TarExpressions.tarInfo),
    bin("graft_mp3_info", fixtures("mp3"))(Mp3Expressions.mp3Info),
    bin("graft_utf8_info", fixtures("utf8"))(Utf8Expressions.utf8Info),
    bin("graft_warc_info", fixtures("warc"))(WarcExpressions.warcInfo),
    bin("graft_warc_body", fixtures("warc"))(WarcExpressions.warcBody),
    bin("graft_jpeg_dims", fixtures("jpeg"))(JpegExpressions.jpegDims),
    Builder("graft_cdc_chunks", Text, Nil, cs => CdcExpressions.cdcChunkSpans(cs.head, 6, 3)),
    Builder("graft_robots_allow", Robots, Nil,
      cs => RobotsExpressions.robotsAllow(cs(0), cs(1), "GraftBot")),
    bin("graft_split_frames", frames)(PcmExpressions.splitFrames(_, magic)),
    bin("graft_mulaw_to_pcm16", g711)(PcmExpressions.mulawToPcm16),
    bin("graft_alaw_to_pcm16", g711)(PcmExpressions.alawToPcm16),
    bin("graft_pcm16_to_mulaw", pcm)(PcmExpressions.pcm16ToMulaw),
    bin("graft_pcm16_to_alaw", pcm)(PcmExpressions.pcm16ToAlaw),
    Builder("graft_synth_mulaw", Id, Nil, cs => PcmExpressions.synthMulaw(cs.head, 40)),
    bin("graft_pcm_stats", pcm)(PcmExpressions.pcmStats(_, 40, 2000000L)),
    Builder("graft_synth_pcm16", Id, Nil, cs => PcmExpressions.synthPcm16(cs.head, 40)),
    bin("graft_resample_pcm16", pcm)(PcmExpressions.resamplePcm16(_, 8000, 11025)),
    bin("graft_stereo_downmix", pcm)(PcmExpressions.stereoDownmix),
    bin("graft_deinterleave", pcm)(PcmExpressions.deinterleave(_, 1)),
    bin("graft_pcm16_gain", pcm)(PcmExpressions.gainNormalize(_, 12000)),
    bin("graft_vad_segments", pcm)(PcmExpressions.vadSegments(_, 20, 200000000L, 1, 2)))

  private val robotsFixture =
    "User-agent: GraftBot\nDisallow: /private\nAllow: /private/ok$\nCrawl-delay: 3\n\n" +
      "# everyone else\nUser-agent: *\nDisallow: /\nAllow: /*.css\n"
  private val paths = Seq("/", "/private/x", "/private/ok", "/private/ok/y", "/a.css", "/public")

  private def mutatedText(base: String): Gen[String] =
    mutations(utf8(base), 2).map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  /** The fixed-seed input frame of a builder: `id`, then its argument
    * columns; 64 drawn rows plus one row of nulls. */
  def corpus(spark: SparkSession, b: Builder): DataFrame = {
    val n = 64
    val seed = b.name.hashCode.toLong
    val (schema, rows) = b.in match {
      case Bin =>
        (StructType(Seq(StructField("content", BinaryType))),
          draws(input(b.fixture), n, seed).map(Row(_)))
      case Text =>
        (StructType(Seq(StructField("text", StringType))),
          draws(mutatedText("Chunk me: " + "lorem ipsum dolor sit amet " * 6), n, seed).map(Row(_)))
      case Id =>
        (StructType(Seq(StructField("id", LongType))),
          draws(Gen.oneOf(Gen.choose(-1000000L, 1000000L), Arbitrary.arbitrary[Long]), n, seed)
            .map(Row(_)))
      case Robots =>
        (StructType(Seq(StructField("robots", StringType), StructField("path", StringType))),
          draws(Gen.zip(mutatedText(robotsFixture), Gen.oneOf(paths)), n, seed)
            .map { case (r, p) => Row(r, p) })
    }
    val all = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) } :+
      Row.fromSeq(n.toLong +: schema.map(_ => null))
    spark.createDataFrame(spark.sparkContext.parallelize(all, 2),
      StructType(StructField("row", LongType) +: schema.fields))
  }

  def argColumns(b: Builder): Seq[Column] = b.in match {
    case Bin => Seq(col("content"))
    case Text => Seq(col("text"))
    case Id => Seq(col("id"))
    case Robots => Seq(col("robots"), col("path"))
  }

  /** The builder's output over its corpus, rendered row by row. */
  def outputs(spark: SparkSession, b: Builder): Seq[String] =
    corpus(spark, b).select(col("row"), b.build(argColumns(b)).as("out"))
      .collect().sortBy(_.getLong(0)).map(r => render(r.get(1))).toSeq
}

class KernelFuzzSpec extends AnyFunSuite {
  import KernelCorpus._

  private lazy val spark = TestSpark.spark
  private val casesPerKernel = 10000

  /** Info kernel: `f` and its documented fail row; `name` keys its fixture. */
  private case class Info(name: String, f: Array[Byte] => Seq[Long], fail: Seq[Long])

  private val infos: Seq[Info] = {
    val f6 = Seq(0L, -1L, -1L, -1L, -1L, -1L)
    val f7 = f6 :+ -1L
    Seq(
      Info("gzip", GzipKernel.info(_).toSeq, f7 :+ -1L),
      Info("zstd", ZstdKernel.info(_).toSeq, f6),
      Info("tfrecord", TfRecordKernel.info(_).toSeq, f6.take(4)),
      Info("warc", WarcKernel.info(_).toSeq, f7 ++ Seq(-1L, -1L)),
      Info("tar", TarKernel.info(_).toSeq, f7),
      Info("proto", ProtoKernel.info(_).toSeq, f6),
      Info("safetensors", SafetensorsKernel.info(_).toSeq, f7),
      Info("parquet_footer", ParquetFooterKernel.info(_).toSeq,
        ParquetFooterKernel.info(Array.empty[Byte]).toSeq),
      Info("zip", ZipKernel.info(_).toSeq, f6),
      Info("mp3", Mp3Kernel.info(_).toSeq, f7),
      Info("jpeg", JpegKernel.dims(_).toSeq.map(_.toLong), Seq(0L, -1L, -1L)),
      Info("utf8", Utf8Kernel.info(_).toSeq, Seq(0L, -1L, -1L, -1L, -1L)),
      Info("ogg", OggKernel.info(_).toSeq, Seq(0L, 0L, -1L, -1L, -1L, -1L, -1L)))
  }

  /** Bytes-in PCM/G.711 kernels with the output shape each documents. */
  private case class Pcm(name: String, f: Array[Byte] => Any, ok: (Array[Byte], Any) => Boolean,
      fx: Seq[Array[Byte]])

  private def len(v: Any): Int = v.asInstanceOf[Array[_]].length

  private val pcms: Seq[Pcm] = Seq(
    Pcm("pcm_stats", PcmKernel.stats(_, 40, 2000000L), (b, v) => len(v) == 6 &&
      v.asInstanceOf[Array[Long]](0) == b.length / 2, pcm),
    Pcm("resample", PcmKernel.resample(_, 8000, 11025), (b, v) => {
      val nIn = b.length / 2
      len(v) == 2 * (if (nIn <= 1) nIn else ((nIn - 1).toLong * 11025 / 8000 + 1).toInt)
    }, pcm),
    Pcm("vad_segments", PcmKernel.vadSegments(_, 20, 200000000L, 1, 2), (_, v) => len(v) % 2 == 0,
      pcm),
    Pcm("gain", PcmKernel.gainNormalize(_, 12000), (b, v) => len(v) == b.length / 2 * 2, pcm),
    Pcm("downmix", PcmKernel.stereoDownmix, (b, v) => len(v) == b.length / 4 * 2, pcm),
    Pcm("deinterleave", PcmKernel.deinterleave(_, 1), (b, v) => len(v) == b.length / 4 * 2, pcm),
    Pcm("mulaw_to_pcm16", MulawKernel.toPcm16, (b, v) => len(v) == 2 * b.length, g711),
    Pcm("alaw_to_pcm16", AlawKernel.toPcm16, (b, v) => len(v) == 2 * b.length, g711),
    Pcm("pcm16_to_mulaw", MulawKernel.fromPcm16, (b, v) => len(v) == b.length / 2, pcm),
    Pcm("pcm16_to_alaw", AlawKernel.fromPcm16, (b, v) => len(v) == b.length / 2, pcm),
    Pcm("split_frames", FrameSplitKernel.split(_, magic), (b, v) => {
      val parts = v.asInstanceOf[Array[Array[Byte]]]
      parts.forall(_.startsWith(magic)) &&
        parts.flatten.toSeq == (if (parts.isEmpty) Nil else b.drop(b.indexOfSlice(magic)).toSeq)
    }, frames))

  private def check(gen: Gen[Array[Byte]])(p: Array[Byte] => Prop): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(casesPerKernel)
      .withInitialSeed(Seed(20261019L)).withWorkers(1)
    val res = SCTest.check(params, Prop.forAllNoShrink(gen)(p))
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= casesPerKernel)
  }

  private def noThrow[T](b: Array[Byte])(f: Array[Byte] => T)(ok: T => Boolean): Prop = {
    val out = try Right(f(b)) catch { case t: Throwable => Left(t) }
    Prop(out.fold(_ => false, ok)) :| s"input ${render(b)} -> ${out.fold(_.toString, render)}"
  }

  for (k <- infos)
    test(s"fuzz: ${k.name} info never throws and returns its fail row or a row of its width") {
      assert(k.f(null) == k.fail)
      val fx = fixtures(k.name)
      fx.foreach(b => assert(k.f(b).head != k.fail.head, s"fixture of ${k.name} must parse"))
      check(input(fx))(b => noThrow(b)(k.f)(row =>
        row == k.fail || (row.length == k.fail.length && row.head != k.fail.head)))
    }

  test("fuzz: warc body never throws") {
    val fx = fixtures("warc")
    assert(WarcKernel.firstOkHtmlBody(fx.head) == "<html><p>hi</p></html>")
    check(input(fx))(b => noThrow(b)(WarcKernel.firstOkHtmlBody)(_ => true))
  }

  for (k <- pcms)
    test(s"fuzz: ${k.name} never throws and returns its documented shape") {
      check(input(k.fx))(b => noThrow(b)(k.f)(v => k.ok(b, v)))
    }

  /** Digest of each kernel's outputs over 2,000 fixed-seed inputs,
    * recorded before the kernels moved onto the shared little-endian
    * reader. */
  private val kernelDigests: Map[String, String] = Map(
    "gzip" -> "e3b2e35f9e947466",
    "zstd" -> "998980c202638d00",
    "tfrecord" -> "6a091f08a41bb1da",
    "warc" -> "a7d22a3ab276f4e1",
    "tar" -> "2af67384cb89f4e6",
    "proto" -> "9010e4fd0fdd3cf0",
    "safetensors" -> "7fc990b0eb310862",
    "parquet_footer" -> "e6f79931cfbf3a0c",
    "zip" -> "ab1a374d6f34a169",
    "mp3" -> "b7b98b4e225cb1e1",
    "jpeg" -> "7db93f182a2a17e7",
    "utf8" -> "e17b21677ce1550d",
    "ogg" -> "352c23cc5c5a4c02",
    "warc_body" -> "ff26d9131537af17",
    "pcm_stats" -> "543f9324ec2caacb",
    "resample" -> "296d6e34fda971fd",
    "vad_segments" -> "8b03c561709e4f45",
    "gain" -> "32b70b252fdd8c5e",
    "downmix" -> "b3d3d718f4561c2e",
    "deinterleave" -> "be226d1c014e5157",
    "mulaw_to_pcm16" -> "061f2574629c3644",
    "alaw_to_pcm16" -> "86815e777d5763f8",
    "pcm16_to_mulaw" -> "fb5efdeef31780bb",
    "pcm16_to_alaw" -> "cb30ed39bfab962d",
    "split_frames" -> "dfd84d53b6f1d789")

  test("kernel outputs are bit-identical to the recorded digests") {
    val got = infos.map(k => k.name -> digest(draws(input(fixtures(k.name)), 2000, 7L)
      .iterator.map(b => render(k.f(b))))) ++
      Seq("warc_body" -> digest(draws(input(fixtures("warc")), 2000, 7L).iterator
        .map(b => render(WarcKernel.firstOkHtmlBody(b))))) ++
      pcms.map(k => k.name -> digest(draws(input(k.fx), 2000, 7L).iterator.map(b => render(k.f(b)))))
    assert(got.toMap == kernelDigests)
  }

  /** Digest of each Column builder's output over its corpus, recorded
    * before the builders moved onto the kernel-call adapter. */
  private val builderDigests: Map[String, String] = Map(
    "graft_gzip_info" -> "52a3e4f53b4690f4",
    "graft_zstd_info" -> "088a4ec219fda0a2",
    "graft_ogg_info" -> "2f242299050d2a6c",
    "graft_tfrecord_info" -> "86d6d76a5713bbd7",
    "graft_safetensors_info" -> "3b84c87fc9c69926",
    "graft_proto_info" -> "6b820890b48a220b",
    "graft_parquet_footer_info" -> "89f925a1e4bea729",
    "graft_zip_info" -> "eb740426b15fa3b7",
    "graft_tar_info" -> "58f4c306f6a274c7",
    "graft_mp3_info" -> "5d8b5bf924267a6e",
    "graft_utf8_info" -> "a738aa5ba77c4403",
    "graft_warc_info" -> "692d1c6c4ea502ff",
    "graft_warc_body" -> "ac526d9d6de97496",
    "graft_jpeg_dims" -> "9098c6a476378e23",
    "graft_cdc_chunks" -> "16e296a4befec087",
    "graft_robots_allow" -> "259f8ce816384947",
    "graft_split_frames" -> "0fc798c5c914b3ea",
    "graft_mulaw_to_pcm16" -> "f3be2aced46c97c2",
    "graft_alaw_to_pcm16" -> "21ce343c5221f8a3",
    "graft_pcm16_to_mulaw" -> "2c0f9992860ea24f",
    "graft_pcm16_to_alaw" -> "b2bd37f1f0f9117c",
    "graft_synth_mulaw" -> "8ae5e6cad4848e8f",
    "graft_pcm_stats" -> "a4765868f586de4e",
    "graft_synth_pcm16" -> "1e47b8e8130247a2",
    "graft_resample_pcm16" -> "c75d3b48ae62764a",
    "graft_stereo_downmix" -> "14d77d687f592440",
    "graft_deinterleave" -> "b03ffada8b422758",
    "graft_pcm16_gain" -> "299343f8bdc0b535",
    "graft_vad_segments" -> "40d93e84429d79b8")

  private def withoutCodegen[T](f: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    f(s)
  }

  test("every builder: interpreted eval equals codegen, and outputs match the recorded digests") {
    val got = builders.map { b =>
      val codegen = outputs(spark, b)
      val interpreted = withoutCodegen(outputs(_, b))
      assert(codegen == interpreted, s"${b.name}: interpreted eval differs from codegen")
      assert(codegen.last == "null", s"${b.name}: a null argument must give null")
      b.name -> digest(codegen.iterator)
    }
    assert(got.toMap == builderDigests)
  }
}
