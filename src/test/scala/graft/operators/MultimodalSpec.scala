package graft.operators

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mediaDF = {
    val rows = Seq(
      Row(1L, "image/png", Array.tabulate[Byte](256)(_.toByte), Row(16, 16, null)),
      Row(2L, "image/png", Array.tabulate[Byte](64)(i => (i * 3).toByte), Row(8, 8, null)),
      Row(3L, "video/mp4", Array.tabulate[Byte](1000)(i => (i % 251).toByte), Row(64, 48, 2000L)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
  }

  test("extractFeatures: declared schema, fixed dim, deterministic, content-sensitive") {
    val f1 = Multimodal.extractFeatures(mediaDF, dim = 32).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(mediaDF, dim = 32).orderBy("media_id").collect()
    assert(f1.map(_.getSeq[Float](1)).forall(_.size == 32))
    assert(f1.map(_.getSeq[Float](1).toList).toSeq == f2.map(_.getSeq[Float](1).toList).toSeq) // deterministic
    assert(f1(0).getSeq[Float](1) != f1(1).getSeq[Float](1)) // different content -> different features
    assert(f1.map(_.getSeq[Float](1)).flatten.forall(v => v >= -1f && v < 1f))
  }

  test("extractFeatures is a narrow transform: partitioning preserved, no shuffle") {
    val plan = Multimodal.extractFeatures(mediaDF, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("resize keeps the media schema and stamps the new box in meta") {
    val out = Multimodal.resize(mediaDF, 4, 4).orderBy("media_id").collect()
    assert(out.map(_.schema).forall(_ == Multimodal.mediaSchema))
    assert(out.forall(r => r.getAs[Row]("meta").getInt(0) == 4 && r.getAs[Row]("meta").getInt(1) == 4))
    assert(out.forall(r => r.getAs[Array[Byte]]("content").nonEmpty))
    // duration carried through for the video row
    assert(out.find(_.getLong(0) == 3L).get.getAs[Row]("meta").getLong(2) == 2000L)
  }

  test("sampleFrames explodes to exactly n frames covering all bytes in order") {
    val frames = Multimodal.sampleFrames(mediaDF.filter(col("media_id") === 3L), 4).orderBy("frame_idx").collect()
    assert(frames.length == 4)
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
    val rejoined = frames.flatMap(_.getAs[Array[Byte]](2))
    val original = mediaDF.filter(col("media_id") === 3L).head.getAs[Array[Byte]]("content")
    assert(rejoined.toSeq == original.toSeq) // lossless chunking
  }

  test("probeBytes: known MD5 vector, byte length, head hex, no shuffle") {
    val abc = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "text/plain", "abc".getBytes("UTF-8"), null)), 1),
      Multimodal.mediaSchema)
    val r = Multimodal.probeBytes(abc, headLen = 2).head
    assert(r.getInt(1) == 3)
    assert(r.getString(2) == "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
    assert(r.getString(3) == "6162") // "ab"
    val plan = Multimodal.probeBytes(mediaDF).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("probeBytesExpr is value-identical to probeBytes and stays in codegen") {
    val expr = Multimodal.probeBytesExpr(mediaDF, headLen = 8).orderBy("media_id").collect()
    val part = Multimodal.probeBytes(mediaDF, headLen = 8).orderBy("media_id").collect()
    assert(expr.map(_.toSeq).toSeq == part.map(_.toSeq).toSeq)
    // head shorter than headLen: substring clamps exactly like bytes.take
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "text/plain", "ab".getBytes("UTF-8"), null)), 1),
      Multimodal.mediaSchema)
    assert(Multimodal.probeBytesExpr(tiny, headLen = 8).head.getString(3) == "6162")
    assertCodegenProject(Multimodal.probeBytesExpr(mediaDF), "expression probe")
  }

  /** The projection runs inside WholeStageCodegen, with no object boundary. */
  private def assertCodegenProject(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen stages in the compact plan string
    assert(plan.contains("*(1) Project"), s"$what must be codegen'd:\n$plan")
    assert(!plan.contains("SerializeFromObject"), s"no object boundary expected:\n$plan")
  }

  test("kernel-call builders: exact argument types, graft_<name>(<args>) names, codegen'd") {
    import graft.functions.KernelCorpus._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Array[Byte](1, 2, 3, 4), "x", 7L, 3, "/p")), 1),
      new StructType().add("content", "binary").add("text", "string").add("id", "bigint")
        .add("i", "int").add("path", "string"))
    def args(in: In): Seq[String] = in match {
      case Bin => Seq("content")
      case Text => Seq("text")
      case Id => Seq("id")
      case Robots => Seq("text", "path")
    }
    def wrong(in: In): Seq[String] = in match {
      case Bin => Seq("text")
      case Text => Seq("content")
      case Id => Seq("i")
      case Robots => Seq("content", "path")
    }
    for (b <- builders) {
      val out = df.select(b.build(args(b.in).map(col)))
      assert(out.columns.toSeq == Seq(s"${b.name}(${args(b.in).mkString(", ")})"))
      assertCodegenProject(out, b.name)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(b.build(wrong(b.in).map(col))).schema)
      assert(e.getMessage.contains(b.name), s"${b.name}: ${e.getMessage}")
    }
  }

  test("decodeImages: real PNG and BMP bytes round-trip dims and exact pixels; garbage degrades to a flag") {
    // paint a deterministic 5x3 gradient, encode through the actual JDK
    // writers — what goes into the DataFrame is real codec output
    def encoded(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, (x * 50 << 16) | (y * 80 << 8) | 0x33)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK lacks a $fmt writer")
      out.toByteArray
    }
    val rows = Seq(
      Row(1L, "image/png", encoded("png"), null),
      Row(2L, "image/bmp", encoded("bmp"), null),
      Row(3L, "image/png", Array.tabulate[Byte](64)(_.toByte), null)) // not an image
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)

    val got = Multimodal.decodeImages(media, includePixels = true)
      .orderBy("media_id").collect()
    val expected = for (y <- 0 until 3; x <- 0 until 5)
      yield 0xff000000 | (x * 50 << 16) | (y * 80 << 8) | 0x33
    Seq(0, 1).foreach { i => // png and bmp are both lossless: pixel-exact
      assert(got(i).getBoolean(1), s"row $i failed to decode")
      assert((got(i).getInt(2), got(i).getInt(3)) == (5, 3))
      assert(got(i).getSeq[Int](4) == expected, s"row $i pixels diverge")
    }
    assert(!got(2).getBoolean(1) && got(2).isNullAt(2) && got(2).isNullAt(4))

    // same plumbing contract as the stubs: narrow, no shuffle
    val plan = Multimodal.decodeImages(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("decodeImages: JPEG through the same JDK path; truncated JPEG and null blobs degrade to the flag") {
    // JPEG is lossy, so assert dims exactly and pixels within a small
    // per-channel tolerance (a solid color is DC-only — near-exact)
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, 0x6090c0)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out), "JDK lacks a JPEG writer")
    val jpeg = out.toByteArray
    assert(jpeg.length >= 3 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "writer did not emit a real JPEG (SOI marker missing)")

    // content declared nullable so the null-blob degrade path is reachable
    // (JDK readers also throw UNCHECKED exceptions on malformed bytes —
    // both must come back flagged, not fail the stage)
    val schema = StructType(Multimodal.mediaSchema.map {
      case f if f.name == "content" => f.copy(nullable = true)
      case f => f
    })
    val rows = Seq(
      Row(1L, "image/jpeg", jpeg, null),
      Row(2L, "image/jpeg", jpeg.take(jpeg.length / 2), null), // truncated mid-stream
      Row(3L, "image/jpeg", null, null))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val got = Multimodal.decodeImages(media, includePixels = true)
      .orderBy("media_id").collect()
    assert(got(0).getBoolean(1), "JPEG failed to decode")
    assert((got(0).getInt(2), got(0).getInt(3)) == (6, 4))
    got(0).getSeq[Int](4).foreach { px =>
      assert(math.abs(((px >> 16) & 0xff) - 0x60) <= 3
        && math.abs(((px >> 8) & 0xff) - 0x90) <= 3
        && math.abs((px & 0xff) - 0xc0) <= 3,
        f"JPEG pixel 0x$px%08x too far from 0xff6090c0")
    }
    Seq(1, 2).foreach { i =>
      assert(!got(i).getBoolean(1) && got(i).isNullAt(2) && got(i).isNullAt(4),
        s"row $i must degrade to decoded=false")
    }
    // the feature path shares the degrade contract
    val feats = Multimodal.extractImageFeatures(media, gridW = 4, gridH = 4)
      .orderBy("media_id").collect()
    assert(feats(0).getBoolean(1) && feats(0).getSeq[Float](2).size == 16)
    Seq(1, 2).foreach { i =>
      assert(!feats(i).getBoolean(1) && feats(i).getSeq[Float](2).size == 16)
    }
  }

  test("extractImageFeatures: real pixel luminance grids; corrupt bytes fall back flagged") {
    def solidPng(rgb: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows = Seq(
      Row(1L, "image/png", solidPng(0x808080), null), // mid gray
      Row(2L, "image/png", solidPng(0xffffff), null), // white
      Row(3L, "image/png", Array.tabulate[Byte](50)(_.toByte), null)) // corrupt
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val got = Multimodal.extractImageFeatures(media, gridW = 4, gridH = 4)
      .orderBy("media_id").collect()
    // a solid image's every grid cell is exactly its luminance
    val gray = (0.299 * 128 + 0.587 * 128 + 0.114 * 128) / 255.0
    assert(got(0).getBoolean(1))
    assert(got(0).getSeq[Float](2).size == 16)
    assert(got(0).getSeq[Float](2).forall(v => math.abs(v - gray) < 1e-6))
    assert(got(1).getSeq[Float](2).forall(v => math.abs(v - 1.0f) < 1e-6))
    // corrupt row degrades to the flagged byte-level fallback, same shape
    assert(!got(2).getBoolean(1) && got(2).getSeq[Float](2).size == 16)
    val plan = Multimodal.extractImageFeatures(media).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("asEmbeddingTable feeds the similarity operators end-to-end") {
    val emb = Multimodal.asEmbeddingTable(mediaDF, dim = 16)
    assert(emb.columns.toSeq == Seq("vec_id", "embedding"))
    val topk = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") === 1L), "vec_id", "embedding", k = 2)
      .collect()
    assert(topk.length == 2)
    assert(topk.map(_.getAs[Long]("nbr_id")).toSet == Set(2L, 3L))
  }
  test("syntheticGrayPngs: real PNG encode round-trips to the closed-form pixel grid; perturb shifts exactly pixel 0") {
    import spark.implicits._
    val ids = Seq((1L, 7L, false), (2L, 7L, true), (3L, 256L, false))
      .toDF("media_id", "seed", "perturb")
    val decoded = Multimodal.decodeImages(Multimodal.syntheticGrayPngs(ids), includePixels = true)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    // independent replay of the mix32 generator (NOT a call into main —
    // a drifted constant in either copy fails the comparison)
    def gray(seed: Long, k: Int): Int = {
      val x = Math.floorMod((seed + 1L) * 4096L + (k + 2L), 4294967296L)
      val h1 = x ^ (x >>> 16)
      val h2 = (h1 * 49632349L) % 4294967296L
      val h3 = h2 ^ (h2 >>> 13)
      val h4 = (h3 * 85624441L) % 4294967296L
      (1L + (h4 ^ (h4 >>> 16)) % 255L).toInt
    }
    (1L to 3L).foreach { id =>
      val r = decoded(id)
      assert(r.getAs[Boolean]("decoded"), s"image $id failed to decode")
      assert(r.getAs[Int]("width") == 8 && r.getAs[Int]("height") == 8)
    }
    def px(id: Long) = decoded(id)
      .getAs[scala.collection.Seq[Int]]("argb").toSeq.map(_ & 0xffffff)
    def grayAll(seed: Long) = (0 until 64).map { k =>
      val g = gray(seed, k); (g << 16) | (g << 8) | g
    }
    assert(px(1L) == grayAll(7L), "decoded pixels diverge from the generator formula")
    // the r16 mod-257 trap: seeds 7 and 264 (= 7 + 257) produced IDENTICAL
    // images; the mix32 generator must separate them
    assert(px(3L) == grayAll(256L), "decoded pixels diverge for the second seed")
    assert(grayAll(7L) != grayAll(7L + 257L), "mix32 must not collide on seed + 257 (the r16 trap)")
    // perturb: pixel 0 shifted by a no-wrap +/-8, every other pixel identical
    val g0 = gray(7L, 0)
    val g0p = if (g0 <= 247) g0 + 8 else g0 - 8
    assert(px(2L).head == ((g0p << 16) | (g0p << 8) | g0p))
    assert(px(2L).tail == px(1L).tail, "perturbation leaked past pixel 0")
  }

  test("syntheticGrayPngs: negative seeds stay in the documented 1..255 range (floorMod, not %)") {
    import spark.implicits._
    val ids = Seq((1L, -5L, false), (2L, -258L, false)).toDF("media_id", "seed", "perturb")
    val decoded = Multimodal.decodeImages(Multimodal.syntheticGrayPngs(ids), includePixels = true)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    def grayAll(seed: Long) = (0 until 64).map { k =>
      val x = Math.floorMod((seed + 1L) * 4096L + (k + 2L), 4294967296L)
      val h1 = x ^ (x >>> 16)
      val h2 = (h1 * 49632349L) % 4294967296L
      val h3 = h2 ^ (h2 >>> 13)
      val h4 = (h3 * 85624441L) % 4294967296L
      val g = (1L + (h4 ^ (h4 >>> 16)) % 255L).toInt
      (g << 16) | (g << 8) | g
    }
    (1L to 2L).foreach { id =>
      val r = decoded(id)
      assert(r.getAs[Boolean]("decoded"), s"image $id failed to decode")
      val px = r.getAs[scala.collection.Seq[Int]]("argb").toSeq.map(_ & 0xffffff)
      val seed = if (id == 1L) -5L else -258L
      assert(px == grayAll(seed), s"image $id diverges from the floorMod closed form")
      px.foreach { p =>
        val g = p & 0xff
        assert(g >= 1 && g <= 255, s"gray level $g out of the documented range")
      }
    }
  }

  test("synthPcm16 bytes decode back to the closed-form samples via audioFeatures' own path") {
    import spark.implicits._
    val pcm = Multimodal.synthPcm16(Seq(5L, 6L).toDF("doc_id"), "doc_id", nSamples = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("audio")).toMap
    assert(pcm(5L).length == 16, "8 samples = 16 bytes")
    // hand-decode s16le and compare to the formula
    (0 until 8).foreach { k =>
      val lo = pcm(5L)(2 * k) & 0xff; val hi = pcm(5L)(2 * k + 1) & 0xff
      val raw = lo + 256 * hi
      val s0 = if (raw < 32768) raw else raw - 65536
      val expect = Math.floorMod(5L * 31 + k * 7, 65536L) - 32768L
      assert(s0.toLong == expect, s"sample $k: $s0 vs $expect")
    }
  }

  test("audioFeatures: exact stats on a hand-built PCM fixture; odd tail byte tolerated; empty null-safe") {
    import spark.implicits._
    def enc(samples: Seq[Int]): Array[Byte] = samples.flatMap { s =>
      val u = if (s < 0) s + 65536 else s
      Seq((u % 256).toByte, (u / 256).toByte)
    }.toArray
    // 6 samples: peak 30000, crossings: 100->-100 (1), -100->0 (2), 30000->-30000 (3)
    val fx = Seq(0, 100, -100, 0, 30000, -30000)
    val df = Seq((1L, enc(fx)), (2L, enc(fx) :+ 0x7f.toByte), (3L, Array.empty[Byte]))
      .toDF("id", "audio")
    val out = Multimodal.audioFeatures(df, "audio", frameSamples = 3, energyThreshold = 1000000L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_samples") == 6L)
    assert(r1.getAs[Long]("peak") == 30000L)
    assert(r1.getAs[Long]("zero_crossings") == 3L)
    val expectedRms = graft.functions.Quantize.scaledFloorDouble(
      math.sqrt(fx.map(s => s.toLong * s).sum.toDouble / 6.0), 6)
    assert(r1.getAs[Double]("rms") == expectedRms)
    // frames of 3: [0,100,-100] energy 20000 <= 1e6 inactive; [0,30000,-30000] energy 1.8e9 active
    assert(r1.getAs[Long]("n_frames") == 2L && r1.getAs[Long]("active_frames") == 1L)
    assert(r1.getAs[Double]("activity") == 0.5)
    // odd trailing byte: one byte ignored, same sample stream
    assert(out(2L).getAs[Long]("n_samples") == 6L &&
      out(2L).getAs[Long]("peak") == 30000L)
    // empty binary: zero samples, null rms/activity, zero counts
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_samples") == 0L && r3.isNullAt(r3.fieldIndex("rms")) &&
      r3.getAs[Long]("zero_crossings") == 0L && r3.getAs[Long]("active_frames") == 0L)
  }

  test("vadSegments kernel: hangover merge, min-span filter, strict threshold, tail exclusion") {
    def enc(samples: Seq[Int]): Array[Byte] = samples.flatMap { s =>
      val u = if (s < 0) s + 65536 else s
      Seq((u % 256).toByte, (u / 256).toByte)
    }.toArray
    import graft.functions.PcmKernel.vadSegments
    // frames of 2 samples at value v have energy 2v²; threshold 1000:
    // v=100 active (20000), v=1/0 inactive. Pattern per frame:
    // A A . A . . A A A .  with maxGap=1, minSpan=2
    val active = Seq(100, 100); val quiet = Seq(1, 1)
    val sig = Seq(active, active, quiet, active, quiet, quiet,
      active, active, active, quiet).flatten
    // frame 3 merges across the single quiet frame 2 (hangover);
    // frames 4-5 (gap 2 > maxGap) split; spans 4 and 3 both survive
    assert(vadSegments(enc(sig), 2, 1000L, 1, 2).toSeq == Seq(0L, 4L, 6L, 3L))
    // maxGap 0: the same signal splits at frame 2 -> (0,2),(3,1 dropped),(6,3)
    assert(vadSegments(enc(sig), 2, 1000L, 0, 2).toSeq == Seq(0L, 2L, 6L, 3L))
    // min-span: an isolated active frame drops at minSpan=2, kept at 1
    val blip = Seq(quiet, active, quiet).flatten
    assert(vadSegments(enc(blip), 2, 1000L, 1, 2).isEmpty)
    assert(vadSegments(enc(blip), 2, 1000L, 1, 1).toSeq == Seq(1L, 1L))
    // threshold is STRICT: energy exactly == threshold is inactive
    assert(vadSegments(enc(active), 2, 20000L, 0, 1).isEmpty)
    assert(vadSegments(enc(active), 2, 19999L, 0, 1).toSeq == Seq(0L, 1L))
    // a partial tail frame and an odd trailing byte stay out
    assert(vadSegments(enc(sig :+ 100) :+ 0x7f.toByte, 2, 1000L, 1, 2).toSeq
      == Seq(0L, 4L, 6L, 3L))
    assert(vadSegments(Array.empty[Byte], 2, 1000L, 1, 2).isEmpty)
  }

  test("speechSegments: exploded rows match the kernel; all-silence rows drop; seg_idx is 1-based") {
    import spark.implicits._
    val pcm = Multimodal.synthPcm16(Seq(3L, 4L, 1057L).toDF("doc_id"), "doc_id", nSamples = 480)
    val out = Multimodal.speechSegments(pcm, "audio", frameSamples = 40,
      energyThreshold = 40L * 6000 * 6000, maxGapFrames = 1, minSpanFrames = 2)
    val rows = out.select("doc_id", "seg_idx", "start_frame", "span_frames")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // parity with the kernel run locally on the same synth bytes
    val expected = Seq(3L, 4L, 1057L).flatMap { id =>
      val segs = graft.functions.PcmKernel.vadSegments(
        graft.functions.PcmKernel.synth(id, 480), 40, 40L * 6000 * 6000, 1, 2)
      segs.grouped(2).zipWithIndex.map { case (Array(st, sp), i) => (id, i + 1L, st, sp) }
    }
    assert(rows.sorted.toSeq == expected.sorted)
    // id 1057's ramp sits near zero: every frame inactive, the row drops
    assert(!rows.exists(_._1 == 1057L))
    assert(rows.exists(_._1 == 3L), "active docs must survive")
    // the binary column survives the explode for downstream slicing
    assert(out.columns.contains("audio"))
  }

  test("gainNormalize: peak maps to target exactly, floor on negatives, all-zero passthrough") {
    import graft.functions.PcmKernel.gainNormalize
    def enc(samples: Seq[Int]): Array[Byte] = samples.flatMap { s =>
      val u = if (s < 0) s + 65536 else s
      Seq((u % 256).toByte, (u / 256).toByte)
    }.toArray
    def dec(bytes: Array[Byte]): Seq[Int] = (0 until bytes.length / 2).map { k =>
      val raw = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
      if (raw < 32768) raw else raw - 65536
    }
    // peak 1000 -> target 16384: peak sample exact, others floor-divided
    assert(dec(gainNormalize(enc(Seq(1000, -1000, 3, -3, 0)), 16384))
      == Seq(16384, -16384, 49, -50, 0)) // 3*16384/1000 = 49.152 -> 49; -49.152 -> -50 (floor)
    // negative-only peak still maps to -target
    assert(dec(gainNormalize(enc(Seq(-2048, 17)), 16384)) == Seq(-16384, 136))
    // all-zero stream passes through (no definable gain)
    assert(dec(gainNormalize(enc(Seq(0, 0)), 16384)) == Seq(0, 0))
    // odd trailing byte stays out
    assert(gainNormalize(enc(Seq(100)) :+ 0x7f.toByte, 16384).length == 2)
    // downscaling works too (peak above target)
    assert(dec(gainNormalize(enc(Seq(32767, -32767, 1)), 1000)) == Seq(1000, -1000, 0))
  }

  test("stereo: downmix floor-averages pairs, deinterleave splits channels, odd pair dropped") {
    import graft.functions.PcmKernel.{deinterleave, stereoDownmix}
    def enc(samples: Seq[Int]): Array[Byte] = samples.flatMap { s =>
      val u = if (s < 0) s + 65536 else s
      Seq((u % 256).toByte, (u / 256).toByte)
    }.toArray
    def dec(bytes: Array[Byte]): Seq[Int] = (0 until bytes.length / 2).map { k =>
      val raw = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
      if (raw < 32768) raw else raw - 65536
    }
    // L R L R: downmix floors toward -inf on odd sums (1 + -2 = -1 -> -1/2 -> -1)
    val st = Seq(100, 200, 1, -2, -1000, -3000)
    assert(dec(stereoDownmix(enc(st))) == Seq(150, -1, -2000))
    assert(dec(deinterleave(enc(st), 0)) == Seq(100, 1, -1000))
    assert(dec(deinterleave(enc(st), 1)) == Seq(200, -2, -3000))
    // a trailing incomplete pair (one lone sample) stays out of all legs
    assert(dec(stereoDownmix(enc(st :+ 777))) == Seq(150, -1, -2000))
    assert(dec(deinterleave(enc(st :+ 777), 0)) == Seq(100, 1, -1000))
    assert(stereoDownmix(Array.empty[Byte]).isEmpty)
  }

  test("wrapWav emits a canonical RIFF header javax.sound can read; parseWav round-trips; corrupt degrades") {
    import spark.implicits._
    val pcm = Multimodal.synthPcm16(Seq(9L).toDF("doc_id"), "doc_id", nSamples = 32)
    val wav = Multimodal.wrapWav(pcm, "audio", sampleRate = 8000).collect().head
      .getAs[Array[Byte]]("wav")
    assert(wav.length == 44 + 64)
    // the JDK's own WAV reader accepts the header — container parity with
    // a real consumer, not just our own parser
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ais.getFormat.getSampleRate == 8000f &&
      ais.getFormat.getChannels == 1 &&
      ais.getFormat.getSampleSizeInBits == 16)
    assert(ais.getFrameLength == 32L)

    val parsed = Multimodal.parseWav(
      Seq((1L, wav), (2L, "JUNKJUNKJUNK".getBytes), (3L, null.asInstanceOf[Array[Byte]]))
        .toDF("id", "wav"), "wav")
      .collect().map(r => r.getLong(0) -> r).toMap
    val ok = parsed(1L)
    assert(ok.getAs[Boolean]("wav_valid") && ok.getAs[Long]("channels") == 1L &&
      ok.getAs[Long]("sample_rate") == 8000L && ok.getAs[Long]("data_bytes") == 64L)
    // the extracted body is byte-identical to the original PCM
    val body = ok.getAs[Array[Byte]]("pcm")
    assert(body.toSeq == wav.drop(44).toSeq)
    assert(!parsed(2L).getAs[Boolean]("wav_valid") && parsed(2L).isNullAt(parsed(2L).fieldIndex("pcm")))
    assert(!parsed(3L).getAs[Boolean]("wav_valid"))
  }

  test("mulaw decode: canonical G.711 vectors, full-range round-trip via features") {
    import spark.implicits._
    import graft.functions.MulawKernel
    // canonical table endpoints: 0x00 -> -32124, 0x80 -> +32124, 0xFF/0x7F -> 0
    assert(MulawKernel.decodeSample(0x00.toByte) == -32124)
    assert(MulawKernel.decodeSample(0x80.toByte) == 32124)
    assert(MulawKernel.decodeSample(0xFF.toByte) == 0)
    assert(MulawKernel.decodeSample(0x7F.toByte) == 0)
    // monotone within a sign: codes 0..0x7f decode nondecreasing
    val negs = (0 to 0x7f).map(b => MulawKernel.decodeSample(b.toByte))
    assert(negs.zip(negs.tail).forall { case (a, b) => a <= b },
      "negative half must decode monotone")
    // DataFrame path: all 256 codes through decodeMulaw + audioFeatures;
    // peak must be the table max and the sample count all 256
    val allCodes = Seq((1L, (0 until 256).map(_.toByte).toArray)).toDF("id", "mulaw")
    val out = Multimodal.audioFeatures(
      Multimodal.decodeMulaw(allCodes, "mulaw"), "pcm",
      frameSamples = 64, energyThreshold = 1L).collect().head
    assert(out.getAs[Long]("n_samples") == 256L)
    assert(out.getAs[Long]("peak") == 32124L)
    assert(out.getAs[Long]("n_frames") == 4L && out.getAs[Long]("active_frames") == 4L)
  }

  test("splitFrameStream: magic-scan splitting — garbage prefix ignored, adjacent magics, no magic") {
    import spark.implicits._
    import graft.functions.FrameSplitKernel
    val m = "MG".getBytes("US-ASCII")
    def sp(s0: String) = FrameSplitKernel.split(s0.getBytes("US-ASCII"), m)
      .map(new String(_, "US-ASCII")).toSeq
    assert(sp("MGaaMGbb") == Seq("MGaa", "MGbb"))
    assert(sp("junkMGaaMGbb") == Seq("MGaa", "MGbb"), "garbage before first marker ignored")
    assert(sp("MGMGx") == Seq("MG", "MGx"), "adjacent markers yield an empty-body frame")
    assert(sp("nothing here") == Seq())
    assert(sp("") == Seq())
    // DataFrame path: three real PNGs concatenated split back to three
    // decodable frames with the right pixel content
    val pngs = Multimodal.syntheticGrayPngs(
      Seq((0L, 7L, false), (1L, 8L, false), (2L, 9L, false))
        .toDF("media_id", "seed", "perturb"))
      .orderBy("media_id").collect().map(_.getAs[Array[Byte]]("content"))
    val stream = pngs.reduce(_ ++ _)
    val frames = Multimodal.splitFrameStream(
      Seq((1L, stream)).toDF("id", "stream"), "stream")
      .select(posexplode(org.apache.spark.sql.functions.col("frames")))
      .collect()
    assert(frames.length == 3)
    frames.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Array[Byte]](1).toSeq == pngs(i).toSeq, s"frame $i bytes") }
  }

  test("alaw decode: canonical G.711 vectors, inverted sign vs mulaw, segment-0 path") {
    import spark.implicits._
    import graft.functions.AlawKernel
    // canonical endpoints: 0x55 -> XOR 0x00 -> seg0 mant0 negative -> -8;
    // 0xD5 -> XOR 0x80 -> positive -> +8; 0x2A -> XOR 0x7F -> seg7 mant15 -> -32256
    assert(AlawKernel.decodeSample(0x55.toByte) == -8)
    assert(AlawKernel.decodeSample(0xD5.toByte) == 8)
    assert(AlawKernel.decodeSample(0x2A.toByte) == -32256)
    assert(AlawKernel.decodeSample(0xAA.toByte) == 32256)
    // A-law and mu-law must NOT agree on the same code stream (inverted
    // sign + different bias): all 256 codes decode to distinct tables
    val codes = (0 until 256).map(_.toByte)
    val alaw = codes.map(AlawKernel.decodeSample)
    val mu = codes.map(graft.functions.MulawKernel.decodeSample)
    assert(alaw != mu)
    assert(alaw.max == 32256 && alaw.min == -32256)
    // DataFrame path composes with audioFeatures
    val df = Seq((1L, codes.toArray)).toDF("id", "alaw")
    val out = Multimodal.audioFeatures(
      Multimodal.decodeAlaw(df, "alaw"), "pcm",
      frameSamples = 64, energyThreshold = 1L).collect().head
    assert(out.getAs[Long]("n_samples") == 256L &&
      out.getAs[Long]("peak") == 32256L)
  }

  test("mulaw encode: canonical vectors, encode∘decode identity over all 256 codes except negative zero") {
    import graft.functions.MulawKernel
    assert((MulawKernel.encodeSample(0) & 0xff) == 0xFF)
    assert((MulawKernel.encodeSample(-32124) & 0xff) == 0x00)
    assert((MulawKernel.encodeSample(32124) & 0xff) == 0x80)
    assert((MulawKernel.encodeSample(40000) & 0xff) == 0x80, "clip saturates to the max code")
    val exceptions = (0 until 256).filter { c =>
      (MulawKernel.encodeSample(MulawKernel.decodeSample(c.toByte)) & 0xff) != c
    }
    assert(exceptions == Seq(0x7f),
      s"identity must hold except negative zero: $exceptions")
    // and the collapse is harmless: both zero codes decode to 0
    assert(MulawKernel.decodeSample(0x7f.toByte) == 0 &&
      MulawKernel.decodeSample(0xff.toByte) == 0)
    // stream form round-trips PCM -> mulaw -> PCM onto the quantization
    // lattice: decode(encode(x)) is a fixed point for decoded values
    val bytes = MulawKernel.toPcm16((0 until 256).map(_.toByte).toArray)
    val once = MulawKernel.toPcm16(MulawKernel.fromPcm16(bytes))
    assert(once.toSeq == bytes.toSeq, "lattice values must be fixed points")
  }

  test("mulaw encode: mid-segment boundaries match the canonical seg_uend table") {
    import graft.functions.MulawKernel
    // Mid-segment PCM values that a wrong segment table (0x3F<<seg
    // instead of (0x40<<seg)-1) pushes into the next-higher segment:
    // canonical codes computed from Sun g711.c's algorithm.
    val vectors = Seq(
      376 -> 0xE0, 379 -> 0xE0, 880 -> 0xD0, 891 -> 0xD0,
      500 -> 0xDC, 4000 -> 0xAF, -376 -> 0x60, -5000 -> 0x2B)
    for ((pcm, code) <- vectors)
      assert((MulawKernel.encodeSample(pcm) & 0xff) == code,
        s"pcm $pcm must encode to 0x${code.toHexString}")
    // Exhaustive quantization bound: the wrong table produced errors up
    // to ~16000; canonical µ-law never exceeds half the widest step.
    var worst = 0
    var pcm = -32768
    while (pcm < 32768) {
      val d = MulawKernel.decodeSample(MulawKernel.encodeSample(pcm))
      val clip = math.max(-32635, math.min(32635, pcm))
      worst = math.max(worst, math.abs(d - clip))
      pcm += 1
    }
    assert(worst == 515, s"max quantization error must be 515, got $worst")
  }

  test("resample: identity, 1:2 midpoints, 2:1 decimation, span endpoints, floor on negatives") {
    import graft.functions.PcmKernel
    def toBytes(ss: Seq[Int]): Array[Byte] = {
      val out = new Array[Byte](ss.length * 2)
      ss.zipWithIndex.foreach { case (s, i) =>
        val u = if (s < 0) s + 65536 else s
        out(2 * i) = (u & 0xff).toByte; out(2 * i + 1) = ((u >> 8) & 0xff).toByte
      }
      out
    }
    def toSamples(b: Array[Byte]): Seq[Int] = (0 until b.length / 2).map { i =>
      val raw = (b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)
      if (raw < 32768) raw else raw - 65536
    }
    val in = Seq(0, 100, -100, 32000, -32768, 7)
    // same rate: bit-identical passthrough
    assert(toSamples(PcmKernel.resample(toBytes(in), 8000, 8000)) == in)
    // 1:2 upsample: originals at even j, floor-midpoints at odd j
    val up = toSamples(PcmKernel.resample(toBytes(in), 8000, 16000))
    assert(up.length == (in.length - 1) * 2 + 1)
    in.zipWithIndex.foreach { case (s, k) => assert(up(2 * k) == s) }
    assert(up(1) == 50 && up(3) == 0 && up(5) == 15950)
    // floor (not truncate) on a negative midpoint: (100 + -100-100... ) -100->-32768 mid
    assert(up(7) == Math.floorDiv(32000 + -32768, 2), s"got ${up(7)}")
    // 2:1 decimation: every other sample exactly
    val down = toSamples(PcmKernel.resample(toBytes(in), 16000, 8000))
    assert(down == Seq(0, -100, -32768))
    // non-trivial 3/2 ratio: endpoints ON input samples, length formula
    val r32 = toSamples(PcmKernel.resample(toBytes(in), 8000, 12000))
    assert(r32.length == Math.floorDiv((in.length - 1) * 12000, 8000) + 1)
    assert(r32.head == in.head)
    // j where j*8000 % 12000 == 0 hit inputs exactly: j=3 -> input 2
    assert(r32(3) == in(2))
    // empty and single-sample inputs pass through
    assert(PcmKernel.resample(Array.empty[Byte], 8000, 16000).isEmpty)
    assert(toSamples(PcmKernel.resample(toBytes(Seq(42)), 8000, 16000)) == Seq(42))
  }

  test("alaw encode: canonical vectors, exact encode∘decode identity over all 256 codes") {
    import graft.functions.AlawKernel
    assert((AlawKernel.encodeSample(0) & 0xff) == 0xD5)
    assert((AlawKernel.encodeSample(32256) & 0xff) == 0xAA)
    assert((AlawKernel.encodeSample(-32256) & 0xff) == 0x2A)
    assert((AlawKernel.encodeSample(40000) & 0xff) == 0xAA, "clip saturates")
    val exceptions = (0 until 256).filter { c =>
      (AlawKernel.encodeSample(AlawKernel.decodeSample(c.toByte)) & 0xff) != c
    }
    assert(exceptions.isEmpty, s"A-law identity must be exact: $exceptions")
    // stream form: decoded-lattice values are fixed points
    val bytes = AlawKernel.toPcm16((0 until 256).map(_.toByte).toArray)
    val once = AlawKernel.toPcm16(AlawKernel.fromPcm16(bytes))
    assert(once.toSeq == bytes.toSeq)
  }
}
