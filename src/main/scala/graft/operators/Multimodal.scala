package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators: image/audio/video travel as opaque `binary`
  * columns with typed metadata, processed per-partition so content bytes
  * stream executor-side and never visit the driver.
  *
  * IMAGE decode is REAL — [[decodeImages]] / [[extractImageFeatures]] run
  * `javax.imageio` (PNG/BMP/GIF/WBMP/JPEG ship in every JRE) against
  * actual bytes, with exact-pixel specs. Codecs the JDK does not ship
  * (video, audio, JPEG2000) are STUBBED with deterministic fakes derived
  * from the bytes; the Spark-side contract — schema, per-partition batch
  * shape, partition preservation, explode semantics — is identical across
  * both, so swapping a stub body for an actual decoder (JavaCV,
  * TwelveMonkeys, ...) changes no plumbing, which the real ImageIO path
  * demonstrates.
  *
  * Pattern parity: this is the JVM analog of PySpark `mapInPandas` — batch
  * iterator in, batch iterator out, schema declared up front.
  */
object Multimodal {

  /** Canonical media schema: id + mime + opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)
  ))

  // ----- STUB decode kernels (deterministic fakes of the codec calls) -------

  /** STUB: a real implementation decodes the image and runs a vision
    * encoder. The fake derives `dim` floats in [-1,1) from rolling FNV-1a
    * over the bytes — deterministic, content-sensitive, shape-correct. */
  private def fakeEmbed(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    var d = 0
    while (d < dim) {
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL + d
      out(d) = ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
      d += 1
    }
    out
  }

  /** STUB: a real implementation re-encodes pixels; the fake truncates /
    * cycles bytes to a size proportional to the target box. */
  private def fakeResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val target = math.max(1, math.min(bytes.length, w * h / 64))
    java.util.Arrays.copyOf(bytes, target)
  }

  // ----- Spark-side plumbing (real) -----------------------------------------

  /** Per-row feature extraction over the binary column, batch-shaped via
    * `mapPartitions`: one iterator per partition, no driver round-trip, no
    * shuffle (narrow dependency — partitioning is preserved).
    * Output: (media_id, features array<float>).
    */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r => Row(r.getLong(0), fakeEmbed(r.getAs[Array[Byte]](1), dim).toSeq) }
      }(enc)
  }

  /** Resize: new content bytes + updated metadata, per partition. Keeps the
    * full media schema so resize composes with further ops. */
  def resize(media: DataFrame, width: Int, height: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    media.select(col("media_id"), col("mime"), col("content"), col("meta"))
      .mapPartitions { rows =>
        rows.map { r =>
          val resized = fakeResize(r.getAs[Array[Byte]](2), width, height)
          val oldMeta = r.getAs[Row](3)
          val duration = if (oldMeta == null) null else oldMeta.get(2)
          Row(r.getLong(0), r.getString(1), resized, Row(width, height, duration))
        }
      }(enc)
  }

  /** Frame sampling: one row per sampled frame (media_id, frame_idx,
    * frame binary). STUB slices the byte stream into `n` even chunks; a real
    * implementation seeks keyframes. flatMap-shaped explode — rows fan out
    * executor-side. */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    require(n > 0, "frame count must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("content"))
      .flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val stride = math.max(1, bytes.length / n)
        (0 until n).iterator.map { i =>
          val from = math.min(i * stride, bytes.length)
          val until = if (i == n - 1) bytes.length else math.min((i + 1) * stride, bytes.length)
          Row(r.getLong(0), i, java.util.Arrays.copyOfRange(bytes, from, until))
        }
      }(enc)
  }

  /** REAL image resize — not the [[resize]] stub: decode via ImageIO,
    * NEAREST-NEIGHBOR resample with explicit integer index mapping
    * (`src = floor(dst · srcDim / dstDim)` — deterministic by
    * construction, where Graphics2D interpolation would be
    * implementation-defined), re-encode PNG. Rows whose bytes no reader
    * accepts pass through with `resized = false` and their original
    * content (the corrupt-blob contract: flag, don't fail, don't drop).
    * Output: mediaSchema + `resized`. */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "target dims must be >= 1")
    val outSchema = StructType(mediaSchema.fields :+
      StructField("resized", BooleanType, nullable = false))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("mime"), col("content"), col("meta"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](2)
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null)
            Row(r.getLong(0), r.getString(1), bytes, r.get(3), false)
          else {
            val out = new java.awt.image.BufferedImage(
              width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < height) {
              val sy = y * img.getHeight / height
              var x = 0
              while (x < width) {
                out.setRGB(x, y, img.getRGB(x * img.getWidth / width, sy))
                x += 1
              }
              y += 1
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", baos)
            val oldMeta = r.getAs[Row](3)
            val duration = if (oldMeta == null) null else oldMeta.get(2)
            Row(r.getLong(0), "image/png", baos.toByteArray, Row(width, height, duration), true)
          }
        }
      }(enc)
  }

  /** REAL image decode — not a stub: `javax.imageio.ImageIO` ships PNG, BMP,
    * GIF and JPEG readers in every JRE, so this decodes actual image bytes
    * with zero added dependencies. Same batch shape as the stubs (one
    * `mapPartitions`, per-partition init, no shuffle, no driver round-trip),
    * proving the plumbing carries a real codec unchanged.
    *
    * Output: (media_id, decoded, width, height, argb) — `decoded=false` with
    * null dims for bytes no installed reader accepts (a real 100 TB corpus
    * always contains corrupt blobs; they must degrade to a flag, not fail
    * the stage). `argb` is the packed-int pixel raster row-major, only when
    * `includePixels` (pixel rasters are ~W*H*4 bytes — at scale you decode,
    * extract, and DROP pixels inside one partition pass; materializing them
    * as a column is for tests and small crops).
    */
  def decodeImages(media: DataFrame, includePixels: Boolean = false): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("argb", ArrayType(IntegerType, containsNull = false), nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        // per-partition codec init: disk-cache off (executor-local tmp may
        // not exist; in-memory streams never need it)
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          // NonFatal, not just IOException: JDK readers throw unchecked
          // exceptions (CMMException, ArrayIndexOutOfBounds, NegativeArraySize,
          // IllegalArgument) on malformed bytes, and a null blob would NPE in
          // ByteArrayInputStream — all must degrade to the flag, per contract.
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) Row(r.getLong(0), false, null, null, null)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val px =
              if (!includePixels) null
              else img.getRGB(0, 0, w, h, null, 0, w).toSeq
            Row(r.getLong(0), true, w, h, px)
          }
        }
      }(enc)
  }

  /** REAL image features from the ImageIO decode path: decode, box-average
    * the pixel raster into a `gridW x gridH` luminance grid (Rec. 601
    * weights, floats in [0,1], row-major) — deterministic features computed
    * from actual pixels, ready for the [[Similarity]] operators. Bytes no
    * reader accepts fall back to the byte-level stub embedding with
    * `decoded = false` (a 100 TB corpus always has a corrupt tail; it must
    * degrade to a flag, not fail the stage). Same plumbing as everything
    * here: one `mapPartitions`, per-partition codec init, no shuffle.
    */
  def extractImageFeatures(media: DataFrame, gridW: Int = 8, gridH: Int = 8): DataFrame = {
    require(gridW > 0 && gridH > 0, "grid dims must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          // Same degrade contract as decodeImages: NonFatal (unchecked JDK
          // reader exceptions on malformed bytes) and null blobs both fall
          // back to the stub embedding with decoded=false.
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null)
            Row(r.getLong(0), false,
              fakeEmbed(if (bytes == null) Array.emptyByteArray else bytes, gridW * gridH).toSeq)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val out = new Array[Float](gridW * gridH)
            var gy = 0
            while (gy < gridH) {
              val y0 = gy * h / gridH
              val y1 = math.max(y0 + 1, (gy + 1) * h / gridH)
              var gx = 0
              while (gx < gridW) {
                val x0 = gx * w / gridW
                val x1 = math.max(x0 + 1, (gx + 1) * w / gridW)
                var sum = 0.0
                var y = y0
                while (y < math.min(y1, h)) {
                  var x = x0
                  while (x < math.min(x1, w)) {
                    val px = img.getRGB(x, y)
                    sum += 0.299 * ((px >> 16) & 0xff) + 0.587 * ((px >> 8) & 0xff) + 0.114 * (px & 0xff)
                    x += 1
                  }
                  y += 1
                }
                val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
                out(gy * gridW + gx) = (sum / (255.0 * math.max(1L, n))).toFloat
                gx += 1
              }
              gy += 1
            }
            Row(r.getLong(0), true, out.toSeq)
          }
        }
      }(enc)
  }

  /** Metadata probe over the binary column, via the same per-partition batch
    * shape the codec stubs use — but bit-exact and engine-independent (byte
    * length, MD5, leading-bytes hex), so the multimodal PLUMBING itself sits
    * under the relational correctness gate rather than only spec assertions:
    * (media_id, n_bytes, fp_md5 lowercase-hex, head_hex uppercase-hex of the
    * first `headLen` bytes).
    */
  def probeBytes(media: DataFrame, headLen: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("fp_md5", StringType, nullable = false),
      StructField("head_hex", StringType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        // One digest instance per partition, reset per row — the batch shape
        // a real decoder needs for any per-partition init cost.
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          md.reset()
          val fp = md.digest(bytes).map("%02x".format(_)).mkString
          val head = bytes.take(headLen).map("%02X".format(_)).mkString
          Row(r.getLong(0), bytes.length, fp, head)
        }
      }(enc)
  }

  /** The same byte probe as [[probeBytes]] in pure EXPRESSION form —
    * `length`/`md5`/`hex(substring)` are built-in, codegen'd, vectorizable
    * column functions, so this version stays inside WholeStageCodegen with
    * no object serialization boundary. Prefer it whenever the computation
    * needs no per-partition initialization; [[probeBytes]] remains the
    * batch-shaped template for real codecs (per-partition decoder init).
    * The two are value-identical (spec-pinned).
    */
  def probeBytesExpr(media: DataFrame, headLen: Int = 8): DataFrame =
    media.select(
      col("media_id"),
      length(col("content")).as("n_bytes"),
      md5(col("content")).as("fp_md5"),
      // Spark's hex() of binary is uppercase, matching probeBytes's %02X
      hex(substring(col("content"), 1, headLen)).as("head_hex"))

  /** Features straight into the similarity operators: media -> embedding
    * table ready for [[Similarity.bruteForceTopK]] / [[Similarity.lshTopK]].
    */
  def asEmbeddingTable(media: DataFrame, dim: Int = 64): DataFrame =
    extractFeatures(media, dim).withColumnRenamed("media_id", "vec_id").withColumnRenamed("features", "embedding")

  // ----- audio: raw PCM16LE needs NO codec library — this leg is REAL -------

  /** Deterministic synthetic s16le PCM (the byte layout a decoded WAV /
    * ffmpeg `-f s16le` pipe hands a pipeline): sample k of row `id` is
    * the pure-integer pseudo-signal `((id·31 + k·7) mod 65536) − 32768`,
    * little-endian two's-complement encoded — closed-form, so a SQL
    * oracle can regenerate the sample VALUES without parsing bytes while
    * the Spark side proves the real byte round-trip. Delegates to the
    * fused native [[graft.functions.PcmExpressions.synthPcm16]] kernel (codegen'd
    * whole-array synthesis — no UDF, no driver loop, no per-sample HOF
    * lambda). */
  def synthPcm16(ids: DataFrame, idCol: String, nSamples: Int): DataFrame = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    ids.withColumn("audio",
      graft.functions.PcmExpressions.synthPcm16(col(idCol).cast("long"), nSamples))
  }

  /** The 8-byte PNG file signature — the frame marker of a concatenated
    * PNG stream. */
  val PngMagic: Array[Byte] =
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, 0x0d, 0x0a, 0x1a, 0x0a)

  /** REAL frame extraction from a concatenated image stream (MJPEG-style
    * captures, multi-PNG dumps): one fused byte-scan per row splits the
    * stream at every `magic` occurrence
    * ([[graft.functions.PcmExpressions.splitFrames]] — garbage before the first
    * marker is ignored, a mid-capture pickup must not poison the
    * split), appending an `frames` array<binary> column; explode it and
    * feed [[decodeImages]] for real per-frame decode. */
  def splitFrameStream(df: DataFrame, binCol: String,
      magic: Array[Byte] = PngMagic): DataFrame =
    df.withColumn("frames",
      graft.functions.PcmExpressions.splitFrames(col(binCol), magic))

  /** G.711 µ-law → PCM16LE ([[graft.functions.MulawKernel]]): the
    * telephony codec is pure integer math, so this decode is REAL with
    * zero dependencies — compose with [[audioFeatures]] for µ-law
    * corpus QC. Appends `pcm`. */
  def decodeMulaw(df: DataFrame, mulawCol: String): DataFrame =
    df.withColumn("pcm", graft.functions.PcmExpressions.mulawToPcm16(col(mulawCol)))

  /** G.711 A-law → PCM16LE ([[graft.functions.AlawKernel]]) — the
    * European-trunk sibling of [[decodeMulaw]] (inverted sign
    * convention, XOR-0x55 unpack). Appends `pcm`. */
  def decodeAlaw(df: DataFrame, alawCol: String): DataFrame =
    df.withColumn("pcm", graft.functions.PcmExpressions.alawToPcm16(col(alawCol)))

  /** PCM16LE → µ-law (the encode/WRITE path — a telephony-bound sink
    * leg): [[graft.functions.MulawKernel.encodeSample]], canonical Sun
    * g711.c quantization. Appends `mulaw_out`. */
  def encodeMulaw(df: DataFrame, pcmCol: String): DataFrame =
    df.withColumn("mulaw_out", graft.functions.PcmExpressions.pcm16ToMulaw(col(pcmCol)))

  /** PCM16LE → A-law (the encode/WRITE path): exact-identity partner of
    * [[decodeAlaw]] on the code lattice. Appends `alaw_out`. */
  def encodeAlaw(df: DataFrame, pcmCol: String): DataFrame =
    df.withColumn("alaw_out", graft.functions.PcmExpressions.pcm16ToAlaw(col(pcmCol)))

  /** Deterministic synthetic µ-law stream per row (closed form
    * `(id·17 + k·11) mod 256` — SQL-regenerable). Appends `mulaw`. */
  def synthMulaw(ids: DataFrame, idCol: String, nSamples: Int): DataFrame =
    ids.withColumn("mulaw",
      graft.functions.PcmExpressions.synthMulaw(col(idCol).cast("long"), nSamples))

  private def leByte(v: Column, divisor: Long): Column =
    pmod((v / divisor).cast("long"), lit(256L))
  private def le16Hex(v: Column): Column =
    format_string("%02x%02x", leByte(v, 1L), leByte(v, 256L))
  private def le32Hex(v: Column): Column =
    format_string("%02x%02x%02x%02x",
      leByte(v, 1L), leByte(v, 256L), leByte(v, 65536L), leByte(v, 16777216L))

  /** Wrap a raw PCM16LE column in a canonical 44-byte RIFF/WAVE header —
    * the container layer is plain byte structure (no codec), so the WAV
    * path is REAL end-to-end: magic chunks, little-endian fmt fields
    * (PCM tag 1, 16-bit), sizes derived from the payload — all built as
    * codegen'd expressions. Output replaces nothing: appends `wav`. */
  def wrapWav(
      df: DataFrame,
      pcmCol: String,
      sampleRate: Int,
      channels: Int = 1
  ): DataFrame = {
    require(sampleRate >= 1 && channels >= 1, "sampleRate and channels must be >= 1")
    val dataSize = length(col(pcmCol)).cast("long")
    val byteRate = lit(sampleRate.toLong * channels * 2)
    val blockAlign = lit(channels.toLong * 2)
    val headerHex = concat(
      lit("52494646"),                    // "RIFF"
      le32Hex(dataSize + 36L),
      lit("57415645666d7420"),            // "WAVE" ++ "fmt "
      le32Hex(lit(16L)),                  // fmt chunk size
      le16Hex(lit(1L)),                   // PCM
      le16Hex(lit(channels.toLong)),
      le32Hex(lit(sampleRate.toLong)),
      le32Hex(byteRate),
      le16Hex(blockAlign),
      le16Hex(lit(16L)),                  // bits per sample
      lit("64617461"),                    // "data"
      le32Hex(dataSize))
    df.withColumn("wav", concat(unhex(headerHex), col(pcmCol)))
  }

  /** Parse a canonical-layout WAV (the 44-byte header [[wrapWav]] emits
    * and every plain PCM16 recorder writes): verifies the four chunk
    * magics at their canonical offsets and the PCM/16-bit fmt tags, and
    * appends (wav_valid, channels, sample_rate, data_bytes, pcm) — all
    * null except the flag when the header is foreign (extra-chunk WAVs,
    * truncation, non-PCM codecs: a corrupt container must degrade to a
    * flag, never fail the stage — the [[decodeImages]] contract). Pure
    * expressions; the body never leaves the row. */
  def parseWav(df: DataFrame, wavCol: String): DataFrame = {
    val bin = col(wavCol)
    val at = (off: Int, len: Int) => bin.substr(lit(off), lit(len))
    val leAt = (off: Int, len: Int) =>
      (0 until len).map(i =>
        conv(hex(bin.substr(lit(off + i), lit(1))), 16, 10).cast("long") *
          lit(1L << (8 * i))).reduce(_ + _)
    val magicOk =
      at(1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        at(9, 4) === lit("WAVE".getBytes("US-ASCII")) &&
        at(13, 4) === lit("fmt ".getBytes("US-ASCII")) &&
        at(37, 4) === lit("data".getBytes("US-ASCII"))
    val valid = bin.isNotNull && length(bin) >= 44 && magicOk &&
      leAt(21, 2) === 1L && leAt(35, 2) === 16L &&
      leAt(41, 4) <= length(bin).cast("long") - 44L
    df
      .withColumn("wav_valid", coalesce(valid, lit(false)))
      .withColumn("channels", when(col("wav_valid"), leAt(23, 2)))
      .withColumn("sample_rate", when(col("wav_valid"), leAt(25, 4)))
      .withColumn("data_bytes", when(col("wav_valid"), leAt(41, 4)))
      .withColumn("pcm", when(col("wav_valid"), bin.substr(lit(45), leAt(41, 4).cast("int"))))
  }

  /** Audio features from a raw PCM16LE binary column — RMS level, peak,
    * zero-crossing rate, and a frame-energy voice-activity fraction: the
    * four signals an audio-corpus curation pass gates on (silence /
    * clipping / constant-tone junk) — computed WITHOUT any codec
    * dependency, as pure nested higher-order expressions (samples never
    * leave the row, nothing shuffles, whole-stage codegen applies):
    *
    *  - `n_samples`, `peak` (max |s|), `zero_crossings` (sign flips,
    *    zero counted positive) — exact integers;
    *  - `rms` = √(Σs²/n) on the 1e-6 grid (Σs² an exact long —
    *    engine-reproducible);
    *  - `n_frames` FULL frames of `frameSamples`, `active_frames` =
    *    frames whose energy Σs² exceeds `energyThreshold` (an exact
    *    long compare — no float in the gate), `activity` their ratio on
    *    the 1e-6 grid.
    *
    * Decode is the standard signed conversion `raw < 2¹⁵ ? raw :
    * raw − 2¹⁶` off `lo + 256·hi`. Rows whose byte length is odd keep
    * the trailing byte out of the sample stream (truncated tail — the
    * upstream-corruption case — degrades to one lost sample, never an
    * error). */
  def audioFeatures(
      media: DataFrame,
      binCol: String,
      frameSamples: Int = 160,
      energyThreshold: Long = 1L << 32
  ): DataFrame = {
    require(frameSamples >= 1, s"frameSamples must be >= 1, got $frameSamples")
    val q6 = (c: Column) => graft.functions.Quantize.scaledFloor(c, 6)
    // ONE fused kernel call per row ([[graft.functions.PcmExpressions.pcmStats]]):
    // the higher-order-function formulation this replaces evaluated its
    // lambdas interpretively per SAMPLE (~20 s for 5k docs at sf0.1) —
    // a native expression keeps the whole stat pass inside codegen
    val withStats = media.withColumn("__st",
      graft.functions.PcmExpressions.pcmStats(col(binCol), frameSamples, energyThreshold))
    val st = (i: Int) => element_at(col("__st"), i + 1)
    val n = st(0); val ss = st(1); val nFrames = st(4); val active = st(5)
    withStats
      .withColumn("n_samples", n)
      .withColumn("rms", when(n >= 1L, q6(sqrt(ss.cast("double") / n.cast("double")))))
      .withColumn("peak", when(n >= 1L, st(2)))
      .withColumn("zero_crossings", coalesce(st(3), lit(0L)))
      .withColumn("n_frames", nFrames)
      .withColumn("active_frames", coalesce(when(nFrames >= 1L, active), lit(0L)))
      .withColumn("activity",
        when(nFrames >= 1L, q6(active.cast("double") / nFrames.cast("double"))))
      .drop("__st")
  }

  /** Energy-VAD SPEECH SEGMENTS of a PCM16LE column — the utterance
    * extraction step of a speech-data pipeline (split long telephony
    * audio into trainable utterances, drop silence): frames of
    * `frameSamples` are active iff their energy Σs² strictly exceeds
    * `energyThreshold` (exact long compare, [[audioFeatures]]'s rule);
    * active frames separated by ≤ `maxGapFrames` inactive frames merge
    * into one segment (hangover); segments spanning < `minSpanFrames`
    * frames drop. One row per segment: the input row's columns (binary
    * kept for downstream slicing) + `seg_idx` (1-based, in stream
    * order), `start_frame`, `span_frames`. Rows with no segment drop
    * (all-silence audio leaves the corpus — the curation semantics).
    *
    * Scale shape: ONE fused kernel call per row
    * ([[graft.functions.PcmExpressions.vadSegments]]) inside whole-stage codegen +
    * a posexplode — a pure per-row projection, zero shuffle,
    * stream-safe, embarrassingly parallel at 100 TB. */
  def speechSegments(
      media: DataFrame,
      binCol: String,
      frameSamples: Int = 160,
      energyThreshold: Long = 1L << 32,
      maxGapFrames: Int = 1,
      minSpanFrames: Int = 2
  ): DataFrame =
    media
      .withColumn("__segs", graft.functions.PcmExpressions.vadSegments(
        col(binCol), frameSamples, energyThreshold, maxGapFrames, minSpanFrames))
      .select(media.columns.map(col).toSeq :+
        // sequence(0, -1) DESCENDS in Spark — an empty segment array must
        // short-circuit to an empty struct array, not a bogus two-row one
        posexplode(expr(
          """CASE WHEN size(__segs) = 0
            |THEN CAST(array() AS array<struct<start_frame:bigint,span_frames:bigint>>)
            |ELSE transform(sequence(0, size(__segs) div 2 - 1),
            |  i -> struct(__segs[CAST(2 * i AS INT)] AS start_frame,
            |              __segs[CAST(2 * i + 1 AS INT)] AS span_frames)) END""".stripMargin))
          .as(Seq("__i", "__seg")): _*)
      .withColumn("seg_idx", (col("__i") + 1).cast("long"))
      .withColumn("start_frame", col("__seg.start_frame"))
      .withColumn("span_frames", col("__seg.span_frames"))
      .drop("__i", "__seg")

  /** Deterministic synthetic 8x8 grayscale PNGs — REAL `ImageIO` encode, so
    * everything downstream (decode, feature grid, similarity) exercises the
    * actual codec path on reproducible content. Input columns:
    * (`media_id` long, `seed` long, `perturb` boolean). Pixel `k`
    * (row-major) of a seed's image is gray level `1 + mix32(x) % 255` with
    * `x = (seed+1)·4096 + (k+2)` (unique per (seed, k)) and `mix32` a
    * murmur-style xor-shift/multiply finalizer kept in 2³² (two odd
    * multipliers 49632349 / 85624441 small enough that every intermediate
    * fits a signed 64-bit engine — DuckDB BIGINT replays it exactly).
    * r16's `1 + ((seed+1)*(k+2) % 257) % 255` collided cross-seed at sf0.1
    * density (seeds ≡ mod 257 produced IDENTICAL images — 543 spurious
    * near-dup pairs in the JPEG chain probe); the finalizer's avalanche
    * holds the max cross-seed cosine at 0.92 over 15 001 seeds (measured,
    * ≤ the 0.925 of ideal-uniform vectors), well under every gate
    * threshold, while range 1..255 still keeps every vector nonzero so
    * cosine is never NaN — the engines disagree on NaN ordering.
    * `perturb` shifts pixel 0 by +8 (−8 when +8 would leave 1..255, so
    * the delta never wraps): a planted near-duplicate at cosine ≥ 0.9999
    * for every seed (≳ 0.99 after JPEG at q = 0.75), the
    * VLM-training-dedup fixture. The formula stays closed-form so a
    * SQL oracle can rebuild the decoded features exactly.
    */
  /** REAL JPEG transcode — the crawl-corpus format (the r15 verdict's
    * gap: PNG/BMP/GIF were gated, but real crawls are JPEG-heavy). JDK
    * ImageIO ships a JPEG reader AND writer in every JRE, so both
    * directions are real with zero dependencies: decode any readable
    * format, draw onto TYPE_INT_RGB (JPEG carries no alpha), re-encode
    * at an EXPLICIT compression quality — writer defaults are
    * implementation-defined, an explicit `quality` pins the bytes per
    * JDK. Same batch shape as every codec here: one `mapPartitions`,
    * per-partition codec init, no shuffle, no driver round-trip.
    * Unreadable bytes pass through flagged (`transcoded = false`),
    * never fail the stage.
    *
    * Gate split (the dims-vs-pixels contract): the CONTAINER — SOI
    * marker, SOFn dimensions — is deterministic from the input dims and
    * oracle-expressible ([[jpegDims]], q334); the PIXELS are lossy and
    * only per-JDK deterministic, so the decoded-luminance path is
    * spec-pinned against committed fixture values (`JpegSpec`), not
    * DuckDB-gated. */
  def transcodeJpeg(media: DataFrame, quality: Float = 0.75f): DataFrame = {
    require(quality > 0f && quality <= 1f, s"quality must be in (0, 1], got $quality")
    val outSchema = StructType(mediaSchema.fields :+
      StructField("transcoded", BooleanType, nullable = false))
    val enc = RowEncoder.encoderFor(outSchema)
    media.select(col("media_id"), col("mime"), col("content"), col("meta"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        // per-partition codec init (the scaladoc contract): ONE writer
        // reused across rows (reset + fresh output per row), disposed
        // when the partition's iterator drains
        lazy val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        var usedWriter = false
        def encode(rgb: java.awt.image.BufferedImage): Array[Byte] = {
          usedWriter = true
          writer.reset()
          val param = writer.getDefaultWriteParam
          param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionQuality(quality)
          val baos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
          // finally, so an encode exception cannot leak the stream (the
          // caller degrades it to transcoded = false like unreadable input)
          try {
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(rgb, null, null), param)
          } finally ios.close()
          baos.toByteArray
        }
        val out = rows.map { r =>
          val bytes = r.getAs[Array[Byte]](2)
          val img =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          val jpeg =
            if (img == null) null
            else {
              val rgb = new java.awt.image.BufferedImage(
                img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g2 = rgb.createGraphics()
              g2.drawImage(img, 0, 0, null)
              g2.dispose()
              // encode failure degrades like unreadable input — flagged
              // pass-through, never a failed stage
              try encode(rgb)
              catch { case scala.util.control.NonFatal(_) => null }
            }
          if (jpeg == null)
            Row(r.getLong(0), r.getString(1), bytes, r.get(3), false)
          else {
            val oldMeta = r.getAs[Row](3)
            val duration = if (oldMeta == null) null else oldMeta.get(2)
            Row(r.getLong(0), "image/jpeg", jpeg,
              Row(img.getWidth, img.getHeight, duration), true)
          }
        }
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h && usedWriter) { writer.dispose(); usedWriter = false }
            h
          }
          def next(): Row = out.next()
        }
      }(enc)
  }

  /** (media_id, is_jpeg, width, height) from the fused container-header
    * parse ([[graft.functions.JpegKernel]]) — no decode, no codec init:
    * the pure-projection format audit of a binary column. */
  def jpegDims(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.JpegExpressions.jpegDims(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_jpeg", element_at(col("__d"), 1) === 1)
      .withColumn("width", when(col("is_jpeg"), element_at(col("__d"), 2)))
      .withColumn("height", when(col("is_jpeg"), element_at(col("__d"), 3)))
      .drop("__d", binCol)
  }

  /** (media_id, is_mp3, version, sample_rate, bitrate_kbps, channels,
    * n_frames, duration_ms) from the fused MPEG-audio container walk
    * ([[graft.functions.Mp3Kernel]]) — no decode, no codec init: the
    * pure-projection format audit of a binary audio column (the q335
    * gate; the JDK ships no MP3 decoder — probed + dated in SURVEY §8.3 —
    * so the payload stays env-blocked while the container is exact). */
  def mp3Info(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.Mp3Expressions.mp3Info(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_mp3", element_at(col("__d"), 1) === 1L)
      .withColumn("version", when(col("is_mp3"), element_at(col("__d"), 2)))
      .withColumn("sample_rate", when(col("is_mp3"), element_at(col("__d"), 3)))
      .withColumn("bitrate_kbps", when(col("is_mp3"), element_at(col("__d"), 4)))
      .withColumn("channels", when(col("is_mp3"), element_at(col("__d"), 5)))
      .withColumn("n_frames", when(col("is_mp3"), element_at(col("__d"), 6)))
      .withColumn("duration_ms", when(col("is_mp3"), element_at(col("__d"), 7)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic MPEG Layer III streams — REAL container
    * bytes (the published ISO 11172-3/13818-3 framing [[graft.functions.Mp3Kernel]]
    * walks): writing a VALID frame sequence needs no codec, only the
    * header fields and the frame-size formula, so the q335 gate
    * round-trips synth → parse against a SQL oracle that regenerates the
    * fields from the plant parameters with ITS OWN bitrate/samplerate
    * tables (a drifted table entry on either side fails the hash).
    * Input columns: (media_id long, version int (1|2), bitrate_idx int
    * 1..14, rate_idx int 0..2, n_frames int, with_id3 boolean,
    * mono boolean). Payload bytes are deterministic filler — the walk
    * (and any real parser) steps whole frames by the size formula and
    * never scans payload. Same batch shape as every codec here: one
    * `mapPartitions`, zero shuffle, no driver round-trip. */
  def syntheticMp3s(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("version"), col("bitrate_idx"),
        col("rate_idx"), col("n_frames"), col("with_id3"), col("mono"))
      .mapPartitions { rows =>
        rows.map { r =>
          val mediaId = r.getLong(0)
          val ver = r.getInt(1); val bIdx = r.getInt(2); val rIdx = r.getInt(3)
          val nf = r.getInt(4); val withId3 = r.getBoolean(5); val mono = r.getBoolean(6)
          require(ver == 1 || ver == 2, s"version must be 1|2, got $ver")
          require(bIdx >= 1 && bIdx <= 14 && rIdx >= 0 && rIdx <= 2 && nf >= 1,
            s"bad plant params ($bIdx, $rIdx, $nf)")
          val buf = new java.io.ByteArrayOutputStream()
          if (withId3) {
            // ID3v2.3 tag with a 17-byte body (syncsafe size)
            buf.write(Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 17))
            var j = 0
            while (j < 17) { buf.write('x'); j += 1 }
          }
          val verBits = if (ver == 1) 3 else 2
          val b2 = 0xe0 | (verBits << 3) | (1 << 1) | 1 // sync tail + Layer III + no CRC
          val b3 = (bIdx << 4) | (rIdx << 2) // padding 0
          val b4 = (if (mono) 3 else 0) << 6
          val fb = graft.functions.Mp3Kernel.frameBytes(ver, bIdx, rIdx, padding = 0)
          var f = 0
          while (f < nf) {
            buf.write(0xff); buf.write(b2); buf.write(b3); buf.write(b4)
            var j = 4
            while (j < fb) { buf.write(((mediaId * 31 + f * 7 + j) & 0xff).toInt); j += 1 }
            f += 1
          }
          val spf = if (ver == 1) 1152L else 576L
          val rate = graft.functions.Mp3Kernel.sampleRate(ver, rIdx)
          Row(mediaId, "audio/mpeg", buf.toByteArray,
            Row(null, null, nf * spf * 1000L / rate))
        }
      }(enc)
  }

  /** (media_id, is_ogg, is_opus, channels, pre_skip, n_pages,
    * last_granule, duration_ms) from the fused Ogg page walk
    * ([[graft.functions.OggKernel]]) — CRC-verifying, no decode: the
    * q336 container gate (the JDK ships no Opus decoder — `OggSpec`
    * pins the block as a dated probe, the [[mp3Info]] discipline). */
  def oggInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.OggExpressions.oggInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_ogg", element_at(col("__d"), 1) === 1L)
      .withColumn("is_opus", when(col("is_ogg"), element_at(col("__d"), 2) === 1L))
      .withColumn("channels", when(col("is_ogg"), element_at(col("__d"), 3)))
      .withColumn("pre_skip", when(col("is_ogg"), element_at(col("__d"), 4)))
      .withColumn("n_pages", when(col("is_ogg"), element_at(col("__d"), 5)))
      .withColumn("last_granule", when(col("is_ogg"), element_at(col("__d"), 6)))
      .withColumn("duration_ms", when(col("is_ogg"), element_at(col("__d"), 7)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic Opus-in-Ogg streams — REAL RFC 3533/7845
    * container bytes (BOS page with an `OpusHead` payload, then audio
    * pages with Opus 48 kHz granule positions, every page carrying the
    * real Ogg CRC-32), no codec needed to WRITE valid pages. Input
    * columns: (media_id long, channels int, pre_skip int,
    * n_audio_pages int, samples_per_page int, corrupt_crc boolean —
    * flips one CRC byte on the LAST audio page, so the walk must stop
    * there and neither count the page nor take its granule: the CRC
    * check is gate-visible through n_pages/duration, not just a spec
    * claim). Payload bytes are deterministic filler (parsers step pages
    * by the segment table, never payload content). One `mapPartitions`,
    * zero shuffle. */
  def syntheticOpusOggs(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("channels"), col("pre_skip"),
        col("n_audio_pages"), col("samples_per_page"), col("corrupt_crc"))
      .mapPartitions { rows =>
        rows.map { r =>
          val mediaId = r.getLong(0)
          val ch = r.getInt(1); val preSkip = r.getInt(2)
          val pages = r.getInt(3); val spp = r.getInt(4)
          val corrupt = r.getBoolean(5)
          require(ch >= 1 && preSkip >= 0 && pages >= 1 && spp >= 1,
            s"bad plant params ($ch, $preSkip, $pages, $spp)")
          def page(headerType: Int, granule: Long, seq: Int,
              payload: Array[Byte]): Array[Byte] = {
            require(payload.length <= 254, "single-lacing pages only")
            val out = new Array[Byte](28 + payload.length)
            out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
            out(4) = 0; out(5) = headerType.toByte
            var g = granule; var j = 0
            while (j < 8) { out(6 + j) = (g & 0xff).toByte; g >>>= 8; j += 1 }
            var s = mediaId; j = 0
            while (j < 4) { out(14 + j) = (s & 0xff).toByte; s >>>= 8; j += 1 }
            var q = seq; j = 0
            while (j < 4) { out(18 + j) = (q & 0xff).toByte; q >>>= 8; j += 1 }
            out(26) = 1; out(27) = payload.length.toByte
            System.arraycopy(payload, 0, out, 28, payload.length)
            val crc = graft.functions.OggKernel.pageCrc(out, 0, out.length, 22)
            var c = crc.toLong & 0xffffffffL; j = 0
            while (j < 4) { out(22 + j) = (c & 0xff).toByte; c >>>= 8; j += 1 }
            out
          }
          val head = new Array[Byte](19)
          "OpusHead".getBytes("US-ASCII").copyToArray(head)
          head(8) = 1 // version
          head(9) = ch.toByte
          head(10) = (preSkip & 0xff).toByte; head(11) = ((preSkip >> 8) & 0xff).toByte
          head(12) = 0x80.toByte; head(13) = 0xbb.toByte // input rate 48000 LE
          // gain 0 (14-15), mapping family 0 (16); 17-18 stay 0 filler
          val buf = new java.io.ByteArrayOutputStream()
          buf.write(page(0x02, 0L, 0, head))
          var j = 1
          while (j <= pages) {
            val payload = Array.tabulate[Byte](50)(k => ((mediaId + j * 13 + k) & 0xff).toByte)
            val p = page(if (j == pages) 0x04 else 0x00,
              preSkip.toLong + j.toLong * spp, j, payload)
            if (corrupt && j == pages) p(22) = (p(22) ^ 0xff).toByte
            buf.write(p)
            j += 1
          }
          Row(mediaId, "audio/ogg", buf.toByteArray,
            Row(null, null, math.max(0L, pages.toLong * spp) * 1000L / 48000L))
        }
      }(enc)
  }

  /** (media_id, is_gzip, mtime, xfl, os, has_name, isize, crc_ok,
    * n_decoded) from the fused gzip member audit
    * ([[graft.functions.GzipKernel]]) — a REAL `Inflater` decode plus
    * CRC32/ISIZE trailer verification per row: the format-verification
    * scan of a compressed crawl shard (q337). Unlike the other codec
    * legs there is NO env-blocked half — the JDK ships the whole
    * codec. */
  def gzipInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.GzipExpressions.gzipInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_gzip", element_at(col("__d"), 1) === 1L)
      .withColumn("mtime", when(col("is_gzip"), element_at(col("__d"), 2)))
      .withColumn("xfl", when(col("is_gzip"), element_at(col("__d"), 3)))
      .withColumn("os", when(col("is_gzip"), element_at(col("__d"), 4)))
      .withColumn("has_name", when(col("is_gzip"), element_at(col("__d"), 5) === 1L))
      .withColumn("isize", when(col("is_gzip"), element_at(col("__d"), 6)))
      .withColumn("crc_ok", when(col("is_gzip"), element_at(col("__d"), 7) === 1L))
      .withColumn("n_decoded", when(col("is_gzip"), element_at(col("__d"), 8)))
      .drop("__d", binCol)
  }

  /** REAL gzip members over a text column — `Deflater` compression with
    * explicit RFC 1952 header fields (mtime, xfl, os, optional FNAME)
    * and the CRC32/ISIZE trailer ([[graft.functions.GzipKernel.gzip]]).
    * `corrupt_crc` flips one byte of the stored CRC32 AFTER the member
    * is built, so the REAL inflate still round-trips but the trailer
    * check must report `crc_ok = false` — the tamper case made
    * gate-visible (q337's every-11th plant). Input columns:
    * (media_id long, text string, mtime long, xfl int, os int,
    * fname string nullable, corrupt_crc boolean). One `mapPartitions`,
    * zero shuffle. */
  def gzipDocuments(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("text"), col("mtime"), col("xfl"),
        col("os"), col("fname"), col("corrupt_crc"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = (if (r.isNullAt(1)) "" else r.getString(1)).getBytes("UTF-8")
          val bytes = graft.functions.GzipKernel.gzip(
            payload, r.getLong(2), r.getInt(3), r.getInt(4),
            if (r.isNullAt(5)) null else r.getString(5))
          if (r.getBoolean(6)) {
            val at = bytes.length - 8
            bytes(at) = (bytes(at) ^ 0xff).toByte
          }
          Row(r.getLong(0), "application/gzip", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_warc, n_members, n_records, n_response, n_request,
    * n_metadata, n_http_ok, content_total, n_crc_bad) from the fused WARC
    * shard walk ([[graft.functions.WarcKernel]]) — per row: the
    * concatenated-gzip-member walk (one REAL `Inflater` decode +
    * CRC32/ISIZE trailer verification PER MEMBER, q337's machinery) plus
    * a WARC/1.0 record parse and HTTP status read per inflated member:
    * the shard-manifest scan of a crawl-scale corpus (q338). */
  def warcInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.WarcExpressions.warcInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_warc", element_at(col("__d"), 1) === 1L)
      .withColumn("n_members", when(col("is_warc"), element_at(col("__d"), 2)))
      .withColumn("n_records", when(col("is_warc"), element_at(col("__d"), 3)))
      .withColumn("n_response", when(col("is_warc"), element_at(col("__d"), 4)))
      .withColumn("n_request", when(col("is_warc"), element_at(col("__d"), 5)))
      .withColumn("n_metadata", when(col("is_warc"), element_at(col("__d"), 6)))
      .withColumn("n_http_ok", when(col("is_warc"), element_at(col("__d"), 7)))
      .withColumn("content_total", when(col("is_warc"), element_at(col("__d"), 8)))
      .withColumn("n_crc_bad", when(col("is_warc"), element_at(col("__d"), 9)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic WARC shards in the Common Crawl on-disk form
    * — CONCATENATED GZIP MEMBERS, one WARC/1.0 record per member (ISO
    * 28500 record-at-time compression), every member a REAL `Deflater`
    * round trip with a REAL CRC32/ISIZE trailer
    * ([[graft.functions.GzipKernel.gzip]]). Record `j` of `n_rec` cycles
    * type response/request/metadata by `j % 3`; response blocks carry an
    * HTTP message whose status line is 200 except 404 when
    * `(media_id + j) % 6 == 0` (so the HTTP layer is gate-visible, not
    * constant-true); block bodies are `'x' * (10 + (media_id*7 + j*13) %
    * 90)` — every Content-Length closed-form for the SQL oracle.
    * `corrupt_crc` flips one byte of the LAST member's stored CRC32
    * after the member is built: the inflate still round-trips and the
    * record still counts, but `n_crc_bad` must tick (q337's tamper
    * discipline at the member level). Input columns: (media_id long,
    * n_rec int, corrupt_crc boolean). One `mapPartitions`, zero
    * shuffle. */
  def syntheticWarcShards(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_rec"), col("corrupt_crc"))
      .mapPartitions { rows =>
        rows.map { r =>
          val mediaId = r.getLong(0)
          val nRec = r.getInt(1)
          val corrupt = r.getBoolean(2)
          require(nRec >= 1, s"n_rec must be >= 1, got $nRec")
          val buf = new java.io.ByteArrayOutputStream()
          var j = 0
          while (j < nRec) {
            val bodyLen = (10L + (mediaId * 7L + j * 13L) % 90L).toInt
            val body = "x" * bodyLen
            val (warcType, uri, payload) = (j % 3) match {
              case 0 =>
                // status variety mirrors real crawl shards: HTTP/1.0
                // alongside 1.1, and a non-200 success (206) — the
                // oracle counts ALL of 1.0/200, 1.1/200 and 206 as
                // http_ok, so a kernel matching only "HTTP/1.1 200"
                // hash-fails (r17 advice made gate-visible)
                val status = ((mediaId + j) % 6) match {
                  case 0 => "HTTP/1.1 404 Not Found\r\n\r\n"
                  case 1 => "HTTP/1.0 200 OK\r\n\r\n"
                  case 2 => "HTTP/1.1 206 Partial\r\n\r\n"
                  case _ => "HTTP/1.1 200 OK\r\n\r\n"
                }
                ("response", s"http://example.com/$mediaId/$j", status + body)
              case 1 => ("request", s"http://example.com/$mediaId/$j", body)
              case _ => ("metadata", null, body)
            }
            val rec = graft.functions.WarcKernel.record(
              warcType, s"<urn:uuid:$mediaId-$j>", "2026-08-16T00:00:00Z",
              uri, payload.getBytes("US-ASCII"))
            val member = graft.functions.GzipKernel.gzip(
              rec, mtime = 0L, xfl = 0, os = 255, fname = null)
            if (corrupt && j == nRec - 1) {
              val at = member.length - 8
              member(at) = (member(at) ^ 0xff).toByte
            }
            buf.write(member)
            j += 1
          }
          Row(mediaId, "application/warc", buf.toByteArray, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_tar, n_entries, n_keys, total_size, n_txt, n_bin,
    * n_chksum_bad) from the fused ustar shard walk
    * ([[graft.functions.TarKernel]]) — checksum-verifying 512-byte
    * header steps, payloads never read, WebDataset sample keys grouped
    * by basename: the manifest scan of a training-shard corpus
    * (q339). */
  def tarInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.TarExpressions.tarInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_tar", element_at(col("__d"), 1) === 1L)
      .withColumn("n_entries", when(col("is_tar"), element_at(col("__d"), 2)))
      .withColumn("n_keys", when(col("is_tar"), element_at(col("__d"), 3)))
      .withColumn("total_size", when(col("is_tar"), element_at(col("__d"), 4)))
      .withColumn("n_txt", when(col("is_tar"), element_at(col("__d"), 5)))
      .withColumn("n_bin", when(col("is_tar"), element_at(col("__d"), 6)))
      .withColumn("n_chksum_bad", when(col("is_tar"), element_at(col("__d"), 7)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic WebDataset shards — REAL POSIX ustar bytes
    * ([[graft.functions.TarKernel.entry]]): `n_samples` samples per
    * shard, each sample key `s{media_id}/{k}` carrying a `.txt` file of
    * `5 + (media_id*3 + k*7) % 60` bytes and a `.bin` file of
    * `20 + (media_id*5 + k*11) % 100` bytes (every size closed-form for
    * the SQL oracle), mtime `media_id % 100000`, two end-of-archive zero
    * blocks. `corrupt_chksum` overwrites the LAST entry's stored
    * checksum field with zeros after the shard is built: the size field
    * stays parseable so the walk steps past it, but the entry must be
    * excluded from every tally except `n_chksum_bad` — the tar-native
    * tamper channel made gate-visible (the q337/q338 discipline). Input
    * columns: (media_id long, n_samples int, corrupt_chksum boolean).
    * One `mapPartitions`, zero shuffle. */
  def syntheticTarShards(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_samples"), col("corrupt_chksum"))
      .mapPartitions { rows =>
        rows.map { r =>
          val mediaId = r.getLong(0)
          val nSamples = r.getInt(1)
          val corrupt = r.getBoolean(2)
          require(nSamples >= 1, s"n_samples must be >= 1, got $nSamples")
          val mtime = mediaId % 100000L
          val buf = new java.io.ByteArrayOutputStream()
          var lastOff = 0
          var k = 0
          while (k < nSamples) {
            val lt = (5L + (mediaId * 3L + k * 7L) % 60L).toInt
            val lb = (20L + (mediaId * 5L + k * 11L) % 100L).toInt
            buf.write(graft.functions.TarKernel.entry(
              s"s$mediaId/$k.txt", Array.fill[Byte](lt)('x'), mtime))
            lastOff = buf.size()
            buf.write(graft.functions.TarKernel.entry(
              s"s$mediaId/$k.bin", Array.fill[Byte](lb)('y'), mtime))
            k += 1
          }
          buf.write(new Array[Byte](1024)) // end-of-archive
          val bytes = buf.toByteArray
          if (corrupt) {
            var i = 0
            while (i < 8) { bytes(lastOff + 148 + i) = 0; i += 1 }
          }
          Row(mediaId, "application/x-tar", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_html, title, n_links, n_tags, text) from the fused
    * HTML main-content extraction ([[graft.functions.HtmlKernel]]) — the
    * step between the q338 WARC walk (whose `response` blocks are HTML)
    * and every text operator downstream: markup stripped, script/style/
    * comments and the nav/header/footer/aside BOILERPLATE containers
    * dropped wholesale, the five predefined entities decoded, whitespace
    * normalized; title and the link/tag tallies (link density is a
    * classic boilerplate signal) ride along (q340). */
  def htmlExtract(pages: DataFrame, htmlCol: String): DataFrame = {
    val d = graft.functions.HtmlExpressions.htmlExtract(col(htmlCol))
    pages.withColumn("__d", d)
      .withColumn("is_html", col("__d").isNotNull)
      .withColumn("title", col("__d.title"))
      .withColumn("n_links", col("__d.n_links"))
      .withColumn("n_tags", col("__d.n_tags"))
      .withColumn("text", col("__d.text"))
      .drop("__d", htmlCol)
  }

  /** Deterministic synthetic HTML pages around a text column — the q340
    * plant: the document text split across two `<p>` blocks (at the
    * first space past the midpoint, so tag-as-whitespace reassembly is
    * the EXACT original text), `n_nav` nav links + one footer link, an
    * entity-bearing title (`&amp;` must decode), and three traps that
    * fail any extractor that tag-strips without region awareness — a
    * `"<p>trap</p>"` inside a script STRING, CSS rule text inside
    * `<style>`, and heading/anchor/footer text inside boilerplate
    * containers. Input columns: (media_id long, text string,
    * n_nav int); output (media_id, html). One `mapPartitions`, zero
    * shuffle. */
  def syntheticHtmlPages(ids: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("html", StringType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    ids.select(col("media_id"), col("text"), col("n_nav"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          val m = r.getInt(2)
          Row(id, synthHtml(id, text, m))
        }
      }(enc)
  }

  /** The q340/q341 page builder (see [[syntheticHtmlPages]] for the trap
    * design): 30 fixed element tags + 2 per nav link, `n_nav` + 1 links,
    * the text split at the first space past the midpoint so
    * tag-as-whitespace reassembly is exact. */
  private[operators] def synthHtml(id: Long, text: String, m: Int): String = {
    require(m >= 1, s"n_nav must be >= 1, got $m")
    val mid = text.length / 2
    val sp = text.indexOf(' ', mid)
    val (a, b) =
      if (sp < 0) (text, "")
      else (text.substring(0, sp), text.substring(sp + 1))
    val nav = (0 until m).map(j => s"""<a href="/n/$j">n$j</a>""").mkString
    s"""<!DOCTYPE html>
       |<html><head><title>doc $id &amp; co</title>
       |<style>body { color: #000; }</style>
       |<script>var x = "<p>trap</p>";</script>
       |</head>
       |<body>
       |<nav>$nav</nav>
       |<header><h1>site $id</h1></header>
       |<p>$a</p><div><p>$b</p></div>
       |<aside>sponsored trap</aside>
       |<footer>&copy; 2026 <a href="/tos">terms</a></footer>
       |</body></html>""".stripMargin
  }

  /** (media_id, html nullable) — the HTTP body of each shard's first
    * 200-status `response` record ([[graft.functions.WarcKernel
    * .firstOkHtmlBody]]): the shard-to-document extraction step between
    * [[warcInfo]]'s audit and [[htmlExtract]]'s text (q341 chains all
    * three). Early-exits at the first hit per shard. */
  def warcResponseBody(media: DataFrame, binCol: String): DataFrame =
    media.withColumn("html", graft.functions.WarcExpressions.warcBody(col(binCol)))
      .drop(binCol)

  /** Synthetic WARC shards whose response bodies are REAL HTML pages —
    * the q341 end-to-end plant: per shard a `request` record (filler), on
    * every 7th shard a 404 `response` whose body is a WELL-FORMED error
    * page (the real-pipeline trap: a kernel that takes the first response
    * regardless of status extracts "not found" instead of the document —
    * hash-visible on every 7th row), then the 200 `response` whose body
    * is [[synthHtml]] over the document text (every 3rd shard chunked
    * HTTP/1.1, every 3rd+1 plain HTTP/1.0, else plain HTTP/1.1 — the
    * transfer breadth of real crawl shards, each form on the byte-exact
    * recovery path), then a `metadata` record.
    * Same member form as [[syntheticWarcShards]] (record-at-time gzip,
    * real trailers). Input columns: (media_id long, text string,
    * n_nav int). */
  def syntheticWarcHtmlShards(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("text"), col("n_nav"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          val m = r.getInt(2)
          val date = "2026-08-16T00:00:00Z"
          def member(rec: Array[Byte]): Array[Byte] =
            graft.functions.GzipKernel.gzip(rec, mtime = 0L, xfl = 0, os = 255, fname = null)
          val buf = new java.io.ByteArrayOutputStream()
          buf.write(member(graft.functions.WarcKernel.record(
            "request", s"<urn:uuid:$id-req>", date, s"http://example.com/$id",
            s"GET /$id HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes("US-ASCII"))))
          if (id % 7 == 0) {
            val errHtml = "<!DOCTYPE html>\n<html><body><p>not found</p></body></html>"
            buf.write(member(graft.functions.WarcKernel.record(
              "response", s"<urn:uuid:$id-404>", date, s"http://example.com/$id",
              ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n" + errHtml)
                .getBytes("UTF-8"))))
          }
          // transfer variety on the OK response (r18): every 3rd shard a
          // chunked HTTP/1.1 message (the de-chunker is on the byte-exact
          // recovery path — a kernel that cannot de-chunk extracts nothing
          // and hash-fails), every 3rd+1 a plain HTTP/1.0 — real crawl
          // shards carry all three forms
          val html = synthHtml(id, text, m).getBytes("UTF-8")
          val okPayload = (id % 3) match {
            case 0 =>
              val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
                "Transfer-Encoding: chunked\r\n\r\n"
              head.getBytes("US-ASCII") ++
                graft.functions.WarcKernel.chunkEncode(html, 100)
            case 1 =>
              "HTTP/1.0 200 OK\r\nContent-Type: text/html\r\n\r\n"
                .getBytes("US-ASCII") ++ html
            case _ =>
              "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                .getBytes("US-ASCII") ++ html
          }
          buf.write(member(graft.functions.WarcKernel.record(
            "response", s"<urn:uuid:$id-ok>", date, s"http://example.com/$id",
            okPayload)))
          buf.write(member(graft.functions.WarcKernel.record(
            "metadata", s"<urn:uuid:$id-meta>", date, null,
            "fetchTimeMs: 12".getBytes("US-ASCII"))))
          Row(id, "application/warc", buf.toByteArray, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_zstd, fcs, has_checksum, decode_ok, n_decoded) from
    * the fused zstd frame audit ([[graft.functions.ZstdKernel]]) — a
    * hand RFC 8878 header parse plus a REAL native decompress
    * (checksum-verifying) per row: the format-verification scan of a
    * zstd-compressed lake object (q342). `single_segment` is parsed but
    * not surfaced here — it is a library-layout choice, spec-pinned in
    * `ZstdSpec`, not oracle-gated. */
  def zstdInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.ZstdExpressions.zstdInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_zstd", element_at(col("__d"), 1) === 1L)
      .withColumn("fcs", when(col("is_zstd"), element_at(col("__d"), 2)))
      .withColumn("has_checksum", when(col("is_zstd"), element_at(col("__d"), 3) === 1L))
      .withColumn("decode_ok", when(col("is_zstd"), element_at(col("__d"), 5) === 1L))
      .withColumn("n_decoded",
        when(col("is_zstd") && col("decode_ok"), element_at(col("__d"), 6)))
      .drop("__d", binCol)
  }

  /** (media_id, is_parquet, n_row_groups, n_columns, n_rows, n_chunks,
    * tiling_ok) from the fused parquet footer audit
    * ([[graft.functions.ParquetFooterKernel]]) — magic + thrift-compact
    * `FileMetaData` walk down to column-chunk regions and the tiling
    * contract, data pages never read: the manifest-speed integrity scan
    * of the lake's own storage format (q350). `data_bytes` (declared
    * compressed chunk bytes) is parsed but spec-pinned rather than
    * surfaced — page-header byte counts are writer-layout detail, not
    * oracle-closed-form. */
  def parquetFooterInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.ParquetFooterExpressions.parquetFooterInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_parquet", element_at(col("__d"), 1) === 1L)
      .withColumn("n_row_groups", when(col("is_parquet"), element_at(col("__d"), 2)))
      .withColumn("n_columns", when(col("is_parquet"), element_at(col("__d"), 3)))
      .withColumn("n_rows", when(col("is_parquet"), element_at(col("__d"), 4)))
      .withColumn("n_chunks", when(col("is_parquet"), element_at(col("__d"), 5)))
      .withColumn("tiling_ok", when(col("is_parquet"), element_at(col("__d"), 7) === 1L))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic parquet files — REAL single-column
    * (required INT64 `v`, PLAIN, uncompressed) files written by
    * [[graft.functions.ParquetFooterKernel.build]]'s thrift-compact
    * writer, readable by parquet-mr/Spark (`ParquetFooterSpec` pins
    * that parity): `1 + media_id % 3` row groups, group `g` holding
    * `5 + (media_id*3 + g*7) % 20` rows (closed-form for the SQL
    * oracle), values counting up from `media_id * 1000`. `lie_overlap`
    * ships an HONEST data section under a LYING footer — the last
    * chunk's first-page offset shifted so its declared region crosses
    * the footer boundary or a neighbour chunk: the tiling-contract
    * tamper channel, `tiling_ok` must read false with tallies intact.
    * Input columns: (media_id long, lie_overlap boolean). One
    * `mapPartitions`, zero shuffle. */
  def syntheticParquetFiles(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("lie_overlap"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val lie = r.getBoolean(1)
          val nRg = (1 + id % 3).toInt
          val rowsPerGroup = (0 until nRg).map(g => (5 + (id * 3 + g * 7) % 20).toInt)
          val bytes = graft.functions.ParquetFooterKernel.build(
            rowsPerGroup, base = id * 1000L, lieOverlap = lie)
          Row(id, "application/vnd.apache.parquet", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** REAL zstd frames over a text column — explicit compression level
    * and checksum choice ([[graft.functions.ZstdKernel.zstd]]).
    * `corrupt_tail` flips the frame's LAST byte after it is built: when
    * a content checksum is present (the plant guarantees it on corrupt
    * rows) the native decompress must reject the frame — `decode_ok`
    * reads false with the header fields intact (the q337 tamper
    * discipline on the zstd trailer). Input columns: (media_id long,
    * text string, level int, with_checksum boolean,
    * corrupt_tail boolean). One `mapPartitions`, zero shuffle. */
  def zstdDocuments(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("text"), col("level"),
        col("with_checksum"), col("corrupt_tail"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = (if (r.isNullAt(1)) "" else r.getString(1)).getBytes("UTF-8")
          val bytes = graft.functions.ZstdKernel.zstd(
            payload, r.getInt(2), r.getBoolean(3))
          if (r.getBoolean(4)) {
            val at = bytes.length - 1
            bytes(at) = (bytes(at) ^ 0xff).toByte
          }
          Row(r.getLong(0), "application/zstd", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, encoding, n_chars, n_invalid, n_multibyte, has_bom)
    * from the fused charset sniff + strict UTF-8 audit
    * ([[graft.functions.Utf8Kernel]]) — the encoding gate that fronts
    * every text operator in a crawl pipeline (q344). `encoding` is
    * 'utf8' / 'utf16le' / 'utf16be'; the UTF-8 counters are null on
    * UTF-16 rows (the sniff stops at the BOM). */
  def charsetInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.Utf8Expressions.utf8Info(col(binCol))
    media.withColumn("__d", d)
      .withColumn("encoding",
        when(element_at(col("__d"), 1) === 1L, lit("utf8"))
          .when(element_at(col("__d"), 1) === 2L, lit("utf16le"))
          .when(element_at(col("__d"), 1) === 3L, lit("utf16be")))
      .withColumn("__u8", element_at(col("__d"), 1) === 1L)
      .withColumn("n_chars", when(col("__u8"), element_at(col("__d"), 2)))
      .withColumn("n_invalid", when(col("__u8"), element_at(col("__d"), 3)))
      .withColumn("n_multibyte", when(col("__u8"), element_at(col("__d"), 4)))
      .withColumn("has_bom", when(col("__u8"), element_at(col("__d"), 5) === 1L))
      .drop("__d", "__u8", binCol)
  }

  /** Deterministic raw-byte documents in planted encodings — the q344
    * plant: UTF-16LE with BOM on every 9th doc, UTF-16BE with BOM on
    * every 43rd (the 9-priority mirrors the oracle), otherwise UTF-8
    * built as text ++ 'é'·(id%4) ++ 'ñ'·(id%3) ++ '中'·(id%2) (2-, 2-,
    * and 3-byte code points — every count closed-form), a UTF-8 BOM
    * prefix on every 5th, and 1 + id % 3 raw 0xFF bytes appended on
    * every 11th (each must count as exactly one invalid byte and
    * nothing else — the resync-at-next-byte contract). Input columns:
    * (media_id long, text string). One `mapPartitions`, zero
    * shuffle. */
  def encodedDocuments(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          val bytes =
            if (id % 9 == 0)
              Array[Byte](0xff.toByte, 0xfe.toByte) ++
                text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
            else if (id % 43 == 0)
              Array[Byte](0xfe.toByte, 0xff.toByte) ++
                text.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
            else {
              val suffix = "é" * (id % 4).toInt + "ñ" * (id % 3).toInt +
                "中" * (id % 2).toInt
              val body = (text + suffix).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val bom = if (id % 5 == 0) Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
                        else Array.empty[Byte]
              val junk = if (id % 11 == 0)
                Array.fill[Byte]((1L + id % 3).toInt)(0xff.toByte)
              else Array.empty[Byte]
              bom ++ body ++ junk
            }
          Row(id, "application/octet-stream", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_zip, n_entries, n_stored, total_usize, n_crc_bad,
    * n_verify_fail) from the fused zip archive audit
    * ([[graft.functions.ZipKernel]]) — central-directory-first, with a
    * REAL inflate + CRC32 verification per entry: the manifest scan of
    * a dataset-distribution corpus (q346). */
  def zipInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.ZipExpressions.zipInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_zip", element_at(col("__d"), 1) === 1L)
      .withColumn("n_entries", when(col("is_zip"), element_at(col("__d"), 2)))
      .withColumn("n_stored", when(col("is_zip"), element_at(col("__d"), 3)))
      .withColumn("total_usize", when(col("is_zip"), element_at(col("__d"), 4)))
      .withColumn("n_crc_bad", when(col("is_zip"), element_at(col("__d"), 5)))
      .withColumn("n_verify_fail", when(col("is_zip"), element_at(col("__d"), 6)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic zip archives — REAL PKWARE bytes
    * ([[graft.functions.ZipKernel.zip]]): `n_ent` entries per archive,
    * names `f{k}.txt`, payloads `'x' * (7 + (media_id*3 + k*5) % 50)`
    * (closed-form sizes), method STORED when `(media_id + k) % 3 == 0`
    * else deflate (both verification paths exercised in one archive).
    * `tamper_crc` flips one byte of the LAST directory entry's stored
    * CRC after the archive is built: the stream still reads, so the
    * walk must tick `n_crc_bad` with every other tally intact. Input
    * columns: (media_id long, n_ent int, tamper_crc boolean). One
    * `mapPartitions`, zero shuffle. */
  def zipArchives(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_ent"), col("tamper_crc"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val nEnt = r.getInt(1)
          require(nEnt >= 1, s"n_ent must be >= 1, got $nEnt")
          val entries = (0 until nEnt).map { k =>
            val len = (7L + (id * 3L + k * 5L) % 50L).toInt
            (s"f$k.txt", Array.fill[Byte](len)('x'), (id + k) % 3 == 0)
          }
          var bytes = graft.functions.ZipKernel.zip(entries)
          if (r.getBoolean(2))
            bytes = graft.functions.ZipKernel.tamperLastDirectoryCrc(bytes)
          Row(id, "application/zip", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_tfrecord, n_records, total_bytes, n_crc_bad) from
    * the fused TFRecord framing walk
    * ([[graft.functions.TfRecordKernel]]) — masked CRC32C verified on
    * both channels with their distinct audit semantics (a lying length
    * CRC fails the row, a lying data CRC ticks): the manifest scan of a
    * tf.data training-shard corpus (q347). */
  def tfrecordInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.TfRecordExpressions.tfrecordInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_tfrecord", element_at(col("__d"), 1) === 1L)
      .withColumn("n_records", when(col("is_tfrecord"), element_at(col("__d"), 2)))
      .withColumn("total_bytes", when(col("is_tfrecord"), element_at(col("__d"), 3)))
      .withColumn("n_crc_bad", when(col("is_tfrecord"), element_at(col("__d"), 4)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic TFRecord shards — REAL masked-CRC32C
    * framing ([[graft.functions.TfRecordKernel.tfrecord]]): `n_rec`
    * records of `5 + (media_id*7 + k*11) % 80` bytes (closed-form).
    * `tamper_crc` flips one byte of the LAST record's DATA crc after
    * the shard is built — the framing stays walkable, so the record
    * must still count with `n_crc_bad` ticking (the length-crc channel,
    * whose lie fails the whole row, is spec-pinned instead). Input
    * columns: (media_id long, n_rec int, tamper_crc boolean). One
    * `mapPartitions`, zero shuffle. */
  def tfrecordShards(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_rec"), col("tamper_crc"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val nRec = r.getInt(1)
          require(nRec >= 1, s"n_rec must be >= 1, got $nRec")
          val payloads = (0 until nRec).map { k =>
            Array.fill[Byte]((5L + (id * 7L + k * 11L) % 80L).toInt)('x')
          }
          val bytes = graft.functions.TfRecordKernel.tfrecord(payloads)
          if (r.getBoolean(2)) {
            val at = bytes.length - 4
            bytes(at) = (bytes(at) ^ 0xff).toByte
          }
          Row(id, "application/tfrecord", bytes, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_safetensors, n_tensors, data_bytes, n_f32, n_f16,
    * max_rank, has_metadata) from the fused safetensors header audit
    * ([[graft.functions.SafetensorsKernel]]) — real JSON-header parse +
    * the format's offset-tiling integrity contract, data bytes never
    * read (q348). A header that lies fails the WHOLE row — checkpoint
    * integrity is fail-loud, unlike the tamper-visible container
    * tallies. */
  def safetensorsInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.SafetensorsExpressions.safetensorsInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_safetensors", element_at(col("__d"), 1) === 1L)
      .withColumn("n_tensors", when(col("is_safetensors"), element_at(col("__d"), 2)))
      .withColumn("data_bytes", when(col("is_safetensors"), element_at(col("__d"), 3)))
      .withColumn("n_f32", when(col("is_safetensors"), element_at(col("__d"), 4)))
      .withColumn("n_f16", when(col("is_safetensors"), element_at(col("__d"), 5)))
      .withColumn("max_rank", when(col("is_safetensors"), element_at(col("__d"), 6)))
      .withColumn("has_metadata",
        when(col("is_safetensors"), element_at(col("__d"), 7) === 1L))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic safetensors artifacts — REAL format bytes
    * (u64 LE header length, JSON header, packed zero data): `n_t`
    * tensors `t{k}` with rank `1 + (media_id + k) % 3`, dims
    * `2 + (media_id + k + j) % 4`, dtype F16 when
    * `(media_id + 2k) % 3 == 0` else F32, contiguous `data_offsets`;
    * `__metadata__` first when `with_meta`. `truncate_data` drops the
    * artifact's last byte — the offsets then fail to tile the data
    * region and the audit must fail the row (checkpoint integrity is
    * all-or-nothing). Input columns: (media_id long, n_t int,
    * with_meta boolean, truncate_data boolean). One `mapPartitions`,
    * zero shuffle. */
  def safetensorsArtifacts(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_t"), col("with_meta"), col("truncate_data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val nT = r.getInt(1)
          require(nT >= 1, s"n_t must be >= 1, got $nT")
          val sb = new StringBuilder("{")
          if (r.getBoolean(2)) sb.append("""__metadata__":{"src":"graft"},""".prepended('"'))
          var offset = 0L
          (0 until nT).foreach { k =>
            val rank = (1L + (id + k) % 3L).toInt
            val dims = (0 until rank).map(j => 2L + (id + k + j) % 4L)
            val f16 = (id + 2L * k) % 3L == 0L
            val bytes = dims.product * (if (f16) 2L else 4L)
            if (k > 0) sb.append(',')
            sb.append(s""""t$k":{"dtype":"${if (f16) "F16" else "F32"}",""")
            sb.append(s""""shape":[${dims.mkString(",")}],""")
            sb.append(s""""data_offsets":[$offset,${offset + bytes}]}""")
            offset += bytes
          }
          sb.append('}')
          val header = sb.toString.getBytes("UTF-8")
          val out = new java.io.ByteArrayOutputStream()
          var v = header.length.toLong; var j = 0
          while (j < 8) { out.write((v & 0xff).toInt); v >>= 8; j += 1 }
          out.write(header)
          out.write(new Array[Byte](offset.toInt))
          val bytes = out.toByteArray
          val fin = if (r.getBoolean(3)) bytes.dropRight(1) else bytes
          Row(id, "application/safetensors", fin, Row(null, null, null))
        }
      }(enc)
  }

  /** (media_id, is_proto, n_fields, n_varint, n_len, varint_sum,
    * len_total) from the fused proto wire walk
    * ([[graft.functions.ProtoKernel]]) — the schema-free integrity scan
    * of serialized messages, q347's payload layer (q349). Fail-loud: a
    * message that cannot be walked to EOF flags the row. */
  def protoInfo(media: DataFrame, binCol: String): DataFrame = {
    val d = graft.functions.ProtoExpressions.protoInfo(col(binCol))
    media.withColumn("__d", d)
      .withColumn("is_proto", element_at(col("__d"), 1) === 1L)
      .withColumn("n_fields", when(col("is_proto"), element_at(col("__d"), 2)))
      .withColumn("n_varint", when(col("is_proto"), element_at(col("__d"), 3)))
      .withColumn("n_len", when(col("is_proto"), element_at(col("__d"), 4)))
      .withColumn("varint_sum", when(col("is_proto"), element_at(col("__d"), 5)))
      .withColumn("len_total", when(col("is_proto"), element_at(col("__d"), 6)))
      .drop("__d", binCol)
  }

  /** Deterministic synthetic wire-format messages — REAL proto3
    * encoding ([[graft.functions.ProtoKernel]] writers): `n_f` fields,
    * even positions a varint field of value `(media_id*13 + k*7) %
    * 1000`, odd positions a length-delimited field of `3 + (media_id +
    * k) % 20` bytes (all closed-form). `truncate_field` appends a tag
    * whose varint length never terminates — the walk must fail the row
    * (wire framing is all-or-nothing). Input columns: (media_id long,
    * n_f int, truncate_field boolean). One `mapPartitions`, zero
    * shuffle. */
  def protoMessages(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("n_f"), col("truncate_field"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val nF = r.getInt(1)
          require(nF >= 1, s"n_f must be >= 1, got $nF")
          val out = new java.io.ByteArrayOutputStream()
          var k = 0
          while (k < nF) {
            if (k % 2 == 0)
              graft.functions.ProtoKernel.writeVarintField(
                out, k + 1, (id * 13L + k * 7L) % 1000L)
            else
              graft.functions.ProtoKernel.writeBytesField(
                out, k + 1, Array.fill[Byte]((3L + (id + k) % 20L).toInt)('x'))
            k += 1
          }
          if (r.getBoolean(2)) { out.write(0x12); out.write(0xff) } // unterminated length
          Row(id, "application/x-protobuf", out.toByteArray, Row(null, null, null))
        }
      }(enc)
  }

  /** The closed-form pixel generator behind [[syntheticGrayPngs]] (see its
    * scaladoc for the design): gray level of pixel `k` (row-major) for
    * `seed`, in 1..255. floorMod on the seeding step, not `%`: Java `%`
    * keeps the dividend's sign, so a negative seed would otherwise leave
    * the documented range (and the SQL oracle's model). */
  def synthGray(seed: Long, k: Int): Int = {
    val x = Math.floorMod((seed + 1L) * 4096L + (k + 2L), 4294967296L)
    val h1 = x ^ (x >>> 16)
    val h2 = (h1 * 49632349L) % 4294967296L
    val h3 = h2 ^ (h2 >>> 13)
    val h4 = (h3 * 85624441L) % 4294967296L
    val h5 = h4 ^ (h4 >>> 16)
    (1L + h5 % 255L).toInt
  }

  def syntheticGrayPngs(ids: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    ids.select(col("media_id"), col("seed"), col("perturb"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val seed = r.getLong(1)
          val perturb = r.getBoolean(2)
          val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var k = 0
          while (k < 64) {
            val base = synthGray(seed, k)
            // no-wrap twin shift (r17): +8, or -8 when +8 would leave
            // 1..255 — a wrapped pixel (255 -> 8) made one twin's cosine
            // dip to ~0.977 pre-JPEG, fragile under the lossy chain
            val g = if (perturb && k == 0) { if (base <= 247) base + 8 else base - 8 } else base
            img.setRGB(k % 8, k / 8, (g << 16) | (g << 8) | g)
            k += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          Row(r.getLong(0), "image/png", out.toByteArray, Row(8, 8, null))
        }
      }(enc)
  }
}
