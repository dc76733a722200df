package graftbench

import graft.functions._
import graft.serde.{ConfluentAvroSerde, InMemorySchemaRegistry}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Layer micro-timings on seeded inputs, run in traced runs only. */
object Micro {
  private val Words = ("spark window merge table column vector stream value data small join filter big " +
    "group hash customer sort order slow line part fast row the agg key query a scan batch").split(' ')

  private def text(r: scala.util.Random, words: Int): String =
    Seq.fill(words)(Words(r.nextInt(Words.length))).mkString(" ")

  /** Microseconds per record for `ConfluentAvroSerde.serialize` and
    * `deserialize` over a seeded sample of `events`; the median of three
    * rounds over the sample. */
  def serde(spark: SparkSession, data: String, seed: Long, n: Int): (Double, Double) = {
    val schema = new Schema.Parser().parse(EventWire.SchemaJson)
    val rows = graft.Tables.events(spark, data).orderBy(rand(seed)).limit(n)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    val records: Array[GenericRecord] = rows.map { r =>
      val g = new GenericData.Record(schema)
      g.put("event_id", r.getLong(0)); g.put("ts_us", r.getLong(1)); g.put("user_id", r.getLong(2))
      g.put("event_type", r.getString(3)); g.put("value", r.getDouble(4)); g.put("props", r.getString(5))
      g
    }
    val serde = new ConfluentAvroSerde(new InMemorySchemaRegistry)
    val rounds = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val wire = records.map(serde.serialize(EventWire.Topic, isKey = false, _))
      val t1 = System.nanoTime()
      var i = 0
      while (i < wire.length) { serde.deserialize(wire(i), schema); i += 1 }
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e3 / records.length, (t2 - t1) / 1e3 / records.length)
    }
    (Main.median(rounds.map(_._1)), Main.median(rounds.map(_._2)))
  }

  /** MB/s of each kernel's `info` over seeded inputs built by that
    * kernel's own builder (or, where the kernel has none, by the
    * `Multimodal` synthesizer its queries use). */
  def functions(spark: SparkSession, seed: Long, secondsPerKernel: Double): Map[String, Double] = {
    val r = new scala.util.Random(seed)
    def payload(): Array[Byte] = text(r, 200 + r.nextInt(1200)).getBytes("UTF-8")
    import spark.implicits._
    val inputs: Seq[(String, Array[Byte] => Array[Long], Seq[Array[Byte]])] = Seq(
      ("gzip", GzipKernel.info _, Seq.fill(64)(GzipKernel.gzip(payload(), seed, 0, 255, null))),
      ("warc", WarcKernel.info _, Seq.tabulate(32) { i =>
        val buf = new java.io.ByteArrayOutputStream()
        (0 until 8).foreach { j =>
          val rec = WarcKernel.record("response", s"<urn:uuid:$i-$j>", "2026-08-16T00:00:00Z",
            s"http://example.com/$i/$j", ("HTTP/1.1 200 OK\r\n\r\n".getBytes("US-ASCII") ++ payload()))
          buf.write(GzipKernel.gzip(rec, 0L, 0, 255, null))
        }
        buf.toByteArray
      }),
      ("zstd", ZstdKernel.info _, Seq.fill(64)(ZstdKernel.zstd(payload(), 3, true))),
      ("ogg", OggKernel.info _, graft.operators.Multimodal.syntheticOpusOggs(
        (0 until 32).map(i => (i.toLong, 1 + i % 2, 312, 20 + r.nextInt(40), 960, false))
          .toDF("media_id", "channels", "pre_skip", "n_audio_pages", "samples_per_page", "corrupt_crc"))
        .select("content").as[Array[Byte]].collect().toSeq),
      ("tfrecord", TfRecordKernel.info _, Seq.fill(32)(TfRecordKernel.tfrecord(Seq.fill(16)(payload())))),
      ("safetensors", SafetensorsKernel.info _, graft.operators.Multimodal.safetensorsArtifacts(
        (0 until 32).map(i => (i.toLong, 2 + r.nextInt(12), i % 2 == 0, false))
          .toDF("media_id", "n_t", "with_meta", "truncate_data"))
        .select("content").as[Array[Byte]].collect().toSeq),
      ("proto", ProtoKernel.info _, Seq.fill(64) {
        val out = new java.io.ByteArrayOutputStream()
        (0 until 16).foreach { f =>
          ProtoKernel.writeVarintField(out, 1 + f % 8, r.nextLong().abs)
          ProtoKernel.writeBytesField(out, 9 + f % 4, payload().take(200))
        }
        out.toByteArray
      }),
      ("parquet_footer", ParquetFooterKernel.info _, Seq.tabulate(64) { i =>
        ParquetFooterKernel.build(Seq.fill(1 + r.nextInt(6))(5 + r.nextInt(200)), base = i * 1000L, lieOverlap = false)
      }))
    inputs.map { case (name, info, blobs) =>
      val bytes = blobs.map(_.length.toLong).sum
      blobs.foreach(info) // warm
      var passes = 0L
      var sink = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < secondsPerKernel * 1e9) {
        blobs.foreach(b => sink += info(b).length)
        passes += 1
      }
      val s = Main.secondsSince(t0)
      require(sink > 0, s"$name info returned nothing")
      name -> bytes * passes / 1e6 / s
    }.toMap
  }
}
