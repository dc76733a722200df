package graft.sinks

import graft.TestSpark
import graft.core.Header
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class KafkaSinkFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sinkSchemaNoTs = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("headers",
      ArrayType(StructType(Seq(
        StructField("key", StringType, nullable = true),
        StructField("value", BinaryType, nullable = true))), containsNull = true),
      nullable = false)))

  test("fromColumns emits exactly the kafka sink schema") {
    val df = Seq(("k1", "v1", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")), ("k2", "v2", null))
      .toDF("k", "v", "t")
    val out = KafkaSinkFormat.fromColumns(df, "k", "v")
    assert(out.schema == sinkSchemaNoTs)
    val rows = out.collect()
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8")).sorted.toSeq == Seq("k1", "k2"))
    assert(rows.forall(r => !r.isNullAt(2) && r.getSeq[org.apache.spark.sql.Row](2).isEmpty))
    val withTs = KafkaSinkFormat.fromColumns(df, "k", "v", Some("t"))
    assert(withTs.schema == sinkSchemaNoTs.add(StructField("timestamp", TimestampType, nullable = true)))
  }

  test("fromRecords maps typed Records incl. event time and headers") {
    val records = Seq(
      KafkaSinkFormat.record("a".getBytes, "1".getBytes, Some(1735689600000L), Seq(Header("h", "x".getBytes))),
      KafkaSinkFormat.record("b".getBytes, "2".getBytes))
    val out = KafkaSinkFormat.fromRecords(spark, records.toDS())
    assert(out.columns.toSeq == Seq("key", "value", "headers", "timestamp"))
    val byKey = out.collect().map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") -> r).toMap
    assert(byKey("a").getAs[java.sql.Timestamp]("timestamp").getTime == 1735689600000L)
    assert(byKey("a").getAs[Seq[org.apache.spark.sql.Row]]("headers").head.getString(0) == "h")
    assert(byKey("b").isNullAt(3))
  }

  test("live Kafka e2e is environment-blocked: no kafka-clients on any classpath (probed 2026-08-16)") {
    // The q289/q333 exactly-once semantics are fully gated over durable
    // file sinks; the missing piece is a `format("kafka")` round trip,
    // which needs the spark-sql-kafka connector AND a broker — neither
    // exists here. Pinned as a dated probe-in-code (the Mp3Spec
    // discipline): if kafka-clients ever appears on the classpath this
    // fails loudly and the wire-ready sink code graduates to a live e2e
    // spec (SURVEY §8.3 carries the dated environment note; the sink
    // format builders in KafkaSinkFormat are broker-independent and
    // tested above).
    intercept[ClassNotFoundException] {
      Class.forName("org.apache.kafka.clients.producer.KafkaProducer")
    }
    intercept[ClassNotFoundException] {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
    }
  }
}
