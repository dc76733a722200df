package graft.sinks

import graft.core.{Header, Record}
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Kafka sink contract: Spark's `kafka` format consumes exactly
  * `key BINARY, value BINARY, headers ARRAY<STRUCT<key:STRING,value:BINARY>>,
  * timestamp TIMESTAMP` — the engine's [[graft.core.Record]] in columnar
  * form. These helpers produce that shape, so a pipeline's output is
  * sink-ready whether or not kafka jars are on the classpath (they are not
  * in this container; `df.write.format("kafka")` is the only missing step
  * and is pure configuration).
  */
object KafkaSinkFormat {

  /** `ARRAY<STRUCT<key:STRING,value:BINARY>>`, the sink's `headers` type. */
  private val HeadersType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("value", BinaryType))))

  /** The non-null empty `headers` of every row [[fromColumns]] emits, built
    * once: a `typedLit` and a DDL cast per call cost 0.3-0.5 ms. */
  private val noHeaders: Column =
    GraftShims.column(Literal(new GenericArrayData(Array.empty[Any]), HeadersType))

  /** Columnar path: select/rename arbitrary columns into the sink schema.
    * Key/value columns are serialized with the engine's serde upstream (see
    * [[graft.serde.ConfluentWireColumns]] for the framed-Avro form) or cast
    * from string here.
    */
  def fromColumns(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      timestampCol: Option[String] = None
  ): DataFrame = {
    val key = col(keyCol).cast("binary").as("key")
    val value = col(valueCol).cast("binary").as("value")
    val headers = noHeaders.as("headers")
    timestampCol match {
      case Some(ts) => df.select(key, value, headers, col(ts).cast("timestamp").as("timestamp"))
      case None     => df.select(key, value, headers)
    }
  }

  /** Typed path: a Dataset of raw-byte [[Record]]s into the sink schema
    * (timestamps are the Record's epoch-millis event time). */
  def fromRecords(spark: SparkSession, records: Dataset[Record[Array[Byte], Array[Byte]]]): DataFrame = {
    import spark.implicits._
    records
      .map { r =>
        (r.key, r.value, r.headers.map(h => (h.key, h.value)), r.timestamp)
      }
      .toDF("key", "value", "headers", "ts_millis")
      .select(
        col("key"), col("value"),
        col("headers").cast(HeadersType).as("headers"),
        (col("ts_millis") / 1000.0).cast("timestamp").as("timestamp"))
  }

  /** Convenience for building typed records. */
  def record(key: Array[Byte], value: Array[Byte], timestampMillis: Option[Long] = None, headers: Seq[Header] = Nil): Record[Array[Byte], Array[Byte]] =
    Record(key, value, timestampMillis, headers)
}
