package graft.serde

import graft.core.GraftError
import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, NonSQLExpression, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, NullType, StringType}
import scala.jdk.CollectionConverters._

/** The Confluent Schema Registry wire format
  * (ref: tamer `core/src/main/scala/tamer/Serde.scala:31-87`):
  * one magic byte 0x00, a big-endian int32 schema id, then the Avro binary
  * body. Subject naming is `"$topic-key"` / `"$topic-value"`
  * (`Serde.scala:41`).
  */
object ConfluentWire {
  final val Magic: Byte = 0x0
  final val HeaderSize = 5

  def subject(topic: String, isKey: Boolean): String =
    s"$topic-${if (isKey) "key" else "value"}"

  def encode(schemaId: Int, payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(HeaderSize + payload.length)
      .put(Magic).putInt(schemaId).put(payload).array()

  /** Split a framed message into (schemaId, payload); rejects bad magic. */
  def decode(data: Array[Byte]): (Int, Array[Byte]) = {
    if (data.length < HeaderSize) throw GraftError(s"Deserialization failed: ${data.length} bytes is shorter than the wire header")
    val buffer = ByteBuffer.wrap(data)
    if (buffer.get() != Magic) throw GraftError("Deserialization failed: unknown magic byte!")
    val id = buffer.getInt()
    val payload = new Array[Byte](data.length - HeaderSize)
    buffer.get(payload)
    (id, payload)
  }
}

/** Registry-backed Avro serde over [[ConfluentWire]]:
  *  - serialize: resolve-or-register the schema id for the subject, frame
  *    the Avro binary body behind the 5-byte header;
  *  - deserialize: check magic, fetch the *writer* schema by the embedded
  *    id, verify reader compatibility (incompatibility is fatal, as in the
  *    reference — `Registry.scala:111-117`), then decode with full Avro
  *    schema resolution (writer → reader), so added-with-default /
  *    reordered / narrowed-alias evolutions read correctly.
  */
final class ConfluentAvroSerde(registry: SchemaRegistry) {

  def serialize(topic: String, isKey: Boolean, record: GenericRecord): Array[Byte] = {
    val schema = record.getSchema
    val id = registry.getOrRegisterId(ConfluentWire.subject(topic, isKey), schema)
    val baos = new ByteArrayOutputStream()
    val encoder = EncoderFactory.get().binaryEncoder(baos, null)
    new GenericDatumWriter[GenericRecord](schema).write(record, encoder)
    encoder.flush()
    ConfluentWire.encode(id, baos.toByteArray)
  }

  def deserialize(data: Array[Byte], reader: Schema): GenericRecord = {
    val (id, payload) = ConfluentWire.decode(data)
    registry.verifySchema(id, reader)
    val writer = registry.getSchemaById(id)
    val decoder = DecoderFactory.get().binaryDecoder(payload, null)
    new GenericDatumReader[GenericRecord](writer, reader).read(null, decoder)
  }
}

/** DataFrame-level Confluent-Avro serde for FLAT record schemas (the
  * reference's observed usage is flat records of primitives — SURVEY.md
  * §1.2): serialize the named fields of every row into a framed
  * `magic ‖ id ‖ avro-binary` column, and decode such a column back into
  * typed fields. Runs per-partition (serde + registry instantiated once per
  * partition from the serializable schema JSON and `registryFactory`), so
  * record bytes never visit the driver — the exact shape a Kafka-bound
  * `foreachBatch` uses. Serializing is one expression in the query's own
  * projection ([[ConfluentAvroFrame]]); decoding runs in `mapPartitions`.
  *
  * Supported field types: boolean, int, long, float, double, string.
  */
object ConfluentAvroFrames {
  import org.apache.spark.sql.{DataFrame, GraftShims, Row}
  import org.apache.spark.sql.catalyst.encoders.RowEncoder
  import org.apache.spark.sql.types._

  private[serde] def sparkType(f: Schema.Field): DataType = f.schema().getType match {
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.LONG    => LongType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.STRING  => StringType
    case t => throw GraftError(s"unsupported flat-record avro field type: $t")
  }

  /** Per-partition registry: executors cannot share a driver-side client
    * object, so implementations travel as a serializable FACTORY — the
    * default builds a fresh in-memory registry (self-contained wires, ids
    * start at 1); a deployment passes `() => new MySrRestRegistry(url)`
    * and the embedded ids then come from the shared service. */
  type RegistryFactory = () => SchemaRegistry

  /** (df's columns matching the schema's field names) -> one `wire` binary
    * column. Columns are CAST to the schema's types up front, so a type
    * mismatch fails analysis with the field name — not as a per-row
    * ClassCastException inside the avro writer. Null values are rejected
    * per-field BY NAME: flat schemas have no null union, so letting a null
    * reach the avro writer would NPE deep inside GenericDatumWriter with no
    * hint of which column was at fault. */
  def serialize(
      df: DataFrame,
      topic: String,
      isKey: Boolean,
      schemaJson: String,
      registryFactory: RegistryFactory = () => new InMemorySchemaRegistry
  ): DataFrame = {
    val fields = new Schema.Parser().parse(schemaJson).getFields.asScala.toSeq
    serializeAppend(df.select(fields.map(f => col(f.name)): _*),
      topic, isKey, schemaJson, registryFactory).select(col("wire"))
  }

  /** [[serialize]] keeping the input columns: appends the framed `wire`
    * column instead of replacing the frame — the shape a Kafka-bound
    * producer wants (partition key / headers columns ride alongside the
    * encoded value) and the shape a corruption-injection test needs (a
    * carrier id survives encoding). Same cast/null contract as
    * [[serialize]], which is a thin projection over this.
    *
    * The wire is one [[ConfluentAvroFrame]] expression over a struct of the
    * cast fields, so the framing runs inside the query's own generated code:
    * no object round trip (deserialize to `Row`, `mapPartitions`, serialize
    * back) and no encoder. */
  def serializeAppend(
      df: DataFrame,
      topic: String,
      isKey: Boolean,
      schemaJson: String,
      registryFactory: RegistryFactory = () => new InMemorySchemaRegistry
  ): DataFrame = {
    require(!df.columns.contains("wire"), "input already has a wire column")
    val fields = new Schema.Parser().parse(schemaJson).getFields.asScala.toSeq
    // shadow casts: the frame reads the casted fields by position, the
    // output keeps the originals untouched
    val castCols = fields.map(f => col(f.name).cast(sparkType(f)).as(s"__graft_ser_${f.name}"))
    val frame = ConfluentAvroFrame(
      GraftShims.expression(struct(castCols: _*)), topic, isKey, schemaJson, registryFactory)
    df.select(col("*"), GraftShims.column(frame).as("wire"))
  }

  /** Framed binary column -> the input columns with one typed column PER
    * reader-schema field appended. Verifies magic + reader compatibility per
    * record, with full Avro writer->reader schema resolution — pass
    * `writerSchemaJson` when the wire was written with an OLDER schema
    * version (added-with-default / reordered fields resolve per Avro rules).
    */
  def deserialize(
      df: DataFrame,
      wireCol: String,
      topic: String,
      isKey: Boolean,
      schemaJson: String,
      writerSchemaJson: Option[String] = None,
      registryFactory: Option[RegistryFactory] = None
  ): DataFrame = {
    val reader = new Schema.Parser().parse(schemaJson)
    val out = StructType(
      df.schema.fields ++ reader.getFields.asScala.map(f => StructField(f.name, sparkType(f))))
    val enc = RowEncoder.encoderFor(out)
    val nFields = reader.getFields.size
    val wireIdx = df.schema.fieldIndex(wireCol)
    val writerJson = writerSchemaJson.getOrElse(schemaJson)
    df.mapPartitions { rows =>
      val readerSchema = new Schema.Parser().parse(schemaJson)
      val serde = new ConfluentAvroSerde(
        partitionRegistry(topic, isKey, writerJson, registryFactory))
      rows.map { r =>
        val rec = serde.deserialize(r.getAs[Array[Byte]](wireIdx), readerSchema)
        Row.fromSeq(r.toSeq ++ (0 until nFields).map(i => fromAvro(rec.get(i))))
      }
    }(enc)
  }

  /** [[deserialize]] with a DEAD-LETTER leg instead of the task abort
    * (parity with [[JsonFrames.deserializeTagged]], q268): ONE pass over the
    * wire appending the reader fields (null on dead rows), an `is_dead`
    * flag, and a `dead_reason` — a continuous Kafka-offset ingest cannot let
    * one corrupt payload crash-loop the job on replay, and the Confluent
    * path is the serde the reference actually ships
    * (ref: tamer `core/src/main/scala/tamer/Serde.scala:64-78`).
    *
    * Routing is a pure row-local function of the bytes; reasons:
    *  - `short_header`  — fewer than 5 bytes, the wire header cannot exist;
    *  - `bad_magic`     — first byte is not 0x00;
    *  - `unknown_schema_id` — the embedded id resolves to no registered
    *    schema (a foreign or corrupted frame);
    *  - `malformed_body`    — the avro binary body fails to decode against
    *    the writer schema (truncation, bit rot).
    * A NULL wire is a GOOD row with null fields — that is a Kafka tombstone
    * (compacted-topic delete marker), not corruption, and matches the JSON
    * path's null handling. Reader-schema INCOMPATIBILITY with a known
    * writer id stays FATAL exactly like [[deserialize]]: that is a
    * deployment error the reference aborts on (`Registry.scala:111-117`),
    * not row corruption — quarantining it would silently drop the whole
    * topic. */
  def deserializeTagged(
      df: DataFrame,
      wireCol: String,
      topic: String,
      isKey: Boolean,
      schemaJson: String,
      writerSchemaJson: Option[String] = None,
      registryFactory: Option[RegistryFactory] = None
  ): DataFrame = {
    require(!df.columns.contains("is_dead"), "input already has an is_dead column")
    require(!df.columns.contains("dead_reason"), "input already has a dead_reason column")
    val reader = new Schema.Parser().parse(schemaJson)
    val out = StructType(
      df.schema.fields ++
        reader.getFields.asScala.map(f => StructField(f.name, sparkType(f))) ++
        Seq(StructField("is_dead", BooleanType, nullable = false),
          StructField("dead_reason", StringType)))
    val enc = RowEncoder.encoderFor(out)
    val nFields = reader.getFields.size
    val wireIdx = df.schema.fieldIndex(wireCol)
    val writerJson = writerSchemaJson.getOrElse(schemaJson)
    df.mapPartitions { rows =>
      val readerSchema = new Schema.Parser().parse(schemaJson)
      // caching wrapper: compatibility is verified once per writer id, not
      // once per row — same memoization the reference's registry client does
      val registry = new CachingSchemaRegistry(
        partitionRegistry(topic, isKey, writerJson, registryFactory))
      val datumReaders = scala.collection.mutable.HashMap.empty[Int, GenericDatumReader[GenericRecord]]
      var decoder: org.apache.avro.io.BinaryDecoder = null
      rows.map { r =>
        def good(fields: Seq[Any]) = Row.fromSeq(r.toSeq ++ fields ++ Seq(false, null))
        def dead(reason: String) =
          Row.fromSeq(r.toSeq ++ Seq.fill[Any](nFields)(null) ++ Seq(true, reason))
        val data = r.getAs[Array[Byte]](wireIdx)
        if (data == null) good(Seq.fill(nFields)(null))
        else if (data.length < ConfluentWire.HeaderSize) dead("short_header")
        else if (data(0) != ConfluentWire.Magic) dead("bad_magic")
        else {
          val id = ByteBuffer.wrap(data, 1, 4).getInt
          // Only the registry's AUTHORITATIVE not-found routes to the DLQ;
          // transient failures (5xx, transport) throw GraftError and fail
          // the task for retry — a registry blip must not quarantine rows.
          val writer = try Some(registry.getSchemaById(id)) catch { case _: SchemaNotFound => None }
          writer match {
            case None => dead("unknown_schema_id")
            case Some(w) =>
              registry.verifySchema(id, readerSchema) // incompatibility: FATAL, see scaladoc
              try {
                decoder = DecoderFactory.get().binaryDecoder(
                  data, ConfluentWire.HeaderSize, data.length - ConfluentWire.HeaderSize, decoder)
                val rec = datumReaders
                  .getOrElseUpdate(id, new GenericDatumReader[GenericRecord](w, readerSchema))
                  .read(null, decoder)
                good((0 until nFields).map(i => fromAvro(rec.get(i))))
              } catch {
                case e: GraftError => throw e
                case scala.util.control.NonFatal(_) => dead("malformed_body")
              }
          }
        }
      }
    }(enc)
  }

  /** Two-frame splitter over [[deserializeTagged]] — (good, dead), where
    * `good` has [[deserialize]]'s exact shape and `dead` carries the input
    * columns (including the raw wire bytes for quarantine and
    * replay-after-fix) plus the reason. Same cost caveat as
    * [[JsonFrames.deserializeWithDlq]]: the legs are separate plans over
    * one parse subtree and Catalyst does not share subplans across
    * branches — consuming BOTH scans and decodes twice; persist the input
    * or stay on the tagged form when both legs feed one plan. */
  def deserializeWithDlq(
      df: DataFrame,
      wireCol: String,
      topic: String,
      isKey: Boolean,
      schemaJson: String,
      writerSchemaJson: Option[String] = None,
      registryFactory: Option[RegistryFactory] = None
  ): (DataFrame, DataFrame) = {
    val reader = new Schema.Parser().parse(schemaJson)
    val tagged = deserializeTagged(df, wireCol, topic, isKey, schemaJson, writerSchemaJson, registryFactory)
    val good = tagged.filter(!col("is_dead"))
      .select(df.columns.map(col) ++ reader.getFields.asScala.map(f => col(f.name)): _*)
    val dlq = tagged.filter(col("is_dead"))
      .select(df.columns.map(col) :+ col("dead_reason"): _*)
    (good, dlq)
  }

  private def fromAvro(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case other                        => other
  }

  /** The per-partition registry for the deserialize family: a shared
    * registry's wire ids already resolve there; a self-contained wire
    * (written by the default [[serialize]]) pre-registers the writer schema
    * so the embedded id 1 resolves. */
  private def partitionRegistry(
      topic: String,
      isKey: Boolean,
      writerJson: String,
      registryFactory: Option[RegistryFactory]
  ): SchemaRegistry = registryFactory match {
    case Some(factory) => factory()
    case None =>
      val r = new InMemorySchemaRegistry
      r.getOrRegisterId(ConfluentWire.subject(topic, isKey), new Schema.Parser().parse(writerJson))
      r
  }
}

/** `magic ‖ id ‖ avro-binary` of one flat record: `fields` is a struct whose
  * fields are the schema's fields, in order, already cast to their Spark
  * types ([[ConfluentAvroFrames.serializeAppend]] builds it).
  *
  * Contract:
  *  - one [[ConfluentAvroSerde]] and one registry from `registryFactory` per
  *    partition. In generated code they live in a field of the generated
  *    class, which each task instantiates once; interpreted, the expression
  *    is `stateful`, so every projection gets a fresh copy with its own;
  *  - a null field fails the task with a [[GraftError]] naming the field;
  *  - never evaluated at planning time. `ConvertToLocalRelation` evaluates a
  *    projection over a `LocalRelation` on the driver unless the projection
  *    holds an `Unevaluable` expression, so the frame carries one,
  *    [[NotAtPlanTime]], as a child it never evaluates. The registry (which
  *    may register a schema) is only ever built in a task.
  */
case class ConfluentAvroFrame(
    fields: Expression,
    topic: String,
    isKey: Boolean,
    schemaJson: String,
    registryFactory: ConfluentAvroFrames.RegistryFactory) extends Expression with NonSQLExpression {

  override def children: Seq[Expression] = Seq(fields, NotAtPlanTime)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def toString: String = s"confluent_avro_frame($fields)"

  def newFramer(): ConfluentAvroFramer = new ConfluentAvroFramer(schemaJson, topic, isKey, registryFactory())

  @transient private lazy val framer = newFramer()

  override def eval(input: InternalRow): Any = framer.frame(fields.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("frame", this)
    val framer = ctx.addMutableState(classOf[ConfluentAvroFramer].getName, "framer",
      v => s"$v = $self.newFramer();")
    val row = fields.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${row.code}
      byte[] ${ev.value} = $framer.frame(${row.value});""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(fields = newChildren.head)
}

/** The `Unevaluable` child of [[ConfluentAvroFrame]] that keeps the
  * optimizer from evaluating it. */
case object NotAtPlanTime extends LeafExpression with Unevaluable {
  override def dataType: DataType = NullType
  override def nullable: Boolean = true
}

/** One partition's framing state for [[ConfluentAvroFrame]]. */
final class ConfluentAvroFramer(schemaJson: String, topic: String, isKey: Boolean, registry: SchemaRegistry) {
  private val schema = new Schema.Parser().parse(schemaJson)
  private val names = schema.getFields.asScala.map(_.name).toArray
  private val types = schema.getFields.asScala.map(ConfluentAvroFrames.sparkType).toArray
  private val serde = new ConfluentAvroSerde(registry)

  def frame(row: InternalRow): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < names.length) {
      if (row.isNullAt(i))
        throw GraftError(s"Serialization failed: null value in field '${names(i)}' (schema has no null union)")
      // the values a `Row` holds: boxed primitives and java.lang.String
      rec.put(i, if (types(i) == StringType) row.getUTF8String(i).toString else row.get(i, types(i)))
      i += 1
    }
    serde.serialize(topic, isKey, rec)
  }
}

/** Column-level wire-format plumbing, for pipelines whose payloads are
  * already Avro binary (or any binary) in a DataFrame: pure codegen'd
  * expressions, no UDFs.
  */
object ConfluentWireColumns {

  /** Frame a binary column: magic byte + big-endian id + payload. */
  def withWireHeader(payload: Column, schemaId: Int): Column = {
    val header = ByteBuffer.allocate(ConfluentWire.HeaderSize).put(ConfluentWire.Magic).putInt(schemaId).array()
    concat(lit(header), payload)
  }

  /** The Avro body of a framed message (bytes after the 5-byte header). */
  def wirePayload(framed: Column): Column =
    substring(framed, ConfluentWire.HeaderSize + 1, Int.MaxValue)

  /** The embedded schema id of a framed message (big-endian int32 at
    * offset 1). */
  def wireSchemaId(framed: Column): Column =
    conv(hex(substring(framed, 2, 4)), 16, 10).cast("int")

  /** True iff the first byte is the Confluent magic byte. */
  def hasWireMagic(framed: Column): Column =
    substring(framed, 1, 1) === lit(Array(ConfluentWire.Magic))
}
