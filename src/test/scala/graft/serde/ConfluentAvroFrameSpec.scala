package graft.serde

import graft.TestSpark
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

object FrameSpecRegistry {
  val built = new AtomicInteger()
  val factory: ConfluentAvroFrames.RegistryFactory = () => {
    built.incrementAndGet()
    new InMemorySchemaRegistry
  }
}

/** The `wire` column of [[ConfluentAvroFrames.serializeAppend]]: its bytes,
  * its evaluation modes and its per-partition registry. */
class ConfluentAvroFrameSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val schemaJson =
    """{"type":"record","name":"All","fields":[
      |{"name":"b","type":"boolean"},{"name":"i","type":"int"},{"name":"l","type":"long"},
      |{"name":"f","type":"float"},{"name":"d","type":"double"},{"name":"s","type":"string"}]}""".stripMargin

  /** 3,000 rows over 4 partitions: every field type, signs, extremes, NaN,
    * multi-byte text, and an int column framed from a long (a shadow cast). */
  private def fixture: DataFrame = spark.range(0, 3000, 1, 4).select(
    col("id"),
    (col("id") % 3 === 0).as("b"),
    when(col("id") === 7, lit(Int.MaxValue.toLong)).otherwise(col("id") * 7919 - 1000000).as("i"),
    when(col("id") === 11, lit(Long.MinValue)).otherwise(col("id") * col("id") * -31).as("l"),
    (col("id") / 7).cast("float").as("f"),
    when(col("id") === 13, lit(Double.NaN)).otherwise(col("id") * 1.5e-3 - 2).as("d"),
    concat(lit("é✓-"), col("id").cast("string"), lit("-\u0000x")).as("s"))

  private def digest(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    df.select(col("id"), hex(col("wire"))).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).foreach { case (id, w) => md.update(s"$id:$w\n".getBytes("UTF-8")) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def framed = ConfluentAvroFrames.serializeAppend(fixture, "t", isKey = false, schemaJson)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Whole-stage codegen, with a compile failure failing the query instead
    * of falling back to interpretation. */
  private def codegen[T](body: => T): T = withConf(SQLConf.CODEGEN_FALLBACK.key -> "false")(body)

  private def interpreted[T](body: => T): T = withConf(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")(body)

  test("wire bytes are the ones the row-at-a-time framing wrote, generated or interpreted") {
    // recorded from the mapPartitions framing this expression replaced
    val recorded = "0919ca3bd326e7dd"
    assert(codegen(digest(framed)) == recorded)
    assert(interpreted(digest(framed)) == recorded)
    assert(codegen(digest(ConfluentAvroFrames.serializeAppend(fixture, "t", isKey = true, schemaJson))) == recorded)
  }

  test("a null field names the field, generated or interpreted") {
    val df = fixture.withColumn("s", when(col("id") === 2999, lit(null: String)).otherwise(col("s")))
    def message(t: Throwable): String = Option(t.getCause).map(message).getOrElse("") + t.getMessage
    Seq[(=> Array[org.apache.spark.sql.Row]) => Array[org.apache.spark.sql.Row]](codegen(_), interpreted(_))
      .foreach { mode =>
        val e = intercept[org.apache.spark.SparkException] {
          mode(ConfluentAvroFrames.serializeAppend(df, "t", isKey = false, schemaJson).collect())
        }
        assert(message(e).contains("Serialization failed: null value in field 's'"), message(e))
      }
  }

  test("one registry per partition, generated or interpreted") {
    val df = spark.range(0, 100, 1, 5).select(col("id").as("k"), col("id").cast("string").as("v"))
    val kv = """{"type":"record","name":"KV","fields":[{"name":"k","type":"long"},{"name":"v","type":"string"}]}"""
    Seq(codegen[Long](_), interpreted[Long](_)).foreach { mode =>
      FrameSpecRegistry.built.set(0)
      val wires = ConfluentAvroFrames.serializeAppend(df, "t", isKey = false, kv, FrameSpecRegistry.factory)
      // `count()` alone would prune the wire column away
      assert(mode(wires.filter(length(col("wire")) > 5).count()) == 100)
      assert(FrameSpecRegistry.built.get == 5)
    }
  }

  test("planning never evaluates the frame, not even over a local relation") {
    val spark = TestSpark.spark
    import spark.implicits._
    val kv = """{"type":"record","name":"KV","fields":[{"name":"k","type":"long"}]}"""
    FrameSpecRegistry.built.set(0)
    val df = ConfluentAvroFrames.serializeAppend(Seq(1L, 2L, 3L).toDF("k"), "t", isKey = false, kv,
      FrameSpecRegistry.factory)
    val rdd = df.queryExecution.toRdd
    assert(FrameSpecRegistry.built.get == 0, "the optimizer built a registry")
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.isDefined)
    assert(df.collect().length == 3)
    assert(FrameSpecRegistry.built.get == rdd.getNumPartitions)
  }
}
