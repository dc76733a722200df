package graft.pipeline

import graft.{FilterParameter, TestSpark}
import graft.core.Window
import graft.serde.ConfluentAvroFrames
import graft.sinks.ExactlyOnceParquetWriter
import java.nio.file.Files
import java.time.{Duration, Instant}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Epochs of a tumbling window differ only in the window bounds, so after
  * the first epoch the loop compiles no new class: the bounds are codegen
  * parameters ([[graft.ParameterizeFilterLiterals]]), and the Avro framing is
  * one expression with no per-epoch state in its code. */
class EpochCodegenSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val t0 = Instant.parse("2026-03-01T00:00:00Z")
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType), StructField("name", StringType)))
  private val wireSchema =
    """{"type":"record","name":"E","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin

  private def source(): String = {
    val dir = Files.createTempDirectory("graft-codegen-src").resolve("events").toString
    val rows = (1 to 150).map(m =>
      Row(m.toLong, java.sql.Timestamp.from(t0.plus(Duration.ofMinutes(m.toLong))), s"n$m"))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir)
    dir
  }

  private def pipeline(dir: String): GraftPipeline[Window] = WindowedSource.tumbling(
    "codegen-spec",
    relation = _.read.schema(schema).parquet(dir),
    tsCol = "ts",
    from = t0,
    step = Duration.ofMinutes(10),
    now = () => t0.plus(Duration.ofDays(1)),
    relationRepr = dir)

  /** Frames each window as Confluent Avro before the exactly-once write. */
  private final class FramedSink(dir: String) extends BatchSink {
    private val writer = new ExactlyOnceParquetWriter(dir)
    def write(df: DataFrame, epoch: Long): Unit =
      writer.write(ConfluentAvroFrames.serializeAppend(df, "events", isKey = false, wireSchema), epoch)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a drain of 12 epochs compiles no new class after the first epoch") {
    val dir = source()
    val p = pipeline(dir)
    val ckpt = Files.createTempDirectory("graft-codegen-ckpt").toString
    val sinkDir = Files.createTempDirectory("graft-codegen-sink").toString
    val sink = new FramedSink(sinkDir)

    // the compile count after each epoch's write
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val counting = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit = { sink.write(df, epoch); counts += compiles }
    }
    val before = compiles
    val result = new PipelineRunner(spark, ckpt).run(p, counting, maxIterations = 12)
    assert(result.epochsRun == 12)
    assert(counts.size == 12)
    assert(counts.head > before, "the first epoch compiles its classes")
    val perEpoch = counts.zip(counts.tail).map { case (a, b) => b - a }.toSeq
    assert(perEpoch.forall(_ == 0), s"new classes per epoch after the first: $perEpoch")
    assert(spark.read.parquet(sinkDir).count() == 120) // minutes (0, 120]
  }

  test("the window bounds still reach the parquet scan, and the filter reads them as parameters") {
    val dir = source()
    val w = Window(t0.plus(Duration.ofMinutes(20)), t0.plus(Duration.ofMinutes(30)))
    val batch = pipeline(dir).iteration(spark, w).batch.get
    val plan = batch.queryExecution.executedPlan
    val pushed = plan.collectFirst { case s: FileSourceScanExec => s.metadata("PushedFilters") }.get
    assert(pushed.contains("GreaterThan(ts,2026-03-01 00:20:00.0)"), pushed)
    assert(pushed.contains("LessThanOrEqual(ts,2026-03-01 00:30:00.0)"), pushed)
    val condition = plan.collectFirst { case f: FilterExec => f.condition }.get
    assert(condition.collect { case p: FilterParameter => p }.size == 2, condition)
    // printed like the literals they replace
    assert(condition.toString.contains("2026-03-01 00:20:00"), condition)
    assert(batch.count() == 10)
  }
}
