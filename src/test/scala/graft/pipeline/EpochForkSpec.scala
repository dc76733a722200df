package graft.pipeline

import graft.TestSpark
import graft.sinks.ExactlyOnceParquetWriter
import java.nio.file.Files
import java.time.{Duration, Instant}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The epoch and resume path starts no operating-system process. Hadoop's
  * local filesystem forks `chmod` for every file it creates when the native
  * `libhadoop` is absent: 13 per epoch of a tumbling window into the
  * exactly-once parquet sink, 2 per runner start.
  */
class EpochForkSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** The commands of the processes started anywhere in the JVM during
    * `body`, except on a `java.lang.ref.Cleaner` thread: Spark removes the
    * artifact directory of a session that earlier suites dropped with
    * `rm -rf` whenever the garbage collector gets to it.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      try body
      finally recording.stop()
      val file = Files.createTempFile("graft-process-starts", ".jfr")
      recording.dump(file)
      def byCleaner(e: RecordedEvent) = Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName == "jdk.internal.ref.CleanerImpl"))
      try RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !byCleaner(e)).map(_.getString("command"))
      finally Files.delete(file)
    } finally recording.close()
  }

  test("a drain and a resume through the exactly-once parquet sink fork no process") {
    // Hadoop caches one `file:` FileSystem per JVM, built from the first
    // lookup's conf; a suite that built it before the test session did would
    // silently bring the forking filesystem back
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[graft.core.LocalFileSystem])

    val t0 = Instant.parse("2026-03-01T00:00:00Z")
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val src = Files.createTempDirectory("graft-fork-src").resolve("events").toString
    val rows = (1 to 120).map(m => Row(m.toLong, java.sql.Timestamp.from(t0.plus(Duration.ofMinutes(m.toLong)))))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(src)
    val p = WindowedSource.tumbling(
      "fork-spec",
      relation = _.read.schema(schema).parquet(src),
      tsCol = "ts",
      from = t0,
      step = Duration.ofMinutes(10),
      now = () => t0.plus(Duration.ofDays(1)),
      relationRepr = src)
    val ckpt = Files.createTempDirectory("graft-fork-ckpt").toString
    val sinkDir = Files.createTempDirectory("graft-fork-sink").toString
    val sink = new ExactlyOnceParquetWriter(sinkDir)

    var epochs = 0L
    val starts = processStarts {
      new PipelineRunner(spark, ckpt).run(p, sink, maxIterations = 4)
      val resume = new PipelineRunner(spark, ckpt).run(p, sink, maxIterations = 4)
      assert(resume.decision.isInstanceOf[StartupDecision.Resume[_]])
      epochs = resume.epochsRun
    }
    assert(epochs == 8)
    assert(starts.isEmpty, s"${starts.size} processes started in $epochs epochs:\n${starts.mkString("\n")}")
    assert(spark.read.parquet(sinkDir).count() == 80) // minutes (0, 80]

    // the recording does see a forked process
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size == 1)
  }
}
