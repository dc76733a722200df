package graft.pipeline

import graft.TestSpark
import java.nio.file.Files
import java.time.{Duration, Instant}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The flagship JDBC windowed source against a REAL database: embedded
  * Derby (the JDBC engine Spark already ships for its metastore). Proves
  * the whole reference shape end to end — `spark.read.jdbc` relation,
  * window predicate compiled into the remote WHERE clause (PushedFilters),
  * tumbling fold off the batch's max timestamp, checkpointed resumable run
  * loop — with no row skipped or duplicated across pulls.
  */
class JdbcWindowedSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val nRows = 40
  private val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def setupDb(): Unit = {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE USERS") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE USERS (ID INT PRIMARY KEY, NAME VARCHAR(32), MODIFIED_AT TIMESTAMP)")
      val ps = conn.prepareStatement("INSERT INTO USERS VALUES (?, ?, ?)")
      (0 until nRows).foreach { i =>
        ps.setInt(1, i)
        ps.setString(2, s"user-$i")
        // one row per minute starting at base
        ps.setTimestamp(3, new java.sql.Timestamp(base.getTime + i * 60000L))
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  private final class BufferedSink extends BatchSink {
    val batches = ArrayBuffer.empty[DataFrame]
    def write(df: DataFrame, epoch: Long): Unit = batches += df
  }

  test("windowed JDBC pull over embedded Derby: no skips, no dups, resumable") {
    setupDb()
    // Spark reads Derby TIMESTAMP through the session TZ; anchor the window
    // walk off the values the SAME path reads back, so the test is
    // timezone-shift-proof: from = min(ts) - 1s, stop past max(ts).
    val full = spark.read.jdbc(url, "USERS", new java.util.Properties())
    val bounds = full.agg(
      org.apache.spark.sql.functions.min("MODIFIED_AT"),
      org.apache.spark.sql.functions.max("MODIFIED_AT")).head()
    val minTs = bounds.getTimestamp(0).toInstant
    val maxTs = bounds.getTimestamp(1).toInstant

    val props = new java.util.Properties()
    val pipeline = WindowedSource.jdbc(
      name = "derby-users",
      url = url,
      table = "USERS",
      tsCol = "MODIFIED_AT",
      from = minTs.minusSeconds(1),
      step = Duration.ofMinutes(7), // does not divide 40 min: exercises ragged windows
      connectionProperties = props,
      now = () => maxTs.plus(Duration.ofDays(1)))
    val sink = new BufferedSink
    val ckpt = Files.createTempDirectory("graft-derby-ckpt").toString
    new PipelineRunner(spark, ckpt).run(
      pipeline, sink, maxIterations = 32,
      stopWhen = (w: graft.core.Window) => !w.from.isBefore(maxTs))

    val ids = sink.batches.map(_.select("ID")).reduce(_ union _)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ids == (0 until nRows), "every row exactly once across all pulls")
    assert(sink.batches.size > 1, "the range must take multiple windows")
    assert(props.isEmpty, s"the caller's connection properties were modified: $props")
  }

  test("the reused JDBC relation pushes every window's bounds into its scan, not just the first") {
    setupDb()
    val from = base.toInstant.minusSeconds(1)
    val source = WindowedSource.jdbc(
      name = "derby-users-pushdown",
      url = url,
      table = "USERS",
      tsCol = "MODIFIED_AT",
      from = from,
      step = Duration.ofMinutes(7),
      now = () => from.plus(Duration.ofDays(1)))
    val windows = ArrayBuffer.empty[graft.core.Window]
    val pipeline = source.copy(iteration = (s: org.apache.spark.sql.SparkSession, w: graft.core.Window) => {
      windows += w
      source.iteration(s, w)
    })(source.codec, source.hashable)
    val sink = new BufferedSink
    new PipelineRunner(spark, Files.createTempDirectory("graft-derby-pushdown").toString)
      .run(pipeline, sink, maxIterations = 4)
    assert(sink.batches.size == 4)
    sink.batches.zip(windows).foreach { case (batch, w) =>
      val pushed = batch.queryExecution.executedPlan
        .collectFirst { case s: RowDataSourceScanExec => s.metadata("PushedFilters") }
        .getOrElse(fail(s"no JDBC scan in the plan of window $w"))
      val bounds = Seq(
        s"GreaterThan(MODIFIED_AT,${java.sql.Timestamp.from(w.from)})",
        s"LessThanOrEqual(MODIFIED_AT,${java.sql.Timestamp.from(w.to)})")
      assert(bounds.forall(pushed.contains), s"window $w must reach the JDBC scan: $pushed")
    }
  }

  test("window predicate is pushed into the JDBC scan (remote WHERE clause)") {
    setupDb()
    import org.apache.spark.sql.functions._
    val batch = spark.read.jdbc(url, "USERS", new java.util.Properties())
      .filter(col("MODIFIED_AT") > lit(base) && col("MODIFIED_AT") <= lit(new java.sql.Timestamp(base.getTime + 600000L)))
    val scan = batch.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("MODIFIED_AT"),
      s"window predicate must reach the JDBC source:\n$scan")
    // and the pushed scan returns exactly the windowed rows
    assert(batch.count() == 10)
  }
}
