package graft.pipeline

import graft.TestSpark
import graft.core.Window
import graft.sinks.{ExactlyOnceParquetWriter, RetryingSink}
import java.nio.file.{Files, Paths}
import java.time.{Duration, Instant}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The tumbling source over parquet into the exactly-once parquet sink: the
  * fold is taken from the sink write's own scan, so an epoch is one Spark
  * job, and crashes or retried writes neither lose nor repeat a row.
  */
class WindowedSourceSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private val t0 = Instant.parse("2026-03-01T00:00:00Z")
  private val step = Duration.ofMinutes(10)
  // minute offsets of the rows; (30, 56] is a gap longer than one step, and
  // every 7th minute holds two rows with the same timestamp
  private val minutes: Seq[Int] =
    ((1 to 30) ++ (56 to 100)).flatMap(m => if (m % 7 == 0) Seq(m, m) else Seq(m))
  private val times: Seq[Instant] = minutes.map(m => t0.plus(Duration.ofMinutes(m.toLong)))
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType), StructField("payload", StringType)))

  /** The source table as one parquet file (one scan partition). */
  private def source(): String = {
    val dir = Files.createTempDirectory("graft-windowed-src").resolve("events").toString
    addFile(dir, times, 0)
    dir
  }

  /** Appends one parquet file with rows at `ts`, ids from `firstId`. */
  private def addFile(dir: String, ts: Seq[Instant], firstId: Int): Unit = {
    val rows = ts.zipWithIndex.map { case (t, i) =>
      Row((firstId + i).toLong, java.sql.Timestamp.from(t), s"payload-${firstId + i}")
    }
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("append").parquet(dir)
  }

  private def pipeline(
      dir: String,
      now: Instant,
      lag: Duration = Duration.ZERO,
      relation: SparkSession => DataFrame = null): GraftPipeline[Window] =
    WindowedSource.tumbling(
      "windowed-spec",
      relation = Option(relation).getOrElse(_.read.schema(schema).parquet(dir)),
      tsCol = "ts",
      from = t0,
      step = step,
      lag = lag,
      now = () => now,
      relationRepr = dir)

  /** The windows the runner must commit: the fold over each window's true max. */
  private def expected(n: Int, now: Instant, lag: Duration, data: Seq[Instant] = times): Seq[Window] =
    Iterator.iterate(Window(t0, t0.plus(step))) { w =>
      val maxTs = data.filter(t => t.isAfter(w.from) && !t.isAfter(w.to)).maxOption
      TumblingWindow.fold(w, maxTs, step, lag, now)
    }.slice(1, n + 1).toSeq

  /** Counts the Spark jobs `body` starts on this thread. */
  private def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "windowed-jobs-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      assert(GraftShims.drainListenerBus(sc, 10000L))
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def committed(ckpt: String, p: GraftPipeline[Window]): Seq[Window] = {
    val dir = Paths.get(ckpt, s"${p.name}-${p.stateKey}", "commits")
    val files = Files.list(dir)
    try files.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("epoch-")).toSeq.sorted
      .map(f => p.codec.decode(Files.readString(dir.resolve(f)).trim))
    finally files.close()
  }

  /** Row count, distinct ids and an order-free content checksum. */
  private def fingerprint(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), countDistinct(col("id")),
      sum(xxhash64(col("id"), col("ts"), col("payload")).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  private def sinkRows(sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir).select("id", "ts", "payload")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("crash after the sink write and inside the sink before its marker: a fresh runner resumes exactly once") {
    val dir = source()
    val lastTs = times.max
    val p = pipeline(dir, now = lastTs.plus(Duration.ofDays(1)))
    val stop = (w: Window) => !w.from.isBefore(lastTs)

    val cleanCkpt = tmp("graft-windowed-clean")
    new PipelineRunner(spark, cleanCkpt).run(p, new ExactlyOnceParquetWriter(tmp("graft-windowed-clean-sink")),
      maxIterations = 64, stopWhen = stop)

    val ckpt = tmp("graft-windowed-ckpt")
    val sinkDir = tmp("graft-windowed-sink")
    val writer = new ExactlyOnceParquetWriter(sinkDir)
    // 1: epoch 3's data and marker land, then the process dies before the
    // runner commits; the resumed epoch 3 is a skipped replay, so its fold
    // cannot observe the write and scans the window itself
    val crashAfterWrite = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit = {
        writer.write(df, epoch)
        if (epoch == 3) throw new IllegalStateException("injected crash after the sink write")
      }
    }
    val first = intercept[IllegalStateException](
      new PipelineRunner(spark, ckpt).run(p, crashAfterWrite, maxIterations = 64, stopWhen = stop))
    assert(first.getMessage.contains("after the sink write"))
    assert(committed(ckpt, p).size == 3)

    // 2: epoch 5's data lands, then the sink dies before its marker (a
    // directory in the way of the marker's temp file)
    val blocker = Paths.get(sinkDir, "_graft_commits", f".tmp-batch-${5}%020d")
    Files.createDirectories(blocker)
    intercept[java.io.IOException](
      new PipelineRunner(spark, ckpt).run(p, writer, maxIterations = 64, stopWhen = stop))
    assert(committed(ckpt, p).size == 5)
    assert(Files.exists(Paths.get(sinkDir, "batch=5")))
    Files.delete(blocker)

    val res = new PipelineRunner(spark, ckpt).run(p, writer, maxIterations = 64, stopWhen = stop)
    assert(res.decision == StartupDecision.Resume(committed(cleanCkpt, p)(4), 5L))

    val windows = committed(ckpt, p)
    assert(windows == committed(cleanCkpt, p))
    assert(windows == expected(windows.size, lastTs.plus(Duration.ofDays(1)), Duration.ZERO))
    val want = fingerprint(spark.read.parquet(dir))
    assert(want._1 == times.size)
    assert(fingerprint(sinkRows(sinkDir)) == want)
  }

  test("explicit-schema parquet: one Spark job per epoch, windows fold each window's true max") {
    val dir = source()
    // the newest rows sit inside the lag horizon and are never read
    val now = t0.plus(Duration.ofMinutes(95))
    val lag = Duration.ofMinutes(5)
    val p = pipeline(dir, now, lag)
    val ckpt = tmp("graft-windowed-jobs")
    val sinkDir = tmp("graft-windowed-jobs-sink")
    val epochs = 14

    // this sink returns as soon as its write does, before the listener bus
    // has delivered the write's observed metrics
    val jobs = countJobs(new PipelineRunner(spark, ckpt).run(p, new EpochParquetSink(sinkDir), maxIterations = epochs))
    assert(jobs == epochs, s"$epochs epochs ran $jobs Spark jobs")

    val windows = committed(ckpt, p)
    assert(windows == expected(epochs, now, lag))
    // the gap: one window folds empty and widens from the same start
    assert(windows.sliding(2).exists { case Seq(a, b) => b.from == a.from && b.to == a.to.plus(step) })
    val horizon = now.minus(lag)
    assert(windows.last == Window(horizon, horizon))
    assert(fingerprint(sinkRows(sinkDir)) ==
      fingerprint(spark.read.parquet(dir).filter(col("ts") <= lit(java.sql.Timestamp.from(horizon)))))
  }

  test("a sink write that fails part-way and is retried folds from the successful write") {
    val dir = source()
    val lastTs = times.max
    val p = pipeline(dir, now = lastTs.plus(Duration.ofDays(1)))
    val ckpt = tmp("graft-windowed-retry")
    val sinkDir = tmp("graft-windowed-retry-sink")
    val writer = new ExactlyOnceParquetWriter(sinkDir)
    // epoch 1's first attempt fails on the window's last row; Spark still
    // publishes that failed execution's (partial) observed metrics
    val bad = times.lastIndexWhere(!_.isAfter(t0.plus(step.multipliedBy(2)))).toLong
    val boom = udf((id: Long) => if (id == bad) throw new IllegalStateException("injected") else id)
    val attempts = new AtomicInteger()
    val flaky = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit =
        if (epoch == 1 && attempts.getAndIncrement() == 0)
          df.select(boom(col("id"))).write.format("noop").mode("overwrite").save()
        else writer.write(df, epoch)
    }
    new PipelineRunner(spark, ckpt).run(p, new RetryingSink(flaky, maxRetries = 1, sleep = _ => ()),
      maxIterations = 64, stopWhen = (w: Window) => !w.from.isBefore(lastTs))
    assert(attempts.get == 2)

    val windows = committed(ckpt, p)
    assert(windows == expected(windows.size, lastTs.plus(Duration.ofDays(1)), Duration.ZERO))
    assert(fingerprint(sinkRows(sinkDir)) == fingerprint(spark.read.parquet(dir)))
  }

  /** An inferred-schema parquet directory that grows while `session` pulls
    * from it: the sink holds every row exactly once and the committed windows
    * fold the final table. Returns the directory. */
  private def growingSource(session: SparkSession): String = {
    val dir = Files.createTempDirectory("graft-windowed-grow").resolve("events").toString
    // three vintages of the table: the first is there at the start, the
    // second lands after epoch 1 of the first run, the third between runs
    val (first, rest) = times.partition(_.isBefore(t0.plus(Duration.ofMinutes(31))))
    val (second, third) = rest.partition(_.isBefore(t0.plus(Duration.ofMinutes(81))))
    addFile(dir, first, 0)
    val lastTs = times.max
    val now = lastTs.plus(Duration.ofDays(1))
    val p = pipeline(dir, now, relation = _.read.parquet(dir))
    val ckpt = tmp("graft-windowed-grow-ckpt")
    val sinkDir = tmp("graft-windowed-grow-sink")
    val writer = new ExactlyOnceParquetWriter(sinkDir)
    val grow = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit = {
        writer.write(df, epoch)
        if (epoch == 1) addFile(dir, second, first.size)
      }
    }
    val firstRun = new PipelineRunner(session, ckpt).run(p, grow, maxIterations = 6)
    assert(firstRun.epochsRun == 6)
    assert(firstRun.finalState.to.isBefore(third.min), "the third file must land ahead of the window")
    assert(firstRun.finalState.from.isAfter(first.max), "the first run read the second file")

    addFile(dir, third, first.size + second.size)
    new PipelineRunner(session, ckpt).run(p, writer, maxIterations = 64, stopWhen = (w: Window) => !w.from.isBefore(lastTs))

    val windows = committed(ckpt, p)
    assert(windows == expected(windows.size, now, Duration.ZERO))
    assert(windows.last.from == lastTs)
    val want = fingerprint(spark.read.parquet(dir))
    assert(want._1 == times.size)
    assert(fingerprint(sinkRows(sinkDir)) == want)
    dir
  }

  test("a growing inferred-schema parquet directory: files added between epochs and between runs are read once") {
    growingSource(spark)
  }

  test("a growing parquet directory read through the DSv2 file source is refreshed the same way") {
    val v2 = spark.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    val dir = growingSource(v2)
    assert(v2.read.parquet(dir).queryExecution.analyzed.collectFirst { case r: DataSourceV2Relation => r }.nonEmpty)
  }

  test("the relation resolves once per session; later inferred-schema epochs are one Spark job each") {
    val dir = source()
    val resolves = new AtomicInteger()
    val now = times.max.plus(Duration.ofDays(1))
    val p = pipeline(dir, now, relation = s => { resolves.incrementAndGet(); s.read.parquet(dir) })
    val ckpt = tmp("graft-windowed-resolve")
    val sinkDir = tmp("graft-windowed-resolve-sink")

    new PipelineRunner(spark, ckpt).run(p, new EpochParquetSink(sinkDir), maxIterations = 1)
    assert(resolves.get == 1)
    // a fresh runner on the same pipeline reuses the resolved relation: no
    // schema inference, only the sink write
    val epochs = 9
    val jobs = countJobs(new PipelineRunner(spark, ckpt).run(p, new EpochParquetSink(sinkDir), maxIterations = epochs))
    assert(jobs == epochs, s"$epochs epochs ran $jobs Spark jobs")
    assert(resolves.get == 1)

    new PipelineRunner(spark.newSession(), ckpt).run(p, new EpochParquetSink(sinkDir), maxIterations = 3)
    assert(resolves.get == 2)
    assert(committed(ckpt, p) == expected(1 + epochs + 3, now, Duration.ZERO))
  }

  test("a window whose sink threw is no longer pending once the pipeline pulls again") {
    val dir = source()
    val lastTs = times.max
    val p = pipeline(dir, now = lastTs.plus(Duration.ofDays(1)))
    val ckpt = tmp("graft-windowed-pending")
    var failed: Option[String] = None
    val failing = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit =
        if (epoch == 2) {
          failed = df.queryExecution.logical.collectFirst { case c: CollectMetrics => c.name }
          throw new IllegalStateException("injected sink failure")
        }
    }
    intercept[IllegalStateException](new PipelineRunner(spark, ckpt).run(p, failing, maxIterations = 64))
    val name = failed.getOrElse(fail("the sink saw no observed window"))
    assert(ObservedMax.isPending(name))

    new PipelineRunner(spark, ckpt).run(p, new EpochParquetSink(tmp("graft-windowed-pending-sink")),
      maxIterations = 64, stopWhen = (w: Window) => !w.from.isBefore(lastTs))
    assert(!ObservedMax.isPending(name))
  }
}
