package graftbench

import graft.core.Window
import graft.pipeline.{BatchSink, GraftPipeline, Iteration, PipelineRunner, WindowedSource}
import graft.serde.ConfluentAvroFrames
import graft.sinks.{ExactlyOnceParquetWriter, KafkaSinkFormat}
import java.nio.file.{Files, Paths}
import java.time.{Duration, Instant}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Shared shape of an event on the wire: a flat Avro record with the
  * timestamp as epoch microseconds. */
object EventWire {
  val Topic = "events"
  val SchemaJson: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_id","type":"long"},{"name":"ts_us","type":"long"},
      |{"name":"user_id","type":"long"},{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},{"name":"props","type":"string"}]}""".stripMargin

  /** Row count, distinct ids and an order-free content checksum. */
  def fingerprint(df: DataFrame): (Long, Long, BigDecimal) = {
    val r = df.agg(
      count(lit(1)), countDistinct(col("event_id")),
      coalesce(sum(xxhash64(col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
        col("value"), col("props")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }
}

/** `ingest_epochs`: tamer's own loop. A [[PipelineRunner]] walks
  * [[WindowedSource.tumbling]] over ts-ordered parquet in epochs of about
  * 500 rows; each batch is framed as Confluent Avro, shaped into the Kafka
  * sink columns and written by [[ExactlyOnceParquetWriter]]. Each cycle
  * drains a fixed slice of the table, stops part-way and resumes with a
  * fresh runner on the same checkpoint. The seed draws the window phase
  * and the stop epoch. */
final class IngestEpochs(ctx: Ctx) extends Workload {
  import EventWire._

  private val spark: SparkSession = ctx.spark
  private val rowsPerEpoch = 500
  private val epochsPerDrain = if (ctx.args.smoke) 6 else 10
  private val resumes = 5
  private val warmDrains = if (ctx.args.smoke) 1 else 2
  private var staged: String = ""
  private var tsUs: Array[Long] = Array.empty
  private val phase = ctx.rng.nextDouble()

  // per traced cycle
  private val iterS = mutable.ArrayBuffer.empty[Double]
  private val commitS = mutable.ArrayBuffer.empty[Double]
  private val sinkS = mutable.ArrayBuffer.empty[Double]
  private var epochs, emptyEpochs, commitFiles, writes, sinkRows, sinkBytes, replaysSkipped = 0L
  private val decideS = mutable.ArrayBuffer.empty[Double]

  def stage(dir: String): Unit = {
    // Native TIMESTAMP column, sorted, small row groups: the window
    // predicate prunes row groups instead of decoding a derived column.
    graft.Tables.events(spark, ctx.data)
      .repartition(1).sortWithinPartitions(col("ts"))
      .write.option("parquet.block.size", 256 * 1024).parquet(dir)
    staged = dir
    tsUs = spark.read.parquet(dir).select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
  }

  /** Drains on their own slices: JIT, codegen and file caches. The epoch
    * cost keeps falling for the first few drains of a fresh JVM; timed
    * cycles start once it has mostly settled. */
  def warmUp(): Unit = (1 to warmDrains).foreach(i => runCycle(-i, epochsPerDrain))

  def cycle(k: Int): Unit = runCycle(k, epochsPerDrain)
  def cycleSeconds: Double = 5.0

  private def instant(us: Long): Instant = Instant.EPOCH.plusNanos(us * 1000L)

  /** Epoch boundaries seen from outside the runner. */
  private final class Clock {
    val iterStart = mutable.ArrayBuffer.empty[Long]
    val iterEnd = mutable.ArrayBuffer.empty[Long]
    val sinkNs = mutable.HashMap.empty[Int, Long]
    val windows = mutable.HashMap.empty[Int, Window]
    var empty = 0
  }

  private final class FramedSink(writer: ExactlyOnceParquetWriter, clock: Clock, fault: Boolean)
      extends BatchSink {
    private var faulted = false
    def frame(df: DataFrame): DataFrame = {
      val framed = ConfluentAvroFrames.serializeAppend(
        df.withColumn("ts_us", unix_micros(col("ts"))), Topic, isKey = false, SchemaJson)
      KafkaSinkFormat.fromColumns(
        framed.withColumn("key_s", col("event_id").cast("string")), "key_s", "wire", Some("ts"))
    }
    def write(df: DataFrame, epoch: Long): Unit = ctx.span("sinks.write", "sinks") {
      val t = System.nanoTime()
      writer.write(frame(df), epoch)
      // planted fault for the self-test: one batch lands twice
      if (fault && !faulted) { writer.write(frame(df), epoch + 1000000L); faulted = true }
      clock.sinkNs(clock.iterStart.size - 1) = System.nanoTime() - t
    }
  }

  private def runCycle(k: Int, drainEpochs: Int): Unit = {
    val r = new scala.util.Random(ctx.args.seed * 7919 + k)
    val n = tsUs.length
    val spanUs = tsUs.last - tsUs.head
    val stepUs = math.max(1L, spanUs / n * rowsPerEpoch)
    val sliceUs = stepUs * drainEpochs
    val room = math.max(1L, spanUs - sliceUs - 1)
    val startUs = tsUs.head + ((phase * room).toLong + (k + warmDrains).toLong * sliceUs) % room
    val endUs = startUs + sliceUs
    val lo = java.util.Arrays.binarySearch(tsUs, startUs) match { case i if i >= 0 => lastIdx(i) + 1; case i => -i - 1 }
    val hi = java.util.Arrays.binarySearch(tsUs, endUs) match { case i if i >= 0 => lastIdx(i) + 1; case i => -i - 1 }
    require(hi > lo, s"empty slice ($startUs, $endUs]")
    val lastTs = instant(tsUs(hi - 1))
    val stops = Seq.fill(resumes)(1 + r.nextInt(math.max(1, drainEpochs - 2))).sorted :+ Int.MaxValue
    val resumeS = mutable.ArrayBuffer.empty[Double]
    val endTs = java.sql.Timestamp.from(instant(endUs))

    val dir = s"${ctx.work}/epochs-$k"
    val ckpt = s"$dir/ckpt"
    val sinkDir = s"$dir/sink"
    val clock = new Clock
    val stagedDir = staged
    val base = WindowedSource.tumbling(
      "bench-epochs",
      relation = s => s.read.parquet(stagedDir).filter(col("ts") <= lit(endTs)),
      tsCol = "ts",
      from = instant(startUs),
      step = Duration.ofNanos(stepUs * 1000L),
      relationRepr = s"$stagedDir<=$endUs")
    val p: GraftPipeline[Window] = base.copy(iteration = (s: SparkSession, w: Window) => {
      clock.iterStart += System.nanoTime()
      val it: Iteration[Window] = ctx.span("pipeline.iteration", "pipeline")(base.iteration(s, w))
      clock.iterEnd += System.nanoTime()
      if (it.batch.isEmpty) clock.empty += 1 else clock.windows(clock.iterStart.size - 1) = w
      it
    })(base.codec, base.hashable)
    val done = (w: Window) => !w.from.isBefore(lastTs)
    val sink = new FramedSink(new ExactlyOnceParquetWriter(sinkDir), clock, ctx.args.fault && k >= 0)

    def run(runner: PipelineRunner, max: Int): Long = {
      val before = clock.iterStart.size
      ctx.span("pipeline.run", "pipeline")(runner.run(p, sink, maxIterations = max, stopWhen = done))
      val end = System.nanoTime()
      (before until clock.iterStart.size).foreach { i =>
        val next = if (i + 1 < clock.iterStart.size) clock.iterStart(i + 1) else end
        val wall = (next - clock.iterStart(i)) / 1e9
        val it = (clock.iterEnd(i) - clock.iterStart(i)) / 1e9
        val sk = clock.sinkNs.getOrElse(i, 0L) / 1e9
        ctx.ops += wall
        ctx.attempted += 1
        if (ctx.traced) {
          iterS += it; commitS += wall - it - sk
          if (clock.sinkNs.contains(i)) sinkS += sk
        }
      }
      end
    }

    // The drain stops at `resumes` seeded epochs; each time a fresh runner
    // resumes on the same checkpoint.
    var ran = 0
    stops.foreach { stop =>
      val runner = new PipelineRunner(spark, ckpt)
      val resumed = ran > 0
      if (resumed && ctx.traced) {
        val t = System.nanoTime()
        ctx.span("pipeline.decide", "pipeline")(runner.decide(p))
        decideS += Main.secondsSince(t)
      }
      val first = clock.iterStart.size
      val t0 = System.nanoTime()
      run(runner, if (stop == Int.MaxValue) Int.MaxValue else math.max(1, stop - ran))
      if (resumed && clock.iterStart.size > first)
        resumeS += (clock.iterStart(first) - t0) / 1e9
      ran = clock.iterStart.size
    }

    // Gate: decoded sink rows equal the source slice, no duplicate ids.
    val out = ConfluentAvroFrames.deserialize(
      spark.read.parquet(sinkDir).select(col("value").as("wire")), "wire", Topic, isKey = false, SchemaJson)
    val got = ctx.span("check.sink", "bench")(fingerprint(out))
    val want = fingerprint(spark.read.parquet(stagedDir)
      .filter(col("ts") > lit(java.sql.Timestamp.from(instant(startUs))) && col("ts") <= lit(endTs))
      .withColumn("ts_us", unix_micros(col("ts"))))
    ctx.gate(s"ingest_epochs cycle $k rows", got == want && got._1 == got._2 && got._1 == hi - lo,
      s"sink (rows, distinct ids, checksum) $got, source $want, expected rows ${hi - lo}")

    // Gate: replaying a committed epoch is skipped and leaves its files alone.
    val nonEmpty = clock.windows.keys.toSeq.sorted
    val e = nonEmpty(r.nextInt(nonEmpty.size))
    val w = clock.windows(e)
    val batchDir = Paths.get(sinkDir, s"batch=$e")
    def files = { val s = Files.list(batchDir); try s.toArray.map(_.toString).toSet finally s.close() }
    val before = files
    sink.write(spark.read.parquet(stagedDir)
      .filter(col("ts") > lit(java.sql.Timestamp.from(w.from)) && col("ts") <= lit(java.sql.Timestamp.from(w.to))
        && col("ts") <= lit(endTs)), e.toLong)
    val skipped = files == before
    ctx.gate(s"ingest_epochs cycle $k replay", skipped, s"replayed epoch $e rewrote ${batchDir}")

    val ckptBytes = Main.dirBytes(ckpt) + Main.dirBytes(s"$sinkDir/_graft_commits")
    if (k >= 0) ctx.sample("checkpoint_bytes", ckptBytes.toDouble)
    if (resumeS.nonEmpty) ctx.sample("resume_s", Main.median(resumeS.toSeq))
    if (ctx.traced) {
      epochs += clock.iterStart.size
      emptyEpochs += clock.empty
      writes += clock.sinkNs.size + 1
      sinkRows += got._1
      sinkBytes += Main.dirBytes(sinkDir)
      if (skipped) replaysSkipped += 1
      val st = Files.walk(Paths.get(ckpt))
      try commitFiles += st.filter(_.getFileName.toString.startsWith("epoch-")).count()
      finally st.close()
    }
  }

  private def lastIdx(i: Int): Int = { var j = i; while (j + 1 < tsUs.length && tsUs(j + 1) == tsUs(i)) j += 1; j }

  def endToEnd(): Map[String, Double] = Map(
    "resume_s" -> Main.median(ctx.values("resume_s")),
    "checkpoint_bytes" -> Main.median(ctx.values("checkpoint_bytes")))

  def perLayer(): Map[String, Double] = {
    val serde = Micro.serde(spark, ctx.data, ctx.args.seed, if (ctx.args.smoke) 2000 else 20000)
    Map(
      "pipeline.epochs" -> epochs.toDouble,
      "pipeline.iteration_s" -> Main.median(iterS.toSeq),
      "pipeline.commit_s" -> Main.median(commitS.toSeq),
      "pipeline.decide_s" -> Main.median(decideS.toSeq),
      "pipeline.empty_epochs" -> emptyEpochs.toDouble,
      "pipeline.useful_epoch_ratio" -> (if (epochs > 0) (epochs - emptyEpochs).toDouble / epochs else 0.0),
      "pipeline.commit_files" -> commitFiles.toDouble,
      "sinks.writes" -> writes.toDouble,
      "sinks.write_s" -> Main.median(sinkS.toSeq),
      "sinks.rows" -> sinkRows.toDouble,
      "sinks.bytes" -> sinkBytes.toDouble,
      "sinks.replays_skipped" -> replaysSkipped.toDouble,
      "serde.encode_us_per_rec" -> serde._1,
      "serde.decode_us_per_rec" -> serde._2)
  }
}
