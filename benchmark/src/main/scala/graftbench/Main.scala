package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    out: String,
    cores: Int,
    smoke: Boolean,
    fault: Boolean,
    spawnMs: Long)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("work"), req("out"), req("cores").toInt,
      m.get("smoke").contains("1"), m.get("fault").contains("1"), req("spawn-ms").toLong)
  }
}

/** State shared by a workload and the driver loop in [[Main]]. */
final class Ctx(val args: Args, var spark: SparkSession, val tracer: Tracer) {
  val rng = new scala.util.Random(args.seed)
  val work: String = args.work
  val data: String = args.data
  /** Unit-operation latencies (epoch, micro-batch or query), seconds. */
  val ops = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Sample lists behind the metrics a workload reports itself. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Extra lines for the report (not metrics). */
  val notes = mutable.LinkedHashMap.empty[String, Any]

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def values(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Records a correctness gate; a failed gate counts as a failed operation. */
  def gate(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      notes.getOrElseUpdate("gate_failures", mutable.ArrayBuffer.empty[String])
        .asInstanceOf[mutable.ArrayBuffer[String]] += s"$name: $detail"
      System.err.println(s"[bench] gate failed: $name: $detail")
    }
  }

  def traced: Boolean = tracer.enabled
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
}

/** One workload: fixture staging, warm-up and one timed cycle. Each cycle
  * drains a fixed backlog (or runs one pass of the query list) closed-loop:
  * the next operation starts only after the previous one committed. */
trait Workload {
  /** Stage the fixtures into `dir`; timed as set-up. */
  def stage(dir: String): Unit
  /** Untimed-by-the-run warm-up (counted in set-up): JIT, codegen, caches. */
  def warmUp(): Unit
  /** One timed cycle; `k` numbers the cycle within the run. */
  def cycle(k: Int): Unit
  /** About how long one cycle takes on four cores; a run does
    * ceil(seconds / cycleSeconds) cycles, so the same `--seconds` always
    * gives the same work. */
  def cycleSeconds: Double
  /** End-to-end metrics this workload measures itself (`resume_s`,
    * `checkpoint_bytes`), from the untimed end of the run. */
  def endToEnd(): Map[String, Double]
  /** Per-layer metrics from the traced cycles. */
  def perLayer(): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  val Stages = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Harrell-Davis estimate of the `p` quantile: a Beta-weighted mean of
    * all order statistics. A latency percentile over a few dozen unlike
    * operations (19 queries in `query_mix`) otherwise jumps between
    * neighbouring samples from run to run; this estimate moves less. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0
        else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  /** Highest percentile (whole number) with at least `beyond` samples
    * above it, and its [[quantile]] estimate; the maximum when there are
    * too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val n = xs.size
    if (n <= beyond) (100, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val p = (n - beyond).toDouble / n
      (math.floor(100.0 * p).toInt, quantile(xs, p))
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(args: Args): SparkSession = {
    val s = graft.GraftSession.builder("graft-bench", master = Some(s"local[${args.cores}]"))
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = session(args)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}")
    val ctx = new Ctx(args, spark, tracer)
    val w: Workload = args.workload match {
      case "ingest_epochs"  => new IngestEpochs(ctx)
      case "query_mix"      => new QueryMix(ctx)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var aborted: Option[String] = None
    try {
      val stageS = (1 to Stages).map { i =>
        val t = System.nanoTime(); w.stage(s"${args.work}/stage-$i"); secondsSince(t)
      }
      val tw = System.nanoTime()
      w.warmUp()
      val warmS = secondsSince(tw)
      // the warm-up's operations are not part of the timed phase
      ctx.ops.clear(); ctx.samples.clear(); ctx.attempted = 0; ctx.failed = 0
      val setupS = (sessionReadyMs - args.spawnMs) / 1e3 + median(stageS) + warmS
      ctx.notes("setup_parts") = Json.obj(
        "jvm_and_session_s" -> (sessionReadyMs - args.spawnMs) / 1e3,
        "stage_s" -> stageS, "warm_up_s" -> warmS)

      // Timed phase: a fixed number of whole cycles for the run's seconds.
      // A traced run alternates untraced and traced cycles, at least
      // three, so the tracing overhead is measured within the run on the
      // same inputs; the first cycle, slower while the JIT still compiles,
      // is left out of that comparison.
      val walls = mutable.ArrayBuffer.empty[(Double, Boolean)]
      val cycles = math.max(if (args.trace) 3 else 1, math.ceil(args.seconds / w.cycleSeconds).toInt)
      var k = 0
      while (aborted.isEmpty && k < cycles) {
        val traced = args.trace && k % 2 == 1
        tracer.setEnabled(traced)
        val t = System.nanoTime()
        try tracer.span(s"cycle-$k", "bench")(w.cycle(k))
        catch {
          case scala.util.control.NonFatal(e) =>
            ctx.attempted += 1; ctx.failed += 1
            aborted = Some(s"cycle $k: ${e.getClass.getName}: ${e.getMessage}")
            e.printStackTrace()
        }
        walls += ((secondsSince(t), traced))
        k += 1
      }
      tracer.drain()
      tracer.setEnabled(false)
      val heapMb = heapRetainedMb()
      val untracedWalls = walls.filterNot(_._2).map(_._1).toSeq
      val tracedWalls = walls.filter(_._2).map(_._1).toSeq
      val (tailPct, tailV) = tail(ctx.ops.toSeq)
      if (!args.trace) {
        val e2e = w.endToEnd()
        metrics("setup_s") = (setupS, "s")
        metrics("run_s") = (median(untracedWalls), "s")
        metrics("op_p50_s") = (quantile(ctx.ops.toSeq, 0.5), "s")
        metrics("op_tail_s") = (tailV, "s")
        metrics("resume_s") = (e2e("resume_s"), "s")
        metrics("heap_retained_mb") = (heapMb, "MB")
        metrics("checkpoint_bytes") = (e2e("checkpoint_bytes"), "bytes")
      } else {
        val layer = w.perLayer()
        val sparkT = tracer.sparkTotal
        val tracedWall = tracedWalls.sum
        layer.foreach { case (n, v) => metrics(n) = (v, unitOf(n)) }
        metrics("spark.jobs") = (sparkT.jobs.toDouble, "count")
        metrics("spark.stages") = (sparkT.stages.toDouble, "count")
        metrics("spark.tasks") = (sparkT.tasks.toDouble, "count")
        metrics("spark.executor_run_s") = (sparkT.executorRunMs / 1e3, "s")
        metrics("spark.executor_cpu_s") = (sparkT.executorCpuNs / 1e9, "s")
        metrics("spark.gc_s") = (sparkT.gcMs / 1e3, "s")
        metrics("spark.shuffle_read_mb") = (sparkT.shuffleReadBytes / 1e6, "MB")
        metrics("spark.shuffle_write_mb") = (sparkT.shuffleWriteBytes / 1e6, "MB")
        metrics("spark.spill_mb") = (sparkT.spillBytes / 1e6, "MB")
        metrics("spark.peak_task_mem_mb") = (sparkT.peakTaskMemBytes / 1e6, "MB")
        metrics("spark.wall_over_executor") =
          (if (sparkT.executorRunMs > 0) tracedWall * args.cores / (sparkT.executorRunMs / 1e3) else 0.0, "ratio")
        val self = tracer.selfByLayer
        Seq("pipeline", "sinks", "queries").foreach { l =>
          metrics(s"$l.self_s") = (self.getOrElse(l, 0.0), "s")
        }
        val settled = walls.drop(1).filterNot(_._2).map(_._1).toSeq
        metrics("trace.overhead_pct") =
          (if (settled.nonEmpty && tracedWalls.nonEmpty)
             100.0 * (median(tracedWalls) / median(settled) - 1.0) else 0.0, "%")
        tracer.export(Paths.get(args.work, "trace.jsonl"))
      }
      ctx.notes("cycles") = walls.map { case (s, t) => Json.obj("wall_s" -> s, "traced" -> t) }
      ctx.notes("op_tail") = Json.obj("percentile" -> tailPct, "samples" -> ctx.ops.size)
      ctx.notes("error_rate") = if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 0.0
    } catch {
      case scala.util.control.NonFatal(e) =>
        aborted = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      try w.close() catch { case scala.util.control.NonFatal(e) => e.printStackTrace() }
    }
    val sc = ctx.spark.sparkContext
    result("correct") = aborted.isEmpty && ctx.failed == 0
    result("attempted") = math.max(1L, ctx.attempted)
    result("failed") = if (aborted.isDefined) math.max(1L, ctx.failed) else ctx.failed
    result("metrics") = metrics.map { case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }
    result("env") = Json.obj(
      "master" -> sc.master,
      "effective_cores" -> effectiveCores(sc.master),
      "shuffle_partitions" -> ctx.spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_version" -> ctx.spark.version)
    result("notes") = ctx.notes.toMap
    aborted.foreach(a => result("aborted") = a)
    Files.writeString(Paths.get(args.out), Json.write(result) + "\n")
    ctx.spark.stop()
  }

  /** Core count the engine actually runs on, from the resolved master. */
  def effectiveCores(master: String): Int = {
    val n = """local\[(\d+|\*)(,\d+)?\]""".r
    master match {
      case "local"   => 1
      case n("*", _) => Runtime.getRuntime.availableProcessors
      case n(c, _)   => c.toInt
      case _         => -1
    }
  }

  def unitOf(name: String): String =
    if (name.endsWith("_us_per_rec")) "us"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("mb_per_s")) "MB/s"
    else if (name.endsWith("_ratio")) "ratio"
    else if (name.endsWith(".bytes")) "bytes"
    else "count"
}
