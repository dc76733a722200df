package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters the Spark listener adds to a span, from the jobs that span
  * launched. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMemBytes = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakTaskMemBytes = math.max(peakTaskMemBytes, o.peakTaskMemBytes)
  }
}

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String, run: String, startNs: Long) {
  @volatile var endNs: Long = 0L
  val spark = new SparkCounters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer and, through
  * a SparkListener, attributes every Spark job to the innermost span open
  * on the thread that launched it (the span id travels as a job local
  * property). Spans stay in memory until [[export]].
  *
  * A disabled tracer runs each body bare: no span, no listener.
  */
final class Tracer(sc: SparkContext, runId: String) {
  private val SpanKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private val stageToSpan = mutable.HashMap.empty[Int, Span]
  private val current = new ThreadLocal[Span]
  @volatile private var enabledFlag = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      Tracer.this.synchronized {
        id.flatMap(byId.get).foreach { s =>
          s.spark.jobs += 1
          s.spark.stages += e.stageIds.size
          e.stageIds.foreach(stageToSpan(_) = s)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stageToSpan.get(e.stageId).foreach { s =>
          val c = s.spark
          c.tasks += 1
          c.executorRunMs += m.executorRunTime
          c.executorCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakTaskMemBytes = math.max(c.peakTaskMemBytes, m.peakExecutionMemory)
        }
      }
    }
  }

  def enabled: Boolean = enabledFlag

  /** Turn tracing on or off between cycles; the listener is attached only
    * while tracing is on, so untraced cycles pay nothing for it. */
  def setEnabled(on: Boolean): Unit = if (on != enabledFlag) {
    if (on) sc.addSparkListener(listener) else { drain(); sc.removeSparkListener(listener) }
    enabledFlag = on
  }

  def drain(): Unit = if (enabledFlag) org.apache.spark.BenchShims.drainListenerBus(sc)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabledFlag) body
    else {
      val up = Option(current.get)
      val s = synchronized {
        val sp = Span(spans.size + 1, up.map(_.id).getOrElse(0), name, layer, runId, System.nanoTime())
        spans += sp; byId(sp.id) = sp; sp
      }
      val prevProp = sc.getLocalProperty(SpanKey)
      val prev = current.get
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(prev)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Wall time of a span not covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
    math.max(0.0, s.seconds - kids.map(_.seconds).sum)
  }

  def selfByLayer: Map[String, Double] =
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  def sparkTotal: SparkCounters = {
    val t = new SparkCounters
    all.foreach(s => t.add(s.spark))
    t
  }

  /** Spans as JSON lines: name, layer, run, ids, times and Spark counters. */
  def export(path: java.nio.file.Path): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val c = s.spark
      Json.write(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "run" -> s.run,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> selfSeconds(s),
        "spark" -> Json.obj(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "executor_run_s" -> c.executorRunMs / 1e3, "executor_cpu_s" -> c.executorCpuNs / 1e9,
          "gc_s" -> c.gcMs / 1e3, "shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
          "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6,
          "peak_task_mem_mb" -> c.peakTaskMemBytes / 1e6)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
