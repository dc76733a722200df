package graft.pipeline

import graft.core.Window
import java.time.{Duration, Instant}
import java.util.{Collections, UUID, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Tumbling time-window state machine — the engine's re-expression of the
  * reference's JDBC windowed source fold
  * (tamer `db/src/main/scala/tamer/db/DbSetup.scala:99-118`, clamp helper
  * `db/src/main/scala/tamer/db/package.scala:38`):
  *
  *  - empty batch      → keep `from`, widen `to` by one step (the window
  *    grows until it finally catches rows — no data is skipped during a
  *    quiet period);
  *  - non-empty batch  → `from = max(ts)` of the batch, `to = from + step`
  *    (rows sharing the max timestamp were all in the batch, so the next
  *    half-open window `(max, max+step]` neither re-reads nor skips);
  *  - both `to` candidates are clamped: a `to` in the future becomes
  *    `now - lag`, holding the window back so late-arriving rows within the
  *    lag horizon are still caught by a later pull.
  */
object TumblingWindow {

  /** `t` if it is not in the future, else `now - lag` (never before `from`,
    * so the window type's `to >= from` invariant holds even when
    * `now - lag` has not yet caught up with the window start).
    */
  def clamp(t: Instant, from: Instant, now: Instant, lag: Duration): Instant = {
    val c = if (t.isAfter(now)) now.minus(lag) else t
    if (c.isBefore(from)) from else c
  }

  /** One fold step. `maxTs` is `None` for an empty batch. */
  def fold(current: Window, maxTs: Option[Instant], step: Duration, lag: Duration, now: Instant): Window =
    maxTs match {
      case None =>
        Window(current.from, clamp(current.to.plus(step), current.from, now, lag))
      case Some(ts) =>
        Window(ts, clamp(ts.plus(step), ts, now, lag))
    }
}

/** `max(tsCol)` as the sink's write of a window observed it.
  *
  * Spark's own `Observation` keeps the metrics of the first execution even
  * when that execution failed part-way, so behind a retrying sink the fold
  * would take a partial max and read rows twice; this registry keeps what the
  * last successful execution observed. Observed metrics reach listeners on
  * the listener bus after the action has returned, so `take` drains the bus
  * before it reports a window as never written.
  */
private object ObservedMax extends QueryExecutionListener {
  private val results = new ConcurrentHashMap[String, Option[Row]]()
  private val sessions = Collections.newSetFromMap(new WeakHashMap[SparkSession, java.lang.Boolean]())

  /** `batch` with `max(tsCol)` observed under a fresh name. `last` holds the
    * name a pipeline observed before; a window whose sink write threw is never
    * taken, so its entry is dropped here, when the pipeline pulls again. */
  def observe(batch: DataFrame, tsCol: String, last: AtomicReference[String]): (String, DataFrame) = {
    val spark = batch.sparkSession
    sessions.synchronized { if (sessions.add(spark)) spark.listenerManager.register(this) }
    val name = "graft_window_max_" + UUID.randomUUID().toString.replace("-", "")
    results.put(name, None)
    Option(last.getAndSet(name)).foreach(results.remove)
    (name, batch.observe(name, max(col(tsCol)).as("max_ts")))
  }

  def isPending(name: String): Boolean = results.containsKey(name)

  /** What the last successful execution of `name` observed; None when none
    * has finished. */
  def take(spark: SparkSession, name: String): Option[Row] = {
    if (results.getOrDefault(name, None).isEmpty) GraftShims.drainListenerBus(spark.sparkContext, 10000L)
    Option(results.remove(name)).flatten
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (!results.isEmpty)
      qe.observedMetrics.foreach { case (n, row) => results.computeIfPresent(n, (_, _) => Some(row)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Incremental windowed pull over any time-stamped relation — the flagship
  * source shape (reference: `DbSetup.tumbling`, its JDBC windowed scan
  * `db/.../DbSetup.scala:35-98`).
  *
  * Spark-first design: `relation` stays a declarative DataFrame — a parquet
  * scan here, `spark.read.jdbc(url, table, props)` against a production
  * database — and each pull appends the window predicate
  * `ts > from AND ts <= to`. Catalyst pushes that predicate into the scan:
  * for JDBC it is shipped in the generated WHERE clause (the exact behavior
  * the reference gets by interpolating the window into user SQL). For
  * parquet it prunes row groups only when their footers carry min/max
  * statistics for `tsCol`, which needs an INT64 `TIMESTAMP_MICROS` or
  * `TIMESTAMP_MILLIS` column; Spark's default INT96 output has none, so every
  * pull over such a file scans all of it.
  *
  * Every window, empty or not, goes to the sink, and the fold reads the
  * window's `max(tsCol)` off that write: the rows written and the rows folded
  * come from one scan, and the iteration runs no job of its own. An empty
  * window is therefore an empty epoch write. Only when no write of the frame
  * finished (an exactly-once sink skipping a committed epoch, or a sink that
  * buffers the lazy frame) does the fold run its own max-aggregate over the
  * window. Data never flows through the driver.
  *
  * Like the reference's fixed query, `relation` is resolved once per session:
  * later pulls bind new window bounds into the same DataFrame, so a parquet
  * relation infers its schema (a Spark job) and a JDBC relation sends its
  * schema probe once, not once per pull.
  */
object WindowedSource {

  /** The reference's flagship source: an incremental tumbling-window pull
    * over a JDBC table (tamer `db/src/main/scala/tamer/db/DbSetup.scala:
    * 35-118`, example `example/.../DatabaseSimple.scala:35-39`). The window
    * predicate is appended to the lazy JDBC relation, so Catalyst ships
    * `tsCol > ? AND tsCol <= ?` inside the generated WHERE clause — exactly
    * the windowed SQL the reference interpolates by hand — and `fetchsize`
    * maps the reference's `fetchChunkSize` (`db/.../config.scala:27`). The
    * relation is resolved once per session (see [[tumbling]]), so the
    * table's schema probe runs once, not once per pull.
    */
  def jdbc(
      name: String,
      url: String,
      table: String,
      tsCol: String,
      from: Instant,
      step: Duration,
      lag: Duration = Duration.ZERO,
      connectionProperties: java.util.Properties = new java.util.Properties(),
      fetchSize: Int = 5000,
      now: () => Instant = () => Instant.now()
  ): GraftPipeline[Window] = {
    val props = new java.util.Properties()
    connectionProperties.stringPropertyNames.forEach(k => props.setProperty(k, connectionProperties.getProperty(k)))
    props.setProperty("fetchsize", fetchSize.toString)
    tumbling(
      name,
      relation = _.read.jdbc(url, table, props),
      tsCol = tsCol,
      from = from,
      step = step,
      lag = lag,
      now = now,
      relationRepr = s"jdbc:$url:$table")
  }

  /** A tumbling-window pipeline over `relation`, starting at the window
    * `(from, from + step]`.
    *
    * @param relation    the source table. It is called on the first pull of a
    *                    session and the DataFrame it returns is reused for
    *                    every later pull in that session; before each reuse
    *                    the file listing of every file-based relation in its
    *                    plan is refreshed, so files that land between pulls
    *                    are read. The schema is fixed at the first pull: to
    *                    pick up a schema change, start a new session or
    *                    pipeline.
    * @param relationRepr stands for `relation` in the pipeline's `repr`, and
    *                    so in its checkpoint identity
    */
  def tumbling(
      name: String,
      relation: SparkSession => DataFrame,
      tsCol: String,
      from: Instant,
      step: Duration,
      lag: Duration = Duration.ZERO,
      now: () => Instant = () => Instant.now(),
      relationRepr: String = ""
  ): GraftPipeline[Window] = {
    val repr = s"windowed:$relationRepr:$tsCol:step=${step.toMillis}ms:lag=${lag.toMillis}ms"
    val resolved = new AtomicReference[(SparkSession, DataFrame)]()
    val lastMetric = new AtomicReference[String]()
    GraftPipeline[Window](
      name,
      initialState = Window(from, from.plus(step)),
      repr = repr,
      iteration = (spark, w) => {
        val rel = resolved.get match {
          case (s, df) if s eq spark => refreshListings(df); df
          case _ => val df = relation(spark); resolved.set((spark, df)); df
        }
        val batch = rel.filter(
          col(tsCol) > lit(java.sql.Timestamp.from(w.from)) &&
            col(tsCol) <= lit(java.sql.Timestamp.from(w.to)))
        // The fold takes max(tsCol) over the rows the sink wrote (reference:
        // results.max over the chunk it emits, DbSetup.scala:113).
        val (metric, observed) = ObservedMax.observe(batch, tsCol, lastMetric)
        Iteration(
          batch = Some(observed),
          nextState = {
            // no write of the frame finished: a replay skip or a buffering sink
            val maxTsRow = ObservedMax.take(spark, metric).getOrElse(batch.agg(max(col(tsCol))).head())
            val maxTs =
              if (maxTsRow.isNullAt(0)) None
              else Some(maxTsRow.getTimestamp(0).toInstant)
            TumblingWindow.fold(w, maxTs, step, lag, now())
          }
        )
      }
    )
  }

  /** Re-lists every file-based relation in `df`'s plan, so files that landed
    * since the previous pull are read. Each file index clears only its own
    * entries of the session's file status cache. */
  private def refreshListings(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
      case r: DataSourceV2Relation => r.table
    }.foreach {
      case fs: HadoopFsRelation => fs.location.refresh()
      case t: FileTable => t.fileIndex.refresh()
      case _ => ()
    }
}
