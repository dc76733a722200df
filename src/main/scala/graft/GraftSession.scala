package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's recommended scale-oriented conf.
  *
  * These settings are chosen for cluster execution and only *tested* on
  * local[32]:
  *  - AQE on (default in Spark 4) with skew-join handling: at 100 TB the
  *    static plan is always wrong somewhere; AQE re-plans shuffle partition
  *    counts and splits skewed partitions at runtime.
  *  - `autoBroadcastJoinThreshold` left at default (10 MB): dimension tables
  *    (region/nation/supplier/part at any SF a dimension stays a dimension)
  *    broadcast; fact-fact joins shuffle on their keys.
  *  - shuffle partitions default to the local core count here; on a real
  *    cluster this should be ~2-3x total executor cores — AQE coalesces
  *    down so erring high is safe.
  *  - `fs.file.impl` is [[graft.core.LocalFileSystem]]. Without the native
  *    `libhadoop`, Hadoop's local filesystem forks a `chmod` process (about
  *    3 ms) for every file and directory it creates: 13 per pipeline epoch,
  *    2 per runner start. graft's class sets the same permissions in process, and
  *    its create-without-overwrite is exclusive, which the pipeline runner's
  *    lock needs. Hadoop caches one `file:` FileSystem per JVM and user,
  *    built from the conf of the first lookup. A deployment that builds its
  *    own session must therefore set
  *    `spark.hadoop.fs.file.impl=graft.core.LocalFileSystem` before anything
  *    in the JVM creates a `file:` FileSystem.
  *  - `fs.AbstractFileSystem.file.impl` is [[graft.core.LocalFs]], the same
  *    filesystem behind Hadoop's `FileContext`. Structured Streaming writes
  *    its checkpoints (offsets, commits, file source and sink logs) through
  *    `FileContext`, where Hadoop's `LocalFs` forks `chmod` for each file and
  *    `.crc` and `readlink` twice per rename: 593 processes in one
  *    `query_mix` pass of the repository's benchmark. `FileContext` builds
  *    its filesystem from the conf it is given each time, so this key needs
  *    no ordering.
  */
object GraftSession {
  def builder(appName: String, master: Option[String] = None): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // The in-memory status store retains per-job/stage/task/SQL-execution
      // state even with the UI off (it backs the REST/status APIs), at
      // defaults of 1000 jobs / 1000 stages / 100k tasks / 1000 SQL
      // executions — each SQL execution pinning its full SparkPlanGraph
      // string. A 201-query suite (2-3 runs each, plus AQE sub-executions)
      // accumulates hundreds of MB of strongly-referenced history that
      // System.gc() can never reclaim: measured as the residual in-suite
      // vs isolated drift at 201-query scale (SURVEY §8.0). A long-lived
      // production driver wants the same caps for the same reason.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "10")
      .config("spark.sql.ui.retainedExecutions", "8")
      // events.ts is TIMESTAMP(NANOS) parquet; Spark 4 only maps it with this
      // legacy conf. Set once at session build (a loader mutating session conf
      // as a side effect silently changes other reads).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // MinHash signatures are 128-column aggregates; the default
      // codegen.maxFields=100 would silently drop such stages out of
      // whole-stage codegen into interpreted row processing.
      .config("spark.sql.codegen.maxFields", "256")
      // InferFiltersFromGenerate copies the generator's input expression into
      // a `size(e) > 0 AND isnotnull(e)` filter that predicate pushdown then
      // substitutes all the way to the scan. For explodes over CONSTRUCTED
      // arrays (shingles, LSH band hashes, token splits — every explode in
      // this engine, none of which can be empty) that evaluates an expensive
      // expression 2 extra times per row below its projection — measured 10x
      // on the MinHash stage. The rule only helps when exploding STORED
      // columns with many empty arrays, which we never do.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // native graft expressions (graft_dot, ...) available to pure SQL in
      // every session this factory builds — same hook a deployment sets via
      // --conf spark.sql.extensions=graft.GraftExtensions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // in-process chmod and exclusive create for `file:` paths (see above)
      .config("spark.hadoop.fs.file.impl", classOf[graft.core.LocalFileSystem].getName)
      // the same for Structured Streaming's checkpoints (see above)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.core.LocalFs].getName)
    master.orElse(sys.env.get("SPARK_GRAFT_MASTER").orElse(Some(s"local[$cpus]")))
      .foldLeft(b)(_ master _)
  }

  def local(appName: String): SparkSession = {
    val s = builder(appName)
      // harness sessions park saveAsTable output (bucketed-layout queries)
      // in a temp warehouse instead of littering the launch cwd; a real
      // deployment sets its own durable warehouse/catalog
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
