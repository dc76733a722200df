package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Batch-id-idempotent writer for `foreachBatch` — the Spark-native parity
  * of the reference's single Kafka transaction around data + state + offset
  * (tamer `core/src/main/scala/tamer/Tamer.scala:150-186`).
  *
  * Structured Streaming guarantees `foreachBatch` is called with a
  * monotonically-identified `batchId` and replays the *same* id after a
  * failure before checkpoint commit. Exactly-once therefore reduces to: make
  * the (data-write, batchId) pair idempotent and record completion
  * atomically —
  *   1. a replayed id that is already committed is skipped entirely;
  *   2. a replayed id that crashed mid-write overwrites its own output
  *      directory (`batch=N`), leaving no partial duplicates;
  *   3. the commit marker is created by atomic rename, so a marker implies
  *      complete data.
  *
  * Spark's commit of `batch=N` and step 3 both rename into place, which is
  * atomic on HDFS and on the local filesystem. On S3A a rename is a copy and
  * then a delete, file by file: a crash inside Spark's job commit leaves
  * part of `batch=N` visible without a marker. A replay overwrites it, but a
  * reader that lists `batch=*` without checking markers sees it.
  *
  * Usage: `df.writeStream.foreachBatch(writer.write _).start()` — or as the
  * [[graft.pipeline.BatchSink]] of a [[graft.pipeline.PipelineRunner]].
  */
final class ExactlyOnceParquetWriter(dataPath: String) extends graft.pipeline.BatchSink {

  private def fs(p: Path, conf: org.apache.hadoop.conf.Configuration): FileSystem = p.getFileSystem(conf)
  private def commitsDir = new Path(s"$dataPath/_graft_commits")
  private def marker(batchId: Long) = new Path(commitsDir, f"batch-$batchId%020d")

  def isCommitted(df: DataFrame, batchId: Long): Boolean = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    fs(commitsDir, conf).exists(marker(batchId))
  }

  def write(df: DataFrame, batchId: Long): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val filesystem = fs(commitsDir, conf)
    if (filesystem.exists(marker(batchId))) return // replayed, already done
    df.write.mode("overwrite").parquet(s"$dataPath/batch=$batchId")
    if (!filesystem.exists(commitsDir)) filesystem.mkdirs(commitsDir)
    val tmp = new Path(commitsDir, f".tmp-batch-$batchId%020d")
    val out = filesystem.create(tmp, true)
    try out.write(Array[Byte]())
    finally out.close()
    if (!filesystem.rename(tmp, marker(batchId)))
      throw graft.core.GraftError(s"failed to commit batch $batchId (rename failed)")
  }
}
