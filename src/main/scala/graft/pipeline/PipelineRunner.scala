package graft.pipeline

import graft.core.GraftError
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** What the runner found in the checkpoint at startup — the engine's
  * re-expression of the reference's `StartupDecision`
  * (tamer `core/src/main/scala/tamer/Tamer.scala:108-148`):
  *
  *  - empty/no commit log        → Initialize (reference: state-topic group
  *    never consumed → produce the initial state);
  *  - readable commit log        → Resume from the last committed state;
  *  - commit log present but the latest entry is unreadable/corrupt → Stuck:
  *    refuse to run rather than silently re-ingest or skip (reference:
  *    "Tamer is stuck, it will not proceed unless state is restored
  *    manually", `Tamer.scala:121`).
  */
sealed trait StartupDecision[+SV]
object StartupDecision {
  case object Initialize extends StartupDecision[Nothing]
  final case class Resume[SV](state: SV, nextEpoch: Long) extends StartupDecision[SV]
  final case class Stuck(reason: String) extends StartupDecision[Nothing]
}

/** Where a pipeline's batches land. Implementations MUST be idempotent per
  * epoch: the runner writes data *before* committing state, so a crash
  * between the two replays the epoch on restart. Idempotent-write +
  * commit-marker is the Spark-native equivalent of the reference's single
  * Kafka transaction around data + state + offset
  * (tamer `Tamer.scala:156-178`); see also `foreachBatch` batchId semantics.
  *
  * A source may fold its next state from metrics observed on `df` while the
  * sink writes it ([[WindowedSource.tumbling]] folds `max(ts)` that way). The
  * last successful action a sink runs on `df` therefore must read all of its
  * rows: no `isEmpty`, `head` or `limit` probe after the write. A sink that
  * only keeps the lazy frame, or skips an epoch it already committed, is
  * fine: the source then folds from a scan of its own.
  */
trait BatchSink extends Serializable {
  def write(df: DataFrame, epoch: Long): Unit
}

/** Epoch-partitioned parquet sink: replaying an epoch overwrites its own
  * directory, making the write idempotent. The `epoch=N` layout doubles as a
  * partition column for downstream readers.
  */
final class EpochParquetSink(path: String) extends BatchSink {
  def write(df: DataFrame, epoch: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/epoch=$epoch")
}

final case class RunResult[SV](
    decision: StartupDecision[SV],
    visited: Seq[SV],
    finalState: SV,
    epochsRun: Long
)

/** Checkpointed, resumable run loop — the engine's `runLoop`
  * (ref: tamer `Tamer.scala:329-335,150-186`), expressed over a durable
  * commit log instead of a compacted Kafka topic.
  *
  * Per epoch N with state S_N:
  *   1. `iteration(S_N)` returns the (lazy) batch and the folded `S_{N+1}`,
  *      which is read only after step 2;
  *   2. the sink writes the batch keyed by N (idempotent);
  *   3. `commits/epoch-N` is created atomically (temp file + rename)
  *      containing `S_{N+1}`.
  * A crash between 2 and 3 replays epoch N from S_N on restart; because the
  * sink is idempotent per epoch, downstream observes each record exactly
  * once — the same guarantee the reference gets from its Kafka transaction.
  *
  * The commit log lives on whatever Hadoop filesystem the path points at,
  * and only ever holds the encoded state — bytes proportional to the
  * cursor, never to the data. The guarantee needs two things of that
  * filesystem: an atomic rename (step 3) and an exclusive
  * create-without-overwrite (the single-writer lock). HDFS has both, and so
  * does the local filesystem of a [[graft.GraftSession]]
  * ([[graft.core.LocalFileSystem]]; Hadoop's own local `create` is not
  * exclusive). S3A has neither: a
  * rename there is a copy and then a delete, and create-without-overwrite
  * checks for the object that only appears when the writer closes it, so
  * two runners can both take the lock and interleave commits.
  */
final class PipelineRunner(spark: SparkSession, checkpointRoot: String) {

  /** Checkpoint identity of a pipeline: the stable state key + the group
    * (pipeline name) — the same pair the reference keys its compacted state
    * topic with (`StateKey(stateKey, groupId)`, tamer `Tamer.scala:56,103`).
    */
  def stateKeyOf[SV](p: GraftPipeline[SV]): graft.core.StateKey =
    graft.core.StateKey(p.stateKey, p.name)

  private def commitsDir[SV](p: GraftPipeline[SV]): Path = {
    val key = stateKeyOf(p)
    new Path(s"$checkpointRoot/${key.groupId}-${key.stateKey}/commits")
  }

  private def fs(path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val EpochFile = """epoch-(\d{20})""".r

  /** Inspect the commit log and decide how to start. */
  def decide[SV](p: GraftPipeline[SV]): StartupDecision[SV] = {
    val dir = commitsDir(p)
    val filesystem = fs(dir)
    if (!filesystem.exists(dir)) return StartupDecision.Initialize
    val epochs = filesystem
      .listStatus(dir)
      .iterator
      .map(_.getPath.getName)
      .collect { case EpochFile(n) => n.toLong }
      .toSeq
      .sorted
    if (epochs.isEmpty) return StartupDecision.Initialize
    val latest = epochs.last
    val file = new Path(dir, f"epoch-$latest%020d")
    try {
      val in = filesystem.open(file)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      StartupDecision.Resume(p.codec.decode(content.trim), latest + 1)
    } catch {
      case e: Exception =>
        StartupDecision.Stuck(
          s"pipeline ${p.name} is stuck: commit log at $dir has epoch $latest but its state is unreadable " +
            s"(${e.getMessage}); it will not proceed unless state is restored manually")
    }
  }

  private def commit[SV](p: GraftPipeline[SV], epoch: Long, state: SV): Unit = {
    val dir = commitsDir(p)
    val filesystem = fs(dir)
    if (!filesystem.exists(dir)) filesystem.mkdirs(dir)
    val tmp = new Path(dir, f".tmp-epoch-$epoch%020d")
    val out = filesystem.create(tmp, true)
    try out.write((p.codec.encode(state) + "\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(dir, f"epoch-$epoch%020d")
    if (!filesystem.rename(tmp, target))
      throw GraftError(s"failed to commit state for ${p.name} epoch $epoch (rename to $target failed)")
  }

  /** Single-writer fencing — the role the reference's `transactional.id`
    * plays (tamer `Tamer.scala:365`: a second producer with the same id
    * fences the first). Acquisition is an exclusive create-without-overwrite
    * of a lock file (see the filesystem contract above); a pipeline whose
    * lock is already held refuses to run rather than interleave commits.
    */
  private def lockPath[SV](p: GraftPipeline[SV]): Path =
    new Path(s"$checkpointRoot/${p.name}-${p.stateKey}/_lock")

  private def acquireLock[SV](p: GraftPipeline[SV]): Unit = {
    val lock = lockPath(p)
    val filesystem = fs(lock)
    if (!filesystem.exists(lock.getParent)) filesystem.mkdirs(lock.getParent)
    val out =
      try filesystem.create(lock, false) // overwrite=false: exclusive acquire
      catch {
        case _: java.io.IOException =>
          throw GraftError(
            s"pipeline ${p.name} is already running (lock at $lock); a second concurrent runner would " +
              "interleave commits — stop the other runner or remove a stale lock manually")
      }
    try out.write(java.lang.management.ManagementFactory.getRuntimeMXBean.getName.getBytes("UTF-8"))
    finally out.close()
  }

  private def releaseLock[SV](p: GraftPipeline[SV]): Unit = {
    val lock = lockPath(p)
    fs(lock).delete(lock, false)
    ()
  }

  /** Run the pipeline until `stopWhen(state)`, `Iteration.done`, or
    * `maxIterations` pulls in this process — whichever comes first.
    * Unbounded ingestion is `maxIterations = Int.MaxValue` with a never-true
    * `stopWhen` (the reference's perpetual loop). Holds the single-writer
    * lock for the duration.
    */
  def run[SV](
      p: GraftPipeline[SV],
      sink: BatchSink,
      maxIterations: Int = Int.MaxValue,
      stopWhen: SV => Boolean = (_: SV) => false
  ): RunResult[SV] = {
    acquireLock(p)
    try runLocked(p, sink, maxIterations, stopWhen)
    finally releaseLock(p)
  }

  private def runLocked[SV](
      p: GraftPipeline[SV],
      sink: BatchSink,
      maxIterations: Int,
      stopWhen: SV => Boolean
  ): RunResult[SV] = {
    val decision = decide(p)
    var (state, epoch) = decision match {
      case StartupDecision.Initialize       => (p.initialState, 0L)
      case StartupDecision.Resume(sv, next) => (sv, next)
      case StartupDecision.Stuck(reason)    => throw GraftError(reason)
    }
    val visited = ArrayBuffer.empty[SV]
    var iterations = 0
    var stopped = false
    while (!stopped && iterations < maxIterations && !stopWhen(state)) {
      val it = p.iteration(spark, state)
      it.batch.foreach(sink.write(_, epoch))
      commit(p, epoch, it.nextState)
      visited += state
      state = it.nextState
      epoch += 1
      iterations += 1
      stopped = it.done
    }
    RunResult(decision, visited.toSeq, state, epoch)
  }
}
