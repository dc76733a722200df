package graft.pipeline

import graft.TestSpark
import graft.core.GraftError
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.{Failure, Try}

/** Port of the reference's core state-machine liveness test (tamer
  * `core/src/test/scala/tamer/TamerSpec.scala:30-68`): an iteration that
  * drives an Int state 1→10 must be observed exactly as the series 1..10,
  * must survive a stop/restart by resuming from the checkpoint, and a
  * corrupted commit log must refuse to run ("stuck", `Tamer.scala:121`).
  */
class PipelineRunnerSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Idempotent per-epoch collecting sink: replaying an epoch overwrites its
    * slot, mirroring what EpochParquetSink does with directories. */
  private final class CollectSink extends BatchSink {
    val byEpoch = mutable.SortedMap.empty[Long, Seq[Int]]
    def write(df: DataFrame, epoch: Long): Unit =
      byEpoch(epoch) = df.collect().map(_.getInt(0)).toSeq
    def values: Seq[Int] = byEpoch.values.flatten.toSeq
  }

  private def counterPipeline(limit: Int): GraftPipeline[Int] = {
    implicit val h: graft.core.Hashable[Int] = graft.core.Hashable.intHashable
    GraftPipeline[Int](
      name = "counter",
      initialState = 1,
      repr = s"counter-to-$limit",
      iteration = (s, state) => {
        import s.implicits._
        Iteration(
          batch = Some(Seq(state).toDF("n")),
          nextState = state + 1,
          done = state == limit)
      }
    )
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft-runner-spec").toString

  test("iteration drives state 1 to 10 and the sink sees exactly that series") {
    val ckpt = freshDir()
    val sink = new CollectSink
    val res = new PipelineRunner(spark, ckpt).run(counterPipeline(10), sink)
    assert(res.decision == StartupDecision.Initialize)
    assert(res.visited == (1 to 10))
    assert(sink.values == (1 to 10))
    assert(res.finalState == 11)
  }

  test("a stopped run resumes from checkpointed state, no loss, no replay") {
    val ckpt = freshDir()
    val p = counterPipeline(10)
    val sink = new CollectSink
    val runner = new PipelineRunner(spark, ckpt)

    val first = runner.run(p, sink, maxIterations = 4)
    assert(first.visited == (1 to 4))
    assert(first.finalState == 5)

    // "restart": a brand-new runner over the same checkpoint root
    val second = new PipelineRunner(spark, ckpt).run(p, sink)
    assert(second.decision == StartupDecision.Resume(5, 4))
    assert(second.visited == (5 to 10))
    // combined: every state exactly once
    assert(sink.values == (1 to 10))
  }

  test("a corrupted commit log refuses to run (stuck)") {
    val ckpt = freshDir()
    val p = counterPipeline(10)
    new PipelineRunner(spark, ckpt).run(p, new CollectSink, maxIterations = 3)
    // corrupt the latest commit
    val commits = Paths.get(s"$ckpt/${p.name}-${p.stateKey}/commits")
    val latest = Files.list(commits).sorted().toArray.last.asInstanceOf[java.nio.file.Path]
    Files.writeString(latest, "not-a-number")
    val runner = new PipelineRunner(spark, ckpt)
    assert(runner.decide(p).isInstanceOf[StartupDecision.Stuck])
    val err = intercept[GraftError](runner.run(p, new CollectSink))
    assert(err.getMessage.contains("stuck"))
  }

  test("epoch replay is idempotent: re-running a committed epoch overwrites, not appends") {
    val ckpt = freshDir()
    val p = counterPipeline(10)
    val sink = new CollectSink
    val runner = new PipelineRunner(spark, ckpt)
    runner.run(p, sink, maxIterations = 5)
    // simulate a crash AFTER epoch 4's data write but BEFORE its state
    // commit: delete the last commit marker so epoch 4's pull (state 5)
    // replays into the same sink slot
    val commits = Paths.get(s"$ckpt/${p.name}-${p.stateKey}/commits")
    val latest = Files.list(commits).sorted().toArray.last.asInstanceOf[java.nio.file.Path]
    Files.delete(latest)
    val res = new PipelineRunner(spark, ckpt).run(p, sink)
    assert(res.decision == StartupDecision.Resume(5, 4))
    assert(sink.values == (1 to 10)) // epoch 4 replayed into the same slot
  }

  test("a second concurrent runner is fenced out; the lock releases on completion") {
    val ckpt = freshDir()
    val p = counterPipeline(10)
    // simulate a holder that died without releasing? No — the lock must fence
    // while held. Hold it by pre-creating the lock file as a live runner would.
    val lock = Paths.get(s"$ckpt/${p.name}-${p.stateKey}/_lock")
    Files.createDirectories(lock.getParent)
    Files.writeString(lock, "other-runner")
    val err = intercept[GraftError](new PipelineRunner(spark, ckpt).run(p, new CollectSink))
    assert(err.getMessage.contains("already running"))
    // holder releases -> run proceeds and releases its own lock afterwards
    Files.delete(lock)
    val res = new PipelineRunner(spark, ckpt).run(p, new CollectSink)
    assert(res.visited == (1 to 10))
    assert(!Files.exists(lock))
  }

  test("two runners racing on one checkpoint: exactly one runs, the other is refused") {
    implicit val h: graft.core.Hashable[Int] = graft.core.Hashable.intHashable
    val pool = Executors.newFixedThreadPool(2)
    try for (trial <- 1 to 20) {
      val ckpt = freshDir()
      // a runner that took the lock waits in its first epoch until the
      // other runner was refused or has entered an epoch too
      val entered, refused = new AtomicInteger
      val release = new CountDownLatch(1)
      val p = GraftPipeline[Int](
        name = "racer",
        initialState = 0,
        repr = "racer",
        iteration = (_, state) => {
          entered.incrementAndGet()
          release.await(30, TimeUnit.SECONDS)
          Iteration(batch = None, nextState = state + 1, done = true)
        })
      val barrier = new CyclicBarrier(2)
      val runs = (1 to 2).map(_ => pool.submit(new Callable[Try[RunResult[Int]]] {
        def call(): Try[RunResult[Int]] = {
          barrier.await()
          val r = Try(new PipelineRunner(spark, ckpt).run(p, new CollectSink))
          if (r.isFailure) refused.incrementAndGet()
          r
        }
      }))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (entered.get + refused.get < 2 && System.nanoTime() < deadline) Thread.sleep(1)
      release.countDown()
      val results = runs.map(_.get(60, TimeUnit.SECONDS))
      assert(results.count(_.isSuccess) == 1, s"trial $trial: ${results.count(_.isSuccess)} runners ran")
      results.collectFirst { case Failure(e) => e }.foreach { e =>
        assert(e.isInstanceOf[GraftError] && e.getMessage.contains("already running"), s"trial $trial: $e")
      }
    }
    finally pool.shutdownNow()
  }

  test("stateKey is stable for the same definition and differs across definitions") {
    val a = counterPipeline(10)
    val b = counterPipeline(10)
    val c = counterPipeline(11)
    assert(a.stateKey == b.stateKey)
    assert(a.stateKey != c.stateKey)
  }
}
