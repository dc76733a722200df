package graft.pipeline

import graft.core.Hashable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's pipeline definition — the Spark re-expression of the
  * reference's `Setup` (tamer `core/src/main/scala/tamer/Setup.scala:26-34`):
  *
  *   - `initialState` — the first cursor value;
  *   - `repr` — a stable textual representation of the source query; together
  *     with `initialState` it derives the checkpoint identity (`stateKey`),
  *     so a restarted pipeline with the same definition resumes its own
  *     state and a changed definition starts fresh
  *     (ref: `Tamer.scala:56,103`, `db/.../DbSetup.scala:44-48`);
  *   - `iteration` — one incremental pull (ref: `Setup.scala:30`): given the
  *     current state, produce the batch for that state and the next state.
  *
  * The key Spark-first difference: where the reference's `iteration` pushes
  * row chunks into a queue imperatively, ours returns a **declarative
  * `DataFrame`** — the batch stays lazy, Catalyst pushes the state-derived
  * predicates into the scan, and the sink decides materialization. At 100 TB
  * the iteration therefore never routes data through the driver; the driver
  * only moves the (tiny) state.
  */
final case class GraftPipeline[SV](
    name: String,
    initialState: SV,
    repr: String,
    iteration: (SparkSession, SV) => Iteration[SV]
)(implicit val codec: StateCodec[SV], val hashable: Hashable[SV]) {

  /** Stable checkpoint identity, see [[Hashable.stateKey]]. */
  def stateKey: String = Hashable.stateKey(repr, initialState)
}

/** Result of one incremental pull.
  *
  * @param batch     the records this state maps to (None = source had nothing
  *                  new; distinct from an empty DataFrame only in that no
  *                  sink write is attempted)
  * @param nextState the folded state to commit after the batch lands. It is
  *                  by-name and settles on first read, which the runner does
  *                  only after the sink write has returned, so a source may
  *                  fold it from what that write observed
  *                  ([[WindowedSource.tumbling]] does)
  * @param done      true when a bounded pipeline has exhausted its source —
  *                  the run loop stops *without* committing `nextState`'s
  *                  successor (the reference runs forever; bounded runs are
  *                  what tests and batch backfills need)
  */
final class Iteration[SV](val batch: Option[DataFrame], next: => SV, val done: Boolean) {
  lazy val nextState: SV = next
}

object Iteration {
  def apply[SV](batch: Option[DataFrame], nextState: => SV, done: Boolean = false): Iteration[SV] =
    new Iteration(batch, nextState, done)
}
