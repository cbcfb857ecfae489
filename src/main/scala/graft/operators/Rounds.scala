package graft.operators

import scala.annotation.tailrec
import org.apache.spark.sql.DataFrame

/** The one round loop behind every iterative operator (the
  * components, PageRank and Lloyd k-means families), so the
  * truncation and convergence policies each live in one place.
  *
  * Why truncate: a round references its input several times (a star
  * round ~16 times), so an unpersisted plan grows geometrically with
  * the round count and stalls the optimizer before any task runs.
  * Truncating each round's output cuts the logical plan back to a
  * leaf. Values are unchanged — the DuckDB twins replay the same
  * schedules — but construction runs the rounds EAGERLY. Loops whose
  * plans stay small pass `identity` and stay lazy and introspectable. */
object Rounds {

  /** Default truncation: reliable `checkpoint()` when the session has
    * a checkpoint directory (`sparkContext.setCheckpointDir` — the
    * cluster deployment path, where executor loss must not discard a
    * round: localCheckpoint blocks are executor-local and
    * unrecoverable), else `localCheckpoint()` (single-machine / test
    * path: no DFS round-trip). Both are eager. Callers with bespoke
    * needs (write-out-and-re-read, a different checkpoint flavor) pass
    * their own function — but it MUST truncate the LOGICAL plan, as
    * both checkpoints do: a bare `persist()` caches execution yet
    * leaves the geometric plan in place. */
  def defaultTruncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Runs `step` from `init` for at most `maxRounds` rounds, passing
    * every round's output through `truncate`. Without `stop` it runs
    * exactly `maxRounds` rounds (the fixed, replayable schedule). With
    * `stop`, it ends after the first round for which
    * `stop(prev, next)` holds — `stop` sees consecutive pairs in
    * order, so it may carry state from one call to the next.
    *
    * Returns (last frame, rounds run); the count INCLUDES the
    * confirming round in which `stop` held, so an input that is
    * already a fixpoint reports 1. */
  def iterate(init: DataFrame, step: DataFrame => DataFrame, maxRounds: Int,
      truncate: DataFrame => DataFrame,
      stop: Option[(DataFrame, DataFrame) => Boolean]): (DataFrame, Int) = {
    @tailrec def go(cur: DataFrame, used: Int): (DataFrame, Int) =
      if (used >= maxRounds) (cur, used)
      else {
        val next = truncate(step(cur))
        if (stop.exists(_(cur, next))) (next, used + 1) else go(next, used + 1)
      }
    go(init, 0)
  }
}
