package graft.operators

import scala.annotation.tailrec
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

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
  * plans stay small pass `identity` and stay lazy and introspectable.
  *
  * Round metrics (a convergence count, a rank sum) come from the
  * truncation ACTION itself, through [[Observed]]: the truncation is
  * the job that materializes the round anyway, so a metric read this
  * way costs no Spark job. A loop that reads metrics therefore needs a
  * `truncate` that runs an action — both checkpoints do, `identity`
  * does not and fails loudly. */
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

  /** A `truncate` that also evaluates `metrics` (aggregate columns)
    * over every frame it truncates, inside the truncating action
    * (Spark's `Observation`, `CollectMetricsExec`). `last` is the
    * metric row of the frame truncated most recently: passed to
    * [[iterate]], that is `cur`'s row while `step(cur)` runs and
    * `next`'s row while `stop(prev, next)` runs. */
  final class Observed(truncate: DataFrame => DataFrame, metrics: Column*)
      extends (DataFrame => DataFrame) {
    require(metrics.nonEmpty, "Observed needs at least one metric")
    private var row: Option[Row] = None

    def last: Row = row.getOrElse(
      throw new IllegalStateException("no frame has been truncated yet"))

    def apply(df: DataFrame): DataFrame = {
      val obs = Observation()
      val out = truncate(df.observe(obs, metrics.head, metrics.tail: _*))
      row = Some(read(obs, df))
      out
    }
  }

  /** Spark completes an `Observation` on the listener bus, AFTER the
    * action that computed it has returned; the action posts its end
    * event before returning, so once the bus is drained the row is
    * there — or no action ran. Bounded both ways: never blocks forever,
    * never substitutes a row of zeros. */
  private def read(obs: Observation, df: DataFrame): Row = {
    if (!obs.future.isCompleted &&
        !GraftListenerBridge.waitUntilEmpty(df.sparkSession.sparkContext))
      Try(Await.ready(obs.future, 60.seconds))
    obs.future.value match {
      case Some(Success(r)) => r
      case Some(Failure(e)) => throw e
      case None => throw new IllegalStateException(
        "round metrics were never delivered: `truncate` must run an action over " +
          "the frame it is given (checkpoint / localCheckpoint), not return it lazily")
    }
  }
}
