package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}

/** Column ⇄ catalyst Expression bridge for graft's native expressions.
  *
  * Spark 4 moved `Column` to a ColumnNode representation and made the
  * conversion helpers (`classic.ExpressionUtils`) `private[sql]`; a
  * library adding custom codegen expressions needs this one-file shim
  * in the `org.apache.spark.sql` package (the conversion itself is the
  * supported `classic` path — same thing `functions` does internally).
  */
object GraftColumnBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Re-root a DataFrame's logical plan onto another session over the
    * SAME SparkContext (`Dataset.ofRows` is `private[sql]`). Used to
    * scope a SQL-conf override — e.g. disabling AQE partition
    * coalescing for one skew-sensitive write — to a throwaway child
    * session (`spark.newSession()`) instead of mutating the caller's
    * session-global conf, which would leak onto concurrent queries and
    * race concurrent save/restore pairs. */
  def withSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** Child session that INHERITS the parent's runtime SQLConf state
    * (`cloneSession` is public on `classic.SparkSession` but hidden
    * behind the `sql.SparkSession` facade). Unlike `newSession()` —
    * which starts from builder-time SparkConf only, silently dropping
    * any `spark.conf.set(...)` the caller made (session timezone,
    * shuffle partitions, …) — a clone carries those overrides, so a
    * scoped conf tweak on the child is exactly `parent state + the
    * tweak`, not `defaults + the tweak`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df` marked so that no join plans it as a broadcast build side,
    * statically or when AQE re-plans — Spark's internal
    * `NO_BROADCAST_HASH` strategy hint, which `Dataset.hint` cannot
    * name. The hint rides up through unary operators to the join. */
  def noBroadcast(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      ResolvedHint(df.queryExecution.analyzed, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
}
