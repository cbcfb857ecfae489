package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import graft.io.SinkParquetFormat

/** A write through [[graft.io.SinkParquetFormat]] ships the trimmed
  * Hadoop conf to its tasks twice over: in the write job's own copy (the
  * format's `prepareWrite` trims that one) and in its stats tracker.
  *
  * `BasicWriteJobStatsTracker`, which counts the files, bytes and rows
  * each task writes, wraps the conf the write command hands it
  * (`DataWritingCommand.basicWriteJobStatsTracker`), and every task
  * deserializes that copy. [[TrimmedStatsInsert]] is the sink's
  * `InsertIntoHadoopFsRelationCommand` with a tracker over a trimmed copy;
  * this strategy plans it in place of the command. A task's tracker reads
  * the conf only to resolve the written files' file system, so what holds
  * for the write job's copy holds here too.
  *
  * A planner strategy, not an optimizer rule: the subclass compares equal
  * to the command it copies, so a rule's `transform` would keep the
  * original node.
  */
object GraftWriteBridge extends SparkStrategy {

  /** `cmd`, whose stats tracker wraps a trimmed copy of the conf. */
  final class TrimmedStatsInsert(cmd: InsertIntoHadoopFsRelationCommand)
      extends InsertIntoHadoopFsRelationCommand(cmd.outputPath, cmd.staticPartitions,
        cmd.ifPartitionNotExists, cmd.partitionColumns, cmd.bucketSpec, cmd.fileFormat,
        cmd.options, cmd.query, cmd.mode, cmd.catalogTable, cmd.fileIndex,
        cmd.outputColumnNames) {
    override def basicWriteJobStatsTracker(hadoopConf: Configuration): BasicWriteJobStatsTracker = {
      val copy = new Configuration(hadoopConf)
      SinkParquetFormat.trim(copy)
      super.basicWriteJobStatsTracker(copy)
    }
  }

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: InsertIntoHadoopFsRelationCommand if c.fileFormat.isInstanceOf[SinkParquetFormat] =>
      DataWritingCommandExec(new TrimmedStatsInsert(c), planLater(c.query)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner, once. Sessions cloned from
    * `spark` later inherit it. */
  def install(spark: SparkSession): Unit = {
    val methods = spark.asInstanceOf[classic.SparkSession].experimental
    if (!methods.extraStrategies.contains(this)) methods.extraStrategies = this +: methods.extraStrategies
  }
}
