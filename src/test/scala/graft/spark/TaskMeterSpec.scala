package org.apache.spark {
  /** The live bus's listeners, which `SparkContext` keeps package-private. */
  object TaskMeterSpecBus {
    def meters(sc: SparkContext): Int = sc.listenerBus.findListenersByClass[graft.spark.TaskMeter]().size
  }
}

package graft.spark {

  import org.apache.spark.TaskMeterSpecBus
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.functions.col
  import org.scalatest.funsuite.AnyFunSuite

  /** [[TaskMeter]] against Spark's own bookkeeping: the status tracker's
    * jobs and completed tasks, and the exchange's SQL shuffle metric. */
  class TaskMeterSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

    lazy val spark: SparkSession = Sessions.local(4, "graft-task-meter-spec")

    test("jobs, tasks and shuffle bytes equal the status tracker's and the exchange's own") {
      val sc = spark.sparkContext
      val group = "task-meter-spec"
      val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
      sc.setJobGroup(group, "metered groupBy")
      val (rows, c) = try TaskMeter.around(sc)(df.collect()) finally sc.clearJobGroup()
      assert(rows.length == 10 && c.drained)

      val st = sc.statusTracker
      val jobIds = st.getJobIdsForGroup(group)
      val stageIds = jobIds.flatMap(st.getJobInfo(_).get.stageIds).distinct
      assert(c.jobs == jobIds.length, s"jobs ${c.jobs}, tracker ${jobIds.toSeq}")
      assert(c.tasks == stageIds.map(st.getStageInfo(_).get.numCompletedTasks).sum)

      val exchanges = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1)
      assert(c.shuffleWriteBytes > 0)
      assert(c.shuffleWriteBytes == exchanges.head.metrics("shuffleBytesWritten").value)
      assert(c.maxTaskMs >= c.medianTaskMs)
    }

    test("a body that runs no action counts nothing, and the bus drains") {
      val (_, c) = TaskMeter.around(spark.sparkContext)(spark.range(10).toDF())
      assert(c == TaskMeter.Counts(0, 0, 0, 0, 0, 0.0, 0, 0, 0, drained = true))
    }

    test("nested windows each count their own work") {
      val sc = spark.sparkContext
      val ((_, inner), outer) = TaskMeter.around(sc) {
        val in = TaskMeter.around(sc)(sc.parallelize(1 to 100, 3).count())
        sc.parallelize(1 to 100, 5).count()
        in
      }
      assert((inner.jobs, inner.stages, inner.tasks) == ((1, 1, 3)))
      assert((outer.jobs, outer.stages, outer.tasks) == ((2, 2, 8)))
    }

    test("the meter's listener is gone when around returns, also when the body throws") {
      val sc = spark.sparkContext
      TaskMeter.around(sc)(sc.parallelize(1 to 10, 2).count())
      assert(TaskMeterSpecBus.meters(sc) == 0)
      intercept[IllegalStateException](TaskMeter.around(sc)(throw new IllegalStateException("body")))
      assert(TaskMeterSpecBus.meters(sc) == 0)
    }
  }
}
