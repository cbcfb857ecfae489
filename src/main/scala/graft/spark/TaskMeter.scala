package graft.spark

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** What the Spark jobs of one window did, counted from the listener bus:
  * the one run-time meter `graft.Bench`, `graft.tools.OptProbe` and the
  * job-counting tests read. Each window gets its own listener, because a
  * max or a median task time cannot be subtracted from a running total. */
final class TaskMeter private () extends SparkListener {
  private var jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  private val runMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def counts(drained: Boolean): TaskMeter.Counts = synchronized {
    val s = runMs.sorted
    val median =
      if (s.isEmpty) 0.0
      else if (s.length % 2 == 1) s(s.length / 2).toDouble
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    TaskMeter.Counts(jobs, stages, tasks, cpuNs, s.lastOption.getOrElse(0L), median,
      shuffleRead, shuffleWrite, spill, drained)
  }
}

object TaskMeter {

  /** One window's work. `stages` counts completed stages (a stage a job
    * skips is not one); `cpuNs` sums `executorCpuTime`; the task times
    * are `executorRunTime`; `spillBytes` is memory plus disk spill.
    * `drained` is false when the listener bus did not empty in time, so
    * the counts may be short. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      maxTaskMs: Long, medianTaskMs: Double, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, drained: Boolean)

  /** Runs `body` under a fresh meter and returns its result with what its
    * jobs did. Events still queued from before the window are delivered
    * first, and the bus is drained before the counts are read, because a
    * job's last `TaskEnd` can arrive after its action returns. */
  def around[A](sc: SparkContext)(body: => A): (A, Counts) = {
    GraftListenerBridge.waitUntilEmpty(sc)
    val meter = new TaskMeter
    sc.addSparkListener(meter)
    try {
      val a = body
      (a, meter.counts(GraftListenerBridge.waitUntilEmpty(sc)))
    } finally sc.removeSparkListener(meter)
  }
}
