package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.spark.{Queries, Sessions}

/** Optimization-round probe (round 9): per query, one warmup + one
  * timed run, reporting wall seconds, Spark JOB count, stage count,
  * task count and executor CPU seconds — the fixed-overhead signals
  * the sf0.1 walls are dominated by — and optionally dumping
  * `explain(formatted)` to `plans/r09/<name>_<tag>.txt`.
  *
  * Usage: `runMain graft.tools.OptProbe [--plans <tag>] q1 q2 ...`
  * (env SPARK_GRAFT_SF_DIR as Bench; SPARK_GRAFT_CPUS defaults to the
  * host's core count, so the probe never oversubscribes the host). */
object OptProbe {
  private final class CountListener extends SparkListener {
    val jobs = new AtomicLong(0); val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0); val cpuNs = new AtomicLong(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val (planTag, names) =
      if (args.length >= 2 && args(0) == "--plans") (Some(args(1)), args.drop(2))
      else (None, args)
    val spark = Sessions.local(cpus, "graft-optprobe")
    val lst = new CountListener
    spark.sparkContext.addSparkListener(lst)
    def runFullPlan(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.execute().count()
    names.foreach { name =>
      val fn = Queries.all(name)
      runFullPlan(fn(spark, sfDir)) // warmup
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      val j0 = lst.jobs.get(); val s0 = lst.stages.get()
      val t0n = lst.tasks.get(); val c0 = lst.cpuNs.get()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val rows = runFullPlan(df)
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      println(f"OP $name%-32s ${wall}%7.3f s  jobs=${lst.jobs.get() - j0}%-4d " +
        f"stages=${lst.stages.get() - s0}%-5d tasks=${lst.tasks.get() - t0n}%-6d " +
        f"cpu=${(lst.cpuNs.get() - c0) / 1e9}%7.2f s  rows=$rows")
      planTag.foreach { tag =>
        val dir = Paths.get("plans/r09")
        Files.createDirectories(dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(dir.resolve(s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
