package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.spark.{Queries, Sessions}

/** Optimization-round probe: runs the query list twice in one session
  * and reports, per query and pass, wall seconds, Spark JOB count, stage
  * count, task count, executor CPU seconds and the classes codegen compiled (driver and executor side);
  * each pass ends in a total row with the JVM's metaspace in use. The
  * first pass pays each query's compiles, the second shows what the
  * session kept: a codegen cache smaller than the surface compiles it
  * again. Optionally dumps the last pass's `explain(formatted)` to
  * `plans/r09/<name>_<tag>.txt`.
  *
  * Output is one JSON object a line, so a run can be kept as a record.
  *
  * Usage: `runMain graft.tools.OptProbe [--plans <tag>] [q1 q2 ...]`
  * (no query names: all of them, by name; env SPARK_GRAFT_SF_DIR as Bench;
  * SPARK_GRAFT_CPUS defaults to the host's core count, so the probe never
  * oversubscribes the host). */
object OptProbe {
  private val Passes = 2

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

  /** Counters at one instant; `-` gives the work between two. */
  private final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      compiles: Long, nanos: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      cpuNs - o.cpuNs, compiles - o.compiles, nanos - o.nanos)
    def json: String = f""""wall_s":${nanos / 1e9}%.3f,"jobs":$jobs,"stages":$stages,""" +
      f""""tasks":$tasks,"cpu_s":${cpuNs / 1e9}%.3f,"compiles":$compiles"""
  }

  private def metaspaceMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName == "Metaspace")
      .map(_.getUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val (planTag, rest) =
      if (args.length >= 2 && args(0) == "--plans") (Some(args(1)), args.drop(2).toSeq)
      else (None, args.toSeq)
    val names = if (rest.isEmpty) Queries.all.keys.toSeq.sorted else rest
    val spark = Sessions.local(cpus, "graft-optprobe")
    val lst = new CountListener
    spark.sparkContext.addSparkListener(lst)
    def now(): Counts = {
      val t = System.nanoTime()
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      Counts(lst.jobs.get(), lst.stages.get(), lst.tasks.get(), lst.cpuNs.get(),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, t)
    }
    println(s"""{"sf_dir":"$sfDir","cores":$cpus,"host_cores":""" +
      s"""${Runtime.getRuntime.availableProcessors},"queries":${names.size},"passes":$Passes}""")
    (1 to Passes).foreach { pass =>
      val p0 = now()
      names.foreach { name =>
        val q0 = now()
        val df = Queries.all(name)(spark, sfDir)
        val rows = df.queryExecution.executedPlan.execute().count()
        println(s"""{"pass":$pass,"query":"$name",${(now() - q0).json},"rows":$rows}""")
        if (pass == Passes) planTag.foreach { tag =>
          val dir = Paths.get("plans/r09")
          Files.createDirectories(dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.write(dir.resolve(s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
        }
      }
      println(f"""{"pass":$pass,"query":"(total)",${(now() - p0).json},""" +
        f""""metaspace_mb":$metaspaceMb%.1f}""")
    }
    spark.stop()
  }
}
