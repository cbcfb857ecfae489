package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.spark.{Queries, Sessions, TaskMeter}

/** Optimization-round probe: runs the query list twice in one session
  * and reports, per query and pass, wall seconds, what [[TaskMeter]]
  * counts (Spark jobs, stages, tasks, executor CPU seconds, shuffle read
  * and write bytes, spill bytes, the slowest and the median task) and the
  * classes codegen compiled (driver and executor side); each pass ends
  * in a total row with the JVM's metaspace in use. The
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

  private def json(c: TaskMeter.Counts, nanos: Long, compiles: Long): String =
    f""""wall_s":${nanos / 1e9}%.3f,"jobs":${c.jobs},"stages":${c.stages},""" +
      f""""tasks":${c.tasks},"cpu_s":${c.cpuNs / 1e9}%.3f,"compiles":$compiles,""" +
      f""""shuffle_read_bytes":${c.shuffleReadBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      f""""spill_bytes":${c.spillBytes},"max_task_ms":${c.maxTaskMs},""" +
      f""""median_task_ms":${c.medianTaskMs}%.1f,"drained":${c.drained}"""

  /** `body` under a [[TaskMeter]], with its wall time and compile count. */
  private def metered[A](sc: org.apache.spark.SparkContext)(body: => A): (A, String) = {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val (a, c) = TaskMeter.around(sc)(body)
    (a, json(c, System.nanoTime() - t0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
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
    val sc = spark.sparkContext
    println(s"""{"sf_dir":"$sfDir","cores":$cpus,"host_cores":""" +
      s"""${Runtime.getRuntime.availableProcessors},"queries":${names.size},"passes":$Passes}""")
    (1 to Passes).foreach { pass =>
      val (_, total) = metered(sc)(names.foreach { name =>
        val ((df, rows), counts) = metered(sc) {
          val df = Queries.all(name)(spark, sfDir)
          (df, df.queryExecution.executedPlan.execute().count())
        }
        println(s"""{"pass":$pass,"query":"$name",$counts,"rows":$rows}""")
        if (pass == Passes) planTag.foreach { tag =>
          val dir = Paths.get("plans/r09")
          Files.createDirectories(dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.write(dir.resolve(s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
        }
      })
      println(f"""{"pass":$pass,"query":"(total)",$total,"metaspace_mb":$metaspaceMb%.1f}""")
    }
    spark.stop()
  }
}
