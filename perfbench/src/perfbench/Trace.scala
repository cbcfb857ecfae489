package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are `System.nanoTime` based; `parent` is
  * -1 for a root span. Spans of layer "spark" come from the listener and
  * hang under the bench span that was active when their job started. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one bench span (its own jobs only; callers
  * sum over a subtree with [[Tracer.statsUnder]]). */
final case class SparkStats(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, bytesRead: Long = 0,
    bytesWritten: Long = 0, taskMs: Vector[Long] = Vector.empty) {
  def +(o: SparkStats): SparkStats = SparkStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
    bytesRead + o.bytesRead, bytesWritten + o.bytesWritten, taskMs ++ o.taskMs)
  def maxOverMedianTask: Double =
    if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(Stats.median(taskMs.map(_.toDouble)), 1.0)
}

/** In-memory span recorder. Disabled, [[span]] is a plain call. Spans are
  * only written out by the caller once the run has ended. The active span
  * id rides the SparkContext local property [[Tracer.SpanKey]], so the
  * listener can attach each job to the span that submitted it. */
final class Tracer(var enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil // driver thread only
  private var sc: Option[SparkContext] = None
  private var listener: Option[BenchListener] = None
  private val stats = mutable.HashMap.empty[Long, SparkStats]
  /** nanoTime - wall-clock ns, to place listener (epoch ms) events on the span clock. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = done.add(s)
  def wallMsToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  /** Attach to a (new) SparkContext; with tracing on, registers the listener. */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = Some(ctx)
    val l = new BenchListener(this)
    ctx.addSparkListener(l)
    listener = Some(l)
    ctx.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
  }

  /** Drain the listener bus and fold its per-span stats in; call before
    * reading stats and before the context stops. */
  def drain(): Unit = for (ctx <- sc; l <- listener) {
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(ctx)
    l.takeStats().foreach { case (k, v) => stats.update(k, stats.getOrElse(k, SparkStats()) + v) }
  }

  def detach(): Unit = { drain(); sc = None; listener = None }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull))
        done.add(Span(id, parent, name, layer, t0, t1))
      }
    }

  /** Id of the innermost open span (-1 outside any span). */
  def current: Long = stack.headOption.getOrElse(-1L)

  def spans: Vector[Span] = done.asScala.toVector.sortBy(_.startNs)

  /** Spark stats of the finished span `root` and every bench span under it. */
  def statsUnder(root: Long): SparkStats = {
    val kids = spans.groupBy(_.parent)
    def ids(id: Long): Seq[Long] = id +: kids.getOrElse(id, Vector.empty).filter(_.layer != "spark").flatMap(s => ids(s.id))
    ids(root).flatMap(stats.get).foldLeft(SparkStats())(_ + _)
  }

  /** Per-layer self time in seconds: each span's duration minus the part
    * of it that its children cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.layer -> (s.durNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans as JSON lines (one object per span). */
  def writeJsonLines(path: java.nio.file.Path, runId: String): Unit = {
    val lines = spans.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Records Spark jobs, stages and tasks as "spark" spans and sums task
  * metrics per submitting bench span. Events arrive on the listener bus
  * thread; [[takeStats]] is called after the bus is drained. */
final class BenchListener(tracer: Tracer) extends SparkListener {
  private final case class Open(id: Long, parent: Long, startNs: Long, owner: Long)
  private val jobs = mutable.HashMap.empty[Int, Open]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[(Int, Int), Open]
  private val acc = mutable.HashMap.empty[Long, SparkStats]

  private def add(owner: Long, s: SparkStats): Unit = synchronized {
    acc.update(owner, acc.getOrElse(owner, SparkStats()) + s)
  }

  def takeStats(): Map[Long, SparkStats] = synchronized { val m = acc.toMap; acc.clear(); m }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Open(tracer.newId(), owner, tracer.wallMsToNs(e.time), owner)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add(owner, SparkStats(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { o =>
      tracer.record(Span(o.id, o.parent, s"job ${e.jobId}", "spark", o.startNs, tracer.wallMsToNs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId).flatMap(jobs.get)
    val start = info.submissionTime.map(tracer.wallMsToNs).getOrElse(System.nanoTime())
    stages((info.stageId, info.attemptNumber())) =
      Open(tracer.newId(), job.map(_.id).getOrElse(-1L), start, job.map(_.owner).getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.remove((info.stageId, info.attemptNumber())).foreach { o =>
      val end = info.completionTime.map(tracer.wallMsToNs).getOrElse(System.nanoTime())
      tracer.record(Span(o.id, o.parent, s"stage ${info.stageId}", "spark", o.startNs, end))
      add(o.owner, SparkStats(stages = 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.get((e.stageId, e.stageAttemptId))
    val owner = st.map(_.owner).getOrElse(-1L)
    val info = e.taskInfo
    tracer.record(Span(tracer.newId(), st.map(_.id).getOrElse(-1L), s"task ${info.taskId}", "spark",
      tracer.wallMsToNs(info.launchTime), tracer.wallMsToNs(info.finishTime)))
    val m = e.taskMetrics
    if (m != null) add(owner, SparkStats(
      tasks = 1, cpuNs = m.executorCpuTime, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead, shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled, bytesRead = m.inputMetrics.bytesRead,
      bytesWritten = m.outputMetrics.bytesWritten, taskMs = Vector(info.duration)))
    else add(owner, SparkStats(tasks = 1, taskMs = Vector(info.duration)))
  }
}

object Stats {
  /** Median; NaN for no samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

}

/** Bytes allocated by every live JVM thread (HotSpot thread counters). */
object Alloc {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  def since(before: Map[Long, Long]): Long =
    snapshot().iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  def thread(): Long = mx.getCurrentThreadAllocatedBytes
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
