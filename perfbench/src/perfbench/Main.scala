package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.spark.Sessions

/** Command line of the benchmark JVM (launched by perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, breakGolden: Boolean, tables: String, work: Path, out: Path, traceOut: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      m.get("smoke").contains("1"), m.get("break-golden").contains("1"), get("tables"),
      Paths.get(get("work")), Paths.get(get("out")), Paths.get(get("trace-out")))
  }
}

/** One timed unit of a workload: `items` finished in `wallS` seconds,
  * allocating `allocBytes`; `requestsMs` are the user requests issued
  * beside it; `span` is the unit's trace span (-1 untraced). */
final case class UnitResult(items: Long, wallS: Double, allocBytes: Long,
    requestsMs: Vector[Double], span: Long)

/** Shared run state: the Spark session at the current level, the tracer,
  * and the attempted/failed tally of the correctness checks. */
final class Ctx(val args: Args) {
  val tracer = new Tracer(false)
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val levels: (Int, Int) = (cores, math.max(1, cores / 2))
  var level: Int = cores
  private var session: Option[SparkSession] = None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var sparkConf: Seq[(String, String)] = Nil
  /** True while set-up and warm-up units run; their reads are not logged. */
  var warming = false

  def spark: SparkSession = session.getOrElse(throw new IllegalStateException("no session"))

  /** The session `ExtractCli run` uses: [[Sessions.local]]. */
  def start(cores: Int): SparkSession = {
    level = cores
    val s = Sessions.local(cores, s"perfbench-${args.workload}")
    session = Some(s)
    tracer.attach(s.sparkContext)
    sparkConf = s.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.hadoop.mapreduce") ||
        Set("spark.master", "spark.default.parallelism", "spark.serializer")(k)
    }.sorted
    s
  }

  def stop(): Unit = session.foreach { s =>
    tracer.detach()
    s.stop()
    session = None
  }

  def dir(name: String): String = {
    val p = args.work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Count `n` attempted operations of which `bad` failed. */
  def tally(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && failures.size < 50) failures += what
  }

  def check(ok: Boolean, what: => String): Unit = tally(1, if (ok) 0 else 1, what)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  /** Items counted by `items_per_s`. */
  def itemName: String
  /** Stage the inputs in the first session (and warm it up, if the
    * workload needs more than its warm-up pairs); returns the staging
    * seconds. Both count in `setup_s`. */
  def setup(ctx: Ctx): Double
  /** One timed unit, the first in a fresh session. */
  def unit(ctx: Ctx): UnitResult
  /** Check the run's outputs; outside the timed region. */
  def check(ctx: Ctx): Unit
  /** Per-layer metrics of a traced run, from its traced units. */
  def layers(ctx: Ctx, traced: Seq[UnitResult]): Map[String, Double]
  /** Units each mode runs at least, however long they take. */
  def minUnits: Int
  /** Unit pairs run and discarded after the set-up, while the JIT settles. */
  def warmPairs: Int
  /** Workload facts recorded with the run for comparability. */
  def describe: Seq[(String, String)]
}

/** Runs one workload and writes the result JSON for run.py. After the
  * set-up, two modes alternate unit by unit, each unit in a fresh
  * session, so JIT warm-up and drift on a shared host weigh on both
  * alike: local[high] and local[low] in a plain run; local[high]
  * untraced and traced in a traced run, whose difference is the
  * tracing overhead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val w: Workload = args.workload match {
      case "extract_mixed" => new ExtractMixed(args)
      case "query_ops" => new QueryOps(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (hi, lo) = ctx.levels
    val modes = if (args.trace) Seq((hi, false), (hi, true)) else Seq((hi, false), (lo, false))
    val sessionStarts = mutable.ArrayBuffer.empty[Double]
    def open(mode: Int): Unit = {
      ctx.stop()
      // every unit starts from a collected heap, so the garbage of earlier
      // sessions is not collected inside a timed unit
      System.gc()
      ctx.tracer.enabled = modes(mode)._2
      sessionStarts += ctx.timed(ctx.start(modes(mode)._1))._2
    }
    val units = mutable.ArrayBuffer.empty[(Int, UnitResult)]
    ctx.warming = true
    val ((stagingS, firstStartS), setupS) = ctx.timed {
      open(0)
      val staged = ctx.tracer.span("setup", "bench")(w.setup(ctx))
      ctx.tracer.span("warm-up", "bench")((0 until 2 * w.warmPairs).foreach { i => open(i % 2); w.unit(ctx) })
      (staged, sessionStarts.head)
    }
    ctx.warming = false
    // measure pairs for --seconds; a pair that would end more than half
    // a pair past the window is not started
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 0
    var pairNs = 0L
    val (_, measureS) = ctx.timed {
      while (i < 2 * w.minUnits || System.nanoTime() + pairNs / 2 < end) {
        val t0 = System.nanoTime()
        (0 to 1).foreach { m => open(m); units += m -> w.unit(ctx) }
        pairNs = System.nanoTime() - t0
        i += 2
      }
    }
    val (_, checkS) = ctx.timed(ctx.tracer.span("check", "bench")(w.check(ctx)))
    val layers = if (!args.trace) Map.empty[String, Double] else {
      ctx.tracer.drain()
      w.layers(ctx, units.collect { case (1, u) => u }.toSeq)
    }
    ctx.stop()

    def rate(us: Seq[UnitResult]) = Stats.median(us.map(u => u.items / u.wallS))
    val hiUnits = units.collect { case (0, u) => u }.toSeq
    val otherUnits = units.collect { case (1, u) => u }.toSeq
    val reqs = hiUnits.flatMap(_.requestsMs)
    val itemsPerS = rate(hiUnits)
    // set-up once, with the session start taken as the median over the run's sessions
    val setupMedianS = jvmStartS + setupS - firstStartS + Stats.median(sessionStarts)
    val e2e = Seq(
      "setup_s" -> setupMedianS,
      "items_per_s" -> itemsPerS,
      "items_per_s_2c" -> rate(otherUnits),
      "scaling_eff" -> itemsPerS / (hi.toDouble / lo * rate(otherUnits)),
      "alloc_kb_per_item" -> Stats.median(hiUnits.map(u => u.allocBytes / 1024.0 / u.items)))

    val perLayer: Seq[(String, Double)] = if (!args.trace) Nil else {
      val selfS = ctx.tracer.selfSecondsByLayer
      layers.toSeq ++
        Seq("bench", "job", "io", "engine", "pdf", "html", "operators", "spark")
          .map(l => s"self_s.$l" -> selfS.getOrElse(l, 0.0)) :+
        ("trace.overhead_pct" -> (itemsPerS / rate(otherUnits) - 1) * 100)
    }
    if (args.trace) ctx.tracer.writeJsonLines(args.traceOut, s"${args.workload}-seed${args.seed}")

    val facts = Seq(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "levels" -> s"[$hi,$lo]",
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.map(a => Json.str(a.toString)).mkString("[", ",", "]"),
      "spark_conf" -> Json.obj(ctx.sparkConf.map { case (k, v) => k -> Json.str(v) }),
      "modes" -> modes.map { case (c, t) => Json.str(s"local[$c]" + (if (t) " traced" else "")) }
        .mkString("[", ",", "]"),
      "items" -> Json.str(w.itemName),
      "unit_rates" -> Seq(hiUnits, otherUnits).map(_.map(u => Json.num(u.items / u.wallS)).mkString("[", ",", "]"))
        .mkString("[", ",", "]"),
      // request latency is recorded, not gated: it spreads more than a bound allows (see README)
      "request_samples" -> Json.num(reqs.size),
      "request_ms_p50" -> Json.num(Stats.median(reqs)),
      "request_ms_max" -> Json.num(reqs.max),
      "session_starts_s" -> sessionStarts.map(Json.num).mkString("[", ",", "]"),
      "staging_s" -> Json.num(stagingS),
      "run_s" -> Json.obj(Seq("setup" -> Json.num(setupS), "measure" -> Json.num(measureS),
        "check" -> Json.num(checkS))),
      "jvm_start_s" -> Json.num(jvmStartS)) ++ w.describe
    val body = Json.obj(Seq(
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
      "facts" -> Json.obj(facts)))
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, body.getBytes("UTF-8"))
  }
}
