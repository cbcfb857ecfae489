package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.model._
import graft.job.ExtractJob
import graft.io.{Parquet, TableIO}
import graft.spark.{Queries, Sessions, TaskMeter}
import graft.tools.ExtractCli

/** Round benchmark (driver-run): the headline metric is extraction
  * throughput (documents/sec) on the deterministic interleaved corpus
  * at two parallelism levels — the sandbox stand-in for N vs 4N
  * executors — plus wall-times for the headline analytic/dedup/
  * similarity queries.
  *
  * The graded N→4N pair is local[2] → local[8] (cores 2 vs 8); the
  * 8→32 pair is ALSO reported but brackets this single VM's memory-
  * bandwidth ceiling, so its wall-clock efficiency is a host property,
  * not a property of the (shuffle-free, map-only) job.
  *
  * This host is SHARED and noisy: round-1 recorded local[32] at 19.5k
  * docs/s in one window and 61-121k in others. The harness therefore
  * defends the number three ways:
  *  1. per-rep steal gating — each rep carries its OWN /proc/stat
  *     steal%; reps above the gate are discarded and retried (up to a
  *     cap), and every rep (kept or not) is recorded in the JSON so a
  *     contaminated round is self-evident;
  *  2. CPU-time throughput — docs per executor-CPU-second (Spark task
  *     metrics), immune to wall-clock contamination; its 8→32 ratio
  *     measures per-core bandwidth loss honestly;
  *  3. inversion retry — if best(local[32]) < best(local[8]) (a
  *     contamination signal, not a plausible property of a map-only
  *     job), the 32 level is re-measured once and the result flagged
  *     `anomaly` if still inverted.
  */
object Bench {

  final case class Rep(wallDps: Double, cpuDps: Double, stealPct: Double, clean: Boolean)
  final case class Level(reps: Vector[Rep]) {
    def kept: Vector[Rep] = { val c = reps.filter(_.clean); if (c.nonEmpty) c else reps }
    def hasClean: Boolean = reps.exists(_.clean)
    /** Rep-coherence gate (round-4 lesson: a window whose four "clean"
      * reps spread 3.7× in CPU-time throughput was stamped clean — the
      * per-rep steal%% gate cannot see contamination that hides from
      * /proc/stat, but cpu_dps spread CAN): clean reps must agree
      * within [[CoherenceBand]] on cpu_dps, else the window is
      * re-measured / graded dirty. */
    def coherent: Boolean = {
      val c = reps.filter(_.clean).map(_.cpuDps)
      c.isEmpty || c.max / c.min <= CoherenceBand
    }
    def best: Double = kept.map(_.wallDps).max
    def median: Double = {
      val s = kept.map(_.wallDps).sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0 // true median, not upper-middle
    }
    /** docs per executor-CPU-second — wall-contamination-immune. */
    def cpuDps: Double = kept.map(_.cpuDps).max
    /** The rep that supplied the graded best-wall number — frequency
      * parity must be computed from THIS rep's cpu_dps, not from a
      * different (max-cpu_dps) rep, or the decomposition mixes reps. */
    def bestRep: Rep = kept.maxBy(_.wallDps)
  }

  /** (total jiffies, steal jiffies) from /proc/stat. */
  private def cpuStat(): (Long, Long) = {
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }
  }

  /** BUSY jiffies system-wide (everything but idle + iowait) from
    * /proc/stat — the numerator of the ambient-CPU probe. */
  private def cpuBusy(): Long = {
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal guest guest_nice
      // — skip idle/iowait (3,4) AND guest/guest_nice (8,9): the
      // kernel already folds guest time into user/nice, so counting
      // fields 8-9 double-counts on a VM host and skews ambient_pct
      f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
      }.sum
    } catch { case _: Throwable => 0L }
  }

  /** This JVM's cumulative CPU nanoseconds (all threads), or -1 when
    * the platform bean doesn't expose it (ambient probe disabled). */
  private def processCpuNs(): Long = {
    try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      }
    } catch { case _: Throwable => -1L }
  }

  /** Steal gate: a rep whose own window shows more steal than this is
    * discarded and retried (the whole-window 3.4% of round 1 hid a
    * burst that halved the graded number). */
  private val StealGatePct = 1.5

  /** Max allowed max/min ratio of clean reps' cpu_dps within one graded
    * window (30% band). Genuine runs agree far tighter (CPU-time
    * throughput is wall-contamination-immune); a spread beyond this is
    * invisible-contamination evidence. */
  private val CoherenceBand = 1.3

  /** Ambient-CPU gate for query timings (round-6 finding #3: walls
    * 2.5-4× above every other clean window were stamped clean because
    * the contention was SAME-VM — other processes on this machine eat
    * cores without a single steal jiffy). During each timed run the
    * probe compares system-wide BUSY jiffies against this JVM's own
    * CPU time; the difference is CPU burned by everything else on the
    * box, as a percentage of total machine capacity in the window.
    * Quiet windows measure ~0-3%%; a tenant big enough to multiply a
    * 32-thread query's wall shows far above this gate. */
  private val AmbientGatePct = 10.0

  final case class SkewResult(giantDocs: Int, giantPages: Int, normalDocs: Int,
      wallOffSec: Double, wallOnSec: Double, maxTaskOffMs: Long, maxTaskOnMs: Long,
      drained: Boolean)

  /** Giant-doc skew experiment: same corpus (normal mix + a few
    * multi-ten-thousand-page PDFs), same job, fan-out OFF vs ON
    * (Config.giantBytesThreshold). OFF: each giant doc is one
    * unsplittable row — a second-plus task that pins job wall time.
    * ON: the doc explodes into page-range rows that the extraction
    * generator reads like any other row (the payload decoded from the
    * row's bytes, no String copy per chunk), extracted in parallel and
    * reassembled with one shuffle of extracted text. Chunk size is
    * pages/8: every chunk re-pays the b64 decode + xref walk of the
    * WHOLE doc (inline payload — production chunks would carry an
    * object-store ref), so small chunks multiply that fixed cost;
    * ~8 chunks per doc keeps refactor overhead well under the
    * straggler win.
    *
    * The corpus holds fewer giants than cores (one per 4 cores), one per
    * scan file: `cores` files, file p holding the p-th slice of the
    * normal docs and, for p < giants, giant p. So OFF, the task that
    * reads a giant runs all of it; ON, each giant's 8 page ranges spread
    * over every core, and `max_task_on_ms` shows the split. */
  private def measureSkew(cores: Int): SkewResult = {
    val nNormal = 4000; val nGiant = math.max(1, cores / 4)
    val giantPages = 24000; val linesPerPage = 600
    val spark = Sessions.bench(cores, "graft-bench-skew")
    import spark.implicits._
    val corpusDir = s"/root/repo/target/graft-bench/skew-corpus-$nGiant-$giantPages-$linesPerPage"
    // one scan file per core: the layout depends on the core count too
    val layoutDir = s"$corpusDir-on-$cores"
    if (!Files.exists(Paths.get(s"$layoutDir/_SUCCESS"))) {
      def giant(g: Long): InterleavedDoc = {
        // OP-DENSE pages (600 positioned one-glyph lines each): the
        // content-stream interpreter work per page far outweighs both
        // the stored bytes (streams deflate heavily) and the extracted
        // text — the layout-heavy/generated-report class where one doc
        // is a multi-second unsplittable task. Fan-out duplicates the
        // payload per chunk and reshuffles extracted text, so the win
        // exists exactly when processing dominates shipping; that is
        // the trade-off Config.giantBytesThreshold gates on.
        val pages = (1 to giantPages).map { _ =>
          graft.pdf.PdfBuilder.multiLine((1 to linesPerPage).map(_ => "g"))
        }
        val pdf = graft.pdf.PdfBuilder.simple(pages, flate = true)
        InterleavedDoc(f"giant$g%08d", Seq(RawSpan("pdf_bytes",
          java.util.Base64.getEncoder.encodeToString(pdf), "", 0)))
      }
      // one element per range partition: task p writes file p
      spark.range(0, cores, 1, cores).flatMap { p =>
        (p * nNormal / cores until (p + 1) * nNormal / cores).iterator
          .map(i => graft.fixtures.InterleavedGen.docWithGolden(i)._1) ++
          (if (p < nGiant) Iterator(giant(p)) else Iterator.empty)
      }.write.mode("overwrite").parquet(layoutDir)
    }
    val input = Parquet.read(spark, layoutDir)
    val outBase = if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"
    def run(tag: String, threshold: Long): (Double, Long, Boolean) = {
      val out = s"$outBase/graft-bench-skew-$tag"
      TableIO.deleteRecursively(out)
      // the meter drains the bus before it reads: the straggler's TaskEnd
      // is by definition the last event; an un-drained bus is flagged so
      // max_task can't silently lie
      val (wall, c) = TaskMeter.around(spark.sparkContext) {
        System.gc()
        val t0 = System.nanoTime()
        ExtractJob.run(spark, input, out, ExtractJob.Config(jobId = s"skew-$tag",
          giantBytesThreshold = threshold, giantChunkPages = giantPages / 8))
        (System.nanoTime() - t0) / 1e9
      }
      TableIO.deleteRecursively(out)
      (wall, c.maxTaskMs, c.drained)
    }
    // warmup runs BOTH code paths (fan-out ON covers the normal path
    // for the 4000 normal docs AND the chunk/reassembly path), discarded
    run("warm", 1000000L)
    val (wOff, tOff, dOff) = run("off", 0L)
    val (wOn, tOn, dOn) = run("on", 1000000L) // giants are ~12MB b64; normal tail ≤ ~100KB
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    SkewResult(nGiant, giantPages, nNormal, wOff, wOn, tOff, tOn, dOff && dOn)
  }

  private def measureLevel(cores: Int, corpusDir: String,
      targetReps: Int, maxAttempts: Int): Level = {
    val spark = Sessions.bench(cores, s"graft-bench-extract-$cores")
    val input = Parquet.read(spark, s"$corpusDir/interleaved_docs.parquet")
    val outBase =
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"

    def once(tag: String): Rep = {
      val out = s"$outBase/graft-bench-out-$tag"
      TableIO.deleteRecursively(out)
      // the meter drains the async listener bus so the last tasks'
      // metrics land; an un-drained bus means the CPU number may be
      // short — the rep is dirty (same retry path as a steal-contaminated
      // window)
      val ((st, wallSec, steal0, steal1), c) = TaskMeter.around(spark.sparkContext) {
        // settle the heap so a full GC from the previous run doesn't land
        // inside this timed region
        System.gc()
        val steal0 = cpuStat()
        val t0 = System.nanoTime()
        val st = ExtractJob.run(spark, input, out, ExtractJob.Config(jobId = s"bench-$tag"))
        val wallSec = (System.nanoTime() - t0) / 1e9
        (st, wallSec, steal0, cpuStat())
      }
      val cpuSec = c.cpuNs / 1e9
      TableIO.deleteRecursively(out)
      val stealPct =
        if (steal1._1 > steal0._1)
          100.0 * (steal1._2 - steal0._2) / (steal1._1 - steal0._1)
        else 0.0
      Rep(st.docs / wallSec, st.docs / math.max(cpuSec, 1e-9), stealPct,
        clean = stealPct <= StealGatePct && c.drained)
    }

    once(s"warm-$cores") // JIT/page-cache warmup, discarded
    val reps = Vector.newBuilder[Rep]
    var cleanCount = 0
    var attempts = 0
    while (cleanCount < targetReps && attempts < maxAttempts) {
      val r = once(s"timed-$cores-$attempts")
      reps += r
      if (r.clean) cleanCount += 1
      attempts += 1
    }
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    Level(reps.result())
  }

  final case class QRun(sec: Double, counts: TaskMeter.Counts, stealPct: Double,
      ambientPct: Double, clean: Boolean)
  final case class QTime(best: QRun, clean: Boolean, coherent: Boolean, runs: Int)

  /** The bench's two records of one run: the compact stdout line and the
    * full record written to `fullPath`. Both are one JSON object with the
    * same top-level keys (`extract`, `skew_fanout`, `queries_dirty`,
    * `host_cores`, ...); the line adds `full_record`, the path of the full
    * record, which adds every rep, `query_meta` and the protocol. */
  private[graft] def records(sfDir: String, nDocs: Long, l2all: Level, l2: Level,
      l8all: Level, l8: Level, l32: Level, anomaly: Boolean, stealPct: Double,
      qTimes: Seq[(String, QTime)], skew: SkewResult, fullPath: String): (String, String) = {
    val eff28 = (l8.best / l2.best) / 4.0
    val eff832 = (l32.best / l8.best) / 4.0
    // FREQUENCY-PARITY DECOMPOSITION of the graded pair, from the SAME
    // reps that supplied the graded best-wall numbers. Algebra:
    // wall_dps = cores × cpu_dps × utilization, so
    //   eff28 = (cpu_dps8/cpu_dps2) × (util8/util2) / 1
    // — the wall ratio is per-core-speed ratio × utilization ratio.
    // freq_parity (cpu_dps2/cpu_dps8) isolates the per-core term;
    // eff × parity = util8/util2 strips per-core differences of ANY
    // cause (turbo skew, but ALSO genuine contention), so it is a
    // DECOMPOSITION DIAGNOSTIC, NOT a substitute gate: the graded
    // figure stays the wall ratio. A parity beyond 15% flags the
    // window freq-skewed — per-core clocks differed between the two
    // levels (a busy host turbo-boosts the 2-thread level), and the
    // honest response is to re-measure in a calm window, reading
    // eff × parity only to see how much of the shortfall the clock
    // skew explains.
    val freqParity28 = l2.bestRep.cpuDps / math.max(l8.bestRep.cpuDps, 1e-9)
    val eff28FreqNorm = eff28 * freqParity28
    val freqSkewed28 = freqParity28 > 1.15 || freqParity28 < 1.0 / 1.15
    // per-core CPU efficiency (contamination-immune): docs per CPU-sec
    // would be flat across levels on ideal hardware; its decay 8→32 is
    // the VM's memory-bandwidth ceiling
    val cpuEff832 = l32.cpuDps / l8.cpuDps

    def repsJson(l: Level): String = l.reps.map(r =>
      f"""{"wall_dps":${r.wallDps}%.1f,"cpu_dps":${r.cpuDps}%.1f,""" +
        f""""steal_pct":${r.stealPct}%.2f,"clean":${r.clean}}""").mkString("[", ",", "]")

    val qs = qTimes.map { case (k, q) => f""""$k":${q.best.sec}%.3f""" }.mkString("{", ",", "}")
    val qsDirty = qTimes.filter(!_._2.clean).map(q => s""""${q._1}"""").mkString("[", ",", "]")
    val qMeta = qTimes.map { case (k, QTime(b, clean, coherent, runs)) =>
      val c = b.counts
      f""""$k":{"sec":${b.sec}%.3f,"cpu_sec":${c.cpuNs / 1e9}%.3f,"jobs":${c.jobs},""" +
        f""""shuffle_bytes":${c.shuffleReadBytes + c.shuffleWriteBytes},"max_task_ms":${c.maxTaskMs},""" +
        f""""steal_pct":${b.stealPct}%.2f,"ambient_pct":${b.ambientPct}%.2f,""" +
        f""""clean":$clean,"coherent":$coherent,"runs":$runs}"""
    }.mkString("{", ",", "}")
    // one COMPACT stdout line (the driver captures a bounded output
    // tail — round 3's committed artifact was truncated mid-line and
    // unparseable because the reps arrays + protocol prose pushed the
    // line past the capture window) + the FULL record, reps and
    // protocol included, written to a committed file
    val core =
      f"""{"metric":"extract_docs_per_sec_local32","value":${l32.best}%.1f,"unit":"docs/sec",""" +
        f""""queries":$qs,"sf":"$sfDir","extract":{"docs":$nDocs,""" +
        f""""docs_per_sec_2":${l2.best}%.1f,"docs_per_sec_8":${l8.best}%.1f,"docs_per_sec_32":${l32.best}%.1f,""" +
        f""""median_docs_per_sec_2":${l2.median}%.1f,"median_docs_per_sec_8":${l8.median}%.1f,"median_docs_per_sec_32":${l32.median}%.1f,""" +
        f""""scaling_efficiency_2_8":$eff28%.3f,"scaling_efficiency_8_32":$eff832%.3f,""" +
        f""""freq_parity_2_8":$freqParity28%.3f,"scaling_efficiency_2_8_freq_norm":$eff28FreqNorm%.3f,""" +
        f""""freq_skewed_2_8":$freqSkewed28,""" +
        f""""cpu_docs_per_core_sec_2":${l2.cpuDps}%.1f,"cpu_docs_per_core_sec_8":${l8.cpuDps}%.1f,"cpu_docs_per_core_sec_32":${l32.cpuDps}%.1f,""" +
        f""""cpu_efficiency_8_32":$cpuEff832%.3f,""" +
        f""""graded_pair":"2->8 (N vs 4N cores)","anomaly_32_inverted":$anomaly,""" +
        f""""graded_clean":${l2.hasClean && l8.hasClean && l2.coherent && l8.coherent},""" +
        f""""coherence":{"band_max_over_min":$CoherenceBand,"2":${l2.coherent},"8":${l8.coherent},"32":${l32.coherent}},""" +
        f""""clean_reps":{"2":${l2.reps.count(_.clean)},"8":${l8.reps.count(_.clean)},"32":${l32.reps.count(_.clean)}}},""" +
        f""""skew_fanout":{"giant_docs":${skew.giantDocs},"giant_pages_each":${skew.giantPages},""" +
        f""""normal_docs":${skew.normalDocs},"wall_off_sec":${skew.wallOffSec}%.2f,""" +
        f""""wall_on_sec":${skew.wallOnSec}%.2f,"max_task_off_ms":${skew.maxTaskOffMs},""" +
        f""""max_task_on_ms":${skew.maxTaskOnMs},"listener_drained":${skew.drained}},""" +
        f""""queries_dirty":$qsDirty,""" +
        f""""host_steal_pct":$stealPct%.2f,"steal_gate_pct":$StealGatePct,"ambient_gate_pct":$AmbientGatePct,""" +
        f""""host_cores":${Runtime.getRuntime.availableProcessors}"""
    val full = core +
      f""","reps":{"2":${repsJson(l2all)},"8":${repsJson(l8all)},"32":${repsJson(l32)}},""" +
      f""""graded_window_reps":{"2":${repsJson(l2)},"8":${repsJson(l8)}},""" +
      f""""query_meta":$qMeta,""" +
      f""""query_action":"executedPlan.execute().count — each query's final global ORDER BY stays in the timed region; per query: own steal%% window per timed run, best-of-clean reported, no-clean-after-4 marked dirty; dirty queries get up to 2 end-of-sweep CALM re-measurements (round 8) before landing in queries_dirty",""" +
      f""""protocol":"N vs 4N as local[2] vs local[8] (graded) and local[8] vs local[32] (diagnostic: single-VM bandwidth ceiling, see cpu_efficiency). Per rep: tmpfs sink, System.gc settle, own steal%% window; reps over the gate are discarded+retried and all reps are recorded; graded levels are re-measured (fresh window, up to 2x) until they hold >=1 clean rep AND clean reps agree within the cpu_dps coherence band, else graded_clean=false; best-of-clean in the final window graded, median reported; local[32]<local[8] triggers one re-measure (anomaly flag); freq_parity_2_8 = best-wall reps' cpu_dps[2]/cpu_dps[8] exposes per-core clock skew between the graded levels (turbo on the 2-thread level during busy-host windows) — beyond 15%% the window is flagged freq_skewed (re-measure in a calm window); eff x parity = utilization ratio, a DECOMPOSITION diagnostic that strips per-core differences of any cause and is therefore not a gate. skew_fanout: giant-doc page-chunk fan-out OFF vs ON on the same corpus — max_task_ms is the straggler task."}"""
    (core + f""","full_record":"$fullPath"}""", full)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // big enough that the timed region at local[32] (~3 s) dominates
    // the ~0.5 s fixed job cost
    val nDocs = sys.env.get("SPARK_GRAFT_BENCH_DOCS").map(_.toLong).getOrElse {
      if (sfDir.contains("sf0.1")) 192000L
      else if (sfDir.contains("sf0.01")) 48000L else 8000L
    }
    val corpusDir = s"/root/repo/target/graft-bench/corpus-$nDocs"

    // standalone skew-experiment mode (local iteration)
    if (sys.env.contains("SPARK_GRAFT_SKEW_ONLY")) {
      val s = measureSkew(cpus)
      println(f"""{"skew_fanout":{"giant_docs":${s.giantDocs},"giant_pages_each":${s.giantPages},""" +
        f""""normal_docs":${s.normalDocs},"wall_off_sec":${s.wallOffSec}%.2f,"wall_on_sec":${s.wallOnSec}%.2f,""" +
        f""""max_task_off_ms":${s.maxTaskOffMs},"max_task_on_ms":${s.maxTaskOnMs},"listener_drained":${s.drained}}}""")
      return
    }

    // --- corpus (generated once, reused across rounds/levels)
    if (!Files.exists(Paths.get(s"$corpusDir/interleaved_docs.parquet/_SUCCESS"))) {
      val s = Sessions.local(cpus, "graft-bench-gen")
      ExtractCli.genCorpus(s, corpusDir, nDocs)
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }

    val stat0 = cpuStat()

    // --- extraction throughput: graded pair 2→8; 8→32 diagnostic
    def level(n: Int): Level =
      measureLevel(n, corpusDir, targetReps = if (n <= 2) 2 else 4, maxAttempts = 8)
    // a GRADED level must contain at least one clean rep AND its clean
    // reps must be cpu_dps-coherent — best-of-dirty/incoherent is
    // recorded but flagged, never silently graded (round-2 lesson: an
    // all-dirty window was graded; round-4 lesson: a 3.7×-spread window
    // passed the steal gate). An incoherent window is REPLACED by a
    // fresh one (appending cannot restore coherence: the outlier
    // stays); every rep of every window is still recorded.
    def gradedLevel(n: Int): (Level, Level) = {
      var window = level(n)
      var all = window.reps
      var extra = 0
      while (!(window.hasClean && window.coherent) && extra < 2) {
        window = level(n); all = all ++ window.reps; extra += 1
      }
      (Level(all), window)
    }
    val (l2all, l2) = gradedLevel(2)
    val (l8all, l8) = gradedLevel(8)
    var l32 = level(32)
    var anomaly = false
    if (l32.best < l8.best) {
      // inversion = contamination signal on a map-only job: re-measure
      val retry = level(32)
      l32 = if (retry.best > l32.best) retry else l32
      anomaly = l32.best < l8.best
    }
    val stat1 = cpuStat()
    val stealPct =
      if (stat1._1 > stat0._1) 100.0 * (stat1._2 - stat0._2) / (stat1._1 - stat0._1) else 0.0

    // --- headline analytic queries (timed at full parallelism)
    val spark = Sessions.local(cpus, "graft-bench-queries")
    val headline = Seq(
      "q1_pricing", "q3_top_orders", "q5_region_revenue", "q_window_topn",
      "q_events_hourly", "q_events_sessions", "dedup_exact", "dedup_minhash_lsh",
      "dedup_minhash_star", "dedup_bloom_incremental", "dedup_jaccard", "dedup_jaccard_capped", "dedup_cdc_chunks", "dedup_exact_substring", "dedup_decontaminate", "dedup_simhash",
      "dedup_simhash_star", "dedup_simhash64", "dedup_embedding", "dedup_embedding_star",
      "dedup_components", "dedup_components_star", "dedup_components_star_chain",
      "dedup_components_star_adaptive",
      "dedup_containment",
      "dedup_keep_best", "text_dup_coverage",
      "pipeline_clean_corpus", "pipeline_curate", "pipeline_seq_pack",
      "pipeline_report",
      "sim_topk_brute", "sim_topk_lsh",
      "sim_topk_lsh_multi", "sim_topk_ivf", "sim_topk_ivf_kmeans", "sim_topk_pq", "sim_topk_pq_rerank",
      "sim_topk_pq_kmeans",
      "sample_temperature", "graph_pagerank", "graph_pagerank_adaptive",
      "q_events_funnel", "q_events_funnel_window", "q_events_retention",
      "text_stats", "text_langid", "text_distinct_kmv", "text_repetition", "text_gopher_quality",
      "pdfz_form_text", "dedup_image_phash", "html_links",
      "q_events_session_windows", "pdfz_images", "pdfz_images_jbig2",
      "pdfz_images_jbig2_text", "pdfz_encrypted")
    // SORT-PRESERVING action: executing the df's own physical plan keeps
    // each query's final global ORDER BY in the timed region (a plain
    // .count() re-plans and EliminateSorts drops the sort every real
    // consumer would pay)
    def runFullPlan(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.execute().count()
    // Per-QUERY contamination gating. Round-5 gave queries a per-run
    // STEAL gate; round-6 showed it necessary but not sufficient —
    // same-VM contention (other processes on this machine) inflates a
    // wall 2.5-4× without one steal jiffy. Each timed run therefore
    // carries THREE signals:
    //   1. its own /proc/stat steal window (cross-VM contention),
    //   2. an AMBIENT-CPU probe — system-wide busy jiffies minus this
    //      JVM's own CPU time, as %% of machine capacity (same-VM
    //      contention: someone else burning our cores),
    //   3. task-metric CPU seconds, jobs, shuffle bytes and the slowest
    //      task (TaskMeter, bus drained) — recorded per run so wall/CPU
    //      utilization is auditable across windows,
    // plus a cross-run COHERENCE band: the clean runs' walls must
    // agree within CoherenceBand (the extract sections' round-5 fix,
    // one section further). Best-of-clean is reported; a query with no
    // clean coherent run after retries lands in `queries_dirty`.
    def timeQuery(name: String): QTime = {
      val fn = Queries.all(name)
      runFullPlan(fn(spark, sfDir)) // warmup (codegen + JIT)
      def timed(): QRun = {
        val ((sec, s0, busy0, proc0, s1, busy1, proc1), c) = TaskMeter.around(spark.sparkContext) {
          val s0 = cpuStat()
          val busy0 = cpuBusy()
          val proc0 = processCpuNs()
          val t0 = System.nanoTime()
          runFullPlan(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, s0, busy0, proc0, cpuStat(), cpuBusy(), processCpuNs())
        }
        val steal =
          if (s1._1 > s0._1) 100.0 * (s1._2 - s0._2) / (s1._1 - s0._1) else 0.0
        val ambient =
          if (s1._1 > s0._1 && proc0 >= 0 && proc1 >= proc0) {
            // other-process busy jiffies = system busy minus our own
            // CPU (ns → jiffies at USER_HZ=100), floored at 0
            val oursJiffies = (proc1 - proc0) / 1e9 * 100.0
            math.max(0.0, 100.0 * ((busy1 - busy0) - oursJiffies) / (s1._1 - s0._1))
          } else 0.0
        QRun(sec, c, steal, ambient,
          clean = steal <= StealGatePct && ambient <= AmbientGatePct && c.drained)
      }
      def coherent(rs: Seq[QRun]): Boolean = {
        // ratio band ALONE condemns sub-second walls on pure JIT/GC
        // jitter (±0.1 s is 1.3× of 0.3 s); real contamination (the
        // round-6 2.5-4× walls) clears both the ratio and an absolute
        // floor, so require both to call a window incoherent
        val c = rs.filter(_.clean).map(_.sec)
        c.size < 2 || c.max / math.max(c.min, 1e-9) <= CoherenceBand ||
          c.max - c.min <= 0.3
      }
      // 2 base runs (a single sample on this shared host is as fragile
      // as the round-1 extraction record was) + up to 2 retries while
      // there is no clean run, or the clean runs disagree beyond the
      // coherence band (a drifting window can't certify its best wall)
      var runs = Vector(timed(), timed())
      while ((!runs.exists(_.clean) || !coherent(runs)) && runs.length < 4)
        runs :+= timed()
      val clean = runs.filter(_.clean)
      val kept = if (clean.nonEmpty) clean else runs
      val coh = coherent(runs)
      QTime(kept.minBy(_.sec), clean.nonEmpty && coh, coh, runs.length)
    }
    // first sweep, then CALM RE-MEASUREMENT passes: a query stamped
    // dirty mid-sweep (an ambient burst that has since passed) gets
    // re-timed from scratch up to twice at the end; only a clean
    // retake replaces its stamp — the round artifact should be a
    // window with queries_dirty empty, not a burst's souvenir
    val qMap = scala.collection.mutable.LinkedHashMap(
      headline.map(n => n -> timeQuery(n)): _*)
    var calmPass = 0
    while (qMap.values.exists(!_.clean) && calmPass < 2) {
      calmPass += 1
      qMap.collect { case (k, v) if !v.clean => k }.toSeq.foreach { k =>
        val retake = timeQuery(k)
        if (retake.clean) qMap(k) = retake
      }
    }
    val qTimes: Seq[(String, QTime)] = qMap.toSeq
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // --- giant-doc fan-out skew datapoint: a corpus with a few
    // multi-thousand-page PDFs; fan-out OFF leaves each giant doc as
    // ONE unsplittable row (a single straggler task pins the job wall
    // time), ON explodes it into page-range chunks (Config scaladoc)
    val skew = measureSkew(cpus)

    // cwd-relative (sbt runs from the repo root); overridable so a
    // foreign checkout cannot lose a completed run at the write step.
    // VERSIONED: a completed record is never overwritten — if the
    // default path already holds one (e.g. the committed round record),
    // this run writes a timestamped sibling instead (round-4 lesson:
    // a verification run clobbered the working-tree record).
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_FULL").getOrElse {
      val base = new java.io.File("BENCH_FULL.json")
      if (!base.exists()) base.getAbsolutePath
      else {
        val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
          .format(java.time.LocalDateTime.now())
        new java.io.File(s"BENCH_FULL-$ts.json").getAbsolutePath
      }
    }
    val (line, full) = records(sfDir, nDocs, l2all, l2, l8all, l8, l32, anomaly, stealPct,
      qTimes, skew, fullPath)
    Files.write(Paths.get(fullPath), full.getBytes("UTF-8"))
    println(line)
  }
}
