package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.spark.{Oracles, Queries}

/** query_ops: operator queries, each run with the sort-preserving
  * `executedPlan.execute().count()` action, over the fixed read-only
  * `documents` and `embeddings` tables in `args.tables`. The set-up
  * pass writes the outputs for the DuckDB oracle check that run.py makes
  * after the JVM exits. */
final class QueryOps(args: Args) extends Workload {
  import QueryOps._
  def itemName = "queries"
  def minUnits: Int = 1
  def warmPairs: Int = 0
  private val dir = args.tables
  /** (query, wall s, rows out, span, traced) of every timed run. */
  private val runs = mutable.ArrayBuffer.empty[(String, Double, Long, Long, Boolean)]
  private val dumped = mutable.Map.empty[String, Long]

  def describe: Seq[(String, String)] = Seq(
    "inputs" -> Json.str(s"$dir/{documents,embeddings}.parquet, fixed; the seed does not change them"),
    "sink" -> Json.str("<work>/results/<query>: outputs of the set-up pass, for the oracle check"),
    "flush_policy" -> Json.str("timed passes count rows, they write nothing; the set-up pass writes each output once"))

  /** The input tables are read in place; the set-up pass writes every
    * query's output for the oracle check, and warms the JIT. */
  def setup(ctx: Ctx): Double = ctx.timed(ctx.tracer.span("write outputs", "bench")(dump(ctx)))._2

  private def dump(ctx: Ctx): Unit = {
    val out = ctx.dir("results")
    Names.foreach { q =>
      Queries.all(q)(ctx.spark, dir).write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$out/$q")
      dumped(q) = ctx.spark.read.parquet(s"$out/$q").count()
    }
    val sql = Names.map(q => q -> Json.str(Oracles.sql(q)))
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.obj(sql).getBytes("UTF-8"))
  }

  private def runQuery(ctx: Ctx, q: String): (Long, Double, Long) = {
    var id = -1L
    val (rows, s) = ctx.timed(ctx.tracer.span(q, "operators") {
      id = ctx.tracer.current
      Queries.all(q)(ctx.spark, dir).queryExecution.executedPlan.execute().count()
    })
    (rows, s, id)
  }

  /** One pass over the queries. */
  def unit(ctx: Ctx): UnitResult = {
    var id = -1L
    ctx.tracer.span("unit", "bench") {
      id = ctx.tracer.current
      val a0 = Alloc.snapshot()
      val walls = Names.map { q =>
        val (rows, s, span) = runQuery(ctx, q)
        if (!ctx.warming) runs += ((q, s, rows, span, ctx.tracer.enabled))
        s
      }
      UnitResult(Names.size, walls.sum, Alloc.since(a0), walls.map(_ * 1e3).toVector, id)
    }
  }

  /** Every timed run of a query counts as many rows as its output
    * written for the oracle. */
  def check(ctx: Ctx): Unit =
    runs.foreach { case (q, _, rows, _, _) =>
      ctx.check(rows == dumped(q), s"$q: counted $rows rows, wrote ${dumped(q)}")
    }

  def layers(ctx: Ctx, traced: Seq[UnitResult]): Map[String, Double] = {
    val st = traced.map(u => ctx.tracer.statsUnder(u.span))
    def med(f: SparkStats => Double) = Stats.median(st.map(f))
    val job = Seq(
      "job.wall_s" -> Stats.median(traced.map(_.wallS)),
      "job.cpu_s" -> med(_.cpuNs / 1e9), "job.gc_s" -> med(_.gcMs / 1e3),
      "job.spark_jobs" -> med(_.jobs.toDouble), "job.tasks" -> med(_.tasks.toDouble),
      "job.task_max_over_median" -> med(_.maxOverMedianTask))
    val ops = runs.filter(_._5).groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      val s = rs.map(r => ctx.tracer.statsUnder(r._4))
      def m(f: SparkStats => Double) = Stats.median(s.map(f))
      Seq(
        "wall_s" -> Stats.median(rs.map(_._2)), "spark_jobs" -> m(_.jobs.toDouble),
        "stages" -> m(_.stages.toDouble), "tasks" -> m(_.tasks.toDouble), "cpu_s" -> m(_.cpuNs / 1e9),
        "shuffle_read_bytes" -> m(_.shuffleRead.toDouble), "shuffle_write_bytes" -> m(_.shuffleWrite.toDouble),
        "spill_bytes" -> m(_.spill.toDouble), "task_max_over_median" -> m(_.maxOverMedianTask),
        "rows_out" -> rs.last._3.toDouble).map { case (k, v) => s"operators.$q.$k" -> v }
    }
    // layers this workload does not exercise read 0
    (job ++ ops ++ NotExercised.map(_ -> 0.0)).toMap
  }
}

object QueryOps {
  val Names: Seq[String] = Seq("dedup_minhash_star", "dedup_jaccard", "graph_pagerank_adaptive",
    "sim_topk_pq")

  val OperatorMetrics: Seq[String] = Seq("wall_s", "spark_jobs", "stages", "tasks", "cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_max_over_median", "rows_out")

  /** Extraction-only per-layer metrics: no extraction code runs here. */
  val NotExercised: Seq[String] = Seq(
    "job.scan_s", "job.extract_s", "job.write_s", "job.bytes_written", "job.files_written",
    "job.chunk_fixed_ms", "job.chunk_ms_p50",
    "io.committed_buckets_ms", "io.commit_lineage_ms", "io.commit_snapshot_ms", "io.lineage_files",
    "io.data_files", "io.point_read_files", "io.point_read_bytes", "io.point_read_ms_p50",
    "io.progress_read_ms_p50",
    "pdf.load_us", "pdf.page_tree_us", "pdf.page_text_us_per_page", "pdf.alloc_kb_per_doc",
    "pdf.unmapped_codes", "html.extract_us_per_doc", "engine.spans_per_doc") ++
    Seq("pdf_heavy", "pdf", "html", "passthrough").flatMap(k =>
      Seq(s"engine.us_per_doc.$k", s"engine.alloc_kb_per_doc.$k"))
}
