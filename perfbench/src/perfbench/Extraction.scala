package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.model._
import graft.engine.Extractor
import graft.fixtures.InterleavedGen
import graft.html.Boilerplate
import graft.io.TableIO
import graft.job.ExtractJob
import graft.pdf.{ContentText, PdfDocument}

/** Staging and checking of an `InterleavedGen` corpus window. */
object Corpus {
  /** The generator's heavy-PDF page count cycles every 640 docs, so a
    * window of a multiple of 640 docs holds the same mix wherever it starts. */
  val Cycle = 640

  def docsPath(dir: String) = s"$dir/interleaved_docs.parquet"
  def goldenPath(dir: String) = s"$dir/expected_docs.parquet"

  /** Docs [from, from + n) and their by-construction goldens as parquet.
    * `breakGolden` alters one golden span, to show the check firing. */
  def stage(spark: SparkSession, dir: String, from: Long, n: Int, breakGolden: Boolean): Unit = {
    import spark.implicits._
    val parts = math.max(1, math.min(32, n / 400))
    val docs = spark.range(from, from + n, 1, parts).mapPartitions(_.map(i => InterleavedGen.docWithGolden(i)))
    docs.persist()
    docs.map(_._1).write.mode("overwrite").parquet(docsPath(dir))
    docs.map { case (_, g) =>
      if (breakGolden && g.doc_id == InterleavedGen.docId(from + 1))
        g.copy(spans = g.spans.map(s => s.copy(text = s.text + " (altered)")))
      else g
    }.write.mode("overwrite").parquet(goldenPath(dir))
    docs.unpersist()
  }

  /** Span-sequence equality on (kind, text, media_ref, order) against the
    * goldens — the rule of `ExtractCli verify` — plus no doc missing or
    * written twice, and the job's lineage `doc_count` sum equal to the
    * corpus size. Every doc counts as one attempted check. */
  def verify(ctx: Ctx, table: String, dir: String, n: Long, jobId: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def seqs(path: String) = spark.read.parquet(path).select("doc_id", "spans").as[ExtractedDoc]
      .map(d => (d.doc_id, d.spans.map(s => (s.kind, s.text, s.media_ref, s.order)).sortBy(_._4)))
    val got = seqs(TableIO.dataDir(table)).toDF("doc_id", "got")
    val exp = seqs(goldenPath(dir)).toDF("doc_id", "exp")
    val dupes = got.groupBy("doc_id").count().where($"count" > 1).count()
    val r = got.join(exp, Seq("doc_id"), "full_outer").agg(
      count(when($"got".isNull, 1)), count(when($"exp".isNull, 1)),
      count(when($"got" =!= $"exp", 1))).collect()(0)
    val (missing, unexpected, mismatched) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val lineageDocs = TableIO.readLineage(spark, table).where($"job_id" === jobId)
      .agg(coalesce(sum("doc_count"), lit(0L))).collect()(0).getLong(0)
    ctx.tally(n, math.min(n, missing + unexpected + mismatched + dupes),
      s"$table: missing=$missing unexpected=$unexpected mismatched=$mismatched dupes=$dupes of $n")
    ctx.check(lineageDocs == n, s"$table: lineage doc_count sum $lineageDocs != $n")
  }

  def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toVector
      finally st.close()
    }
  }

  def fileCount(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0 else { val st = Files.list(p); try st.count().toInt finally st.close() }
  }
}

/** The reference's two read endpoints, timed and checked:
  * GET /content/:id (`readDocJson`) and GET /progress/:id
  * (`progress` + `statusString`). Each read is one attempted check. */
object Requests {
  def pointRead(ctx: Ctx, log: mutable.Buffer[(String, Double)], table: String, docIdx: Long): Double = {
    val id = InterleavedGen.docId(docIdx)
    val (json, s) = ctx.timed(ctx.tracer.span("readDocJson", "job")(
      ExtractJob.readDocJson(ctx.spark, table, id)))
    val pages = InterleavedGen.docWithGolden(docIdx)._2.spans.count(_.kind == "text")
    ctx.check(json.exists(j => "\"page_num\"".r.findAllMatchIn(j).size == pages), s"point read $id")
    log += "point" -> s * 1e3
    s * 1e3
  }

  def progressRead(ctx: Ctx, log: mutable.Buffer[(String, Double)], table: String, jobId: String,
      buckets: Int, committed: Int, docs: Long): Double = {
    val ((row, status), s) = ctx.timed(ctx.tracer.span("progress", "job") {
      (ExtractJob.progress(ctx.spark, table, jobId, buckets).collect()(0),
        ExtractJob.statusString(table, jobId, buckets))
    })
    val wantStatus = if (committed == buckets) "completed" else "processing"
    ctx.check(row.getInt(0) == committed * 100 / buckets && row.getLong(1) == docs &&
      row.getLong(3) == 0 && status == wantStatus,
      s"progress read: got ($row, $status), want $committed/$buckets buckets, $docs docs")
    log += "progress" -> s * 1e3
    s * 1e3
  }
}

/** extract_mixed: fresh-table `ExtractJob.run` (default Config, one
  * chunk) over a seeded `InterleavedGen` window, then point and progress
  * reads of the finished table. Also measures the `pdf`, `html`,
  * `engine`, `job` and `io` layers in a traced run. */
final class ExtractMixed(args: Args) extends Workload {
  val n: Int = if (args.smoke) Corpus.Cycle / 4 else Corpus.Cycle * 10
  val from: Long = 1000000L + math.floorMod(args.seed, 4096L) * Corpus.Cycle
  val readsPerUnit = 4
  def itemName = "docs"
  def minUnits: Int = if (args.smoke) 1 else 3
  def warmPairs: Int = if (args.smoke) 0 else 2
  private val rng = new java.util.SplittableRandom(args.seed)
  private var corpus = ""
  private var table = ""
  private var tables = 0
  /** The last table of each mode (level, traced); all are checked. */
  private val lastTables = mutable.LinkedHashMap.empty[(Int, Boolean), String]
  /** Wall of each `ExtractJob.run` call in traced units, with its span. */
  private val chunkSpans = mutable.ArrayBuffer.empty[(Long, Double)]
  /** (kind, ms) of the reads in traced units. */
  private val tracedReads = mutable.ArrayBuffer.empty[(String, Double)]
  private def log(ctx: Ctx): mutable.Buffer[(String, Double)] =
    if (ctx.tracer.enabled && !ctx.warming) tracedReads else mutable.ArrayBuffer.empty

  def describe: Seq[(String, String)] = Seq(
    "corpus" -> Json.str(s"InterleavedGen docs [$from, ${from + n})"),
    "sink" -> Json.str("<work>/table-<k>: parquet data + lineage manifests + snapshots"),
    "flush_policy" -> Json.str("ExtractJob commits each chunk: parquet append (exactly-once v1 committer), lineage manifest, snapshot"))

  /** A new table for the next job; replaces the last one of the same mode. */
  private def freshTable(ctx: Ctx): String = {
    val mode = (ctx.level, ctx.tracer.enabled)
    lastTables.get(mode).foreach(TableIO.deleteRecursively)
    tables += 1
    table = ctx.dir(s"table-$tables")
    lastTables(mode) = table
    table
  }

  /** Stages the corpus, then warms the read path on one extracted table
    * (the warm-up pairs run jobs only). */
  def setup(ctx: Ctx): Double = {
    val (_, staged) = ctx.timed {
      corpus = ctx.dir("corpus")
      ctx.tracer.span("stage corpus", "bench")(Corpus.stage(ctx.spark, corpus, from, n, args.breakGolden))
    }
    freshTable(ctx)
    runJob(ctx, ExtractJob.Config())
    (0 until 2 * readsPerUnit).foreach(r => read(ctx, r % readsPerUnit))
    staged
  }

  /** The r-th read after a unit: point reads, the last one a progress read. */
  private def read(ctx: Ctx, r: Int): Double =
    if (r == readsPerUnit - 1) Requests.progressRead(ctx, log(ctx), table, "extract", 64, 64, n)
    else Requests.pointRead(ctx, log(ctx), table, from + rng.nextInt(n))

  def unit(ctx: Ctx): UnitResult = {
    var id = -1L
    ctx.tracer.span("unit", "bench") {
      id = ctx.tracer.current
      freshTable(ctx)
      val (stats, s, alloc) = runJob(ctx, ExtractJob.Config())
      ctx.check(stats.docs == n, s"$table: extracted ${stats.docs} of $n docs")
      // reads follow the measured high-level units only: they are what
      // request_ms_* report, and they cost as much time as the job
      val reads = !ctx.warming && ctx.level == ctx.levels._1
      val reqs = if (reads) (0 until readsPerUnit).map(read(ctx, _)).toVector else Vector.empty
      UnitResult(n, s, alloc, reqs, id)
    }
  }

  def check(ctx: Ctx): Unit = lastTables.values.foreach(Corpus.verify(ctx, _, corpus, n, "extract"))

  /** One `ExtractJob.run` call, timed; returns (stats, wall s, alloc bytes). */
  private def runJob(ctx: Ctx, cfg: ExtractJob.Config): (ExtractJob.JobStats, Double, Long) = {
    val input = ctx.spark.read.parquet(Corpus.docsPath(corpus))
    val a0 = Alloc.snapshot()
    var id = -1L
    val (stats, s) = ctx.timed(ctx.tracer.span("ExtractJob.run", "job") {
      id = ctx.tracer.current
      ExtractJob.run(ctx.spark, input, table, cfg)
    })
    val alloc = Alloc.since(a0)
    ctx.tally(stats.docs, stats.failedDocs, s"$table: ${stats.failedDocs} failed docs")
    if (ctx.tracer.enabled && !ctx.warming) chunkSpans += id -> s
    (stats, s, alloc)
  }

  private def kindOf(i: Long): String = (i % 10).toInt match {
    case 9 => "pdf_heavy"
    case 0 => "html"
    case 1 | 2 | 3 => "passthrough"
    case _ => "pdf"
  }

  def layers(ctx: Ctx, traced: Seq[UnitResult]): Map[String, Double] = {
    val spark = ctx.spark
    val out = mutable.LinkedHashMap.empty[String, Double]
    // job: the traced `ExtractJob.run` calls (one per unit; the reads
    // after it are not job work), from bench timers and the bench listener
    val chunks = chunkSpans.toSeq.map { case (id, s) => (s, ctx.tracer.statsUnder(id)) }
    def med(f: SparkStats => Double) = Stats.median(chunks.map(c => f(c._2)))
    out ++= Seq(
      "job.wall_s" -> Stats.median(chunks.map(_._1)),
      "job.cpu_s" -> med(_.cpuNs / 1e9), "job.gc_s" -> med(_.gcMs / 1e3),
      "job.spark_jobs" -> med(_.jobs.toDouble), "job.tasks" -> med(_.tasks.toDouble),
      "job.task_max_over_median" -> med(_.maxOverMedianTask),
      "job.bytes_written" -> med(_.bytesWritten.toDouble),
      "job.chunk_ms_p50" -> Stats.median(chunks.map(_._1 * 1e3)),
      "job.chunk_fixed_ms" -> Stats.median(chunks.map { case (s, x) => s * 1e3 - x.runMs.toDouble / ctx.level }))
    // scan-only and extract-without-write passes over the same corpus
    import spark.implicits._
    def pass(name: String)(f: => Any): Double =
      Stats.median((1 to 3).map(_ => ctx.timed(ctx.tracer.span(name, "job")(f))._2))
    out("job.scan_s") = pass("scan pass") {
      spark.read.parquet(Corpus.docsPath(corpus)).select(sum(size($"spans"))).collect()
    }
    out("job.extract_s") = pass("extract pass") {
      spark.read.parquet(Corpus.docsPath(corpus)).as[InterleavedDoc].mapPartitions { it =>
        val opts = ExtractOptions()
        Iterator(it.map(d => Extractor.extractDoc(d, opts).spanCount.toLong).sum)
      }.collect()
    }
    out("job.write_s") = out("job.wall_s") - out("job.scan_s") - out("job.extract_s")
    out("job.files_written") = Corpus.parquetFiles(TableIO.dataDir(table)).size.toDouble
    out ++= ioLayer(ctx)
    out ++= replay(ctx)
    val byKind = tracedReads.groupMap(_._1)(_._2)
    out("io.point_read_ms_p50") = Stats.median(byKind.getOrElse("point", Nil).toSeq)
    out("io.progress_read_ms_p50") = Stats.median(byKind.getOrElse("progress", Nil).toSeq)
    out ++= QueryOps.Names.flatMap(q => QueryOps.OperatorMetrics.map(m => s"operators.$q.$m" -> 0.0))
    out.toMap
  }

  /** io: bench timers around the public `TableIO` calls on the last
    * table, and counts read from its directory. The lineage commit goes
    * to a side table; the snapshot commit adds a version to the real one. */
  private def ioLayer(ctx: Ctx): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val reps = 15
    def ms(name: String)(f: => Any): Double =
      Stats.median((1 to reps).map(_ => ctx.timed(tr.span(name, "io")(f))._2 * 1e3))
    val side = ctx.dir("io-side-table")
    val rows = (0 until 8).map(b => LineageRow("probe", b, 100, 300, 100000, 0, "committed", 1, 0L))
    var k = 0
    val readIds = (0 until reps).map(_ => InterleavedGen.docId(from + rng.nextInt(n)))
    var readSpans = Vector.empty[Long]
    Seq(
      "io.committed_buckets_ms" -> ms("TableIO.committedBuckets")(TableIO.committedBuckets(table, "extract")),
      "io.commit_lineage_ms" -> ms("TableIO.commitLineage") { k += 1; TableIO.commitLineage(side, f"probe-$k%04d", rows) },
      "io.commit_snapshot_ms" -> ms("TableIO.commitSnapshot")(TableIO.commitSnapshot(table)),
      "io.lineage_files" -> Corpus.fileCount(TableIO.lineageDir(table)).toDouble,
      "io.data_files" -> Corpus.parquetFiles(TableIO.dataDir(table)).size.toDouble,
      "io.point_read_files" ->
        ExtractJob.readDoc(ctx.spark, table, readIds.head).inputFiles.length.toDouble,
      "io.point_read_bytes" -> {
        readIds.foreach { id =>
          tr.span("readDoc", "job") { readSpans :+= tr.current; ExtractJob.readDoc(ctx.spark, table, id).collect() }
        }
        tr.drain()
        Stats.median(readSpans.map(s => tr.statsUnder(s).bytesRead.toDouble))
      })
  }

  /** pdf, html and engine: a single-thread replay of a seeded sample of
    * the workload's own docs, one warm pass then one measured pass. */
  private def replay(ctx: Ctx): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val sample = (0 until 200).map(_ => from + rng.nextInt(n)).sorted
      .map(i => i -> InterleavedGen.docWithGolden(i)._1)
    val opts = ExtractOptions()
    val engUs = mutable.Map.empty[String, mutable.Buffer[Double]]
    val engKb = mutable.Map.empty[String, mutable.Buffer[Double]]
    var spans = 0L
    var pdfDocs = 0; var pages = 0L; var loadNs = 0L; var treeNs = 0L; var textNs = 0L
    var pdfAlloc = 0L; var unmapped = 0L; var htmlDocs = 0; var htmlNs = 0L
    for (measured <- Seq(false, true); (i, d) <- sample) {
      val a0 = Alloc.thread()
      val (res, s) = ctx.timed(tr.span("Extractor.extractDoc", "engine")(Extractor.extractDoc(d, opts)))
      val a1 = Alloc.thread()
      if (measured) {
        engUs.getOrElseUpdate(kindOf(i), mutable.ArrayBuffer.empty) += s * 1e6
        engKb.getOrElseUpdate(kindOf(i), mutable.ArrayBuffer.empty) += (a1 - a0) / 1024.0
        spans += res.spanCount
      }
      d.spans.foreach { sp =>
        if (sp.kind == "pdf_bytes") {
          val bytes = java.util.Base64.getDecoder.decode(sp.text)
          val b0 = Alloc.thread()
          val t0 = System.nanoTime()
          val doc = tr.span("PdfDocument.load", "pdf")(PdfDocument.load(bytes))
          val t1 = System.nanoTime()
          val ps = tr.span("PdfDocument.pages", "pdf")(doc.pages)
          val t2 = System.nanoTime()
          var um = 0L
          ps.foreach(p => um += tr.span("ContentText.extractPageTextCounted", "pdf")(
            ContentText.extractPageTextCounted(doc, p))._2)
          val t3 = System.nanoTime()
          if (measured) {
            pdfDocs += 1; pages += ps.size; loadNs += t1 - t0; treeNs += t2 - t1; textNs += t3 - t2
            pdfAlloc += Alloc.thread() - b0; unmapped += um
          }
        } else if (sp.kind == "html") {
          val t0 = System.nanoTime()
          tr.span("Boilerplate.extract", "html")(Boilerplate.extract(sp.text))
          if (measured) { htmlDocs += 1; htmlNs += System.nanoTime() - t0 }
        }
      }
    }
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val kinds = Seq("pdf_heavy", "pdf", "html", "passthrough")
    Seq(
      "pdf.load_us" -> loadNs / 1e3 / math.max(pdfDocs, 1),
      "pdf.page_tree_us" -> treeNs / 1e3 / math.max(pdfDocs, 1),
      "pdf.page_text_us_per_page" -> textNs / 1e3 / math.max(pages, 1L),
      "pdf.alloc_kb_per_doc" -> pdfAlloc / 1024.0 / math.max(pdfDocs, 1),
      "pdf.unmapped_codes" -> unmapped.toDouble,
      "html.extract_us_per_doc" -> htmlNs / 1e3 / math.max(htmlDocs, 1),
      "engine.spans_per_doc" -> spans.toDouble / sample.size) ++
      kinds.map(k => s"engine.us_per_doc.$k" -> mean(engUs.getOrElse(k, Nil))) ++
      kinds.map(k => s"engine.alloc_kb_per_doc.$k" -> mean(engKb.getOrElse(k, Nil)))
  }
}
