package graft.job

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.model._
import graft.fixtures.InterleavedGen
import graft.io.TableIO

/** Pipeline-level tests: output parity vs golden, resume-after-kill
  * equivalence (SURVEY.md §5.2.3), fail-soft accounting, lineage
  * metrics (north_rule resumability + per-partition lineage).
  */
class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.spark.Sessions.local(4, "extract-job-spec")
  override def afterAll(): Unit = spark.stop()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def corpusDf(n: Long) = {
    import spark.implicits._
    spark.range(0, n, 1, 4).map(i => InterleavedGen.docWithGolden(i)._1).toDF()
  }

  private def readSpans(tableDir: String): Map[String, Seq[Span]] = {
    import spark.implicits._
    spark.read.parquet(TableIO.dataDir(tableDir)).as[ExtractJob.OutRow]
      .collect().map(r => r.doc_id -> r.spans.sortBy(_.order)).toMap
  }

  test("full run matches by-construction goldens") {
    val table = tmpDir("graft-full")
    val stats = ExtractJob.run(spark, corpusDf(80), table,
      ExtractJob.Config(numBuckets = 16, saltsPerBucket = 2))
    assert(stats.docs == 80 && stats.failedDocs == 0 && stats.bucketsProcessed == 16)
    val got = readSpans(table)
    (0L until 80L).foreach { i =>
      val (_, exp) = InterleavedGen.docWithGolden(i)
      assert(got.get(exp.doc_id).contains(exp.spans), s"doc $i")
    }
  }

  // 40 docs under 4 ids, each carrying the same two text spans: a
  // dictionary would pay off on doc_id and span text, so only the sink's
  // writer options keep it off (unique values never keep one either way)
  private def repeatedDocs = {
    import spark.implicits._
    spark.range(40).map(i => InterleavedDoc(f"rep${i % 4}%08d", Seq(
      RawSpan("text", "the same paragraph", null, 0), RawSpan("text", "and another", null, 1)))).toDF()
  }

  /** Per column path of the parquet files under `dir`: does any chunk of
    * any file carry a dictionary page. */
  private def dictionaryPages(dir: String): Map[String, Boolean] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && !f.toString.contains("_spark_metadata")).toSeq
    assert(files.nonEmpty, s"no parquet files under $dir")
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage)
      finally r.close()
    }.groupBy(_._1).map { case (p, cs) => p -> cs.exists(_._2) }
  }

  private def assertSinkDictionaries(dict: Map[String, Boolean]): Unit =
    assert(!dict("doc_id") && !dict("spans.list.element.text") && dict("spans.list.element.kind"),
      s"$dict")

  test("sink: doc_id and span text are written without a dictionary even where they repeat; kind keeps one") {
    val table = tmpDir("graft-sink-dict")
    ExtractJob.run(spark, repeatedDocs, table, ExtractJob.Config(numBuckets = 4))
    assertSinkDictionaries(dictionaryPages(TableIO.dataDir(table)))
  }

  test("streaming sink: the same writer options — no dictionary on doc_id and span text") {
    val corpus = tmpDir("graft-sink-stream-src")
    val out = tmpDir("graft-sink-stream-out")
    repeatedDocs.coalesce(1).write.mode("overwrite").parquet(corpus)
    graft.streaming.ExtractStream.run(spark, corpus, out, tmpDir("graft-sink-stream-ck"))
      .awaitTermination()
    assertSinkDictionaries(dictionaryPages(out))
  }

  test("per-job password reaches the InternalRow fast path: encrypted corpus extracts; no password fails soft") {
    import spark.implicits._
    val texts = Seq("locked page one", "locked page two")
    val b64 = java.util.Base64.getEncoder.encodeToString(
      graft.pdf.PdfBuilder.withEncryption(aes = true, texts, userPw = "jobpw"))
    val in = spark.range(6).map(i => InterleavedDoc(f"enc$i%08d",
      Seq(RawSpan("pdf_bytes", b64, "", 0)))).toDF()
    val okT = tmpDir("graft-encpw-ok")
    val okStats = ExtractJob.run(spark, in, okT, ExtractJob.Config(numBuckets = 4,
      opts = ExtractOptions(password = Some("jobpw"))))
    assert(okStats.docs == 6 && okStats.failedDocs == 0)
    val got = readSpans(okT)
    assert(got.values.forall(_.map(_.text) == texts), s"wrong spans: ${got.values.headOption}")
    // without the password: every doc a declared fail-soft error record
    val noT = tmpDir("graft-encpw-no")
    val noStats = ExtractJob.run(spark, in, noT, ExtractJob.Config(numBuckets = 4))
    assert(noStats.failedDocs == 6, s"expected 6 declared failures, got ${noStats.failedDocs}")
  }

  test("unmapped_codes reaches the lineage table (visible-degradation metric end-to-end)") {
    import spark.implicits._
    // one page with two StandardEncoding-undefined bytes (0xFF, 0x7F)
    val pdf = graft.pdf.PdfBuilder.simple(
      Seq(graft.pdf.PdfBuilder.tjLine("x\u00FFy\u007Fz")))
    val b64 = java.util.Base64.getEncoder.encodeToString(pdf)
    val in = spark.range(3).map(i => InterleavedDoc(f"um$i%08d",
      Seq(RawSpan("pdf_bytes", b64, "", 0)))).toDF()
    val t = tmpDir("graft-unmapped")
    ExtractJob.run(spark, in, t, ExtractJob.Config(numBuckets = 2))
    val lineage = TableIO.readLineage(spark, t)
    val total = lineage.agg(org.apache.spark.sql.functions.sum("unmapped_codes"))
      .head().getLong(0)
    assert(total == 6L, s"expected 3 docs x 2 unmapped codes in lineage, got $total")
  }

  test("bucketed mode ≡ scan mode output; bucketed lays out bucket=N dirs") {
    val scanT = tmpDir("graft-scan"); val buckT = tmpDir("graft-buck")
    val in = corpusDf(40)
    ExtractJob.run(spark, in, scanT, ExtractJob.Config(numBuckets = 8, mode = "scan"))
    ExtractJob.run(spark, in, buckT, ExtractJob.Config(numBuckets = 8, mode = "bucketed"))
    assert(readSpans(scanT) == readSpans(buckT))
    val bucketDirs = new java.io.File(TableIO.dataDir(buckT))
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs == 8, s"expected 8 bucket dirs, got $bucketDirs")
  }

  test("giant-doc page-chunk fan-out ≡ direct extraction (skew path, SURVEY §4.3)") {
    import spark.implicits._
    // 500-page huge PDF + normal docs + a corrupt giant
    val hugeTexts = (1 to 500).map(p => s"huge page $p")
    val huge = InterleavedDoc("doc_huge",
      Seq(RawSpan("pdf_bytes",
        InterleavedGen.b64(graft.pdf.PdfBuilder.simple(
          hugeTexts.map(t => graft.pdf.PdfBuilder.tjLine(t)), flate = true)), "", 0)))
    val corruptGiant = InterleavedDoc("doc_bad",
      Seq(RawSpan("pdf_bytes", InterleavedGen.b64(
        Array.fill[Byte](5000)('x'.toByte)), "", 0)))
    // a giant with no pages (padded past the threshold) is an empty
    // document, as direct extraction writes it; a giant whose pages
    // carry unmapped font codes sums them over its chunks
    val zeroPage = InterleavedDoc("doc_zero", Seq(RawSpan("pdf_bytes", InterleavedGen.b64(
      graft.pdf.PdfBuilder.simple(Seq(), fontExtra = s"/Pad (${"p" * 2000})")), "", 0)))
    val unmapped = InterleavedDoc("doc_unmapped", Seq(RawSpan("pdf_bytes", InterleavedGen.b64(
      graft.pdf.PdfBuilder.simple((1 to 100).map(p => graft.pdf.PdfBuilder.tjLine(s"p$p" + "\u00FF")))),
      "", 0)))
    // two input rows with one doc_id and one payload are two documents
    val twin = InterleavedDoc("doc_twin", Seq(RawSpan("pdf_bytes", InterleavedGen.b64(
      graft.pdf.PdfBuilder.simple((1 to 100).map(p => graft.pdf.PdfBuilder.tjLine(s"twin $p")))),
      "", 0)))
    val normals = (0L until 20L).map(i => InterleavedGen.docWithGolden(i)._1)
    val input = spark.createDataset(
      normals :+ huge :+ corruptGiant :+ zeroPage :+ unmapped :+ twin :+ twin).toDF()

    val direct = tmpDir("graft-direct"); val fanned = tmpDir("graft-fanout")
    val s1 = ExtractJob.run(spark, input, direct, ExtractJob.Config(numBuckets = 8))
    val s2 = ExtractJob.run(spark, input, fanned, ExtractJob.Config(numBuckets = 8,
      giantBytesThreshold = 2000, giantChunkPages = 32))
    assert(readSpans(direct) == readSpans(fanned))
    def rows(t: String) = spark.read.parquet(TableIO.dataDir(t)).as[ExtractJob.OutRow]
      .collect().map(r => (r.doc_id, r.spans.sortBy(_.order))).toSeq.sortBy(_.toString)
    assert(rows(direct) == rows(fanned))
    assert(rows(fanned).count(_._1 == "doc_twin") == 2)
    assert(s1 == s2)
    assert(s2.failedDocs == 1) // the corrupt giant, fail-soft
    val hugeSpans = readSpans(fanned)("doc_huge")
    assert(hugeSpans.map(_.text) == hugeTexts)
    assert(hugeSpans.map(_.order) == (0 until 500))
    assert(readSpans(fanned).get("doc_zero").contains(Seq()))
    // per-bucket lineage: docs and bytes once per doc, spans of whole
    // docs only, failures once per doc, unmapped codes summed
    def lineage(t: String) = TableIO.readLineage(spark, t)
      .select("bucket", "doc_count", "span_count", "bytes_in", "failed_docs", "unmapped_codes")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int]).toSeq
    assert(lineage(direct) == lineage(fanned))
    assert(lineage(fanned).map(_.last.asInstanceOf[Long]).sum == 100L)
  }

  test("kill after k chunks + resume ≡ single run (resume invariance)") {
    val input = corpusDf(60)
    val cfgBase = ExtractJob.Config(jobId = "resume-test", numBuckets = 16,
      saltsPerBucket = 2, chunkBuckets = 4)

    val killed = tmpDir("graft-killed")
    val s1 = ExtractJob.run(spark, input, killed, cfgBase.copy(maxChunks = 2)) // "killed" after 2/4 chunks
    assert(s1.bucketsProcessed == 8)
    val s2 = ExtractJob.run(spark, input, killed, cfgBase.copy(attempt = 2)) // resume
    assert(s2.committedBucketsBefore == 8 && s2.bucketsProcessed == 8)
    assert(s1.docs + s2.docs == 60)

    val single = tmpDir("graft-single")
    ExtractJob.run(spark, input, single, cfgBase)
    assert(readSpans(killed) == readSpans(single))
  }

  test("repeated runs under one attempt keep every chunk's commit (no manifest overwrite)") {
    import spark.implicits._
    val input = corpusDf(60)
    val cfg = ExtractJob.Config(jobId = "same-attempt", numBuckets = 16,
      saltsPerBucket = 2, chunkBuckets = 4)
    val t = tmpDir("graft-same-attempt")
    val s1 = ExtractJob.run(spark, input, t, cfg.copy(maxChunks = 1))
    val s2 = ExtractJob.run(spark, input, t, cfg.copy(maxChunks = 1))
    assert(s1.bucketsProcessed == 4 && s2.committedBucketsBefore == 4)
    assert(TableIO.committedBuckets(t, "same-attempt").size == 8,
      "the second run's commit replaced the first run's buckets")
    ExtractJob.run(spark, input, t, cfg)
    val ids = spark.read.parquet(TableIO.dataDir(t)).select("doc_id").as[String].collect()
    assert(ids.length == 60 && ids.distinct.length == 60, s"${ids.length} rows for 60 docs")
    val lineageDocs = TableIO.readLineage(spark, t)
      .agg(org.apache.spark.sql.functions.sum("doc_count")).head().getLong(0)
    assert(lineageDocs == 60L)
  }

  test("kill + resume with giant fan-out ON ≡ single run (skew path × resume interplay)") {
    import spark.implicits._
    // two giants hash into different buckets; a kill between chunks
    // must re-extract only the uncommitted giant, through the SAME
    // chunk fan-out, and reassemble identically
    val giants = (0 until 2).map { g =>
      val texts = (1 to 300).map(p => s"giant $g page $p")
      InterleavedDoc(s"doc_giant$g",
        Seq(RawSpan("pdf_bytes", InterleavedGen.b64(graft.pdf.PdfBuilder.simple(
          texts.map(t => graft.pdf.PdfBuilder.tjLine(t)), flate = true)), "", 0)))
    }
    val normals = (0L until 30L).map(i => InterleavedGen.docWithGolden(i)._1)
    val input = spark.createDataset(normals ++ giants).toDF()
    val cfg = ExtractJob.Config(jobId = "resume-fan", numBuckets = 8,
      chunkBuckets = 2, giantBytesThreshold = 2000, giantChunkPages = 64)

    val killed = tmpDir("graft-killed-fan")
    ExtractJob.run(spark, input, killed, cfg.copy(maxChunks = 2)) // die after 2/4 chunks
    val s2 = ExtractJob.run(spark, input, killed, cfg.copy(attempt = 2)) // resume
    assert(s2.committedBucketsBefore == 4 && s2.bucketsProcessed == 4)

    val single = tmpDir("graft-single-fan")
    ExtractJob.run(spark, input, single, cfg)
    assert(readSpans(killed) == readSpans(single))
    val g0 = readSpans(single)("doc_giant0")
    assert(g0.map(_.order) == (0 until 300)) // reassembled, ordered, complete
  }

  test("job extracts spans in offset order even when stored shuffled (InternalRow path)") {
    import spark.implicits._
    val table = tmpDir("graft-shuffled")
    val in = spark.createDataset(Seq(InterleavedDoc("ds", Seq(
      RawSpan("text", "third", "", 2),
      RawSpan("text", "first", "", 0),
      RawSpan("media", "", "m.png", 1))))).toDF()
    ExtractJob.run(spark, in, table, ExtractJob.Config(numBuckets = 2))
    assert(readSpans(table)("ds").map(s => (s.kind, s.text, s.media_ref)) ==
      Seq(("text", "first", ""), ("media", "", "m.png"), ("text", "third", "")))
  }

  test("kill mid-chunk: uncommitted task files (_temporary) are invisible to readers and resume") {
    import spark.implicits._
    // the v1 committer keeps in-flight task output under _temporary
    // until job commit; a kill mid-chunk must leave nothing a reader or
    // a resume can see (this is why the v2 committer is bench-only)
    val table = tmpDir("graft-killmid")
    val input = corpusDf(40)
    val cfg = ExtractJob.Config(jobId = "km", numBuckets = 8, chunkBuckets = 4)
    ExtractJob.run(spark, input, table, cfg.copy(maxChunks = 1)) // chunk 1 committed
    // simulate the kill: chunk 2 died mid-write, leaving only task
    // attempt files under _temporary (what the v1 committer leaves)
    val tmpTask = new java.io.File(
      s"${TableIO.dataDir(table)}/_temporary/0/_temporary/attempt_x/part-00000.parquet")
    tmpTask.getParentFile.mkdirs()
    spark.createDataset(Seq(ExtractJob.OutRow("doc_BOGUS", Seq(Span("text", "x", "", 0)), 3)))
      .write.mode("overwrite").parquet(tmpTask.toString)
    val before = readSpans(table)
    assert(!before.contains("doc_BOGUS"), "reader must ignore _temporary")
    val resumed = ExtractJob.run(spark, input, table, cfg.copy(attempt = 2))
    assert(resumed.committedBucketsBefore == 4 && resumed.bucketsProcessed == 4)
    val after = readSpans(table)
    assert(!after.contains("doc_BOGUS"))
    val single = tmpDir("graft-killmid-single")
    ExtractJob.run(spark, input, single, cfg)
    assert(after == readSpans(single))
  }

  test("rerun of a complete table is a metadata no-op") {
    val table = tmpDir("graft-noop")
    val input = corpusDf(20)
    ExtractJob.run(spark, input, table, ExtractJob.Config(numBuckets = 8))
    val again = ExtractJob.run(spark, input, table, ExtractJob.Config(numBuckets = 8))
    assert(again.bucketsProcessed == 0 && again.docs == 0 && again.committedBucketsBefore == 8)
  }

  test("fan-out child session inherits the caller's RUNTIME conf (cloneSession contract)") {
    // newSession() starts from builder-time SparkConf only; the fan-out
    // write path must instead clone, so a caller-set runtime conf
    // (session timezone here) applies to the scoped write too
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "Pacific/Apia")
    try {
      val child = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
      assert(child.conf.get(key) == "Pacific/Apia",
        "clone must carry parent's runtime conf")
      child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // child tweak must NOT leak back to the parent
      assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true") == "true")
      // and the fan-out job itself still produces golden-equal output
      val table = tmpDir("graft-clone")
      val input = corpusDf(12)
      ExtractJob.run(spark, input, table,
        ExtractJob.Config(numBuckets = 4, giantBytesThreshold = 2000, giantChunkPages = 32))
      val got = readSpans(table)
      assert(got.size == 12)
    } finally {
      spark.conf.set(key, prev)
    }
  }

  test("corrupt docs: counted failed, partition still commits, good docs kept") {
    import spark.implicits._
    val mixed = spark.range(0, 10, 1, 2).map { i =>
      if (i == 3 || i == 7) InterleavedGen.corruptDoc(i)
      else InterleavedGen.docWithGolden(i)._1
    }.toDF()
    val table = tmpDir("graft-corrupt")
    val stats = ExtractJob.run(spark, mixed, table, ExtractJob.Config(numBuckets = 4))
    assert(stats.docs == 10 && stats.failedDocs == 2 && stats.bucketsProcessed == 4)
    assert(readSpans(table).size == 8)
    val lin = TableIO.readLineage(spark, table)
    assert(lin.agg(org.apache.spark.sql.functions.sum("failed_docs")).collect()(0).getLong(0) == 2)
  }

  test("null doc_id, spans, span, kind or read text: the row fails soft, counted in its bucket") {
    import spark.implicits._
    val (good, golden) = InterleavedGen.docWithGolden(4)
    val rows: Seq[(String, Seq[RawSpan])] = Seq(
      good.doc_id -> good.spans,
      (null: String) -> good.spans,
      "nullspans" -> null,
      "nullspan" -> Seq(RawSpan("text", "a", "", 0), null),
      "nullkind" -> Seq(RawSpan(null, "a", "", 0)),
      "nulltext" -> Seq(RawSpan("text", null, "", 0)),
      "nullhtml" -> Seq(RawSpan("html", null, "", 0)),
      "nullpdf" -> Seq(RawSpan("pdf_bytes", null, "", 0)),
      "nullref" -> Seq(RawSpan("media", "", null, 0)),
      // a text span never reads its media_ref: a null one is no failure
      "textnullref" -> Seq(RawSpan("text", "kept", null, 0)))
    val table = tmpDir("graft-nulls")
    val stats = ExtractJob.run(spark, rows.toDF("doc_id", "spans").repartition(2), table,
      ExtractJob.Config(numBuckets = 4))
    assert(stats.docs == 10 && stats.failedDocs == 8 && stats.bucketsProcessed == 4)
    val got = readSpans(table)
    assert(got.keySet == Set(good.doc_id, "textnullref"))
    assert(got(good.doc_id) == golden.spans)
    assert(got("textnullref") == Seq(Span("text", "kept", "", 0)))
    val lin = TableIO.readLineage(spark, table)
    assert(lin.agg(org.apache.spark.sql.functions.sum("failed_docs")).collect()(0).getLong(0) == 8)
  }

  test("progress view reflects partial completion") {
    val table = tmpDir("graft-prog")
    val input = corpusDf(40)
    val cfg = ExtractJob.Config(jobId = "prog", numBuckets = 8, chunkBuckets = 2)
    ExtractJob.run(spark, input, table, cfg.copy(maxChunks = 2)) // 4/8 buckets
    val row = ExtractJob.progress(spark, table, "prog", 8).collect()(0)
    assert(row.getInt(0) == 50)
  }

  test("status vocabulary: queued -> processing -> completed; failed docs STILL read completed (server.ts:166 quirk)") {
    import spark.implicits._
    val table = tmpDir("graft-status")
    val cfg = ExtractJob.Config(jobId = "st", numBuckets = 8, chunkBuckets = 4)
    assert(ExtractJob.statusString(table, "st", 8) == "queued")
    val mixed = spark.range(0, 10, 1, 2).map { i =>
      if (i == 3) InterleavedGen.corruptDoc(i) else InterleavedGen.docWithGolden(i)._1
    }.toDF()
    ExtractJob.run(spark, mixed, table, cfg.copy(maxChunks = 1)) // half committed
    assert(ExtractJob.statusString(table, "st", 8) == "processing")
    val st = ExtractJob.run(spark, mixed, table, cfg.copy(attempt = 2)) // finish
    assert(st.failedDocs + 1 >= 1) // corrupt doc failed in one of the runs
    // the reference's lossy read: FAILED surfaces as 'completed'
    assert(ExtractJob.statusString(table, "st", 8) == "completed")
  }

  test("per-doc option columns override job defaults row-wise (NewFileProcessQueue fidelity)") {
    import spark.implicits._
    def pdfDoc(id: String, pages: Int) = {
      val pdf = graft.pdf.PdfBuilder.simple(
        (1 to pages).map(p => graft.pdf.PdfBuilder.tjLine(s"$id page $p")))
      (id, Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)))
    }
    val rows = Seq(
      pdfDoc("ranged", 10) match { case (id, sp) => (id, sp, Some(3), Some(2), None: Option[String]) },
      pdfDoc("full", 4) match { case (id, sp) => (id, sp, None, None, None) },
      pdfDoc("badengine", 2) match { case (id, sp) => (id, sp, None, None, Some("nope")) })
    val input = rows.toDF("doc_id", "spans", "start_page", "page_count", "engine")
    val table = tmpDir("graft-perdoc")
    val stats = ExtractJob.run(spark, input, table, ExtractJob.Config(numBuckets = 4))
    val got = readSpans(table)
    // start_page=3 with the reference's off-by-one → pages 2..3
    assert(got("ranged").map(_.text) == Seq("ranged page 2", "ranged page 3"))
    assert(got("full").map(_.text) == (1 to 4).map(p => s"full page $p"))
    assert(!got.contains("badengine") && stats.failedDocs == 1)
  }

  test("per-doc password column decrypts row-wise; wrong password fails soft; null falls back") {
    import spark.implicits._
    def row(id: String, pdf: Array[Byte], pw: Option[String]) =
      (id, Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)), pw)
    val rows = Seq(
      row("pwdoc", graft.pdf.PdfBuilder.withEncryption(aes = true,
        texts = Seq("locked a", "locked b"), userPw = "s3cret"), Some("s3cret")),
      row("plain", graft.pdf.PdfBuilder.simple(
        Seq(graft.pdf.PdfBuilder.tjLine("open page"))), None),
      row("wrongpw", graft.pdf.PdfBuilder.withEncryption(aes = false,
        texts = Seq("locked c"), userPw = "right"), Some("wrong")))
    val input = rows.toDF("doc_id", "spans", "password")
    val table = tmpDir("graft-perdoc-pw")
    val stats = ExtractJob.run(spark, input, table, ExtractJob.Config(numBuckets = 4))
    val got = readSpans(table)
    assert(got("pwdoc").map(_.text) == Seq("locked a", "locked b"))
    assert(got("plain").map(_.text) == Seq("open page"))
    assert(!got.contains("wrongpw") && stats.failedDocs == 1)
  }

  test("readDocJson emits the reference's serde_json pretty format (file_helper.rs:55-77)") {
    val table = tmpDir("graft-json")
    import spark.implicits._
    val in = spark.createDataset(Seq(InterleavedDoc("d1", Seq(
      RawSpan("text", "Hello \"pdfz\"\nworld", "", 0),
      RawSpan("media", "", "m.png", 1),
      RawSpan("text", "page two", "", 2))))).toDF()
    ExtractJob.run(spark, in, table, ExtractJob.Config(numBuckets = 2))
    val expected =
      "[\n  {\n    \"page_num\": 1,\n    \"text\": \"Hello \\\"pdfz\\\"\\nworld\"\n  },\n" +
        "  {\n    \"page_num\": 2,\n    \"text\": \"page two\"\n  }\n]"
    assert(ExtractJob.readDocJson(spark, table, "d1").contains(expected))
    assert(ExtractJob.readDocJson(spark, table, "nope").isEmpty)
  }

  test("readDocJson under start_page=3 + page_count carries ORIGINAL page numbers (§2.6.2+§2.6.3)") {
    // the reference emits the PDF's real page_num (engine/mod.rs:90):
    // start_page=3 with the off-by-one begins at page 2, so the JSON
    // must read page_num 2,3 — NOT the 1,2 rank a normalized span
    // model would produce
    val table = tmpDir("graft-json-range")
    import spark.implicits._
    val pdf = graft.pdf.PdfBuilder.simple(
      (1 to 10).map(p => graft.pdf.PdfBuilder.tjLine(s"pg $p")))
    val in = spark.createDataset(Seq(
      InterleavedDoc("dr", Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)))
    )).toDF()
    ExtractJob.run(spark, in, table, ExtractJob.Config(numBuckets = 2,
      opts = ExtractOptions(startPage = 3, pageCount = 2)))
    val expected =
      "[\n  {\n    \"page_num\": 2,\n    \"text\": \"pg 2\"\n  },\n" +
        "  {\n    \"page_num\": 3,\n    \"text\": \"pg 3\"\n  }\n]"
    assert(ExtractJob.readDocJson(spark, table, "dr").contains(expected))
  }

  test("point read returns one doc, partition-pruned") {
    val table = tmpDir("graft-point")
    ExtractJob.run(spark, corpusDf(20), table, ExtractJob.Config(numBuckets = 8))
    val df = ExtractJob.readDoc(spark, table, InterleavedGen.docId(5))
    assert(df.count() == 1)
    // bucket pruning visible in the plan: PartitionFilters on bucket would
    // need the literal bucket value; doc_id pushdown at least must appear
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("Filter"))
  }
}
