package graft.job

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2
import graft.core.model._
import graft.engine.Extractor
import graft.io.TableIO

/** The flagship extraction pipeline — the reference's whole dataflow
  * (queue → worker pool → engines → JSON sink → Redis tracker,
  * SURVEY.md §3.1) as ONE Spark query per chunk:
  *
  *   read input → resume anti-join(lineage) → [salted repartition]
  *     → mapPartitions(extract) → append output parquet
  *     → commit lineage manifest
  *
  * Two physical modes (Config.mode): the default "scan" plan is
  * map-only — extraction is embarrassingly parallel, so shuffling the
  * corpus is pure cost; resumability does NOT require it because the
  * commit unit (bucket = hash(doc_id)) is row-wise. "bucketed" pays
  * one salted shuffle for bucket-aligned output layout.
  *
  * Scale design (SURVEY.md §4.3):
  *  - bucket = pmod(xxhash64(doc_id), numBuckets): deterministic across
  *    runs (resume correctness) and across cluster sizes;
  *  - salt = pmod(xxhash64(doc_id, 7), saltsPerBucket) spreads a hot
  *    bucket over `saltsPerBucket` tasks, so one giant multi-page PDF
  *    row cannot serialize a whole bucket behind one core — the skew
  *    answer the reference lacks (one 10k-page doc stalls one of its 5
  *    semaphore permits, queue_handler.rs:43);
  *  - per-bucket metrics ride a map accumulator inside the SAME action
  *    as the write — no second pass, no cache, no driver-side data;
  *  - chunked commits (`chunkBuckets`) bound the blast radius of a
  *    kill: each chunk is one Spark action followed by one atomic
  *    lineage append, so resume loses at most one chunk of work.
  */
object ExtractJob {

  final case class Config(
      jobId: String = "extract",
      /** Commit/resume granularity: a killed job re-extracts at most
        * the uncommitted buckets of the running chunk. 64 suits tests;
        * at 10^12 docs size this O(10^4-10^5) so one bucket is minutes
        * of work, not days (buckets are hash-assigned, so raising it
        * only changes manifest row counts — still metadata-scale). */
      numBuckets: Int = 64,
      saltsPerBucket: Int = 8,
      chunkBuckets: Int = 0, // 0 = all pending buckets in one action
      maxChunks: Int = Int.MaxValue, // stop after N chunks (incremental / kill simulation)
      attempt: Int = 1,
      /** "scan" (default): map-only — extraction runs inside the scan
        * partitions, NO shuffle of corpus bytes, output files carry
        * `bucket` as a plain column. The lineage/commit protocol is
        * unchanged (buckets are row-wise hashes, so a successful chunk
        * action fully covers its buckets regardless of physical
        * layout). At 10^12 docs this saves shuffling the entire corpus.
        *
        * "bucketed": salted repartition on (bucket, salt) before
        * extraction + partitionBy(bucket) output — pays one full
        * shuffle to get bucket-aligned output files (downstream
        * bucket-join locality, per-bucket point-read pruning) and
        * salt-spread skew. Use when the output table's layout matters
        * more than extraction throughput. */
      mode: String = "scan",
      /** Giant-document page-chunk fan-out (SURVEY.md §4.3): salting
        * spreads BUCKETS over tasks, but one 10k-page PDF is a single
        * row — AQE cannot split a row. When > 0, single-span pdf_bytes
        * docs of at least this many payload bytes are probed for page
        * count (xref walk only — content streams stay undecoded),
        * exploded into `giantChunkPages`-page chunk rows, extracted as
        * independent page ranges in parallel, and reassembled with one
        * shuffle of the EXTRACTED text (never the raw bytes twice).
        * Off (0) by default: it duplicates the payload across chunk
        * tasks, which only pays off for multi-thousand-page tails —
        * at production scale the chunk would carry the object-store
        * media_ref instead of inline bytes. Only applies when opts are
        * the defaults (page-range semantics of a partial doc compose
        * only with start=1, count=all). */
      giantBytesThreshold: Long = 0L,
      giantChunkPages: Int = 64,
      opts: ExtractOptions = ExtractOptions())

  final case class JobStats(
      committedBucketsBefore: Int,
      bucketsProcessed: Int,
      docs: Long,
      spans: Long,
      bytesIn: Long,
      failedDocs: Long)

  /** Map accumulator: bucket → stats, merged across tasks. */
  final class BucketStatsAcc extends AccumulatorV2[(Int, BucketStats), Map[Int, BucketStats]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, BucketStats]
    def isZero: Boolean = m.isEmpty
    def copy(): BucketStatsAcc = { val c = new BucketStatsAcc; m.foreach(kv => c.m += kv); c }
    def reset(): Unit = m.clear()
    def add(v: (Int, BucketStats)): Unit =
      m.update(v._1, m.getOrElse(v._1, BucketStats()) + v._2)
    def merge(o: AccumulatorV2[(Int, BucketStats), Map[Int, BucketStats]]): Unit =
      o.value.foreach { case (k, v) => m.update(k, m.getOrElse(k, BucketStats()) + v) }
    def value: Map[Int, BucketStats] = m.toMap
  }

  /** Extracted row carrying its bucket for partitioned append. */
  final case class OutRow(doc_id: String, spans: Seq[Span], bucket: Int)
  final case class InRow(doc_id: String, spans: Seq[RawSpan], bucket: Int, salt: Int,
      start_page: Int, page_count: Int, engine: String, model: Option[String])

  /** Per-document option columns (the reference's NewFileProcessQueue
    * carries options PER FILE, worker.rs:4-11). If the input table has
    * any of these columns they override the job-level defaults row by
    * row; missing columns fall back to cfg.opts, as do null cells —
    * EXCEPT `model`, where a null cell in a present column means
    * "no model" (None is a meaningful option value of its own, so a
    * present model column governs absolutely). The streaming face
    * (`ExtractStream.extract`) implements the identical contract.
    * `password` (a PER-DOCUMENT decryption password — corpora mix
    * differently-protected files) follows the fallback family: null
    * cell → job-level default. */
  val OptionColumns: Seq[String] =
    Seq("start_page", "page_count", "engine", "model", "password")
  /** One page-range chunk of a giant document (startPage < 0 marks an
    * unparseable/empty doc recorded fail-soft). */
  final case class ChunkRow(doc_id: String, b64: String, startPage: Int,
      pageLen: Int, bucket: Int)

  /** Extraction result of one giant-doc chunk: `ok=false` on ANY chunk
    * fails the whole doc at reassembly (fail-soft contract — a doc is
    * never silently emitted with missing page ranges). */
  final case class ChunkOut(doc_id: String, bucket: Int, ok: Boolean, spans: Seq[Span])

  /** Base64-decode a UTF8 column value in place: a ByteBuffer over the
    * row's backing array when it is on the heap, else a copy of its
    * bytes. Throws IllegalArgumentException on bad base64, as
    * `Decoder.decode` does. */
  private def decodeBase64(dec: java.util.Base64.Decoder,
      s: org.apache.spark.unsafe.types.UTF8String): Array[Byte] =
    s.getBaseObject match {
      case a: Array[Byte] =>
        val at = (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
        val out = dec.decode(java.nio.ByteBuffer.wrap(a, at, s.numBytes))
        if (out.arrayOffset == 0 && out.remaining == out.array.length) out.array
        else java.util.Arrays.copyOfRange(out.array, out.arrayOffset + out.position,
          out.arrayOffset + out.limit)
      case _ => dec.decode(s.getBytes)
    }

  /** Input must have columns (doc_id string, spans array<struct<kind,
    * text, media_ref, offset>>). Returns run statistics. */
  def run(spark: SparkSession, input: DataFrame, tableDir: String, cfg: Config): JobStats = {
    import spark.implicits._

    val committed = TableIO.committedBuckets(tableDir, cfg.jobId)
    val pendingBuckets = (0 until cfg.numBuckets).filterNot(committed)
    if (pendingBuckets.isEmpty)
      return JobStats(committed.size, 0, 0, 0, 0, 0)

    // per-doc option columns (if present) override job defaults row-wise
    val hasPerDocOpts = input.columns.exists(OptionColumns.contains)
    def optCol(name: String, default: Column): Column =
      if (input.columns.contains(name)) coalesce(col(name), default) else default

    // deterministic bucket/salt assignment (SURVEY.md §7.4.3: derived
    // purely from doc_id, never from partition index)
    val withKeys = input
      .select(col("doc_id"), col("spans"),
        optCol("start_page", lit(cfg.opts.startPage)).cast("int").as("start_page"),
        optCol("page_count", lit(cfg.opts.pageCount)).cast("int").as("page_count"),
        optCol("engine", lit(cfg.opts.engine)).cast("string").as("engine"),
        (if (input.columns.contains("model")) col("model").cast("string")
         else lit(cfg.opts.ocrModel.orNull).cast("string")).as("model"),
        optCol("password", lit(cfg.opts.password.orNull).cast("string"))
          .as("password"))
      .withColumn("bucket", pmod(xxhash64($"doc_id"), lit(cfg.numBuckets)).cast("int"))
      .withColumn("salt", pmod(xxhash64($"doc_id", lit(7)), lit(cfg.saltsPerBucket)).cast("int"))

    // resume anti-join against committed lineage — the only join in the
    // job (SURVEY.md §2 P6); the committed side is metadata-small, so
    // it is broadcast (never a shuffle of the corpus side)
    val committedDf = committed.toSeq.toDF("bucket")
    val pending = withKeys.join(broadcast(committedDf), Seq("bucket"), "left_anti")

    val chunkSize = if (cfg.chunkBuckets <= 0) pendingBuckets.size else cfg.chunkBuckets
    val chunks = pendingBuckets.grouped(chunkSize).toVector.take(cfg.maxChunks)
    val bOpts = spark.sparkContext.broadcast(cfg.opts)

    var totals = BucketStats()
    var bucketsDone = 0

    chunks.zipWithIndex.foreach { case (chunk, chunkIdx) =>
      val acc = new BucketStatsAcc
      spark.sparkContext.register(acc, s"${cfg.jobId}-stats-$chunkIdx")

      val subAll = pending.filter($"bucket".isin(chunk.map(Integer.valueOf): _*))

      // giant-doc fan-out eligibility (default options only — a page
      // range of a partial doc composes only with start=1, count=all)
      val fanOut = cfg.giantBytesThreshold > 0 && cfg.opts == ExtractOptions() && !hasPerDocOpts
      val isGiant =
        aggregate($"spans", lit(0L),
          (a, s) => a + length(s.getField("text")) + length(s.getField("media_ref"))) >=
          cfg.giantBytesThreshold &&
          size($"spans") === 1 && element_at($"spans", 1).getField("kind") === "pdf_bytes"
      val sub = if (fanOut) subAll.filter(!isGiant) else subAll

      // "bucketed": spread (bucket × salt) combos over tasks (AQE may
      // coalesce); "scan": stay in scan partitions — map-only plan
      val repartitioned = if (cfg.mode == "bucketed") {
        val parallelism = math.max(spark.sparkContext.defaultParallelism,
          math.min(chunk.size * cfg.saltsPerBucket, 4 * spark.sparkContext.defaultParallelism))
        sub.repartition(parallelism, $"bucket", $"salt")
      } else sub

      // InternalRow fast path: read the scan's catalyst rows directly
      // and emit catalyst rows directly. The typed-encoder path copied
      // every span String twice per direction; the dominant payload
      // (base64 PDF bytes) is base64-decoded STRAIGHT from the scan's
      // UTF8 bytes (a ByteBuffer over the row's backing array; a copy
      // only when the bytes are off-heap) and never materialized as a
      // java.lang.String. Column positions are pinned by the select below.
      val arranged = repartitioned
        .select("doc_id", "spans", "start_page", "page_count", "engine", "model",
          "password", "bucket")
      val outSchema = org.apache.spark.sql.Encoders.product[OutRow].schema
      val rddOut = arranged.queryExecution.toRdd.mapPartitions { it =>
        import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
        import org.apache.spark.sql.catalyst.util.GenericArrayData
        import org.apache.spark.unsafe.types.UTF8String
        val base = bOpts.value
        val b64 = java.util.Base64.getDecoder
        // span kinds and the empty media_ref repeat on every span: one
        // shared (immutable) UTF8String each
        val kindText = UTF8String.fromString("text")
        val kindMedia = UTF8String.fromString("media")
        def utf8(s: String): UTF8String =
          if (s == null) null
          else if (s.isEmpty) UTF8String.EMPTY_UTF8
          else if (s == "text") kindText
          else if (s == "media") kindMedia
          else UTF8String.fromString(s)
        it.flatMap { row =>
          val docId = row.getUTF8String(0).toString
          val spansArr = row.getArray(1)
          val n = spansArr.numElements()
          // materialize the span views (offset, kind, text, media_ref)
          // and sort by offset; views into the scan buffer are only
          // valid until the next input row, and this row is fully
          // consumed before the iterator advances
          val offs = new Array[Int](n)
          val kinds = new Array[UTF8String](n)
          val texts = new Array[UTF8String](n)
          val mrefs = new Array[UTF8String](n)
          var bytesIn = 0L
          var i = 0
          while (i < n) {
            val st = spansArr.getStruct(i, 4)
            offs(i) = st.getInt(3)
            kinds(i) = st.getUTF8String(0)
            texts(i) = st.getUTF8String(1)
            mrefs(i) = st.getUTF8String(2)
            bytesIn += (if (texts(i) == null) 0 else texts(i).numBytes.toLong) +
              (if (mrefs(i) == null) 0 else mrefs(i).numBytes.toLong)
            i += 1
          }
          val order = Array.range(0, n).sortBy(offs)
          val spanIns = order.iterator.map { j =>
            val kind = kinds(j).toString
            if (kind == "pdf_bytes")
              Extractor.SpanIn(kind, null, decodeBase64(b64, texts(j)), mrefs(j).toString)
            else
              Extractor.SpanIn(kind, texts(j).toString, null, mrefs(j).toString)
          }
          val opts = ExtractOptions(
            row.getInt(2), row.getInt(3), row.getUTF8String(4).toString,
            (if (row.isNullAt(5)) None else Some(row.getUTF8String(5).toString))
              .filter(_.nonEmpty),
            base.parityStartOffByOne,
            // null survived the coalesce against the job default, so
            // there is no password anywhere for this doc
            password =
              if (row.isNullAt(6)) None else Some(row.getUTF8String(6).toString))
          val bucket = row.getInt(7)
          val res = Extractor.extractCore(docId, spanIns, bytesIn, opts)
          acc.add(bucket -> BucketStats(
            docCount = 1,
            spanCount = res.spanCount,
            bytesIn = res.bytesIn,
            failedDocs = if (res.doc.isEmpty) 1 else 0,
            unmappedCodes = res.unmappedCodes))
          res.doc.map[org.apache.spark.sql.catalyst.InternalRow] { d =>
            val spanRows = new Array[Any](d.spans.length)
            var k = 0
            while (k < spanRows.length) {
              val sp = d.spans(k)
              spanRows(k) = new GenericInternalRow(Array[Any](
                utf8(sp.kind), utf8(sp.text), utf8(sp.media_ref), sp.order, sp.page))
              k += 1
            }
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(d.doc_id), new GenericArrayData(spanRows), bucket))
          }
        }
      }
      val normalOut: DataFrame =
        org.apache.spark.sql.GraftColumnBridge.internalRowsToDf(spark, rddOut, outSchema)

      val extracted: DataFrame = if (!fanOut) normalOut else {
        val chunkPages = cfg.giantChunkPages
        // probe: xref/page-tree walk only (content streams undecoded)
        val giantChunks = subAll.filter(isGiant).as[InRow].flatMap { row =>
          val raw = row.spans.head
          try {
            val bytes = java.util.Base64.getDecoder.decode(raw.text)
            val total = graft.pdf.PdfDocument.load(bytes,
              cfg.opts.password.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                .getOrElse(Array.emptyByteArray)).pageCount
            if (total <= 0) Seq(ChunkRow(row.doc_id, raw.text, -1, 0, row.bucket))
            else (1 to total by chunkPages).map(s =>
              ChunkRow(row.doc_id, raw.text, s, math.min(chunkPages, total - s + 1), row.bucket))
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq(ChunkRow(row.doc_id, raw.text, -1, 0, row.bucket))
          }
        }
        // spread chunk rows over tasks (this duplicates the payload —
        // the price of splitting one row's work; see Config scaladoc).
        // docCount/bytesIn are counted once per doc on the first chunk;
        // spanCount/failedDocs are settled at reassembly, where doc-level
        // success (ALL chunks ok) is known.
        val giantChunkOut = giantChunks
          .repartition(spark.sparkContext.defaultParallelism)
          .mapPartitions { it =>
            it.map { c =>
              val first = c.startPage <= 1 // probe-failure marker (-1) included
              acc.add(c.bucket -> BucketStats(
                docCount = if (first) 1 else 0,
                bytesIn = if (first) c.b64.length.toLong else 0L))
              if (c.startPage < 0) ChunkOut(c.doc_id, c.bucket, ok = false, Nil)
              else {
                val res = Extractor.extractDoc(
                  InterleavedDoc(c.doc_id, Seq(RawSpan("pdf_bytes", c.b64, "", 0))),
                  ExtractOptions(startPage = c.startPage, pageCount = c.pageLen,
                    parityStartOffByOne = false, password = cfg.opts.password))
                if (res.unmappedCodes > 0)
                  acc.add(c.bucket -> BucketStats(unmappedCodes = res.unmappedCodes))
                ChunkOut(c.doc_id, c.bucket, ok = res.doc.isDefined,
                  res.doc.map(_.spans.map(sp => sp.copy(order = sp.order + c.startPage - 1)))
                    .getOrElse(Nil))
              }
            }
          }
        // reassemble: ONE shuffle of the extracted text, grouped per doc.
        // A failed chunk ANYWHERE fails the doc (fail-soft: counted, no
        // partial output) — a doc is never emitted with missing pages.
        val giantOut = giantChunkOut
          .groupByKey(c => (c.doc_id, c.bucket))
          .flatMapGroups { (key: (String, Int), it: Iterator[ChunkOut]) =>
            val chunks = it.toVector
            if (chunks.exists(!_.ok)) {
              acc.add(key._2 -> BucketStats(failedDocs = 1))
              Iterator.empty
            } else {
              val spans = chunks.flatMap(_.spans).sortBy(_.order)
              acc.add(key._2 -> BucketStats(spanCount = spans.length.toLong))
              Iterator.single(OutRow(key._1, spans, key._2))
            }
          }
        normalOut.unionAll(giantOut.toDF())
      }

      // ONE action: the write. Metrics ride the accumulator.
      // Giant fan-out caveat: AQE coalesces shuffle partitions by
      // COMPRESSED map-output size, and extracted text compresses so
      // well that it collapses the per-doc reassembly into one task —
      // re-creating the straggler the fan-out exists to remove. Keep
      // the key-hash spread for this write by disabling coalescing on
      // a THROWAWAY CHILD SESSION (same SparkContext, own SQLConf —
      // cloneSession carries the caller's RUNTIME conf overrides too,
      // e.g. session timezone, not just builder-time SparkConf): the
      // caller's session is never mutated, so concurrent queries keep
      // their AQE coalescing and two concurrent fan-out runs cannot
      // race a save/restore pair. (The scan-mode normal path has no
      // exchange, so nothing to scope when fan-out is off.)
      val writeDf = if (!fanOut) extracted else {
        val child = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
        child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        org.apache.spark.sql.GraftColumnBridge.withSession(extracted, child)
      }
      val writer = writeDf.write.mode("append")
      (if (cfg.mode == "bucketed") writer.partitionBy("bucket") else writer)
        .parquet(TableIO.dataDir(tableDir))

      val stats = acc.value
      val now = System.currentTimeMillis()
      val rows = chunk.map { b =>
        val s = stats.getOrElse(b, BucketStats())
        LineageRow(cfg.jobId, b, s.docCount, s.spanCount, s.bytesIn, s.failedDocs,
          "committed", cfg.attempt, now, s.unmappedCodes)
      }
      // named by the chunk's first bucket, not chunkIdx (which restarts
      // per run): pending buckets are never committed ones, so unique
      TableIO.commitLineage(tableDir, f"${cfg.jobId}-a${cfg.attempt}-c${chunk.head}%04d", rows)
      // versioned snapshot per chunk: pins the data-file set visible
      // after this commit, so concurrent/later readers can time-travel
      // (TableIO.readAt) with snapshot isolation from later appends.
      // Single-writer per job ⇒ the CAS cannot conflict here; two
      // JOBS racing the same VERSION NUMBER are serialized by the CAS
      // and the loser retries with a refreshed parent — but a snapshot
      // taken while another job is MID-write can pin a torn subset of
      // that job's files (see TableIO.commitSnapshot's contract note);
      // overlapping writers to one table need the real catalog.
      var committedVersion = false
      while (!committedVersion) {
        try { TableIO.commitSnapshot(tableDir); committedVersion = true }
        catch { case _: TableIO.CommitConflictException => () }
      }
      chunk.foreach { b => totals = totals + stats.getOrElse(b, BucketStats()) }
      bucketsDone += chunk.size
    }

    JobStats(committed.size, bucketsDone, totals.docCount, totals.spanCount,
      totals.bytesIn, totals.failedDocs)
  }

  /** Point lookup on the output table ≡ the reference's
    * `GET /content/:id` (/root/reference/api/src/server.ts:182-207):
    * partition-pruned scan, no shuffle. */
  def readDoc(spark: SparkSession, tableDir: String, docId: String): DataFrame =
    spark.read.parquet(TableIO.dataDir(tableDir)).where(col("doc_id") === lit(docId))

  /** The reference's exact result-JSON shape for one document —
    * `serde_json::to_string_pretty(Vec<PageExtractInfo>)` as written by
    * save_processed_json (/root/reference/extractor/src/helper/
    * file_helper.rs:55-77): 2-space indent, `"key": value`, one text
    * span per page in ascending order, field order (page_num, text).
    * This is the compat view of `GET /content/:id`. page_num is the
    * span's ORIGINAL source page number when known (Span.page > 0 —
    * PDF-derived spans), so a `start_page=3` job's view matches the
    * reference's `PageExtractInfo.page_num` exactly (engine/mod.rs:90:
    * pages 2,3,… under the §2.6.2 off-by-one, not 1,2,…); non-PDF
    * spans (no source page in the reference's model) fall back to the
    * 1-based rank. */
  def readDocJson(spark: SparkSession, tableDir: String, docId: String): Option[String] = {
    import spark.implicits._
    val rows = readDoc(spark, tableDir, docId)
      .select("doc_id", "spans").as[ExtractedDoc].collect()
    rows.headOption.map { d =>
      def esc(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case '\b' => "\\b"; case '\f' => "\\f"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val pages = d.spans.filter(_.kind == "text").sortBy(_.order)
      if (pages.isEmpty) "[]"
      else pages.zipWithIndex.map { case (sp, i) =>
        val pageNum = if (sp.page > 0) sp.page else i + 1
        s"""  {\n    "page_num": $pageNum,\n    "text": "${esc(sp.text)}"\n  }"""
      }.mkString("[\n", ",\n", "\n]")
    }
  }

  /** Status-string view ≡ the API's derived status vocabulary. The
    * reference's `GET /progress/:id` computes
    * `isFileInProcessing ? 'processing' : 'completed'`
    * (/root/reference/api/src/server.ts:166) — a LOSSY read of the
    * 4-value `Status` type (queue.ts:20): a FAILED or TTL-expired
    * Redis status also reads **'completed'**; 'queued' is only ever
    * returned by the submit response (server.ts:145). Analog over the
    * lineage table, quirk preserved deliberately:
    * no commits yet → 'queued' (submit-time view), partially
    * committed → 'processing', all buckets committed → 'completed'
    * even when failed_docs > 0. */
  def statusString(tableDir: String, jobId: String, totalBuckets: Int): String = {
    val committed = TableIO.committedBuckets(tableDir, jobId).size
    if (committed == 0) "queued"
    else if (committed < totalBuckets) "processing"
    else "completed" // failed docs still read 'completed' — the quirk
  }

  /** Progress view ≡ `GET /progress/:id` (server.ts:157-180): derived
    * from the lineage table, a metadata-scale aggregation. */
  def progress(spark: SparkSession, tableDir: String, jobId: String, totalBuckets: Int): DataFrame = {
    val lin = TableIO.readLineage(spark, tableDir).where(col("job_id") === lit(jobId))
    lin.agg(
      (countDistinct(when(col("status") === "committed", col("bucket"))) * lit(100) / lit(totalBuckets))
        .cast("int").as("progress_pct"),
      sum("doc_count").as("docs"),
      sum("span_count").as("spans"),
      sum("failed_docs").as("failed_docs"))
  }
}
