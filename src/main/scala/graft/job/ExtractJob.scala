package graft.job

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Generator, GeneratorOuter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType}
import org.apache.spark.util.AccumulatorV2
import graft.core.model._
import graft.io.{Parquet, SinkParquetFormat, TableIO}

/** The flagship extraction pipeline — the reference's whole dataflow
  * (queue → worker pool → engines → JSON sink → Redis tracker,
  * SURVEY.md §3.1) as ONE Spark query per chunk:
  *
  *   read input → pending-bucket filter(lineage) → [salted repartition]
  *     → Generate(ExtractRows) → append output parquet
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
        * exploded into `giantChunkPages`-page chunk rows (`start_page` /
        * `page_count` columns) that the one extraction generator,
        * [[ExtractRows]], extracts in parallel, and reassembled with one
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

  /** Per-document option columns (the reference's NewFileProcessQueue
    * carries options PER FILE, worker.rs:4-11). If the input table has
    * any of these columns they override the job-level defaults row by
    * row; missing columns fall back to cfg.opts, as do null cells —
    * EXCEPT `model`, where a null cell in a present column means
    * "no model" (None is a meaningful option value of its own, so a
    * present model column governs absolutely). `password` (a
    * PER-DOCUMENT decryption password — corpora mix
    * differently-protected files) follows the fallback family: null
    * cell → job-level default. One implementation, [[ExtractRows.of]],
    * serves this job and the streaming face (`ExtractStream.extract`). */
  val OptionColumns: Seq[String] =
    Seq("start_page", "page_count", "engine", "model", "password")
  /** Parquet writer options of the output table, batch and stream: no
    * dictionary attempt on the columns whose values are unique per row
    * (`doc_id`, span text). The attempt costs CPU and allocation, and
    * on a real window's pages it ends in a fallback to PLAIN anyway.
    * Where spans repeat (boilerplate) the compressed PLAIN pages came
    * out no larger than the dictionary ones on the fixtures measured.
    *
    * Both sinks write through [[graft.io.SinkParquetFormat]], which
    * drops from each write task's Hadoop conf only the entries Hadoop
    * loaded unchanged from its bundled `*-default.xml` files (a task
    * reads those keys as the equal compiled defaults). These options are
    * set on the write, never loaded from a default file, so they always
    * reach the task. The batch job's write also ships its stats tracker's
    * copy of the conf trimmed by the same rule (the planner strategy
    * `GraftWriteBridge`, installed by [[graft.spark.Sessions]]); the
    * stream's file sink builds its tracker itself, so that copy stays
    * whole. */
  val SinkOptions: Map[String, String] = Seq("doc_id", "spans.list.element.text")
    .map(c => s"parquet.enable.dictionary#$c" -> "false").toMap

  /** A giant's page count from its base64 payload: the xref and page
    * tree only, content streams stay undecoded; 0 when it does not parse.
    * Lazy: a job with the fan-out off never builds it. */
  private lazy val pageCount = udf { (b64: Array[Byte]) =>
    try graft.pdf.PdfDocument.load(java.util.Base64.getDecoder.decode(b64)).pageCount
    catch { case scala.util.control.NonFatal(_) => 0 }
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

    // deterministic bucket/salt assignment (SURVEY.md §7.4.3: derived
    // purely from doc_id, never from partition index)
    val withKeys = input
      .select((Seq("doc_id", "spans") ++ OptionColumns.filter(input.columns.contains)).map(col): _*)
      .withColumn("bucket", pmod(xxhash64($"doc_id"), lit(cfg.numBuckets)).cast(IntegerType))
      .withColumn("salt", pmod(xxhash64($"doc_id", lit(7)), lit(cfg.saltsPerBucket)).cast(IntegerType))

    val chunkSize = if (cfg.chunkBuckets <= 0) pendingBuckets.size else cfg.chunkBuckets
    val chunks = pendingBuckets.grouped(chunkSize).toVector.take(cfg.maxChunks)

    var totals = BucketStats()
    var bucketsDone = 0

    chunks.zipWithIndex.foreach { case (chunk, chunkIdx) =>
      val acc = new BucketStatsAcc
      spark.sparkContext.register(acc, s"${cfg.jobId}-stats-$chunkIdx")

      // resume (SURVEY.md §2 P6): chunks are drawn from the pending
      // buckets only, so this filter already drops every committed row.
      // A chunk of all numBuckets buckets (a fresh table in one chunk)
      // needs none: pmod puts every row's bucket in range
      val subAll = if (chunk.size == cfg.numBuckets) withKeys
        else withKeys.filter($"bucket".isin(chunk.map(Integer.valueOf): _*))

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

      // one map-only Generate (ExtractRows): catalyst rows in and out,
      // the options carried in the plan, stats into this chunk's
      // accumulator inside the write's own action. It emits the bucket
      // itself, so no Project copies each output row again
      val normalOut = repartitioned.select(
        ExtractRows.of(repartitioned, cfg.opts, $"bucket", Some(acc), withBucket = true))

      // giant docs: one row per page range (`start_page` / `page_count`),
      // extracted by the same generator with the source's page numbers
      // (no start-page parity shift). The chunks' own stats count page
      // ranges, not documents: only their unmapped codes are kept
      val chunkAcc = new BucketStatsAcc
      val extracted: DataFrame = if (!fanOut) normalOut else {
        spark.sparkContext.register(chunkAcc, s"${cfg.jobId}-chunk-stats-$chunkIdx")
        val payload = element_at($"spans", 1)
        // a doc the probe finds no pages in, or cannot parse, is one
        // whole-document chunk (start 1, all pages): it succeeds or
        // fails exactly as direct extraction does
        val ranges = subAll.filter(isGiant)
          .withColumn("pages", pageCount(payload.getField("text").cast(BinaryType)))
          // names the input row before the explode: two rows that share a
          // doc_id (even their payload) reassemble as two documents, as
          // direct extraction writes them
          .withColumn("row", monotonically_increasing_id())
          .select($"row", $"doc_id", $"spans", $"bucket",
            (octet_length(payload.getField("text")) + octet_length(payload.getField("media_ref")))
              .as("bytes"),
            explode(sequence(lit(1), greatest($"pages", lit(1)), lit(cfg.giantChunkPages)))
              .as("start_page"),
            when($"pages" > 0, lit(cfg.giantChunkPages)).otherwise(lit(0)).as("page_count"))
          // spread chunk rows over tasks (this duplicates the payload —
          // the price of splitting one row's work; see Config scaladoc)
          .repartition(spark.sparkContext.defaultParallelism)
        // outer: a failed chunk keeps its row with null spans, so a doc
        // whose every chunk failed still reaches reassembly
        val rows = GraftColumnBridge.toExpression(ExtractRows.of(ranges,
          cfg.opts.copy(parityStartOffByOne = false), $"bucket", Some(chunkAcc)))
        val parts = ranges.select(
          GraftColumnBridge.toColumn(GeneratorOuter(rows.asInstanceOf[Generator])),
          $"row", $"doc_id".as("id"), $"bucket", $"bytes", $"start_page")
        // a giant's lineage, counted once per document in this action
        val settle = udf { (bucket: Int, bytes: Long, spans: Int) =>
          acc.add(bucket -> BucketStats(docCount = 1, spanCount = math.max(spans, 0),
            bytesIn = bytes, failedDocs = if (spans < 0) 1 else 0))
          spans >= 0
        }.asNondeterministic()
        // reassemble: ONE shuffle of the extracted text; spans ordered by
        // chunk and renumbered 0..n-1. A failed chunk anywhere fails the
        // doc (the flatten of a null chunk is null): counted, never
        // written with missing pages
        val giantOut = parts.groupBy($"row", $"id", $"bucket", $"bytes")
          .agg(flatten(transform(sort_array(collect_list(struct($"start_page", $"spans"))),
            _.getField("spans"))).as("spans"))
          .filter(settle($"bucket", $"bytes", coalesce(size($"spans"), lit(-1))))
          .select($"id", transform($"spans", (s, i) => s.withField("order", i)), $"bucket")
        normalOut.unionAll(giantOut)
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
        val child = GraftColumnBridge.cloneSession(spark)
        child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        GraftColumnBridge.withSession(extracted, child)
      }
      val writer = writeDf.write.format(classOf[SinkParquetFormat].getName)
        .mode("append").options(SinkOptions)
      (if (cfg.mode == "bucketed") writer.partitionBy("bucket") else writer)
        .save(TableIO.dataDir(tableDir))

      chunkAcc.value.foreach { case (b, s) => acc.add(b -> BucketStats(unmappedCodes = s.unmappedCodes)) }
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
    Parquet.read(spark, TableIO.dataDir(tableDir)).where(col("doc_id") === lit(docId))

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
