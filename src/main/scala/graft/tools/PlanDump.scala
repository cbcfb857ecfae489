package graft.tools

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.model.{InterleavedDoc, RawSpan}
import graft.spark.{InterleavedTable, Queries, Sessions}

/** Dump `explain(formatted)` for the plans whose shape carries the
  * 100 TB design (used to produce PLANS.md; properties are pinned as
  * tests in graft.spark.PlanSpec). */
object PlanDump {
  /** The parquet write plans of [[graft.job.ExtractJob.run]] in scan
    * mode, resuming a 50-document, 16-bucket table after one committed
    * chunk of 4 buckets: one plan per remaining chunk, in run order. */
  def resumedJobPlans(spark: SparkSession): Seq[QueryExecution] =
    jobPlans(spark, InterleavedTable.generate(spark, 50).toDF(), resumed = true)

  /** The one parquet write plan of [[graft.job.ExtractJob.run]] in scan
    * mode on a fresh 50-document, 16-bucket table in one chunk. */
  def freshJobPlans(spark: SparkSession): Seq[QueryExecution] =
    jobPlans(spark, InterleavedTable.generate(spark, 50).toDF(), resumed = false)

  /** The one parquet write plan of [[graft.job.ExtractJob.run]] with
    * the giant-document fan-out on, fresh 16-bucket table in one chunk:
    * a parquet copy of 50 documents plus one 80-page PDF over the
    * threshold, extracted as two 64-page ranges. */
  def fanOutJobPlans(spark: SparkSession): Seq[QueryExecution] = {
    import spark.implicits._
    val giant = graft.pdf.PdfBuilder.simple((1 to 80).map(p => graft.pdf.PdfBuilder.tjLine(s"page $p")))
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-fanout").toString
    InterleavedTable.generate(spark, 50).union(Seq(InterleavedDoc("giant", Seq(RawSpan("pdf_bytes",
      java.util.Base64.getEncoder.encodeToString(giant), "", 0)))).toDS())
      .write.mode("overwrite").parquet(dir)
    jobPlans(spark, spark.read.parquet(dir), resumed = false, giantBytesThreshold = 4000L)
  }

  private def jobPlans(spark: SparkSession, input: DataFrame, resumed: Boolean,
      giantBytesThreshold: Long = 0L): Seq[QueryExecution] = {
    val table = java.nio.file.Files.createTempDirectory("graft-plan-job").toString
    val cfg = graft.job.ExtractJob.Config(jobId = "plan", numBuckets = 16,
      chunkBuckets = if (resumed) 4 else 0, giantBytesThreshold = giantBytesThreshold)
    if (resumed) graft.job.ExtractJob.run(spark, input, table, cfg.copy(maxChunks = 1))
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("Generate")) writes.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.job.ExtractJob.run(spark, input, table, if (resumed) cfg.copy(attempt = 2) else cfg)
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    writes.asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4, "graft-plandump")
    val sf = "/root/testdata/sf0.001"

    def show(title: String, qe: QueryExecution): Unit = {
      println(s"\n## $title\n")
      println("```")
      println(qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).trim)
      println("```")
    }
    def dump(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
      // execute first (round 9): with AQE, exchange/stage REUSE and the
      // runtime-chosen join strategies only appear in the FINAL adaptive
      // plan — an un-executed dump shows duplicate exchanges that never
      // actually run twice
      df.queryExecution.executedPlan.execute().count()
      show(title, df.queryExecution)
    }

    println("# PLANS -- physical-plan evidence for the scale design")
    println("\nGenerated by `graft.tools.PlanDump` (sf0.001 inputs; plan SHAPE")
    println("is scale-invariant). Pinned as assertions in `PlanSpec`.")

    // 1. map-only extraction (scan mode) — the job's own write plan on
    // a resumed run
    resumedJobPlans(spark).headOption.foreach(show("Extraction, scan mode, resumed: each chunk " +
      "filters the scan to its pending buckets + map-only Generate(ExtractRows) -- " +
      "NO join, NO Exchange", _))
    freshJobPlans(spark).headOption.foreach(show("Extraction, scan mode, fresh table in one " +
      "chunk: every bucket is pending, so the scan feeds Generate(ExtractRows) with NO " +
      "bucket filter, and the generator emits the bucket itself, so its rows go to the write " +
      "with NO Project copying them; the sink's write command is planned as " +
      "TrimmedStatsInsert, whose stats tracker ships the trimmed Hadoop conf -- NO join, " +
      "NO Exchange", _))
    fanOutJobPlans(spark).headOption.foreach(show("Extraction, giant fan-out on: a giant's " +
      "page count becomes a column and explode(sequence) makes one row per page range, " +
      "which the SAME Generate(ExtractRows) (outer: a failed range keeps a null row) " +
      "extracts after one round-robin Exchange; ONE hash Exchange on (row, doc, bucket, bytes), " +
      "row an id of the input row taken before the explode, reassembles the extracted " +
      "ranges -- no typed object round trip", _))

    dump("q3 (dim-filter -> broadcast join -> agg -> top-k): fact side never broadcast-shuffled",
      Queries.q3TopOrders(spark, sf))

    dump("q5 (star join): every dimension broadcast",
      Queries.q5RegionRevenue(spark, sf))

    dump("Point lookup: filter pushed to parquet scan, 2-column ReadSchema",
      Queries.pdfzPointLookup(spark, sf))

    dump("MinHash LSH dedup: one shuffle on (band, sig) -- no all-pairs",
      Queries.dedupMinhashLsh(spark, sf))

    dump("DF-capped Jaccard: shingle member lists over binary(16) md5 keys come from a " +
      "map-side shingle_combine (an open-addressing table per task, flushed as partial " +
      "rows), ONE exchange by sh and a sorted shingle_merge pass that sums df and sorts " +
      "the members, and ReusedExchange serves BOTH the size and intersection consumers " +
      "from that single subtree; each member's tail of later members is exchanged by " +
      "member and counted in ONE sorted MapPartitions pass that also yields |A|, so only " +
      "|B| joins (the pair rows are never a broadcast build side), and the filtered pairs " +
      "are exchanged once so the final sort samples them, not the pass -- NO window or " +
      "object aggregate over sh, no self-join, no aggregate or exchange keyed on a pair",
      Queries.dedupJaccardCapped(spark, sf))

    dump("IVF top-k (one item pass): centroids and queries are folded on the driver, " +
      "and ONE map-side ivf_scan generator assigns each item's list and scores it " +
      "against only the queries probing that list -- no join, no per-item aggregation, " +
      "no n*C fan-out; the per-query top-k window is the only exchange",
      Queries.simTopkIvf(spark, sf))

    dump("MinHash STAR pairs (round 4; round 9: ONE shared exchange): bucket canon " +
      "aggregation and member join both read a single explicit (band, sig) exchange " +
      "(ReusedExchange) -- NO window, and the map-side signature expression + corpus " +
      "scan run once per corpus instead of once per side",
      Queries.dedupMinhashStar(spark, sf))

    dump("Containment pairs: same shingle combine/merge subtree and ONE partner pass as " +
      "Jaccard; |A| comes from the pass, so only the b->a direction's |B| rides a join, " +
      "and both ordered directions unfold from each intersection row",
      Queries.dedupContainment(spark, sf))

    dump("KMV distinct sketch: bottom_k_distinct runs as a partial/final hash aggregate " +
      "(O(k) buffer per group on every map side) next to the exact count-distinct expand",
      Queries.textDistinctKmv(spark, sf))

    dump("Session windows (batch twin of the streaming query): session_window hash " +
      "aggregation -- one shuffle on user_id, no global sort before the final ORDER BY",
      Queries.qEventsSessionWindows(spark, sf))

    dump("Benchmark decontamination (round 5): eval-set shingles BROADCAST; the corpus " +
      "side is map-side shingle expansion + broadcast join + per-doc agg -- corpus text " +
      "never shuffles, no corpus self-join (the 10^12-doc decontamination shape)",
      Queries.dedupDecontaminate(spark, sf))

    dump("Exact-substring spans (round 6): map-side grams; ONE corpus-wide gram-frequency " +
      "hash aggregation (map-side partials) is the inherent shuffle; covered positions " +
      "semi-join against the small duplicated-gram set and the island merge is a per-doc " +
      "window over only those SPARSE positions (sessionization shape, never the token stream)",
      Queries.dedupExactSubstring(spark, sf))

    dump("Sequence packing (round 6): per-SHARD running-offset window (parallel across " +
      "shards -- the global concat order is sharded exactly so this never needs a global " +
      "sort) + map-side sequence explode; one Exchange on the shard key",
      Queries.pipelineSeqPack(spark, sf))

    dump("CDC chunk dedup (round 6, MAP-SIDE): the native cdc_chunks expression walks each " +
      "doc's intact text once and emits array<struct<chunk_fp,n_tokens>> -- no Window, no " +
      "token-stream Exchange; the only shuffles are the two chunk-level distinct-agg " +
      "Exchanges (partial (fp,doc) agg then fp agg, both map-side-partialed)",
      Queries.dedupCdcChunks(spark, sf))

    dump("Keep-best cluster resolution (round 7): per-cluster argmax is a struct-max " +
      "hash aggregation (map-side partial_max collapses a mega-cluster before its " +
      "shuffle) -- NO Window; the label join keys on doc_id",
      Queries.dedupKeepBest(spark, sf))

    dump("Duplicated-span coverage (round 7): the exact-substring chain feeds a per-doc " +
      "interval-union sweep -- a window over only each doc's SPARSE span rows (a handful " +
      "per doc), then one doc-level sum; the corpus-side left join keys on doc_id",
      Queries.textDupCoverage(spark, sf))

    dump("IVF-PQ ANN (one item pass): seeds, codebooks and queries are read in one " +
      "job and each query's ADC table is built on the driver; the same ivf_scan pass " +
      "encodes each probed item and sums its table entries -- no broadcast hash " +
      "relation, no join, no per-(item, sub) row; the per-query top-k window is the " +
      "only exchange",
      Queries.simTopkPq(spark, sf))

    dump("Temperature mixture sampling (round 7): the group-count aggregation is the only " +
      "shuffle (a #groups-row frame); counts and their min broadcast back into one " +
      "map-side filtered scan -- the corpus never shuffles",
      Queries.sampleTemperature(spark, sf))

    dump("Ordered funnel (round 7): per-stage filtered scan + min() hash aggregation + " +
      "join, every stage keyed on user_id -- no window over the event stream; hot users " +
      "collapse in the map-side partial min",
      Queries.qEventsFunnel(spark, sf))

    dump("Funnel with a 24h conversion window (round 8): identical agg+join shape -- the " +
      "gap constraint is one more predicate inside each stage's filtered join, so the " +
      "windowed funnel costs exactly what the unbounded one does",
      Queries.qEventsFunnelWindow(spark, sf))

    dump("IVF-PQ with LEARNED codebooks (one item pass): the Lloyd-trained codebook is " +
      "read to the driver once, with the coarse seeds and the queries, so the scoring " +
      "plan is the seeded PQ's item pass with no training lineage in it",
      Queries.simTopkPqKmeans(spark, sf))

    dump("Adaptive PageRank with dangling redistribution (round 8; round 9: one-probe " +
      "fixpoint): each round is the same edge-join + partial-sum inflow aggregation plus " +
      "a one-row dangling sum (left-anti against out-degrees) broadcast back; rounds " +
      "truncate so the plan shown is ONE round over materialized leaves -- the fixpoint " +
      "probe is a single left-anti containment join on (id, pr) per round (rank frames " +
      "hold exactly one row per node, so count equality is invariant)",
      Queries.graphPagerankAdaptive(spark, sf))

    dump("Image perceptual-hash near-dup (round 8): map-side decode+hash, ONE shuffle on " +
      "the 16-bit band keys (both join sides are the same banded subtree — exchange " +
      "reuse), exact bit_count verification per candidate; never all-pairs",
      Queries.dedupImagePhash(spark, sf))

    dump("Corpus-health report (round 8): per-doc fingerprint/quality/token columns are " +
      "map-side; one fingerprint aggregation (the inherent dedup shuffle), its >=2 " +
      "survivors joined back, one #langs-row aggregation -- the corpus text never shuffles",
      Queries.pipelineReport(spark, sf))

    spark.stop()
  }
}
