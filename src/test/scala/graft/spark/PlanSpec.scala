package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.model._
import graft.job.ExtractJob

/** Physical-plan pins — the "would this survive 100×?" properties,
  * asserted so a regression shows up as a test failure, not a slow
  * cluster bill:
  *
  *  - the scan-mode extraction plan is map-only (no Exchange);
  *  - dimension joins broadcast (no shuffled fact side);
  *  - filters and projections reach the parquet scan (PushedFilters /
  *    pruned ReadSchema);
  *  - a resumed extraction job reads its pending buckets with no join,
  *    and a fresh one in one chunk reads every row with no filter;
  *  - the extraction generator's rows go to the write with no `Project`
  *    copying them;
  *  - the giant fan-out extracts page ranges with the same generator.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, "graft-plan-spec")
  private val sf = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan-mode extraction plan has NO shuffle (map-only at any scale)") {
    import spark.implicits._
    // the real transform (ExtractRows, which ExtractJob and
    // ExtractStream both select) over a parquet scan, batch and streaming
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-extract").toString
    InterleavedTable.generate(spark, 50).write.mode("overwrite").parquet(dir)
    def assertMapOnly(plan: String): Unit = {
      assert(!plan.contains("Exchange"), s"unexpected shuffle in map-only plan:\n$plan")
      assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
        s"typed-object round trip in the extraction plan:\n$plan")
      assert(plan.contains("Generate"), s"extraction generator missing:\n$plan")
    }
    val batch = spark.read.parquet(dir)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(64)).cast("int"))
    assertMapOnly(physical(batch.select(graft.job.ExtractRows.of(batch, ExtractOptions(),
      $"bucket", Some(new ExtractJob.BucketStatsAcc)), $"bucket")))
    // a streaming plan exists per micro-batch: run one, read its plan
    val stream = spark.readStream.schema(graft.streaming.ExtractStream.inputSchema).parquet(dir)
    val q = graft.streaming.ExtractStream.extract(spark, stream).writeStream.format("noop")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft-plan-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val explained = new java.io.ByteArrayOutputStream
    Console.withOut(explained)(q.explain())
    assertMapOnly(explained.toString)
  }

  test("q3: filtered customer dim is broadcast, fact side not shuffled for the dim join") {
    val plan = physical(Queries.q3TopOrders(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q5: all dimension joins are broadcast") {
    val plan = physical(Queries.q5RegionRevenue(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3, s"expected >=3 broadcast dim joins, got $broadcasts:\n$plan")
  }

  test("resumed extraction job: each chunk reads its pending buckets with no join and no Exchange") {
    // the job's own write plans: a chunk is a filter on its pending
    // buckets, which drops every committed row, so no anti-join against
    // the lineage (and no broadcast of it) runs
    val plans = graft.tools.PlanDump.resumedJobPlans(spark).map(_.executedPlan.toString)
    assert(plans.size == 3, s"expected one write per remaining chunk, got ${plans.size}")
    plans.foreach { plan =>
      assert(!plan.contains("Join") && !plan.contains("Exchange"),
        s"join or exchange in the resumed job's plan:\n$plan")
      assert(plan.contains(" IN ("), s"pending-bucket filter missing:\n$plan")
    }
  }

  test("fresh extraction job in one chunk: no bucket filter, no join, no Exchange") {
    // a chunk of all numBuckets buckets keeps every row (pmod lands in
    // range), so the job plans no filter on the bucket
    val plans = graft.tools.PlanDump.freshJobPlans(spark).map(_.executedPlan.toString)
    assert(plans.size == 1, s"expected one write for the one chunk, got ${plans.size}")
    val plan = plans.head
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"join or exchange in the fresh job's plan:\n$plan")
    assert(!plan.linesIterator.exists(l => l.contains("Filter") && l.contains("pmod")),
      s"tautological bucket filter in the fresh job's plan:\n$plan")
    assert(plan.contains("extractrows"), s"extraction generator missing:\n$plan")
  }

  test("fresh extraction job: the ExtractRows Generate feeds the write, no Project copies its rows") {
    // the generator emits (doc_id, spans, bucket) itself, so nothing
    // between it and the write re-projects each extracted row
    val plan = graft.tools.PlanDump.freshJobPlans(spark).head.executedPlan
    val write = plan.collectFirst { case w: WriteFilesExec => w }
    assert(write.exists(_.child.isInstanceOf[GenerateExec]), s"Generate does not feed the write:\n$plan")
    val generate = write.get.child.asInstanceOf[GenerateExec]
    assert(generate.requiredChildOutput.isEmpty, s"child columns carried past the Generate:\n$plan")
    assert(generate.output.map(_.name) == Seq("doc_id", "spans", "bucket"))
  }

  test("giant fan-out: page ranges go through the ExtractRows Generate, with no typed object step") {
    // the fan-out's write plan over a parquet scan: the giants' page
    // ranges are extracted by the same generator as every other row
    // (an outer Generate), and reassembled by one (doc, bucket, bytes) exchange
    val plans = graft.tools.PlanDump.fanOutJobPlans(spark).map(_.executedPlan.toString)
    assert(plans.size == 1, s"expected one write for the one chunk, got ${plans.size}")
    val plan = plans.head
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"typed object step in the fan-out plan:\n$plan")
    assert("""Generate extractrows\(doc_id#\d+, spans#\d+, 1, 0,""".r.findFirstIn(plan).isDefined,
      s"normal-document ExtractRows generator missing:\n$plan")
    assert("""Generate extractrows\([^\n]*start_page#\d+, page_count#\d+[^\n]*, true, \[""".r
      .findFirstIn(plan).isDefined, s"page-range ExtractRows generator (outer) missing:\n$plan")
    assert(plan.contains("Generate explode"), s"page-range explode missing:\n$plan")
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_orderkey") === 42L)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("point lookup plan prunes to the two needed columns of the corpus") {
    val df = Queries.pdfzPointLookup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc00000123)]"),
      s"doc_id filter not pushed:\n$plan")
  }

  test("minhash LSH: signature is MAP-SIDE (no shingle explode/agg); first exchange is the bucket shuffle") {
    val plan = physical(Queries.dedupMinhashLsh(spark, sf))
    // the minhash signature is a native per-row expression (MinHashSigs)
    // posexploded into band rows, and pairs come from ONE
    // groupBy(band,sig) collect_list + pair unfold — the old plans'
    // signature hash-agg over exploded shingles (min(md5(k:sh)) with
    // partial_min) must not exist anywhere
    assert(!plan.contains("partial_min"),
      s"shingle-agg signature path resurfaced:\n${plan.take(4000)}")
    assert(plan.contains("minhash_sigs"),
      s"native map-side signature lost:\n${plan.take(4000)}")
    assert(plan.contains("collect_list"),
      s"one-pass bucket-member pairing lost:\n${plan.take(4000)}")
  }

  test("simhash: the 32-term sketch is evaluated once per side (posexplode, not per-block union)") {
    val plan = physical(Queries.dedupSimhash(spark, sf))
    // each side computes the sketch in ONE Project and posexplodes the 4
    // block keys; the union form had 4 sketch evaluations per side
    val posexplodes = "Generate posexplode".r.findAllIn(plan).size
    assert(posexplodes >= 1 && posexplodes <= 2,
      s"expected block keys via posexplode:\n${plan.take(4000)}")
    // the sketch projection appears once per (docsPlus union branch ×
    // join side) = 4 — each evaluates over DIFFERENT rows (projection
    // pushed through the union), so no row's sketch is computed twice.
    // The per-block union form had 4× that (one per block per side).
    val sketches = "AS sh#\\d+".r.findAllIn(plan).size
    assert(sketches <= 4, s"sketch recomputed per block ($sketches):\n${plan.take(4000)}")
  }

  test("minhash star: bucket canon is a hash aggregation + join (map-side combine), NOT a window over (band,sig)") {
    val plan = physical(Queries.dedupMinhashStar(spark, sf))
    // min(doc_id).over(Window.partitionBy(band, sig)) serialized a
    // mega-bucket (giant duplicate cluster) into one unsplittable
    // window task; the agg+join form (the simhash/embedding star
    // siblings' shape) partial-aggregates the hot bucket map-side
    assert(!plan.contains("Window"),
      s"window canon scale-killer resurfaced:\n${plan.take(4000)}")
    assert(plan.contains("partial_min"),
      s"canon lost its map-side partial min aggregation:\n${plan.take(4000)}")
  }

  test("keep-best: per-cluster argmax is a struct-max hash aggregation (map-side combine), NOT a window") {
    val plan = physical(Queries.dedupKeepBest(spark, sf))
    // row_number().over(partitionBy(cluster)) would serialize a
    // mega-cluster into one unsplittable window task; the struct-max
    // form partial-aggregates a 10k-member cluster's rows map-side
    assert(!plan.contains("Window"),
      s"window argmax scale-killer in keep-best:\n${plan.take(4000)}")
    assert(plan.contains("partial_max"),
      s"argmax lost its map-side partial max:\n${plan.take(4000)}")
  }

  test("jaccard: shingle member lists come from a map-side combine below the one shingle exchange, NOT a window or an object aggregate over sh") {
    // a window over partitionBy(sh) forces ALL rows of a hot shingle
    // into one unsplittable task before the df cap can drop it — the
    // 10^12-doc scale-killer; collect_list over sh plans an
    // ObjectHashAggregate that falls back to sort-based aggregation. The
    // combine collapses a shingle's rows map-side, and the merge above
    // the exchange is a sorted pass
    assertShingleCombineShape("dedup_jaccard_capped", physical(Queries.dedupJaccardCapped(spark, sf)))
  }

  test("containment: same scale shape as jaccard — map-side shingle combine, no window, no object aggregate") {
    assertShingleCombineShape("dedup_containment", physical(Queries.dedupContainment(spark, sf)))
  }

  private def assertShingleCombineShape(q: String, plan: String): Unit = {
    assert(!plan.contains("Window"), s"$q: window-df scale-killer resurfaced:\n${plan.take(4000)}")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"$q: object or sort aggregate in the plan:\n${plan.take(4000)}")
    val combine = """Exchange hashpartitioning\(sh#\d+, \d+\)[^\n]*\n[^\n]*?\+- Generate shingle_combine""".r
    assert(combine.findFirstIn(plan).isDefined,
      s"$q: no map-side combine below the shingle exchange:\n${plan.take(4000)}")
    assert(plan.contains("shingle_merge"), s"$q: shingle merge pass lost:\n${plan.take(4000)}")
  }

  test("jaccard/containment: intersections are counted per document — no aggregate or exchange keyed on a pair") {
    // the (a, b) unfold shuffled and hash-aggregated one row per shared
    // pair (4.8M rows at sf0.1 to keep 6,024); the per-document pass
    // shuffles on one key and sorts instead
    Seq("dedup_jaccard" -> Queries.dedupJaccard(spark, sf),
        "dedup_containment" -> Queries.dedupContainment(spark, sf)).foreach { case (q, df) =>
      df.collect() // the final adaptive plan shows the reused shingle exchange
      val plan = physical(df)
      val pairAggs = """keys=\[[^\]]*,[^\]]*\]""".r.findAllIn(plan).toList
      assert(pairAggs.isEmpty, s"$q: aggregate keyed on two columns $pairAggs:\n${plan.take(6000)}")
      val pairExchanges = """hashpartitioning\([^,()]+, [^,()]+, \d+\)""".r.findAllIn(plan).toList
      assert(pairExchanges.isEmpty,
        s"$q: exchange partitioned on two columns $pairExchanges:\n${plan.take(6000)}")
      assert(plan.contains("MapPartitions") && plan.contains("ReusedExchange"),
        s"$q: per-document pass or the shared shingle exchange lost:\n${plan.take(6000)}")
    }
  }

  test("bloom pre-filter: production plan joins ONLY the bit set — no corpus-fingerprint join at all") {
    // round-6 verdict: the old single operator broadcast
    // corpusFp.distinct() — the exact thing the bloom filter exists
    // to avoid — into EVERY caller's plan. The production path now
    // touches the corpus only to build the fixed-size bit set.
    val docs = Queries.docsPlus(spark, sf).select("doc_id", "text")
    val batch = docs.where(col("doc_id") % 7 === 0)
    val plan = physical(graft.operators.Dedup.bloomIncrementalFlags(docs, batch))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    val allJoins = "Join".r.findAllIn(plan).size
    assert(broadcasts == 1 && allJoins == broadcasts,
      s"expected exactly ONE broadcast join (the bit set), got $broadcasts broadcast / $allJoins total:\n${plan.take(4000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus fingerprint join leaked into the bloom-only plan:\n${plan.take(4000)}")
  }

  test("bloom witness path: exact truth joins ONLY the flagged minority, without a forced broadcast") {
    val plan = physical(Queries.dedupBloomIncremental(spark, sf))
    // the flagged-minority filter must sit below the exact fp join
    assert(plan.contains("bloom_hit"), s"witness plan lost the flag column:\n${plan.take(4000)}")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 1,
      s"expected the bit-set broadcast at minimum, got $broadcasts:\n${plan.take(4000)}")
  }

  test("exact-substring: the corpus is scanned and shingled ONCE (single gram aggregation feeds both consumers)") {
    // round-6 verdict: `def grams` instantiated twice — a second full
    // corpus read + shingle pass at 100 TB. The single per-gram
    // aggregation now carries count + occurrence positions together.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val plan = physical(graft.operators.Dedup.exactSubstringSpans(docs, minTokens = 15))
    val shingles = "shingle_keys".r.findAllIn(plan).size
    assert(shingles == 1,
      s"expected ONE shingle evaluation, got $shingles:\n${plan.take(4000)}")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans <= 1, s"corpus scanned $scans times:\n${plan.take(4000)}")
  }

  test("CDC chunking is MAP-SIDE: no Window, no token-stream shuffle — the only Exchange is the chunk-fp agg") {
    // round-5 verdict: posexplode + Window.partitionBy(doc_id) shuffled
    // and sorted the fully tokenized corpus (≈3-5× text bytes) twice
    // before the one inherent shuffle; the native CdcChunks expression
    // chunks each doc's intact text in the map task, so the plan is
    // scan → project(cdc_chunks) → explode → partial agg → ONE
    // Exchange(chunk_fp) → final agg
    val plan = physical(graft.operators.Dedup.cdcChunkDuplicates(
      Queries.docsPlus(spark, sf)))
    assert(!plan.contains("Window"),
      s"CDC token-window scale-killer resurfaced:\n${plan.take(4000)}")
    assert(plan.contains("cdc_chunks"),
      s"native map-side chunker missing from plan:\n${plan.take(4000)}")
    // the chunker (and its explode) must sit BELOW every Exchange —
    // i.e. tokens never cross the wire; the plan prints leaves last,
    // so "below" means the cdc_chunks Generate appears AFTER the last
    // Exchange in the string
    assert(plan.lastIndexOf("Exchange") < plan.indexOf("cdc_chunks"),
      s"token stream crosses an Exchange:\n${plan.take(4000)}")
    // two Exchanges of chunk-level rows is the standard two-phase
    // distinct-agg shape (partial (fp,doc) agg → fp agg), both over
    // aggregated chunk fingerprints, never tokens
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected at most the two distinct-agg Exchanges, got $exchanges:\n${plan.take(4000)}")
    assert(plan.contains("partial_max"),
      s"chunk agg lost its map-side partials:\n${plan.take(4000)}")
  }

  test("KMV sketch: bottom-k aggregate runs with map-side partials (mergeable sketch, O(k) buffers)") {
    val plan = physical(Queries.textDistinctKmv(spark, sf))
    assert(plan.contains("partial_bottom_k_distinct") ||
      plan.contains("partial bottom_k_distinct") ||
      (plan.contains("bottom_k_distinct") && plan.contains("Partial")),
      s"bottom-k sketch lost its partial aggregation:\n${plan.take(4000)}")
  }

  /** The IVF scoring shape: the index's small side is folded on the
    * driver, so the plan is the item scan, ONE map-side `ivf_scan`
    * generator (list assignment, PQ encoding and scoring per item) and
    * the per-query top-k window — the only exchange before the caller's
    * order. No join of any kind (no n×C or n×K fan-out, no broadcast
    * lookup), no aggregation keyed on an item. */
  private def assertItemPassShape(plan: String): Unit = {
    assert(plan.contains("ivf_scan"), s"scoring lost its one map-side item pass:\n${plan.take(4000)}")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"a join (fan-out or lookup) is back in the scoring plan:\n${plan.take(4000)}")
    assert(!plan.contains("Aggregate") && !plan.contains("min_by"),
      s"scoring regressed to a per-item aggregation:\n${plan.take(4000)}")
    val windows = "Window\\b".r.findAllIn(plan).size
    assert(windows == 1, s"expected the one query-side top-k window, got $windows:\n${plan.take(4000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected one exchange (the top-k window's), got $shuffles:\n${plan.take(4000)}")
  }

  test("IVF: lists and scores come from one map-side item pass over the driver-folded index — one query-side window, no join, no per-item aggregation") {
    assertItemPassShape(physical(Queries.simTopkIvf(spark, sf)))
  }

  test("IVF-PQ: encoding and ADC scoring ride the same item pass — the lookup table is in the fold, not a broadcast hash relation") {
    val plan = physical(Queries.simTopkPq(spark, sf))
    assertItemPassShape(plan)
    assert(!plan.contains("BroadcastExchange"),
      s"a broadcast relation is back in the PQ scoring plan:\n${plan.take(4000)}")
    // the subspace split happens inside the pass, never as row fan-out
    assert(!plan.contains("posexplode"), s"subspace rows in the scoring plan:\n${plan.take(4000)}")
  }

  test("IVF-PQ kmeans: the trained codebook is read once on the driver — Lloyd lineage absent from the scoring plan") {
    val plan = physical(Queries.simTopkPqKmeans(spark, sf))
    assertItemPassShape(plan)
    // the Lloyd rounds' mean recompute (array_long_sum_agg) and their
    // subspace split must not re-instantiate inside the scoring plan
    assert(!plan.contains("array_long_sum_agg") && !plan.contains("posexplode"),
      s"Lloyd training lineage leaked into the scoring plan:\n${plan.take(4000)}")
  }

  test("funnel window: the conversion-window variant keeps the agg+join shape — still no event-stream window") {
    val plan = physical(Queries.qEventsFunnelWindow(spark, sf))
    assert(!plan.contains("Window"),
      s"event-stream window scale-killer in windowed funnel:\n${plan.take(4000)}")
    assert(plan.contains("partial_min"),
      s"stage times lost their map-side min partials:\n${plan.take(4000)}")
  }

  test("image phash: banded candidates, no cartesian product, no window — exact verify is per-candidate arithmetic") {
    val plan = physical(Queries.dedupImagePhash(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"phash pairs must come from the band join, never all-pairs:\n${plan.take(4000)}")
    assert(!plan.contains("Window"), s"no window belongs here:\n${plan.take(4000)}")
    assert(plan.contains("bit_count"),
      s"exact Hamming verify must ride bit_count:\n${plan.take(4000)}")
  }

  test("corpus report: map-side partial aggregations; no window; the lang rollup is a hash agg") {
    val plan = physical(Queries.pipelineReport(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"report lost its map-side partials:\n${plan.take(4000)}")
    assert(!plan.contains("Window"), s"no window belongs here:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian belongs here:\n${plan.take(4000)}")
  }

  test("temperature sampling: group stats broadcast back — the corpus itself is never shuffled") {
    val plan = physical(Queries.sampleTemperature(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"group-count join must broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("Window"), s"no window belongs in the keep rule:\n${plan.take(4000)}")
    // the group counts are checkpointed ONCE (deriving n_min from the
    // lazy agg frame would re-instantiate its corpus scan), so the
    // query plan scans the corpus exactly once — the filtered scan
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n${plan.take(4000)}")
  }

  test("funnel: per-stage min() hash aggregations on the user key — no window over the event stream") {
    val plan = physical(Queries.qEventsFunnel(spark, sf))
    // a window (first_value over user partitions) would serialize a
    // hot user's full event history into one task; the agg+join chain
    // collapses it map-side in the min() partials
    assert(!plan.contains("Window"),
      s"event-stream window scale-killer in funnel:\n${plan.take(4000)}")
    assert(plan.contains("partial_min"),
      s"stage times lost their map-side partial min:\n${plan.take(4000)}")
  }

  test("window top-k: Spark's rank-limit pushdown (WindowGroupLimit) engages — no full-partition sort-and-discard") {
    // InferWindowGroupLimit rewrites filter(row_number<=k over w) into a
    // partial per-partition group limit BEFORE the shuffle — the exact
    // optimization a hand-rolled top-k operator would buy; pinned so a
    // query change that silently breaks the pattern shows up here
    val plan = physical(Queries.qWindowTopN(spark, sf))
    assert(plan.contains("WindowGroupLimit"), s"rank-limit pushdown lost:\n${plan.take(4000)}")
  }

  test("tf-idf: map-side partial aggs for tf/df and the top-3 window rides WindowGroupLimit") {
    val plan = physical(Queries.textTfidfTop3(spark, sf))
    assert(plan.contains("partial_count"),
      s"tf/df aggregations lost their map-side partials:\n${plan.take(4000)}")
    assert(plan.contains("WindowGroupLimit"),
      s"top-3 rank-limit pushdown lost:\n${plan.take(4000)}")
  }

  test("whole-stage codegen covers the scalar aggregation pipeline (q1)") {
    // note: array higher-order functions (textStats) are CodegenFallback
    // by design in Spark — the codegen pin targets the scalar path
    val df = Queries.q1Pricing(spark, sf)
    df.collect() // run THIS plan so AQE finalizes it (count() would plan separately)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the final-plan rendering
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"no codegen span:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
  }
}
