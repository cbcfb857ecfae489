package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.core.model._

/** Structured-Streaming face of the engine.
  *
  * The reference's RabbitMQ queue (durable, at-least-once, ack-after-
  * dispatch — /root/reference/extractor/src/controllers/queue_handler.rs:31-54)
  * maps to a file-stream source over the input table: new parquet files
  * = new queue messages (SURVEY.md §2 S1). The parquet file sink's own
  * commit log upgrades the reference's at-least-once to exactly-once
  * per file, and `checkpointLocation` replaces the Redis pending-state:
  * a killed stream restarted with the same checkpoint resumes without
  * re-extracting committed batches — the streaming twin of
  * [[graft.job.ExtractJob]]'s lineage protocol.
  */
object ExtractStream {

  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("text", StringType),
      StructField("media_ref", StringType),
      StructField("offset", IntegerType)))))))

  /** The extraction transform of the streaming face: the batch job's
    * generator ([[graft.job.ExtractRows]]), so one map-only `Generate`
    * with no shuffle and no object (de)serialization in the streaming
    * plan. Per-document OPTION COLUMNS override `opts` row-wise under
    * the batch job's contract ([[graft.job.ExtractJob.OptionColumns]];
    * the reference's queue carries options per message,
    * worker.rs:4-11), so a mixed-options corpus extracts identically
    * through either face. A row with a null `doc_id`, span, `kind` or
    * the text its kind reads emits nothing. */
  def extract(spark: SparkSession, input: DataFrame,
      opts: ExtractOptions = ExtractOptions()): Dataset[ExtractedDoc] = {
    import spark.implicits._
    input.select(graft.job.ExtractRows.of(input, opts, lit(0), None)).as[ExtractedDoc]
  }

  /** Start the streaming extraction: corpusDir (parquet files arriving
    * over time) → outDir (exactly-once parquet sink). `availableNow`
    * processes the current backlog then stops — the batch-equivalent
    * trigger used by tests and catch-up runs.
    *
    * The sink writes through the batch job's format,
    * [[graft.io.SinkParquetFormat]], so each micro-batch's write tasks
    * get the same trimmed Hadoop conf and the files are those a
    * `format("parquet")` sink writes, with the same `_spark_metadata`
    * log. The trim drops only entries loaded unchanged from Hadoop's
    * bundled defaults, which a task reads back as the equal compiled
    * defaults; the second copy Spark's write stats tracker ships is not
    * reached and stays whole. The file sink builds its Hadoop conf from its session's conf
    * and ignores writer options, so the batch job's
    * [[graft.job.ExtractJob.SinkOptions]] ride a clone of `spark`'s
    * session (its conf plus those options; `spark` is not mutated). The
    * query is therefore listed under that clone's `streams`, not under
    * `spark.streams`. */
  def run(spark: SparkSession, corpusDir: String, outDir: String,
      checkpointDir: String, opts: ExtractOptions = ExtractOptions(),
      maxFilesPerTrigger: Int = 64): StreamingQuery = {
    val session = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
    graft.job.ExtractJob.SinkOptions.foreach { case (k, v) => session.conf.set(k, v) }
    val src = session.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // admission control ≡ Semaphore(5), data-sized
      .parquet(corpusDir)
    extract(session, src, opts).writeStream
      .format(classOf[graft.io.SinkParquetFormat].getName)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Running per-bucket progress (docs, spans seen so far) kept in
    * typed state — the streaming re-expression of the reference's
    * Redis progress counters (redis.rs:169-178), via
    * mapGroupsWithState instead of an external KV store. */
  final case class BucketProgress(bucket: Int, docs: Long, spans: Long)

  def progressStream(spark: SparkSession, extracted: Dataset[ExtractedDoc],
      numBuckets: Int = 64): Dataset[BucketProgress] = {
    import spark.implicits._
    extracted
      // SAME bucket hash as the batch job's lineage
      // (ExtractJob: pmod(xxhash64(doc_id), numBuckets)) so streaming
      // progress joins 1:1 against batch lineage buckets
      .select(
        pmod(xxhash64(col("doc_id")), lit(numBuckets)).cast("int").as("bucket"),
        size(col("spans")).cast("long").as("nspans"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (bucket: Int, rows: Iterator[(Int, Long)], state: GroupState[BucketProgress]) =>
          val (dAdd, sAdd) = rows.foldLeft((0L, 0L)) { case ((a, b), r) => (a + 1L, b + r._2) }
          val cur = state.getOption.getOrElse(BucketProgress(bucket, 0L, 0L))
          val next = BucketProgress(bucket, cur.docs + dAdd, cur.spans + sAdd)
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup over arriving documents: content
    * fingerprint (order/duplication-invariant md5, ≡ the batch
    * [[graft.operators.Dedup.exactGroups]] key) + `dropDuplicates` on
    * it — Spark keeps the seen-fingerprint set in the state store, so
    * duplicates are suppressed ACROSS micro-batches and across
    * restarts (checkpointed state). At 10^12 docs unbounded dedup
    * state is a memory risk — use the watermark-bounded
    * [[dedupStreamWithinWatermark]] variant there. */
  def dedupStream(spark: SparkSession, docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .dropDuplicates("fp")

  /** BOUNDED-STATE streaming dedup — the 10^12-doc path: the same
    * fingerprint key, but state is pruned to the watermark horizon
    * (`dropDuplicatesWithinWatermark`): a duplicate arriving within
    * `delay` of the original is suppressed; one arriving later may
    * pass (by then a batch dedup pass owns the long tail). `tsCol`
    * must be an event-time column of `docs`. */
  def dedupStreamWithinWatermark(spark: SparkSession, docs: DataFrame,
      tsCol: String, delay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dedup at SIGNATURE precision: the doc's full
    * MinHash signature (md5 of all `numHashes` minhash values — the
    * batch [[graft.operators.Dedup]] sketch via the same native
    * expression) is the dedup key, so an arriving document whose
    * whole signature matches any earlier one is suppressed across
    * micro-batches and restarts. This is the HIGH-PRECISION tier of
    * streaming near-dedup — all hashes agreeing ≈ resemblance near 1
    * (Broder 1997); the banded-LSH recall tiers stay batch operators,
    * where the bucket join and its candidate verification are
    * replayable against the oracle. State is ONE row per distinct
    * signature (not per band), map-side computed, no shuffle beyond
    * the dedup state partitioning. Docs below `shingleN` tokens have
    * no signature and fall back to the EXACT content fingerprint —
    * never a shared-null key that would collapse all short docs. */
  def nearDedupStream(spark: SparkSession, docs: DataFrame,
      shingleN: Int = 3, numHashes: Int = 8): DataFrame =
    docs
      .withColumn("near_key", coalesce(
        md5(array_join(graft.functions.TextFunctions.minhashSigs(
          col("text"), shingleN, numHashes), "|")),
        graft.functions.TextFunctions.fingerprint(col("text"))))
      .dropDuplicates("near_key")

  /** BOUNDED-STATE [[nearDedupStream]] — the 10^12-doc path: same
    * signature key, state pruned to the watermark horizon (a
    * signature-duplicate arriving within `delay` of the original is
    * suppressed; the long tail belongs to the batch pass). */
  def nearDedupStreamWithinWatermark(spark: SparkSession, docs: DataFrame,
      tsCol: String, delay: String = "1 hour",
      shingleN: Int = 3, numHashes: Int = 8): DataFrame =
    docs
      .withColumn("near_key", coalesce(
        md5(array_join(graft.functions.TextFunctions.minhashSigs(
          col("text"), shingleN, numHashes), "|")),
        graft.functions.TextFunctions.fingerprint(col("text"))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("near_key")

  /** Streaming IMAGE dedup at aHash precision — the multimodal twin
    * of [[nearDedupStream]]: each arriving payload is REALLY decoded
    * ([[graft.operators.Multimodal.imageHashes]], map-side, one codec
    * per batch) and suppressed iff its 64-bit perceptual hash matches
    * any earlier image's, across micro-batches and restarts.
    * Non-image payloads are dropped (never deduped on stub hashes).
    * State is one row per distinct hash; the same unbounded-state
    * contract as [[nearDedupStream]] (bound it with
    * `withWatermark` + `dropDuplicatesWithinWatermark` upstream when
    * the stream carries an event-time column).
    *
    * PRECISION caveat (mirrors the batch pair emitter's): dedup keys
    * on the EXACT 64-bit aHash, and aHash collapses low-contrast
    * images — monochrome/flat frames all hash to the same bits (every
    * cell sits at the mean), so visually distinct flat images are
    * suppressed as duplicates. Route such corpora through a
    * higher-contrast hash (or pre-filter by pixel variance) before
    * this stream. */
  def imageDedupStream(spark: SparkSession, media: DataFrame): DataFrame =
    graft.operators.Multimodal.imageHashes(spark, media)
      .toDF()
      .dropDuplicates("lo", "hi")

  /** Event-time windowed aggregation with a watermark over the events
    * stream table — the engine's late-data-tolerant streaming agg
    * (absent from the reference, which has no time semantics:
    * SURVEY.md §2.7). */
  def eventsHourly(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.readStream.schema(eventsSchema).parquet(eventsDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))
  }

  /** Current per-user funnel progression: the reached stage times (a
    * prefix of the funnel's stage list) and the depth. */
  final case class FunnelProgress(user_id: Long, times: Seq[Long], stage: Int)

  /** The shared greedy stage-advance rule of the streaming funnels:
    * batch-sorted (tms, event_type) events advance one stage whenever
    * the next stage's type appears STRICTLY after the last reached
    * time and (with `maxGapMs`) within the conversion window — the
    * same rule as the batch [[graft.operators.Funnel.funnel]]. */
  private def advanceFunnel(times0: Seq[Long], stages: Seq[String],
      rows: Seq[(Long, String, Long)], maxGapMs: Option[Long]): Seq[Long] = {
    var times = times0
    rows.sortBy(r => (r._3, r._2)).foreach { case (_, et, tms) =>
      if (times.length < stages.length && et == stages(times.length) &&
          (times.isEmpty || (tms > times.last &&
            maxGapMs.forall(g => tms <= times.last + g)))) times = times :+ tms
    }
    times
  }

  /** STREAMING ordered funnel — the stateful twin of
    * [[graft.operators.Funnel.funnel]]: per-user state holds the
    * reached stage times; each micro-batch's events are processed in
    * (tms, event_type) order, advancing one stage whenever the next
    * stage's type appears STRICTLY after the last reached time (same
    * strict-after, first-qualifying-time rule as batch; `maxGapMs` =
    * the same conversion window). The incremental greedy scan equals
    * the batch result whenever each user's events arrive in timestamp
    * order across micro-batches (the usual stateful-streaming
    * contract; an out-of-order arrival would need watermarked
    * retraction, which first-qualifying semantics deliberately
    * avoid). Emits one updated row per user per micro-batch (update
    * output mode).
    *
    * DECLARED unbounded-state contract: per-user state never evicts —
    * right for a bounded replay or a keyed corpus; a long-running
    * stream over an unbounded user population should use
    * [[funnelStreamBounded]], which evicts idle users at a watermark
    * horizon. */
  def funnelStream(spark: SparkSession, events: DataFrame,
      stages: Seq[String],
      maxGapMs: Option[Long] = None): Dataset[FunnelProgress] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_type").cast("string"),
        col("tms").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[Seq[Long]]) =>
          val times = advanceFunnel(state.getOption.getOrElse(Seq.empty),
            stages, rows.toSeq, maxGapMs)
          state.update(times)
          FunnelProgress(uid, times, times.length)
      }
  }

  /** BOUNDED-STATE streaming funnel — the 10^12-user path: same
    * greedy advance rule, but per-user state carries an EVENT-TIME
    * timeout `idleTimeoutMs` past the user's latest event; when the
    * stream's watermark (on `tsCol`, lateness `delay`) passes it, the
    * user's state is EVICTED and the final progress row is emitted
    * with `stage = -(depth + 1)` marking closure (distinguishable
    * from live updates without a schema change). A post-eviction
    * event restarts that user's funnel from stage 0 — the declared
    * trade for bounded state, mirroring
    * [[nearDedupStreamWithinWatermark]]'s horizon contract. */
  def funnelStreamBounded(spark: SparkSession, events: DataFrame,
      stages: Seq[String], tsCol: String = "ts", delay: String = "1 hour",
      idleTimeoutMs: Long = 3600000L,
      maxGapMs: Option[Long] = None): Dataset[FunnelProgress] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(idleTimeoutMs >= 1, s"idleTimeoutMs must be >= 1, got $idleTimeoutMs")
    import spark.implicits._
    // the WATERMARKED column itself must flow into the stateful
    // operator (the event-time-timeout checker follows the attribute
    // tag; projecting it away to a long loses it)
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", delay)
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            val times = state.getOption.getOrElse(Seq.empty)
            state.remove()
            FunnelProgress(uid, times, -(times.length + 1))
          } else {
            val batch = rows.map(r => (r._1, r._2, r._3.getTime)).toSeq
            val times = advanceFunnel(state.getOption.getOrElse(Seq.empty),
              stages, batch, maxGapMs)
            state.update(times)
            if (batch.nonEmpty)
              // a straggler batch wholly behind the watermark (late
              // events are NOT auto-dropped for mapGroupsWithState)
              // must not set an already-expired timeout — Spark
              // rejects timestamps at or before the watermark
              state.setTimeoutTimestamp(math.max(
                batch.map(_._3).max + idleTimeoutMs,
                state.getCurrentWatermarkMs() + 1))
            FunnelProgress(uid, times, times.length)
          }
      }
  }

  /** Event-time SESSIONIZATION: per-user dynamic-gap sessions via
    * `session_window` — windows merge in the state store while events
    * arrive (two events fuse iff their gap is STRICTLY under `gap`;
    * end-exclusive), and the watermark finalizes a session once no
    * mergeable event can still arrive. This is the streaming twin of
    * the batch [[graft.spark.Queries.qEventsSessionWindows]] (same
    * operator, oracle-pinned merge rule) — per-key state is one
    * (start, end, count) per open session, so state is bounded by the
    * number of OPEN sessions, not event history: the 10^12-event
    * sessionization path. Append mode emits only watermark-sealed
    * sessions; sessions still open when a bounded replay ends stay
    * withheld (drive the watermark past them to flush — see the
    * spec). */
  def eventsSessions(spark: SparkSession, eventsDir: String,
      gap: String = "30 minutes", delay: String = "1 hour",
      maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(eventsDir)
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("events"))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
}
