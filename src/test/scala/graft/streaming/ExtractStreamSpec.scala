package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.model._
import graft.spark.InterleavedTable

class ExtractStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-stream-$tag").toString

  test("streaming dedup suppresses duplicates ACROSS micro-batches (state-store fingerprints)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val src = tmp("dd-src"); val out = tmp("dd-out"); val ck = tmp("dd-ck")
    // two separate files = two micro-batches (maxFilesPerTrigger=1);
    // 'b a' in file 2 is a token-order duplicate of file 1's 'a b'
    Seq((1L, "a b"), (2L, "unique one")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$src/f1")
    Seq((3L, "b a"), (4L, "another unique")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$src/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f*")
    val q = ExtractStream.dedupStream(spark, stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    // doc 3 is the cross-batch duplicate: exactly one of {1,3} survives
    // (batch order decides which), both uniques survive
    assert(kept.size == 3 && kept.contains(2L) && kept.contains(4L))
    assert((kept & Set(1L, 3L)).size == 1)
  }

  test("streaming IMAGE dedup: perceptual-hash duplicates suppressed across batches; non-images dropped") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    def png(shift: Int, oddEdit: Boolean): Array[Byte] = {
      val rgba = new Array[Byte](16 * 16 * 4)
      for (y <- 0 until 16; x <- 0 until 16) {
        var g = (x * 11 + y * 5 + shift) % 180
        if (oddEdit && x == 3 && y == 5) g = 250 // odd coords: hash-invisible
        val p = (y * 16 + x) * 4
        rgba(p) = g.toByte; rgba(p + 1) = g.toByte
        rgba(p + 2) = g.toByte; rgba(p + 3) = -1
      }
      graft.pdf.PdfImages.encodePng(16, 16, rgba)
    }
    val src = tmp("idd-src"); val out = tmp("idd-out"); val ck = tmp("idd-ck")
    Seq(("d1", "a.png", png(0, oddEdit = false)),
        ("d2", "bin.dat", Array.tabulate[Byte](32)(_.toByte)))
      .toDF("doc_id", "media_ref", "payload").coalesce(1).write.parquet(s"$src/f1")
    // batch 2: a hash-identical variant of a.png (odd-pixel edit) and
    // a genuinely different image
    Seq(("d3", "dup.png", png(0, oddEdit = true)),
        ("d4", "other.png", png(90, oddEdit = false)))
      .toDF("doc_id", "media_ref", "payload").coalesce(1).write.parquet(s"$src/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("media_ref", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f*")
    val q = ExtractStream.imageDedupStream(spark, stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("img_id").as[String].collect().toSet
    // the cross-batch perceptual duplicate is suppressed; the distinct
    // image survives; the binary payload never enters the stream
    assert((kept & Set("2:d1:a.png", "2:d3:dup.png")).size == 1, s"got $kept")
    assert(kept.contains("2:d4:other.png") && !kept.exists(_.contains("bin.dat")))
    assert(kept.size == 2)
  }

  test("streaming NEAR-dedup: signature duplicates suppressed across batches; short docs fall back to exact fp") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = (0 until 40).map(i => s"tok${i * 13 % 17}x$i").mkString(" ")
    val variant = "zzz " + base.split(" ").drop(1).mkString(" ")
    // expectation derived from the SAME native sketch the stream keys on
    val sigs = Seq(base, variant).toDF("text")
      .select(md5(array_join(graft.functions.TextFunctions.minhashSigs(
        col("text"), 3, 8), "|")).as("s")).as[String].collect()
    val variantIsDup = sigs(0) == sigs(1)
    val src = tmp("ndd-src"); val out = tmp("ndd-out"); val ck = tmp("ndd-ck")
    Seq((1L, base), (5L, "x")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$src/f1")
    Seq((2L, base), (3L, variant), (6L, "x"), (7L, "y")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$src/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f*")
    val q = ExtractStream.nearDedupStream(spark, stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L)) // identical text: one signature
    assert(kept.contains(3L) != variantIsDup) // streaming ≡ the sketch's own verdict
    assert((kept & Set(5L, 6L)).size == 1) // short docs dedup by exact fp, not a shared null
    assert(kept.contains(7L))
  }

  test("streaming extraction over the corpus equals the by-construction goldens (S1 queue ≡ file stream)") {
    import spark.implicits._
    val n = 60
    val corpus = tmp("corpus"); val out = tmp("out"); val ck = tmp("ck")
    InterleavedTable.generate(spark, n).repartition(4)
      .write.mode("overwrite").parquet(corpus)

    val q = ExtractStream.run(spark, corpus, out, ck)
    q.awaitTermination()

    val got = spark.read.parquet(out).as[ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans).toMap
    val exp = InterleavedTable.goldens(spark, n)
      .collect().map(d => d.doc_id -> d.spans).toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (id, spans) =>
      assert(got(id) == spans, s"span-sequence mismatch for $id")
    }
  }

  test("streaming extraction honors PER-ROW option columns identically to the batch job") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.fixtures.InterleavedGen
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
    val src = tmp("opt-src"); val out = tmp("opt-out"); val ck = tmp("opt-ck")
    input.coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream.schema(input.schema).parquet(s"$src/f*")
    val q = ExtractStream.extract(spark, stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).as[ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans.sortBy(_.order)).toMap
    // same pins as the batch test: start_page=3 with the reference's
    // off-by-one → pages 2..3; defaults untouched; bad engine fail-soft
    assert(got("ranged").map(_.text) == Seq("ranged page 2", "ranged page 3"))
    assert(got("full").map(_.text) == (1 to 4).map(p => s"full page $p"))
    assert(!got.contains("badengine"))
    // and a per-row NULL falls back to the job-level opts
    val src2 = tmp("opt2-src"); val out2 = tmp("opt2-out"); val ck2 = tmp("opt2-ck")
    Seq(pdfDoc("nullrow", 6) match { case (id, sp) =>
      (id, sp, None: Option[Int], None: Option[Int], None: Option[String]) })
      .toDF("doc_id", "spans", "start_page", "page_count", "engine")
      .coalesce(1).write.parquet(s"$src2/f1")
    val stream2 = spark.readStream.schema(input.schema).parquet(s"$src2/f*")
    val q2 = ExtractStream.extract(spark, stream2,
        ExtractOptions(startPage = 2, pageCount = 3))
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ck2)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got2 = spark.read.parquet(out2).as[ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans.sortBy(_.order)).toMap
    assert(got2("nullrow").map(_.text) == Seq(1, 2, 3).map(p => s"nullrow page $p"))
  }

  test("streaming per-row password column matches the batch contract") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.fixtures.InterleavedGen
    def row(id: String, pdf: Array[Byte], pw: Option[String]) =
      (id, Seq(RawSpan("pdf_bytes", InterleavedGen.b64(pdf), "", 0)), pw)
    val rows = Seq(
      row("spw", graft.pdf.PdfBuilder.withEncryption(aes = true,
        texts = Seq("stream locked"), userPw = "k3y"), Some("k3y")),
      row("splain", graft.pdf.PdfBuilder.simple(
        Seq(graft.pdf.PdfBuilder.tjLine("stream open"))), None),
      row("sbad", graft.pdf.PdfBuilder.withEncryption(aes = false,
        texts = Seq("never seen"), userPw = "right"), Some("wrong")))
    val input = rows.toDF("doc_id", "spans", "password")
    val src = tmp("pw-src"); val out = tmp("pw-out"); val ck = tmp("pw-ck")
    input.coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream.schema(input.schema).parquet(s"$src/f*")
    val q = ExtractStream.extract(spark, stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).as[ExtractedDoc]
      .collect().map(d => d.doc_id -> d.spans.sortBy(_.order)).toMap
    assert(got("spw").map(_.text) == Seq("stream locked"))
    assert(got("splain").map(_.text) == Seq("stream open"))
    assert(!got.contains("sbad"))
  }

  test("streaming rows with a null doc_id, span, kind or read text emit nothing (batch contract)") {
    import spark.implicits._
    val good = graft.fixtures.InterleavedGen.docWithGolden(4)._1
    val rows: Seq[(String, Seq[RawSpan])] = Seq(
      good.doc_id -> good.spans,
      (null: String) -> good.spans,
      "nullspans" -> null,
      "nullspan" -> Seq(RawSpan("text", "a", "", 0), null),
      "nullkind" -> Seq(RawSpan(null, "a", "", 0)),
      "nulltext" -> Seq(RawSpan("text", null, "", 0)),
      "nullref" -> Seq(RawSpan("media", "", null, 0)),
      "textnullref" -> Seq(RawSpan("text", "kept", null, 0)))
    val corpus = tmp("nulls-src"); val out = tmp("nulls-out"); val ck = tmp("nulls-ck")
    rows.toDF("doc_id", "spans").coalesce(1).write.mode("overwrite").parquet(corpus)
    ExtractStream.run(spark, corpus, out, ck).awaitTermination()
    val got = spark.read.parquet(out).as[ExtractedDoc].collect()
    assert(got.map(_.doc_id).sorted.toSeq == Seq(good.doc_id, "textnullref").sorted)
    assert(got.find(_.doc_id == "textnullref").get.spans == Seq(Span("text", "kept", "", 0)))
  }

  test("restart with same checkpoint is exactly-once: new files only, no duplicates") {
    import spark.implicits._
    val corpus = tmp("corpus2"); val out = tmp("out2"); val ck = tmp("ck2")
    InterleavedTable.generate(spark, 20).coalesce(1)
      .write.mode("append").parquet(corpus)
    ExtractStream.run(spark, corpus, out, ck).awaitTermination()

    // second wave of 'queue messages' (docs 100..119), then restart
    spark.range(100, 120).map(i => graft.fixtures.InterleavedGen.docWithGolden(i)._1)
      .coalesce(1).write.mode("append").parquet(corpus)
    ExtractStream.run(spark, corpus, out, ck).awaitTermination()

    val ids = spark.read.parquet(out).select("doc_id").as[String].collect()
    assert(ids.length == 40, s"expected 40 docs once each, got ${ids.length}")
    assert(ids.distinct.length == 40)
  }

  test("stateful per-bucket progress accumulates across micro-batches (Redis counters ≡ mapGroupsWithState)") {
    import spark.implicits._
    val corpus = tmp("corpus3")
    InterleavedTable.generate(spark, 30).coalesce(1)
      .write.mode("overwrite").parquet(corpus)
    val src = spark.readStream.schema(ExtractStream.inputSchema).parquet(corpus)
    val prog = ExtractStream.progressStream(spark, ExtractStream.extract(spark, src))
    val q = prog.writeStream.format("memory").queryName("prog")
      .outputMode("update").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val total = spark.sql("SELECT sum(docs) FROM prog").head().getLong(0)
    assert(total == 30)
  }

  test("streaming progress buckets join 1:1 against batch lineage buckets (same xxhash64)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = tmp("corpus4")
    InterleavedTable.generate(spark, 40).coalesce(1)
      .write.mode("overwrite").parquet(corpus)
    val src = spark.readStream.schema(ExtractStream.inputSchema).parquet(corpus)
    val prog = ExtractStream.progressStream(spark, ExtractStream.extract(spark, src))
    val q = prog.writeStream.format("memory").queryName("prog4")
      .outputMode("update").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamBuckets = spark.sql("SELECT bucket, docs FROM prog4")
      .as[(Int, Long)].collect().toMap
    // batch side: the extraction job's lineage bucketing formula
    val batchBuckets = spark.read.parquet(corpus)
      .groupBy(pmod(xxhash64(col("doc_id")), lit(64)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("docs"))
      .as[(Int, Long)].collect().toMap
    assert(streamBuckets == batchBuckets,
      s"bucket mismatch: stream=$streamBuckets batch=$batchBuckets")
  }

  test("streaming funnel equals the batch funnel on in-order input; state carries across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("fun-src"); val ck = tmp("fun-ck")
    val stages = Seq("view", "click", "purchase")
    val mid0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(unix_millis(col("ts").cast("timestamp")).as("tms"))
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY tms) AS BIGINT)"))
      .head().getLong(0)
    // plant a user whose funnel STRADDLES the split: view before the
    // cut, click and purchase after -> cross-batch progression is
    // guaranteed, not corpus-dependent
    val planted = Seq((999999L, "view", mid0 - 1L), (999999L, "click", mid0 + 1L),
      (999999L, "purchase", mid0 + 2L)).toDF("user_id", "event_type", "tms")
    val sfEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("tms"))
      .unionByName(planted)
    val batch = graft.operators.Funnel.funnel(sfEvents, stages)
      .collect().map { r =>
        def g(n: String): Option[Long] =
          if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Long](n))
        r.getAs[Long]("user_id") ->
          ((List(g("t1"), g("t2"), g("t3")).flatten, r.getAs[Int]("stage")))
      }.toMap
    // split by a timestamp midpoint: every user's events stay in ts
    // order across the two micro-batches (the documented contract)
    val mid = mid0
    sfEvents.where(col("tms") <= mid).coalesce(1).write.parquet(s"$src/f1")
    val out = tmp("fun-out")
    val schema = sfEvents.schema
    def runOnce(): Unit = {
      val st = spark.readStream.schema(schema).parquet(s"$src/f*")
      // memory sink can't recover from a checkpoint; foreachBatch can
      val q = ExtractStream.funnelStream(spark, st, stages)
        .writeStream
        .option("checkpointLocation", ck)
        .outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[ExtractStream.FunnelProgress], id: Long) =>
            b.toDF().withColumn("bid", lit(id)).write.mode("append").parquet(out)
            ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    // second half lands AFTER the first run committed its batch:
    // a genuine restart with carried state
    sfEvents.where(col("tms") > mid).coalesce(1).write.parquet(s"$src/f2")
    runOnce()
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("bid"),
        r.getAs[scala.collection.Seq[Long]]("times").toList, r.getAs[Int]("stage")))
    assert(rows.exists(_._2 >= 1), "the restart must process a second batch")
    // final state per user = the row from its LAST update
    val fin = rows.groupBy(_._1).map { case (uid, rs) =>
      val last = rs.maxBy(_._2); uid -> ((last._3, last._4))
    }
    assert(fin.nonEmpty)
    fin.foreach { case (uid, (times, stage)) =>
      assert(batch(uid) == ((times.toList, stage)),
        s"user $uid: stream $times/$stage vs batch ${batch(uid)}")
    }
    // the split must exercise cross-batch progression: someone's
    // state advanced in the second run
    val advanced = rows.filter(_._2 >= 1).map(_._1).toSet
      .exists(uid => rows.exists(r => r._1 == uid && r._2 == 0 && r._4 < fin(uid)._2))
    assert(advanced, "no user progressed across the micro-batch boundary")
  }

  test("bounded streaming funnel: gap rule honored; idle state EVICTS at the watermark horizon; restart-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("bfun-src"); val ck = tmp("bfun-ck"); val out = tmp("bfun-out")
    val stages = Seq("view", "click", "purchase")
    val t0 = 1000000000000L // fixed epoch-ms base
    def write(name: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("user_id", "event_type", "tms")
        .select(col("user_id"), col("event_type"),
          timestamp_millis(col("tms")).as("ts"))
        .coalesce(1).write.parquet(s"$src/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def runOnce(): Unit = {
      val st = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/f*")
      val q = ExtractStream.funnelStreamBounded(spark, st, stages,
          tsCol = "ts", delay = "1 second", idleTimeoutMs = 10000L,
          maxGapMs = Some(100L))
        .writeStream.option("checkpointLocation", ck).outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[ExtractStream.FunnelProgress], id: Long) =>
            b.toDF().withColumn("bid", lit(id)).write.mode("append").parquet(out)
            ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: user 7 views at t0 and clicks OUT of gap (t0+500 >
    // t0+100) — the conversion window must hold in streaming too
    write("f1", Seq((7L, "view", t0), (7L, "click", t0 + 500L)))
    runOnce()
    // two far-future sentinel batches (eviction happens the batch
    // AFTER the watermark advances): user 7's timeout (t0+10s) falls
    // behind the watermark, so its state is evicted with the closure
    // marker stage = -(depth+1) = -2
    write("f2", Seq((555L, "view", t0 + 3600000L)))
    write("f3", Seq((555L, "view", t0 + 7200000L)))
    runOnce()
    // batch 4: user 7 returns AFTER eviction — the funnel RESTARTS
    // from stage 0 (bounded-state contract), so this view becomes t1
    write("f4", Seq((7L, "view", t0 + 7300000L)))
    runOnce()
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("bid"),
        r.getAs[scala.collection.Seq[Long]]("times").toList, r.getAs[Int]("stage")))
    val u7 = rows.filter(_._1 == 7L).sortBy(_._2)
    assert(u7.head._3 == List(t0) && u7.head._4 == 1,
      s"gap rule: the out-of-gap click must not advance, got ${u7.head}")
    assert(u7.exists(r => r._4 == -2 && r._3 == List(t0)),
      s"eviction must emit the closure row (stage -2), got $u7")
    assert(u7.last._3 == List(t0 + 7300000L) && u7.last._4 == 1,
      s"post-eviction event must RESTART the funnel, got ${u7.last}")
  }

  test("dropDuplicatesWithinWatermark suppresses in-horizon duplicates across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val src = tmp("ddw-src"); val out = tmp("ddw-out"); val ck = tmp("ddw-ck")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:10:00") // within the 1h horizon
    Seq((1L, "a b", t0), (2L, "unique one", t0))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$src/f1")
    Seq((3L, "b a", t1), (4L, "another unique", t1)) // doc 3 = dup of doc 1's fp
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$src/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/f*")
    val q = ExtractStream.dedupStreamWithinWatermark(spark, stream, "ts", "1 hour")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(kept.size == 3 && kept.contains(2L) && kept.contains(4L))
    assert((kept & Set(1L, 3L)).size == 1)
  }

  test("event-time windowed agg with watermark runs over the events table") {
    // file-stream sources need a directory: stage the table into one
    val evDir = tmp("events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .coalesce(1).write.mode("overwrite").parquet(evDir)
    val df = ExtractStream.eventsHourly(spark, evDir)
    val q = df.writeStream.format("memory").queryName("evh")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only windows sealed by the watermark; the final
    // (unclosed) windows are withheld — assert the bulk arrived
    val n = spark.sql("SELECT count(*) FROM evh").head().getLong(0)
    assert(n > 0, "no sealed windows emitted")
  }

  test("streaming session_window sessions EQUAL the batch session-window query once flushed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val src = tmp("sess-src")
    // f1: the real events table; then two far-future sentinel batches
    // (user -1) whose only job is to drive the watermark forward so
    // every real session seals and appends (watermark advances at
    // batch END; eviction happens the batch AFTER, hence two)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.coalesce(1).write.parquet(s"$src/f1")
    val maxTs = ev.agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0)
    Thread.sleep(1100) // file source orders batches by mod time: real events FIRST
    def sentinel(tag: String, plusHours: Int): Unit =
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + plusHours * 3600000L), -1L,
        "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$src/$tag")
    sentinel("f2", 10)
    Thread.sleep(50)
    sentinel("f3", 20)
    // glob: each f* subdir is one staged file-batch (file source does
    // not recurse bare directories)
    val q = ExtractStream.eventsSessions(spark, s"$src/f*", maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // one file per micro-batch so the sentinels arrive as LATER batches
    q.awaitTermination()
    val got = spark.sql("SELECT * FROM sess WHERE user_id >= 0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val exp = graft.spark.Queries.qEventsSessionWindows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == exp,
      s"streaming sessions diverge from batch: missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
  }
}
