package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.model._
import graft.fixtures.InterleavedGen
import graft.io.Parquet
import graft.job.ExtractJob
import graft.spark.Sessions

/** CLI surface for the flagship extraction pipeline.
  *
  *   gen <corpusDir> <nDocs>          synthesize interleaved corpus + golden
  *   run <corpusDir> <tableDir> [chunkBuckets] [numBuckets]
  *   show <tableDir> <doc_id>         point-read one doc's spans
  *   verify <corpusDir> <tableDir>    span-sequence equality vs golden
  *   progress <tableDir> [jobId] [buckets]
  */
object ExtractCli {

  def genCorpus(spark: SparkSession, dir: String, n: Long): Unit = {
    import spark.implicits._
    // enough output files that the scan side can parallelize: parquet
    // files are one row-group here, hence unsplittable below file level
    val docs = spark.range(0, n, 1,
      math.max(spark.sparkContext.defaultParallelism * 4, math.min(n / 500, 512)).toInt)
      .mapPartitions(_.map(i => InterleavedGen.docWithGolden(i)))
    docs.persist()
    docs.map(_._1).write.mode("overwrite").parquet(s"$dir/interleaved_docs.parquet")
    docs.map(_._2).write.mode("overwrite").parquet(s"$dir/expected_docs.parquet")
    docs.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    args.toList match {
      case "gen" :: dir :: n :: Nil =>
        val spark = Sessions.local(cpus, "graft-gen")
        genCorpus(spark, dir, n.toLong)
        println(s"""{"corpus":"$dir","docs":${n.toLong}}""")
        spark.stop()

      case "run" :: corpus :: table :: rest =>
        val spark = Sessions.local(cpus, "graft-extract")
        val chunk = rest.headOption.map(_.toInt).getOrElse(0)
        val buckets = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
        val mode = rest.drop(2).headOption.getOrElse("scan")
        val input = Parquet.read(spark, s"$corpus/interleaved_docs.parquet")
        val t0 = System.nanoTime()
        val stats = ExtractJob.run(spark, input, table,
          ExtractJob.Config(numBuckets = buckets, chunkBuckets = chunk, mode = mode))
        val sec = (System.nanoTime() - t0) / 1e9
        println(s"""{"docs":${stats.docs},"spans":${stats.spans},"failed":${stats.failedDocs},""" +
          s""""buckets_done":${stats.bucketsProcessed},"already_committed":${stats.committedBucketsBefore},""" +
          f""""sec":$sec%.2f,"docs_per_sec":${stats.docs / math.max(sec, 1e-9)}%.1f}""")
        spark.stop()

      case "show" :: table :: docId :: Nil =>
        val spark = Sessions.local(cpus, "graft-show")
        val rows = ExtractJob.readDoc(spark, table, docId)
          .select(explode(col("spans")).as("s"))
          .select("s.order", "s.kind", "s.text", "s.media_ref")
          .orderBy("order").collect()
        if (rows.isEmpty) { System.err.println(s"doc '$docId' not found"); spark.stop(); sys.exit(1) }
        rows.foreach(r => println(s"[${r.getInt(0)}] ${r.getString(1)}: " +
          (if (r.getString(1) == "media") r.getString(3) else r.getString(2).replace("\n", "\\n"))))
        spark.stop()

      case "verify" :: corpus :: table :: Nil =>
        val spark = Sessions.local(cpus, "graft-verify")
        import spark.implicits._
        // batch writer adds a bucket column; the streaming sink doesn't —
        // compare on the common (doc_id, spans) contract
        val got = Parquet.read(spark, graft.io.TableIO.dataDir(table))
          .select("doc_id", "spans").as[ExtractedDoc]
          .map(r => (r.doc_id, r.spans.map(s => (s.kind, s.text, s.media_ref, s.order)).sortBy(_._4)))
        val exp = Parquet.read(spark, s"$corpus/expected_docs.parquet").as[ExtractedDoc]
          .map(d => (d.doc_id, d.spans.map(s => (s.kind, s.text, s.media_ref, s.order)).sortBy(_._4)))
        val joined = got.toDF("doc_id", "got").join(exp.toDF("doc_id", "exp"), Seq("doc_id"), "full_outer")
        val agg = joined.agg(
          count(when(col("got").isNull, 1)).as("missing"),
          count(when(col("exp").isNull, 1)).as("unexpected"),
          count(when(col("got") =!= col("exp"), 1)).as("mismatched"),
          count(when(col("got") === col("exp"), 1)).as("equal")).collect()(0)
        println(s"""{"equal":${agg.getLong(3)},"mismatched":${agg.getLong(2)},""" +
          s""""missing":${agg.getLong(0)},"unexpected":${agg.getLong(1)}}""")
        val bad = agg.getLong(0) + agg.getLong(1) + agg.getLong(2)
        spark.stop()
        if (bad > 0) sys.exit(1)

      case "json" :: table :: docId :: Nil =>
        val spark = Sessions.local(cpus, "graft-json")
        ExtractJob.readDocJson(spark, table, docId) match {
          case Some(j) => println(j); spark.stop()
          case None => System.err.println(s"doc '$docId' not found"); spark.stop(); sys.exit(1)
        }

      case "stream" :: corpus :: table :: rest =>
        val spark = Sessions.local(cpus, "graft-stream")
        val ck = rest.headOption.getOrElse(s"$table/_checkpoint")
        val t0 = System.nanoTime()
        graft.streaming.ExtractStream
          .run(spark, s"$corpus/interleaved_docs.parquet", s"$table/data", ck)
          .awaitTermination()
        val docs = Parquet.read(spark, s"$table/data").count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"docs":$docs,"sec":$sec%.2f,"checkpoint":"$ck"}""")
        spark.stop()

      case "progress" :: table :: rest =>
        val spark = Sessions.local(cpus, "graft-progress")
        val jobId = rest.headOption.getOrElse("extract")
        val buckets = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
        ExtractJob.progress(spark, table, jobId, buckets).show(false)
        spark.stop()

      case "status" :: table :: rest =>
        // ≡ GET /progress/:id's derived status string (metadata-only —
        // no Spark session needed; see ExtractJob.statusString quirk doc)
        val jobId = rest.headOption.getOrElse("extract")
        val buckets = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
        println(s"""{"id":"$jobId","status":"${ExtractJob.statusString(table, jobId, buckets)}"}""")

      case _ =>
        System.err.println("usage: ExtractCli gen <dir> <n> | run <corpus> <table> [chunk] [buckets] [scan|bucketed] | " +
          "stream <corpus> <table> [checkpointDir] | " +
          "show <table> <doc_id> | verify <corpus> <table> | progress <table> [jobId] [buckets] | " +
          "status <table> [jobId] [buckets]")
        sys.exit(2)
    }
  }
}
