package graft.io

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CommonConfigurationKeysPublic, FileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.InterleavedGen
import graft.job.ExtractJob
import graft.streaming.ExtractStream

/** [[SinkParquetFormat]]: the write conf it ships keeps exactly the
  * entries not loaded unchanged from Hadoop's bundled defaults; every
  * dropped default the local write path reads is also Hadoop's compiled
  * default; and the tables it writes, batch and stream, read back as a
  * `.parquet(...)`-written twin does. */
class SinkParquetFormatSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.Sessions.local(4, "sink-format-spec")

  private val bundledNames = Seq("core-default.xml", "mapred-default.xml", "yarn-default.xml")

  /** Hadoop's bundled default files, and nothing else. */
  private lazy val bundled: Configuration = {
    val c = new Configuration(false)
    bundledNames.foreach(c.addResource)
    c
  }

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** A write job's conf after `format.prepareWrite`, built as Spark's
    * `FileFormatWriter` builds it. */
  private def writeConf(format: ParquetFileFormat): Configuration = {
    import spark.implicits._
    val session = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(ExtractJob.SinkOptions))
    job.setOutputKeyClass(classOf[Void])
    FileOutputFormat.setOutputPath(job, new org.apache.hadoop.fs.Path("/nonexistent/out"))
    format.prepareWrite(session, job, ExtractJob.SinkOptions,
      Seq(("d", "t")).toDF("doc_id", "text").schema)
    job.getConfiguration
  }

  test("the shipped write conf keeps exactly the entries not loaded unchanged from a bundled default") {
    val input = writeConf(new ParquetFileFormat)
    val shipped = writeConf(new SinkParquetFormat)
    val nonDefault = entries(input).filterNot { case (k, v) =>
      Option(input.getPropertySources(k)).exists(_.forall(bundledNames.contains)) &&
        bundled.getRaw(k) == v
    }
    // same keys, same values: nothing dropped through an alias, nothing added
    assert(entries(shipped) == nonDefault)
    assert(input.size > 1000 && shipped.size <= 64, s"${input.size} → ${shipped.size}")
    val bytes = new ByteArrayOutputStream
    shipped.write(new DataOutputStream(bytes))
    assert(bytes.size <= 10 * 1024, s"${bytes.size} bytes")
    // the settings the sink depends on survive
    (Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "parquet.compression") ++
      ExtractJob.SinkOptions.keys).foreach(k => assert(shipped.getRaw(k) == input.getRaw(k), k))
    // Hadoop 3.4's compiled and bundled committer default is v2; Spark's
    // v1, the one the job's exactly-once resume needs, must be kept
    val version = FileOutputCommitter.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION
    assert(FileOutputCommitter.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT == 2)
    assert(bundled.getRaw(version) == "2")
    assert(shipped.getInt(version, FileOutputCommitter.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT) == 1)
  }

  test("each dropped default the local write path reads is also Hadoop's compiled default") {
    val shipped = writeConf(new SinkParquetFormat)
    val dropped = entries(writeConf(new ParquetFileFormat)).keySet -- entries(shipped).keySet
    // a write task reads its conf into a Configuration that loads no
    // defaults, so each of these reads sees the compiled default there
    val bare = new Configuration(false)
    def localFs(c: Configuration) = {
      val fs = new NioLocalFileSystem
      fs.initialize(new java.net.URI("file:///"), c)
      fs
    }
    def bool(k: String, compiled: Boolean) = k -> ((c: Configuration) => c.getBoolean(k, compiled))
    val reads: Seq[(String, Configuration => Any)] = Seq(
      "fs.defaultFS" -> (c => FileSystem.getDefaultUri(c)),
      "fs.permissions.umask-mode" -> (c => FsPermission.getUMask(c)),
      "file.bytes-per-checksum" -> (c => localFs(c).getBytesPerSum),
      "fs.file.checksum.verify" -> (c => localFs(c).getVerifyChecksum),
      "file.stream-buffer-size" ->
        (c => c.getInt("file.stream-buffer-size", LocalConfigKeys.STREAM_BUFFER_SIZE_DEFAULT)),
      bool(CommonConfigurationKeysPublic.FS_CLIENT_RESOLVE_REMOTE_SYMLINKS_KEY,
        CommonConfigurationKeysPublic.FS_CLIENT_RESOLVE_REMOTE_SYMLINKS_DEFAULT),
      bool(FileOutputCommitter.FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED,
        FileOutputCommitter.FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED_DEFAULT))
    reads.foreach { case (k, read) =>
      assert(dropped(k), s"$k is not dropped from the write conf")
      assert(read(bare) == read(bundled), s"$k: compiled ${read(bare)}, bundled ${read(bundled)}")
    }
    // every committer key in the bundled files is either kept or checked above
    val committerKeys = entries(bundled).keySet.filter(_.startsWith("mapreduce.fileoutputcommitter."))
    assert(committerKeys.nonEmpty)
    committerKeys.foreach { k =>
      assert(shipped.getRaw(k) != null || reads.exists(_._1 == k), s"$k is dropped unchecked")
    }
  }

  test("a write leaves the session's Hadoop conf whole") {
    import spark.implicits._
    // building the shared state adds hive.metastore.warehouse.dir to that
    // conf, whatever the format: build it before counting
    spark.asInstanceOf[classic.SparkSession].sharedState
    val before = spark.sparkContext.hadoopConfiguration.size
    val out = Files.createTempDirectory("graft-sink-size").toString
    Seq(("a", "b")).toDF("doc_id", "text").write.format(classOf[SinkParquetFormat].getName)
      .mode("overwrite").save(out)
    assert(spark.sparkContext.hadoopConfiguration.size == before)
    assert(spark.read.parquet(out).as[(String, String)].collect().toSeq == Seq(("a", "b")))
  }

  test("each write task receives the trimmed conf") {
    import spark.implicits._
    TaskConfProbe.sizes.clear()
    val out = Files.createTempDirectory("graft-sink-task").toString
    spark.range(0, 8, 1, 4).map(i => (s"d$i", "t")).toDF("doc_id", "text")
      .write.format(classOf[TaskConfProbe].getName).mode("overwrite").save(out)
    val seen = TaskConfProbe.sizes.asScala.toSeq
    assert(seen.size == 4)
    // (entries, serialized bytes) of the conf each task deserialized
    seen.foreach { case (n, bytes) => assert(n <= 64 && bytes <= 10 * 1024, s"$n entries, $bytes bytes") }
    assert(spark.read.parquet(out).count() == 8)
  }

  /** `root` and the files and directories under it by kind, with their
    * modes. */
  private def layout(root: String): Set[(String, String)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.map { p =>
      val n = p.getFileName.toString
      val kind = if (Files.isDirectory(p)) "dir" else if (n.endsWith(".crc")) "crc"
        else if (n.endsWith(".parquet")) "parquet" else n
      kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSet
  }

  private def sidecarsPresent(root: String): Boolean =
    Files.walk(Paths.get(root)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .forall((p: Path) => Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `written` reads back as `twin` does, through all three readers. */
  private def assertSameTable(written: String, twin: String): Unit = {
    assert(GraftParquetBridge.footerSchema(spark, Seq(written)) ==
      GraftParquetBridge.footerSchema(spark, Seq(twin)))
    Seq[String => DataFrame](Parquet.read(spark, _), spark.read.parquet(_)).foreach { read =>
      val (a, b) = (read(written), read(twin))
      assert(a.schema == b.schema)
      assert(rows(a) == rows(b.select(a.columns.map(col).toSeq: _*)))
    }
    assert(sidecarsPresent(written) && sidecarsPresent(twin))
    assert(layout(written) == layout(twin), s"${layout(written)} vs ${layout(twin)}")
    // Hadoop's create modes under the default umask, as TableIOSpec pins
    assert(layout(written).filter(_._1 != "dir").map(_._2) == Set("rw-r--r--"))
    assert(layout(written).filter(_._1 == "dir").map(_._2) == Set("rwxr-xr-x"))
  }

  test("extraction tables written through the format read back as a .parquet twin, both modes") {
    import spark.implicits._
    val in = spark.range(0, 24, 1, 4).map(i => InterleavedGen.docWithGolden(i)._1).toDF()
    // the same rows, extracted in memory, bucketed as the job buckets them
    val extracted = ExtractStream.extract(spark, in).toDF()
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    Seq("scan", "bucketed").foreach { mode =>
      val table = Files.createTempDirectory(s"graft-sink-$mode").toString
      ExtractJob.run(spark, in, table, ExtractJob.Config(numBuckets = 4, mode = mode))
      val twin = Files.createTempDirectory(s"graft-sink-twin-$mode").toString + "/data"
      val w = extracted.write.options(ExtractJob.SinkOptions)
      (if (mode == "bucketed") w.partitionBy("bucket") else w).parquet(twin)
      assertSameTable(TableIO.dataDir(table), twin)
    }
  }

  test("the stream sink's output and log read back as a format(\"parquet\") twin") {
    import spark.implicits._
    val corpus = Files.createTempDirectory("graft-sink-corpus").toString
    spark.range(0, 16, 1, 2).map(i => InterleavedGen.docWithGolden(i)._1).toDF()
      .write.mode("overwrite").parquet(corpus)
    val tmp = Files.createTempDirectory("graft-sink-stream").toString
    ExtractStream.run(spark, corpus, s"$tmp/out", s"$tmp/ck").awaitTermination()
    // the twin: ExtractStream.run's query with Spark's own parquet sink
    val session = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
    ExtractJob.SinkOptions.foreach { case (k, v) => session.conf.set(k, v) }
    val src = session.readStream.schema(ExtractStream.inputSchema).parquet(corpus)
    ExtractStream.extract(session, src).writeStream.format("parquet")
      .option("path", s"$tmp/twin").option("checkpointLocation", s"$tmp/twin-ck")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq("out", "twin").foreach { d =>
      assert(Files.isDirectory(Paths.get(tmp, d, "_spark_metadata")), d)
    }
    assertSameTable(s"$tmp/out", s"$tmp/twin")
  }
}

/** [[SinkParquetFormat]]'s write, recording in each task the size of the
  * Hadoop conf the task was shipped (local mode: tasks run in this JVM). */
final class TaskConfProbe extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val inner = new SinkParquetFormat().prepareWrite(sparkSession, job, options, dataSchema)
    new OutputWriterFactory {
      def getFileExtension(context: TaskAttemptContext): String = inner.getFileExtension(context)
      def newInstance(path: String, dataSchema: StructType, context: TaskAttemptContext): OutputWriter = {
        val conf = context.getConfiguration
        val bytes = new ByteArrayOutputStream
        conf.write(new DataOutputStream(bytes))
        TaskConfProbe.sizes.add((conf.size, bytes.size))
        inner.newInstance(path, dataSchema, context)
      }
    }
  }
}

object TaskConfProbe {
  val sizes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
}
