package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference on the driver.
  *
  * A schema-less `spark.read.parquet` infers its schema in a Spark job of
  * one task that reads a single footer (`ParquetUtils.inferSchema` through
  * `SchemaMergeUtils.mergeSchemasInParallel`). Without `mergeSchema` that
  * job touches one file, chosen by a fixed rule, so the driver can read
  * the same footer itself. Spark's footer reader and footer-to-schema
  * conversion are `private[parquet]`, hence this one-file shim.
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(paths: _*)` infers (a `basePath`
    * option moves only partition discovery, so it holds under one too),
    * or None where this reads no footer, so that the caller lets Spark
    * infer, or raise its own error:
    *
    *  - under the session's `mergeSchema`, which reads every footer;
    *  - on a streaming file sink's output (a `_spark_metadata` log), whose
    *    committed files only the log names: the directory may also hold
    *    files of a batch that was killed or is still running;
    *  - where inference fails (a missing path, no data file, a corrupt
    *    file skipped under `ignoreCorruptFiles`).
    *
    * The file is the one inference picks: the leaf files the file index
    * lists (hidden names skipped, partition directories walked), sorted
    * by path, a `_common_metadata` summary first, then `_metadata`, then
    * the first data file. */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    if (new ParquetOptions(Map.empty[String, String], sqlConf).mergeSchema ||
        FileStreamSink.hasMetadata(paths, conf, sqlConf)) return None
    val files =
      try paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        leafFiles(fs, fs.getFileStatus(path))
      } catch { case _: FileNotFoundException => return None }
    val sorted = files.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.iterator.flatMap(n => sorted.find(_.getPath.getName == n))
      .nextOption()
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
    file.flatMap { f =>
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), sqlConf.ignoreCorruptFiles)
      ParquetFileFormat.readSchema(footers, spark)
    }
  }

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .flatMap(leafFiles(fs, _))
}
