package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Parquet table reads with the schema read from a footer on the driver.
  *
  * A schema-less `spark.read.parquet` runs a Spark job of one task to read
  * one footer before the query's own action. [[read]] reads the footer
  * that inference would read on the driver, and gives the schema it
  * would infer to `.schema(...)`; partition columns (`bucket=N`) are
  * still discovered from the directory names. Where inference would
  * fail, or the path is a streaming sink's output, Spark's own read runs.
  */
object Parquet {

  /** `spark.read.parquet(paths: _*)`, without the inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    withSchema(spark, spark.read, paths)

  /** `spark.read.option("basePath", basePath).parquet(paths: _*)`, without
    * the inference job. */
  def readUnder(spark: SparkSession, basePath: String, paths: Seq[String]): DataFrame =
    withSchema(spark, spark.read.option("basePath", basePath), paths)

  private def withSchema(spark: SparkSession, reader: DataFrameReader,
      paths: Seq[String]): DataFrame =
    GraftParquetBridge.footerSchema(spark, paths)
      .fold(reader)(reader.schema)
      .parquet(paths: _*)
}
