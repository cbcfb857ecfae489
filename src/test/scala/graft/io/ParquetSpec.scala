package graft.io

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.InterleavedGen
import graft.job.ExtractJob

/** [[Parquet.read]] against the read it replaces: the schema it reads from
  * a footer on the driver is the schema `spark.read.parquet` infers, on
  * every test table, on both extraction table layouts, and on the
  * snapshot read; where inference fails, it fails the same way; and a
  * streaming sink's output reads only the files its log commits. */
class ParquetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.spark.Sessions.local(4, "parquet-spec")

  private def partitionColumns(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.partitionSchema.fieldNames.toSeq
    }.flatten

  test("the footer schema is the inferred schema of every test data table") {
    val tables = Files.list(Paths.get("/root/testdata")).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("sf"))
      .flatMap(sf => Files.list(sf).iterator.asScala.filter(_.toString.endsWith(".parquet")))
      .map(_.toString).sorted
    assert(tables.size == 30, s"found ${tables.size} tables")
    tables.foreach { p =>
      assert(Parquet.read(spark, p).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("extraction tables keep their schema and the bucket partition column in both modes") {
    import spark.implicits._
    val in = spark.range(0, 24, 1, 4).map(i => InterleavedGen.docWithGolden(i)._1).toDF()
    Seq("scan" -> Seq.empty[String], "bucketed" -> Seq("bucket")).foreach { case (mode, parts) =>
      val table = Files.createTempDirectory(s"graft-parquet-$mode").toString
      ExtractJob.run(spark, in, table, ExtractJob.Config(numBuckets = 4, mode = mode))
      val data = TableIO.dataDir(table)
      val got = Parquet.read(spark, data)
      assert(got.schema == spark.read.parquet(data).schema, mode)
      assert(got.schema.fieldNames.contains("bucket"), mode)
      assert(partitionColumns(got) == parts, mode)
      val snap = TableIO.readAt(spark, table, TableIO.currentVersion(table).get)
      assert(snap.schema == got.schema && partitionColumns(snap) == parts, mode)
      assert(snap.count() == 24 && got.count() == 24, mode)
      TableIO.deleteRecursively(table)
    }
  }

  test("a path with no parquet file fails as spark.read.parquet fails") {
    val empty = Files.createTempDirectory("graft-parquet-empty").toString
    Files.write(Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    Seq(empty, s"$empty/missing").foreach { p =>
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Parquet.read(spark, p))
      assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage, p)
    }
  }

  test("a streaming sink's output reads as Spark reads it, past an uncommitted part file") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("graft-parquet-sink-src").toString
    val sink = Files.createTempDirectory("graft-parquet-sink").toString
    val ck = Files.createTempDirectory("graft-parquet-sink-ck").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.mode("overwrite").parquet(src)
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet").option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start(sink).awaitTermination()
    assert(Files.isDirectory(Paths.get(sink, "_spark_metadata")))
    // a killed batch's truncated part file, listed before the committed ones
    Files.write(Paths.get(sink, "part-0-uncommitted.parquet"), "PAR1".getBytes("US-ASCII"))
    val want = spark.read.parquet(sink)
    val got = Parquet.read(spark, sink)
    assert(got.schema == want.schema)
    assert(got.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }
}
