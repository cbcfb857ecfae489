package graft.spark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.model._
import graft.fixtures.InterleavedGen

/** Deterministic interleaved-docs corpus (the BASELINE.json input
  * shape: doc_id, spans array<struct<kind,text,media_ref,offset>>),
  * materialized as parquet at a FIXED path so the driver's DuckDB
  * oracle can `read_parquet` the very same bytes the Spark queries
  * read. Content is a pure function of doc index (FIXTURES.md §8) —
  * rewriting yields identical values, so the write is idempotent.
  */
object InterleavedTable {

  /** Fixed verify-corpus location + size (referenced verbatim from
    * SparkEntry.oracleSql — keep in sync). */
  val VerifyPath = "/root/repo/target/graft-verify/interleaved_docs"
  val VerifyDocs = 400

  /** Fixed location of the by-construction GOLDEN extraction output for
    * the verify corpus — the same pure function of doc index the parity
    * tests use, staged as parquet so the driver's DuckDB oracle can
    * compare the extraction queries hash-exactly (not rows-only). */
  val GoldenPath = "/root/repo/target/graft-verify/interleaved_goldens"

  def generate(spark: SparkSession, nDocs: Int): Dataset[InterleavedDoc] = {
    import spark.implicits._
    spark.range(nDocs).map(i => InterleavedGen.docWithGolden(i)._1)
  }

  /** Golden expected extraction output for the same corpus. */
  def goldens(spark: SparkSession, nDocs: Int): Dataset[ExtractedDoc] = {
    import spark.implicits._
    spark.range(nDocs).map(i => InterleavedGen.docWithGolden(i)._2)
  }

  @volatile private var written = false

  /** Write-once-per-JVM materialization of the verify corpus; returns
    * the parquet path. Single output file, rows in doc order, so the
    * bytes DuckDB reads are deterministic. */
  def ensureVerifyCorpus(spark: SparkSession): String = synchronized {
    if (!written || !Files.exists(Paths.get(VerifyPath, "_SUCCESS"))) {
      generate(spark, VerifyDocs)
        .coalesce(1)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        // the DuckDB oracle reads these bytes: pin a codec both
        // engines read, regardless of the session's performance codec
        .option("compression", "snappy")
        .parquet(VerifyPath)
      written = true
    }
    VerifyPath
  }

  def readVerifyCorpus(spark: SparkSession): DataFrame =
    graft.io.Parquet.read(spark, ensureVerifyCorpus(spark))

  @volatile private var goldenWritten = false

  /** Write-once-per-JVM materialization of the golden extraction output
    * (see [[GoldenPath]]); same idempotence/codec rules as the corpus. */
  def ensureGoldenCorpus(spark: SparkSession): String = synchronized {
    if (!goldenWritten || !Files.exists(Paths.get(GoldenPath, "_SUCCESS"))) {
      goldens(spark, VerifyDocs)
        .coalesce(1)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("compression", "snappy") // read by the DuckDB oracle, as above
        .parquet(GoldenPath)
      goldenWritten = true
    }
    GoldenPath
  }
}
