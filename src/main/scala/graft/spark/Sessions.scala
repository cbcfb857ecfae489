package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.GraftWriteBridge

/** SparkSession factory with the engine's scale posture baked in:
  * AQE on (runtime coalesce + skew split), shuffle partitions matched
  * to cores (not the 200 default), UTC for oracle parity.
  *
  * [[Shared]] holds the settings every session of the JVM must agree on,
  * because the first session fixes them for the whole JVM:
  *
  *  - `file:` paths go through [[graft.io.NioLocalFileSystem]] (and
  *    `FileContext` through [[graft.io.NioLocalFs]]): checksummed like
  *    Hadoop's default local file system, but without a forked `chmod`
  *    for each file and directory it creates. Hadoop caches FileSystems
  *    per JVM by scheme, so the first `file:` FileSystem a JVM creates is
  *    the one every later session gets from `FileSystem.get`.
  *  - the codegen cache holds 2,048 classes. Spark sizes it once per JVM,
  *    from the session that compiles first. One session compiles about
  *    1,130 classes for the 102 declared queries (sf0.1, local[4]), and
  *    more than 100 for the four benchmark queries alone: the default of
  *    100 evicted them, so every pass of a long-lived session compiled
  *    the whole surface again. Executor-side classes are still compiled once per
  *    SparkContext, whose executor loads them in its own class loader.
  *
  * Every session it returns plans its [[graft.io.SinkParquetFormat]]
  * writes through [[GraftWriteBridge]], so their stats trackers ship the
  * trimmed Hadoop conf too; sessions cloned from it inherit the strategy.
  */
object Sessions {
  /** Settings shared with sessions built elsewhere (`graft.Verify`). */
  val Shared: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName,
    "spark.sql.codegen.cache.maxEntries" -> "2048")

  def local(cores: Int, appName: String = "graft"): SparkSession =
    build(cores, appName, fastCommitter = false)

  /** Bench-only session: adds the v2 file-output committer (skips the
    * job-commit double-rename). v2 makes task output visible in the
    * data dir BEFORE the job commits, which would break the extraction
    * job's resume exactly-once contract (a kill mid-chunk would leave
    * committed-looking task files that readDoc/resume then double
    * count) — so it is never set on the shared session, only here,
    * where every run writes to a throwaway sink. */
  def bench(cores: Int, appName: String = "graft-bench"): SparkSession =
    build(cores, appName, fastCommitter = true)

  private def build(cores: Int, appName: String, fastCommitter: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // extraction is CPU-bound at ~KB/doc: 128 MB splits would starve
      // a 32-thread local run on a multi-MB corpus. 8 MB keeps ≥cores
      // splits locally; a real cluster reading 100 TB has ≥10^5 splits
      // at any setting, so this only matters at small scale.
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      // the corpus schema is array<struct<...>> — make sure the scan
      // uses the columnar nested reader, not parquet-mr row assembly
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      // cheaper write path for the CPU-bound extraction sink: LZ4
      // compresses ~3× faster than the snappy default at similar ratio.
      // lz4_raw is Parquet's own LZ4 framing: the Hadoop-framed "lz4"
      // codec allocates a 256 KB stream buffer for every page it reads
      // or writes (writes the DuckDB oracle reads pin snappy per-write)
      .config("spark.sql.parquet.compression.codec", "lz4_raw")
      // every broadcast, each stage's task binary included, allocates
      // at least one block of this size; the 4m default is far larger
      // than a task binary
      .config("spark.broadcast.blockSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config(Shared)
    val spark = (if (fastCommitter)
      builder.config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    else builder).getOrCreate()
    GraftWriteBridge.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
