package graft.spark

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale posture baked in:
  * AQE on (runtime coalesce + skew split), shuffle partitions matched
  * to cores (not the 200 default), UTC for oracle parity.
  *
  * Every session writes `file:` paths through [[graft.io.NioLocalFileSystem]]
  * ([[LocalFs]]): checksummed like Hadoop's default local FileSystem, but
  * without a forked `chmod` for each file and directory it creates.
  * Hadoop caches FileSystems per JVM by scheme, so the first `file:`
  * FileSystem a JVM creates is the one every later session gets from
  * `FileSystem.get`: a JVM that built a session without this setting
  * first keeps Hadoop's default.
  */
object Sessions {
  /** The local FileSystem setting, shared with sessions built elsewhere
    * (`graft.Verify`). */
  val LocalFs: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName)

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
      .config(LocalFs)
    val spark = (if (fastCommitter)
      builder.config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
