package graft.io

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's parquet format, writing the same files through the same
  * committer, with a smaller Hadoop configuration shipped to each write
  * task. The extraction sinks, batch and stream, name it by class.
  *
  * `FileFormatWriter` serializes the write job's own `Configuration` copy
  * into every task's `WriteJobDescription`. That copy holds the session's
  * whole Hadoop conf: about 1,100 entries, all but a few dozen of them
  * values loaded unchanged from Hadoop's bundled `core-default.xml`,
  * `mapred-default.xml` and `yarn-default.xml`. A task reads each entry
  * back with a gzip stream for its source names. After Spark's own
  * `prepareWrite`, this format rebuilds that copy without those entries.
  *
  * Why this is safe: a task reads the conf back into a `Configuration`
  * that loads no defaults, so a key absent there falls back to the default
  * compiled into the class that reads it. Only a key whose value came from
  * a bundled `*-default.xml` and was never changed is dropped. Every key
  * set by Spark (the committer's algorithm version 1 among them), by a
  * session setting (`spark.hadoop.*`, the SQL conf), by `prepareWrite` or by
  * a site file is kept with its value. `SinkParquetFormatSpec` pins, for
  * each dropped key the local write path reads, that the compiled default
  * equals the bundled value.
  *
  * The write's stats tracker ships a second copy of the conf, built from
  * the write command's own and out of any format hook's reach: the
  * planner strategy [[org.apache.spark.sql.execution.datasources.GraftWriteBridge]],
  * which every session of [[graft.spark.Sessions]] installs, plans a
  * write through this format as a command whose tracker wraps a copy
  * trimmed by the same [[SinkParquetFormat.trim]].
  *
  * What it cannot reach: the session's `sparkContext.hadoopConfiguration`
  * is left whole (Hadoop loads the defaults back into it whenever a default
  * resource is registered, and every driver-side lookup reads it), and
  * Spark's streaming file sink builds its tracker from a conf of its own,
  * so each stream write task still receives one full copy.
  */
final class SinkParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    SinkParquetFormat.trim(job.getConfiguration)
    factory
  }
}

object SinkParquetFormat {

  /** Rebuild `conf` without the entries whose every source is a bundled
    * `*-default.xml` that holds the same raw value: `clear`, then one `set`
    * per kept entry, with its value and last recorded source. `unset` is
    * not used, because it follows deprecated aliases and could drop a key
    * that is kept. The rule for both confs a sink write ships: the write
    * job's and its stats tracker's. */
  def trim(conf: Configuration): Unit = {
    val kept = conf.iterator.asScala.toSeq.flatMap { e =>
      val (k, v) = (e.getKey, e.getValue)
      val sources = Option(conf.getPropertySources(k)).getOrElse(Array.empty[String])
      if (sources.nonEmpty && sources.forall(s => bundled(s).get(k).contains(v))) None
      else Some((k, v, sources.lastOption.orNull))
    }
    conf.clear()
    kept.foreach { case (k, v, source) => conf.set(k, v, source) }
  }

  private val bundledByName = new ConcurrentHashMap[String, Map[String, String]]

  /** The raw entries of a bundled `*-default.xml` (empty for any other
    * source name), read once per JVM. */
  private def bundled(source: String): Map[String, String] =
    if (!source.endsWith("-default.xml")) Map.empty
    else bundledByName.computeIfAbsent(source, { name =>
      val c = new Configuration(false)
      c.addResource(name)
      c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    })
}
