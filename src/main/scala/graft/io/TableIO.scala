package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.model.LineageRow

/** Iceberg-shaped table IO: parquet data files + a lineage/metrics
  * commit log (SURVEY.md §4.3, §7.0 — no Iceberg runtime jar in
  * /opt/spark/jars, so the commit log is a directory of immutable
  * JSON-lines manifests written with write-then-atomic-rename; a real
  * Iceberg catalog slots in behind the same calls).
  *
  * Replaces the reference's Redis status/progress keys
  * (/root/reference/extractor/src/libs/redis.rs:132-183): each
  * manifest append marks a set of buckets `committed`, which is what
  * makes a killed job resumable without re-extracting finished work
  * (north_rule). Manifests are small (one row per bucket) — reading
  * them is a driver-side metadata operation, like Iceberg snapshot
  * metadata, NOT a data-scale scan.
  */
object TableIO {

  def dataDir(tableDir: String): String = s"$tableDir/data"
  def lineageDir(tableDir: String): String = s"$tableDir/lineage"
  def metadataDir(tableDir: String): String = s"$tableDir/metadata"

  /** A committed table version: the pinned set of data files visible at
    * this snapshot (paths relative to the table root) — the emulation
    * of an Iceberg snapshot's manifest list. */
  final case class Snapshot(version: Int, parentVersion: Int,
      committedAt: Long, dataFiles: Seq[String])

  /** Optimistic-concurrency failure: another writer committed the same
    * successor version first (≡ Iceberg's CommitFailedException; the
    * caller refreshes and retries or aborts). */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Highest committed version, or None for an unversioned table. */
  def currentVersion(tableDir: String): Option[Int] = {
    val dir = Paths.get(metadataDir(tableDir))
    if (!Files.isDirectory(dir)) return None
    val vs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val st = Files.list(dir)
    try st.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.endsWith(".json"))
        n.stripPrefix("v").stripSuffix(".json").toIntOption.foreach(vs += _)
    } finally st.close()
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Data files currently on disk (relative to the table root),
    * excluding in-flight commit protocol output (`_temporary`, hidden
    * files, `_SUCCESS`) — what the next snapshot pins. */
  private def listDataFiles(tableDir: String): Seq[String] = {
    val root = Paths.get(tableDir)
    val dd = Paths.get(dataDir(tableDir))
    if (!Files.isDirectory(dd)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val st = Files.walk(dd)
    try st.forEach { p =>
      val n = p.getFileName.toString
      val rel = root.relativize(p).toString
      if (Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith(".") &&
          !rel.contains("_temporary"))
        out += rel
    } finally st.close()
    out.sorted.toSeq
  }

  /** Commit the CURRENT on-disk data-file set as the next table
    * version, with compare-and-swap semantics: the new version number
    * is `expectedParent + 1` (default: whatever [[currentVersion]]
    * says), and if any other writer has already committed that version
    * the commit FAILS with [[CommitConflictException]] — never
    * silently clobbers. Atomicity: the version file is hard-LINKED
    * into place (`link(2)` fails with EEXIST if the target appeared
    * concurrently), because `rename(2)` onto an existing path replaces
    * it silently and cannot detect the race. This is the optimistic
    * concurrency protocol of an Iceberg catalog's swap-current-
    * metadata call, expressed on a filesystem.
    *
    * CONTRACT vs real Iceberg (the emulation's honest limit): the
    * pinned file set is a directory LISTING at commit time, not the
    * writer's own manifest, so while a DIFFERENT job's multi-file
    * write is mid-rename (inside its output-committer job commit), a
    * listing can capture a torn subset of that job's chunk. Snapshot
    * isolation therefore holds for readers against any LATER append
    * (a pinned set never changes), and for writers serialized at the
    * table level — overlapping mid-commit writers need the real
    * catalog, where each writer commits its own file list. Version
    * numbering stays linear under concurrency either way (the CAS). */
  def commitSnapshot(tableDir: String,
      expectedParent: Option[Int] = None): Int = {
    val parent = expectedParent.orElse(currentVersion(tableDir)).getOrElse(0)
    val version = parent + 1
    val dir = Paths.get(metadataDir(tableDir))
    Files.createDirectories(dir)
    val files = listDataFiles(tableDir)
    val body =
      s"""{"version":$version,"parent_version":$parent,""" +
        s""""committed_at":${System.currentTimeMillis()},""" +
        s""""data_files":[${files.map(js).mkString(",")}]}"""
    val tmp = dir.resolve(s".tmp-v$version-${java.util.UUID.randomUUID()}")
    val fin = dir.resolve(s"v$version.json")
    Files.write(tmp, body.getBytes("UTF-8"))
    try {
      try Files.createLink(fin, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"table version v$version already committed by a concurrent writer " +
              s"(expected parent v$parent is stale — refresh and retry)")
      }
    } finally Files.deleteIfExists(tmp)
    version
  }

  /** Read back one committed snapshot's metadata. */
  def readSnapshot(tableDir: String, version: Int): Snapshot = {
    val p = Paths.get(metadataDir(tableDir)).resolve(s"v$version.json")
    val body = new String(Files.readAllBytes(p), "UTF-8")
    def intField(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(body)
        .getOrElse(throw new IllegalStateException(s"bad snapshot v$version: no $k"))
        .group(1).toLong
    val files = """"data_files":\[(.*)\]""".r.findFirstMatchIn(body)
      .map(_.group(1)).getOrElse("")
    Snapshot(intField("version").toInt, intField("parent_version").toInt,
      intField("committed_at"), parseJsonStringArray(files))
  }

  /** Decode the element list of a JSON string array (the inverse of
    * [[js]]) with a single left-to-right pass — commas, quotes and
    * backslashes INSIDE an element survive, where a split-on-comma +
    * global replace would mangle them (escapes must be decoded
    * in-order: "\\\"" is backslash-then-quote-terminator, not
    * escaped-quote). */
  private def parseJsonStringArray(s: String): Seq[String] = {
    // every read is bounds-checked: a TRUNCATED manifest (unterminated
    // string, trailing backslash, short \u escape) must be a declared
    // manifest-corruption error, not a raw StringIndexOutOfBounds
    def bad(what: String): Nothing =
      throw new IllegalStateException(s"corrupt snapshot manifest: $what")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '"') {
        val sb = new java.lang.StringBuilder
        i += 1
        var done = false
        while (!done) {
          if (i >= s.length) bad("unterminated string")
          s.charAt(i) match {
            case '"' => done = true; i += 1
            case '\\' =>
              if (i + 1 >= s.length) bad("trailing backslash")
              s.charAt(i + 1) match {
                case 'n' => sb.append('\n'); i += 2
                case 'u' =>
                  if (i + 6 > s.length) bad("short \\u escape")
                  val hex = s.substring(i + 2, i + 6)
                  if (!hex.forall(c => Character.digit(c, 16) >= 0))
                    bad(s"bad \\u escape '$hex'")
                  sb.append(Integer.parseInt(hex, 16).toChar)
                  i += 6
                case c => sb.append(c); i += 2 // \" \\ and any future pass-through
              }
            case c => sb.append(c); i += 1
          }
        }
        out += sb.toString
      } else i += 1 // inter-element comma / whitespace
    }
    out.toSeq
  }

  /** Time-travel by TIMESTAMP (Iceberg's `AS OF` semantics): the
    * highest version whose commit time is ≤ `tsMillis`, or None if the
    * table has no snapshot that old. */
  def versionAsOf(tableDir: String, tsMillis: Long): Option[Int] = {
    val cur = currentVersion(tableDir).getOrElse(return None)
    (1 to cur).filter { v =>
      try readSnapshot(tableDir, v).committedAt <= tsMillis
      catch { case _: java.nio.file.NoSuchFileException => false } // expired
    }.maxOption
  }

  /** Snapshot EXPIRY (Iceberg table maintenance): drop version files
    * older than the newest `keepLast`, keeping the current lineage
    * readable. Metadata-only — data files are shared across snapshots
    * in this emulation (appends never rewrite), so no data is
    * deleted; a real catalog's expire also garbage-collects files no
    * surviving snapshot references. Returns the versions removed. */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val cur = currentVersion(tableDir).getOrElse(return Seq.empty)
    val dropped = (1 to cur - keepLast).filter { v =>
      Files.deleteIfExists(Paths.get(metadataDir(tableDir)).resolve(s"v$v.json"))
    }
    dropped
  }

  /** SNAPSHOT-ISOLATION / time-travel read: exactly the data files
    * pinned by `version`, regardless of what later jobs appended —
    * `Parquet.readUnder(dataDir, pinned files…)`, with `basePath` so
    * partition-directory columns (`bucket=N`) still materialize. A
    * reader holding a version is thus isolated from concurrent
    * appends, the Iceberg read contract the plain `dataDir` read
    * cannot give. Empty snapshots return an empty, schema-less frame
    * only if the caller never wrote — callers always snapshot AFTER a
    * chunk commit, so pinned files exist. */
  def readAt(spark: SparkSession, tableDir: String, version: Int): DataFrame = {
    val snap = readSnapshot(tableDir, version)
    val paths = snap.dataFiles.map(f => s"$tableDir/$f")
    if (paths.isEmpty)
      spark.emptyDataFrame
    else
      Parquet.readUnder(spark, dataDir(tableDir), paths)
  }

  /** Append lineage rows as one immutable manifest (atomic rename). */
  def commitLineage(tableDir: String, commitId: String, rows: Seq[LineageRow]): Unit = {
    val dir = Paths.get(lineageDir(tableDir))
    Files.createDirectories(dir)
    val body = rows.map { r =>
      s"""{"job_id":${js(r.job_id)},"bucket":${r.bucket},"doc_count":${r.doc_count},""" +
        s""""span_count":${r.span_count},"bytes_in":${r.bytes_in},"failed_docs":${r.failed_docs},""" +
        s""""status":${js(r.status)},"attempt":${r.attempt},"committed_at":${r.committed_at},""" +
        s""""unmapped_codes":${r.unmapped_codes}}"""
    }.mkString("", "\n", "\n")
    val tmp = dir.resolve(s".tmp-$commitId")
    val fin = dir.resolve(s"commit-$commitId.json")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Buckets already committed for `jobId` — driver-side metadata read
    * (small, like an Iceberg snapshot listing). */
  def committedBuckets(tableDir: String, jobId: String): Set[Int] = {
    val dir = Paths.get(lineageDir(tableDir))
    if (!Files.isDirectory(dir)) return Set.empty
    val jobKey = s""""job_id":${js(jobId)}"""
    val out = scala.collection.mutable.Set.empty[Int]
    Files.list(dir).filter(p => p.getFileName.toString.startsWith("commit-")).forEach { p =>
      Files.readAllLines(p).forEach { line =>
        if (line.contains(jobKey) && line.contains(""""status":"committed"""")) {
          val m = """"bucket":(\d+)""".r.findFirstMatchIn(line)
          m.foreach(mm => out += mm.group(1).toInt)
        }
      }
    }
    out.toSet
  }

  /** Lineage as a DataFrame (for metrics/progress queries). */
  def readLineage(spark: SparkSession, tableDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("job_id", StringType), StructField("bucket", IntegerType),
      StructField("doc_count", LongType), StructField("span_count", LongType),
      StructField("bytes_in", LongType), StructField("failed_docs", LongType),
      StructField("status", StringType), StructField("attempt", IntegerType),
      StructField("committed_at", LongType),
      // round-6 metric; absent in pre-round-6 lineage files -> null,
      // which sum() skips (schema evolution by nullable append)
      StructField("unmapped_codes", LongType)))
    val dir = Paths.get(lineageDir(tableDir))
    if (!Files.isDirectory(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).json(lineageDir(tableDir))
  }

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
  }
}
