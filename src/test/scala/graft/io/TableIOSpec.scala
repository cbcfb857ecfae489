package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.InterleavedGen
import graft.job.ExtractJob

/** Snapshot-isolation semantics of the Iceberg-shaped TableIO
  * emulation: versioned metadata (`vN.json`) pinning the data-file
  * set per commit, time-travel reads, and optimistic-concurrency
  * (CAS) conflict detection between concurrent writers — the two
  * Iceberg behaviors the manifest emulation previously didn't honor.
  * The seam for a real catalog is unchanged (same commit call sites).
  */
class TableIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  // getOrCreate would hand back a context an earlier suite started
  // with other settings; the FileSystem test checks Sessions' own
  lazy val spark: SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    graft.spark.Sessions.local(4, "tableio-spec")
  }
  override def afterAll(): Unit = spark.stop()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def corpusDf(n: Long) = {
    import spark.implicits._
    spark.range(0, n, 1, 4).map(i => InterleavedGen.docWithGolden(i)._1).toDF()
  }

  test("per-chunk snapshots support time-travel reads with snapshot isolation") {
    val table = tmpDir("graft-snap")
    // 4 buckets in chunks of 2 → two chunk commits → versions v1, v2
    ExtractJob.run(spark, corpusDf(24), table,
      ExtractJob.Config(numBuckets = 4, chunkBuckets = 2))
    assert(TableIO.currentVersion(table).contains(2))
    val v1 = TableIO.readAt(spark, table, 1)
    val v2 = TableIO.readAt(spark, table, 2)
    val curr = spark.read.parquet(TableIO.dataDir(table))
    val (n1, n2, nc) = (v1.count(), v2.count(), curr.count())
    assert(n2 == nc && nc == 24, s"latest snapshot must equal the live table ($n2 vs $nc)")
    assert(n1 > 0 && n1 < n2, s"v1 must see only the first chunk's docs ($n1 vs $n2)")
    // v1's doc set is a strict subset of v2's
    val ids1 = v1.select("doc_id").collect().map(_.getString(0)).toSet
    val ids2 = v2.select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids1.subsetOf(ids2))
    // ISOLATION: a reader pinned at v2 does not see a later append
    ExtractJob.run(spark, corpusDf(30), table,
      ExtractJob.Config(jobId = "extract2", numBuckets = 4))
    assert(TableIO.currentVersion(table).exists(_ > 2))
    assert(TableIO.readAt(spark, table, 2).count() == 24,
      "pinned snapshot must be isolated from the concurrent append")
    assert(spark.read.parquet(TableIO.dataDir(table)).count() == 24 + 30,
      "live read sees both jobs' appends")
    // snapshot metadata round-trips
    val snap = TableIO.readSnapshot(table, 2)
    assert(snap.version == 2 && snap.parentVersion == 1 && snap.dataFiles.nonEmpty)
    assert(snap.dataFiles.forall(f => Files.exists(java.nio.file.Paths.get(s"$table/$f"))))
  }

  test("concurrent writers: second commit with the same expected parent is REJECTED (CAS)") {
    val table = tmpDir("graft-cas")
    ExtractJob.run(spark, corpusDf(8), table, ExtractJob.Config(numBuckets = 2))
    val base = TableIO.currentVersion(table).get
    // writer A and writer B both read version `base` and race to commit
    val a = TableIO.commitSnapshot(table, expectedParent = Some(base))
    assert(a == base + 1)
    val e = intercept[TableIO.CommitConflictException] {
      TableIO.commitSnapshot(table, expectedParent = Some(base))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // loser refreshes and retries successfully — the Iceberg retry loop
    val retry = TableIO.commitSnapshot(table)
    assert(retry == base + 2)
  }

  test("timestamp time-travel and snapshot expiry (Iceberg maintenance twins)") {
    val table = tmpDir("graft-asof")
    ExtractJob.run(spark, corpusDf(12), table,
      ExtractJob.Config(numBuckets = 4, chunkBuckets = 1)) // 4 chunks → v1..v4
    val cur = TableIO.currentVersion(table).get
    assert(cur == 4)
    val s2 = TableIO.readSnapshot(table, 2)
    // AS OF exactly v2's commit time → v2; before v1 → None; now → v4
    assert(TableIO.versionAsOf(table, s2.committedAt).contains(2) ||
      // equal timestamps across fast chunk commits resolve to the LAST
      // version at that instant — still a correct AS OF answer
      TableIO.versionAsOf(table, s2.committedAt).exists(v =>
        TableIO.readSnapshot(table, v).committedAt == s2.committedAt))
    assert(TableIO.versionAsOf(table, TableIO.readSnapshot(table, 1).committedAt - 1).isEmpty)
    assert(TableIO.versionAsOf(table, System.currentTimeMillis()).contains(4))
    // expiry keeps the last 2, drops v1/v2 (metadata-only)
    val dropped = TableIO.expireSnapshots(table, keepLast = 2)
    assert(dropped == Seq(1, 2))
    intercept[java.nio.file.NoSuchFileException] { TableIO.readSnapshot(table, 1) }
    assert(TableIO.readAt(spark, table, 4).count() == 12, "current lineage still readable")
    assert(TableIO.currentVersion(table).contains(4))
    // versionAsOf skips expired versions gracefully
    assert(TableIO.versionAsOf(table, System.currentTimeMillis()).contains(4))
  }

  test("snapshot metadata round-trips data-file paths with commas, quotes and backslashes") {
    // Spark part files never carry these today, but partition VALUES
    // could — the split-on-comma parser this pins against mangled them
    val dir = tmpDir("tio-esc")
    val dd = java.nio.file.Paths.get(TableIO.dataDir(dir))
    Files.createDirectories(dd)
    val names = Seq("""k=a,b", part-0.parquet""", """k=c\"d,part-1.parquet""",
      "plain-part-2.parquet")
    names.foreach(n => Files.write(dd.resolve(n), Array[Byte](1)))
    val v = TableIO.commitSnapshot(dir)
    val snap = TableIO.readSnapshot(dir, v)
    assert(snap.dataFiles.toSet == names.map(n => s"data/$n").toSet,
      s"paths mangled: ${snap.dataFiles}")
  }

  test("TRUNCATED snapshot manifest is a declared corruption error, not an index crash") {
    // a commit cut mid-write (unterminated string / trailing backslash /
    // short \u escape) must surface as a descriptive manifest error
    val dir = tmpDir("tio-corrupt")
    val md = java.nio.file.Paths.get(TableIO.metadataDir(dir))
    Files.createDirectories(md)
    def write(body: String): Unit =
      Files.write(md.resolve("v1.json"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val head = """{"version":1,"parent_version":0,"committed_at":5,"data_files":["""
    Seq("\"data/unterminated", "\"data/trailing\\", "\"data/short\\u00")
      .foreach { frag =>
        write(head + frag + "]}")
        val e = intercept[IllegalStateException] {
          TableIO.readSnapshot(dir, 1)
        }
        assert(e.getMessage.contains("corrupt snapshot manifest"),
          s"got: ${e.getMessage}")
      }
    // sanity: a well-formed manifest still parses
    write(head + "\"data/ok-part.parquet\"]}")
    assert(TableIO.readSnapshot(dir, 1).dataFiles == Seq("data/ok-part.parquet"))
  }

  test("job resume after kill continues the version chain, not forks it") {
    val table = tmpDir("graft-snapresume")
    val input = corpusDf(16)
    // first attempt processes 1 chunk of 2 buckets then stops (kill sim)
    ExtractJob.run(spark, input, table,
      ExtractJob.Config(numBuckets = 4, chunkBuckets = 2, maxChunks = 1))
    val afterKill = TableIO.currentVersion(table).get
    ExtractJob.run(spark, input, table,
      ExtractJob.Config(numBuckets = 4, chunkBuckets = 2, attempt = 2))
    val end = TableIO.currentVersion(table).get
    assert(end > afterKill)
    assert(TableIO.readAt(spark, table, end).count() == 16)
    // every version file in the chain parses and parents link backward
    (1 to end).foreach { v =>
      val s = TableIO.readSnapshot(table, v)
      assert(s.version == v && s.parentVersion == v - 1)
    }
  }

  private def localFs(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new URI("file:///"), conf)
    fs
  }
  private def perms(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("NioLocalFileSystem sets the same permission bits as Hadoop's LocalFileSystem") {
    Seq("022", "077", "002").foreach { umask =>
      val seen = Seq(new LocalFileSystem, new NioLocalFileSystem).map { raw =>
        val fs = localFs(raw, umask)
        val root = tmpDir("graft-fsperm")
        // create with a new parent, mkdirs, an explicit create mode, setPermission
        val out = fs.create(new Path(s"$root/a/b/part-0"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        fs.mkdirs(new Path(s"$root/c/d"))
        fs.create(new Path(s"$root/e"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(s"$root/a/b/part-0"), new FsPermission("604"))
        fs.setPermission(new Path(s"$root/c"), new FsPermission("750"))
        fs.close()
        Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc", "c", "c/d", "e", ".e.crc")
          .map(rel => rel -> perms(s"$root/$rel"))
      }
      assert(seen(1) == seen(0), s"umask $umask: NIO ${seen(1)} vs Hadoop ${seen(0)}")
    }
  }

  test("NioLocalFileSystem writes .crc sidecars and a corrupted byte fails the read") {
    val fs = localFs(new NioLocalFileSystem, "022")
    val root = tmpDir("graft-fscrc")
    val file = new Path(s"$root/data.bin")
    val out = fs.create(file)
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(Files.exists(Paths.get(s"$root/.data.bin.crc")), "checksum sidecar missing")
    val raf = new java.io.RandomAccessFile(s"$root/data.bin", "rw")
    try { raf.seek(100); raf.write(raf.read() ^ 0xff) } finally raf.close()
    intercept[ChecksumException] {
      val in = fs.open(file)
      try in.readFully(new Array[Byte](4096)) finally in.close()
    }
    fs.close()
  }

  test("a Sessions.local session resolves file: paths to NioLocalFileSystem") {
    // newInstance, not get: the per-JVM FileSystem cache holds whichever
    // file: FileSystem this JVM created first
    val fs = FileSystem.newInstance(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    try assert(fs.getClass == classOf[NioLocalFileSystem], s"got ${fs.getClass}")
    finally fs.close()
  }

  test("a Sessions.local FileContext resolves file: paths to NioLocalFs, with Hadoop's mode bits") {
    val sessionConf = spark.sparkContext.hadoopConfiguration
    val root = new URI("file:///")
    assert(FileContext.getFileContext(root, sessionConf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    Seq("022", "077", "002").foreach { umask =>
      // Hadoop's default LocalFs, then the session's
      val seen = Seq(new Configuration(), new Configuration(sessionConf)).map { conf =>
        conf.set("fs.permissions.umask-mode", umask)
        val fc = FileContext.getFileContext(root, conf)
        val dir = tmpDir("graft-fcperm")
        // as the streaming checkpoint log: mkdir with parents, a temp
        // file renamed over its final name, and an explicit create mode
        fc.mkdir(new Path(s"$dir/a/b"), FsPermission.getDirDefault, true)
        val out = fc.create(new Path(s"$dir/a/b/.0.tmp"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(Array[Byte](1, 2, 3)); out.close()
        fc.rename(new Path(s"$dir/a/b/.0.tmp"), new Path(s"$dir/a/b/0"), Options.Rename.OVERWRITE)
        fc.create(new Path(s"$dir/e"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission("640"))).close()
        fc.setPermission(new Path(s"$dir/a"), new FsPermission("750"))
        val names = Files.walk(Paths.get(dir)).iterator.asScala.map(Paths.get(dir).relativize(_).toString)
          .filter(_.nonEmpty).toSeq.sorted
        names.map(rel => rel -> perms(s"$dir/$rel"))
      }
      assert(seen(0).map(_._1).contains("a/b/.0.crc"), s"no checksum sidecar: ${seen(0)}")
      assert(seen(1) == seen(0), s"umask $umask: NIO ${seen(1)} vs Hadoop ${seen(0)}")
    }
  }
}
