package graft.io

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys

/** The `FileContext` face of [[NioLocalFileSystem]], laid out as Hadoop's
  * own `LocalFs`: `.crc` checksums kept by `ChecksumFs` over a raw
  * `DelegateToFileSystem`, here delegating to [[NioLocalFileSystem.Raw]].
  *
  * `fs.file.impl` reaches only `FileSystem` callers. Spark's streaming
  * checkpoint log writes through `FileContext`, which builds the
  * `AbstractFileSystem` named by `fs.AbstractFileSystem.file.impl`, and
  * Hadoop's default there forks a `chmod` for every temp file and
  * directory it creates. Registered by [[graft.spark.Sessions]].
  */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  /** Hadoop's `RawLocalFs` over [[NioLocalFileSystem.Raw]]: the same
    * overrides, which `DelegateToFileSystem` does not make itself. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioLocalFileSystem.Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    // local file systems differ in what names they accept: the OS decides
    override def isValidName(src: String): Boolean = true
  }
}
