package graft.fs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file processes.
  *
  * Without libhadoop (a stock Spark install has none) the stock class
  * starts a `chmod` process for every file and dir it creates, and a
  * `readlink` process for every `getFileLinkStatus`, which
  * `FileContext.rename` calls several times per checkpoint write. At
  * 3-5 ms each on a 4-core host, they were about a third of a backfill
  * micro-batch's wall.
  *
  * This class does both in-process through java.nio. Whatever java.nio
  * cannot express (the sticky bit, a file store without a POSIX view, a
  * failing call) goes to the stock method, so the result, or the
  * exception, is Hadoop's own. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, NoForkRawLocalFileSystem.bits(mode)); () }
      catch { case _: IOException | _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The stock method asks `readlink` about `new File(f.toString)` and
    * returns `getFileStatus(f)` when that is no link; the same test,
    * made in-process, keeps its answer for qualified and bare paths. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  // PosixFilePermission lists OWNER_READ (0400) down to OTHERS_EXECUTE (01)
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (1 << (8 - b.ordinal))) != 0) set.add(b))
    set
  }
}

/** The `FileSystem` API's `file:` scheme: checksummed, as stock. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new NoForkRawLocalFileSystem)

/** The `FileContext` API's `file:` scheme (the streaming checkpoint's):
  * checksummed, as stock `org.apache.hadoop.fs.local.LocalFs`, over
  * the same raw class. Like the stock class it ignores its URI. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.Raw(conf))

object LocalFs {
  /** `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
    * package-private, with its four overrides. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
