package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without child processes.
  *
  * Without the native-hadoop library (the common case outside a
  * Hadoop install), Hadoop's `RawLocalFileSystem` runs `chmod` through
  * `Shell` on every file create and mkdir, and `readlink` on every
  * `getFileLinkStatus` — four per `FileContext.rename`. Each
  * state-store delta, offset/commit log entry, checkpoint checksum
  * file and parquet part file pays those forks. [[GraftRawLocalFileSystem]]
  * does the same two operations through `java.nio.file`; the wrappers
  * below are Hadoop's own `LocalFileSystem` / `local.LocalFs` stacks
  * over it, so `.crc` side files, checkpoint checksums and the atomic
  * `OVERWRITE` rename are unchanged. [[graft.GraftSession.tune]]
  * registers [[GraftLocalFileSystem]] and [[GraftLocalFs]] for the
  * `file` scheme. */
object LocalFs {
  private[sources] val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The nine low bits of `mode` as a permission set (enum order is
    * owner r/w/x, group r/w/x, others r/w/x: bit 8 down to bit 0). */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(q => (mode >> (8 - q.ordinal) & 1) == 1).toSet.asJava
}

class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** Sets the nine permission bits with one `chmod(2)`. Hadoop's
    * `chmod 0NNN` also sets the sticky bit and keeps a directory's
    * setuid/setgid bits, which a nine-bit set would clear: when the
    * new mode or the file's current one has any of these three bits,
    * or there is no unix file view, Hadoop's path runs. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def special = // 0xe00 = 07000: setuid, setgid, sticky
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0
    if (!LocalFs.unixView || permission.getStickyBit || special)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file, LocalFs.posix(permission.toShort))
  }

  /** Hadoop's deprecated (default) link status without `readlink(1)`.
    * The link is read at `new File(f.toString)`, as `FileUtil.readLink`
    * does, so a qualified `file:` path is never seen as a link — the
    * same answer the stock class gives `FileContext`. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException => "" }
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty => // dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

/** `FileSystem` API for `file://`: checksummed (`.crc` side files). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext` API for `file://` (what Spark's checkpoint and
  * state-store file managers use): Hadoop's `local.LocalFs`. The
  * `(URI, Configuration)` constructor is the one Hadoop instantiates;
  * like `local.LocalFs` it serves `file:///` whatever the URI. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `local.RawLocalFs` over [[GraftRawLocalFileSystem]]. */
private[sources] class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
