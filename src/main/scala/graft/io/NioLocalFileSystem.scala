package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's `RawLocalFileSystem` with its two per-file forks done in
 * process. Without libhadoop, Hadoop 3.4 runs `chmod` for every
 * `setPermission` (each create and mkdir with a permission) and `readlink`
 * for every `getFileLinkStatus` (each `FileContext` rename and create):
 * a streaming checkpoint spends about 36 forks per micro-batch on them.
 *
 *  - `setPermission` goes through `Files.setPosixFilePermissions`. When the
 *    permission asks for the sticky bit, or the target already carries a
 *    set-ID or sticky bit, it stays with `chmod`: NIO can neither set those
 *    bits nor keep a directory's set-ID bits the way `chmod 0755` does.
 *  - `getFileLinkStatus` reads the link with `Files.readSymbolicLink` on
 *    the same argument Hadoop hands `readlink`, `Path.toString`. For a
 *    qualified `file:/…` path that argument never names a file, so, as in
 *    Hadoop, such a path reports its followed `getFileStatus`.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    if (permission.getStickyBit || (mode & SpecialBits) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, with `readlink` read in
    * process. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup,
        new Path(target), f)
    } catch {
      // A dangling link: the followed status is missing, the link is not.
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  /** Set-user-ID, set-group-ID and sticky: octal 07000. */
  private val SpecialBits = 0xe00

  /** The `rwxrwxrwx` bits of a mode as NIO permissions. */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // The enum lists owner read to others execute, i.e. bits 0400 down to 0001.
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) perms.add(p)
    }
    perms
  }

  /** What `readlink <f>` prints, or "" when `f` is not a symlink. */
  private def readLink(f: File): String = {
    val path = f.toPath
    if (!Files.isSymbolicLink(path)) ""
    else try Files.readSymbolicLink(path).toString.trim
    catch { case _: java.io.IOException => "" }
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], so `.crc` sidecars stay on and
  * `FileSystem.getLocal` still returns a `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`)
  * over [[NioRawLocalFileSystem]], the form `FileContext` users such as
  * Spark's streaming checkpoint file manager resolve. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[io] final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // Leave name checks to the OS, as RawLocalFileSystem does.
  override def isValidName(src: String): Boolean = true
}
