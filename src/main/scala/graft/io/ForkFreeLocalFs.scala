package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.unused
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without subprocesses.
  *
  * Without Hadoop's native library (`libhadoop.so`), the stock class forks
  * `chmod` for every file and directory it creates with a permission, and
  * `readlink` for each side of every `FileContext.rename`. One streaming
  * state commit per partition writes 4 files (delta, `.delta.crc`, and a
  * Hadoop `.crc` for each) and renames them: ~20 forks, so at 8 partitions
  * a micro-batch paid ~160 (~190 with the offset/commit/source logs),
  * ~115 ms of off-CPU wait per state task. Here the same calls
  * go through `java.nio.file`. The answers are Hadoop's: the link
  * methods read the same `new File(f.toString)` path the stock `readlink`
  * call reads. For a `file:` URI that path names no file, so it is never
  * a link, as in stock Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission's ordinals run OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock (non-native) unqualified link status. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: the target is missing, the link is not
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }

  /** `FileUtil.readLink` without the `readlink` process: the target, or
    * "" when `f` is not a symlink or cannot be read. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** The `FileSystem` API's `file:` scheme: checksummed like
  * `LocalFileSystem`, over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API's `file:` scheme: Hadoop's `local.LocalFs`
  * (a `ChecksumFs`) over [[ForkFreeRawLocalFileSystem]]. Hadoop builds it
  * reflectively through the (URI, Configuration) constructor; like
  * `LocalFs` it ignores the URI. */
class ForkFreeLocalFs(@unused uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `local.RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
private class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept; leave it to the OS
  override def isValidName(src: String): Boolean = true
}
