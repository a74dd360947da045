package graft.runner

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without shell commands.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks `chmod` for every
  * file or directory it creates with a permission, and `readlink` for every
  * `getFileLinkStatus`, which every `FileContext.rename` calls. A
  * streaming checkpoint writes each log entry as a temporary file plus a
  * rename, so every micro-batch paid dozens of process spawns (6,228 in one
  * `stream_replay` benchmark run). These classes answer the
  * same calls through `java.nio` and are installed for the `file` scheme by
  * [[LocalFs.sparkConf]], for both the `FileSystem` and the `FileContext`
  * API.
  */
object LocalFs {

  /** The session settings that install these classes for `file:` paths. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** What `FileUtil.readLink` returns: the trimmed output of `readlink f`,
    * so the raw link target, or "" when `f` is no symlink or on any error. */
  private[runner] def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: Exception => "" }

  private val bits = PosixFilePermission.values // owner r, w, x … others x

  /** The POSIX permission set of a mode in 0 to 0777. */
  private[runner] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (0x100 >> i)) != 0) s.add(bits(i))
    s
  }
}

/** `RawLocalFileSystem` with `chmod` and `readlink` done in process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod`'s effect for plain modes; a sticky bit still goes to `super`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, the path it takes by
    * default, line for line, with the link read by [[LocalFs.readLink]]. Like
    * the original it reads the link of `new File(f.toString)`, so a
    * `file:`-qualified symlink is reported as its target. */
  private def linkStatus(f: Path): FileStatus = {
    val target = LocalFs.readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case e: FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` (checksums) over the NIO raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` binding) over the NIO raw one. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[NioRawLocalFs]].
  * Like `LocalFs` it ignores `uri`, which is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
