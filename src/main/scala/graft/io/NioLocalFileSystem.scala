package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `LocalFileSystem` (checksummed: every file gets its `.crc`
  * sibling) over [[NioRawLocalFileSystem]]. Bind it with `fs.file.impl`
  * (and `fs.file.impl.disable.cache=true`, or the JVM-wide `FileSystem`
  * cache hands back the instance built before the binding). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` binding of the same file system, for
  * `fs.AbstractFileSystem.file.impl`: a `ChecksumFs` over a
  * `DelegateToFileSystem`, built the way Hadoop's `LocalFs` and
  * `RawLocalFs` are. Like `LocalFs` it binds `file:///` whatever URI it
  * is handed. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

private[io] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `RawLocalFileSystem` without its process spawns. Without
  * libhadoop, the stock class runs `chmod` for every file and directory
  * it creates, `ls -ld` for every permission, owner or group it reports
  * and `readlink` for every link check. Here those four methods use
  * `java.nio` instead and return what the stock class returns, field for
  * field. Modes outside 0777 (sticky, setuid, setgid) still go to the
  * stock `setPermission`: `PosixFilePermission` cannot set them.
  *
  * Statuses are read through the `unix` attribute view, one `stat` per
  * status: its `mode` carries the sticky bit, which `ls -ld` reports and
  * `PosixFilePermission` drops. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
  }

  /** Follows links, as `File.exists`, `File.length` and `ls -ld` on the
    * canonical path do in the stock class. Any failure to `stat` is a
    * missing file, as `File.exists` has it. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, StatAttrs)
    catch {
      case e: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist").initCause(e)
    }
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, blockSize, time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A directory's entries already go through [[getFileStatus]]; only
    * the single-file case builds its status inline in the stock class. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.exists && !file.isDirectory) Array(getFileStatus(f)) else super.listStatus(f)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock class's link status, including its quirk: the link is
    * read at `new File(f.toString)`, so a path given with its `file:`
    * scheme is never reported as a link. */
  private def linkStatus(f: Path): FileStatus = {
    val target = try Files.readSymbolicLink(new File(f.toString).toPath).toString
    catch { case _: IOException | _: UnsupportedOperationException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize, fs.getModificationTime,
        fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

private[io] object NioRawLocalFileSystem {
  private val StatAttrs = "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group"

  /** `PosixFilePermission` runs OWNER_READ .. OTHERS_EXECUTE, from bit
    * 0400 down to bit 0001. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }
}
