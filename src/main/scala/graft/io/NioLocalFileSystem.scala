package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its permission calls served by
  * `java.nio` instead of a forked shell.
  *
  * Without `libhadoop` on the library path, `RawLocalFileSystem`
  * runs `chmod` in a child process for every `setPermission` (every
  * `create` and `mkdirs` with a permission calls it, once for the data
  * file and once for its `.crc`) and `ls -ld` for every permission,
  * owner or group read. Each fork costs milliseconds; a checkpointed
  * micro-batch writes its offset, sink-metadata and commit logs
  * through these calls every batch. This class reads and sets the same
  * fields through the JDK's `unix` attribute view — one `lstat` or one
  * `chmod(2)`, the calls `libhadoop` itself would make — and defers to
  * Hadoop for symbolic links (whose status Hadoop assembles from the
  * link and its target) and wherever the `unix` view is unavailable.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]]
  * (`fs.file.impl`) and [[NioLocalFs]] (`fs.AbstractFileSystem.file.impl`),
  * so every `Configuration` on the classpath — `FileSystem.get` for
  * part files and `FileContext` for checkpoint logs — resolves `file:`
  * to them. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def getFileStatus(f: Path): FileStatus =
    nioStatus(f).getOrElse(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    nioStatus(f).getOrElse(super.getFileLinkStatus(f))

  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & PermBits))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.setPermission(p, permission)
    }

  /** The status of a regular file or directory from one `lstat`;
    * `None` hands a symbolic link, or a file system without the
    * `unix` view, to Hadoop. A missing path is Hadoop's
    * `FileNotFoundException`. */
  private def nioStatus(f: Path): Option[FileStatus] = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, StatAttrs, LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
        case _: java.io.IOException | _: UnsupportedOperationException |
             _: IllegalArgumentException => return None
      }
    val mode = a.get("mode").asInstanceOf[Int]
    if ((mode & S_IFMT) == S_IFLNK) None
    else Some(new FileStatus(
      a.get("size").asInstanceOf[Long],
      (mode & S_IFMT) == S_IFDIR,
      1, blockSize,
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((mode & PermBits).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)))
  }
}

object NioRawLocalFileSystem {
  private val StatAttrs = "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group"
  // st_mode: the file-type field (0170000), its symlink (0120000) and
  // directory (0040000) values, and the bits FsPermission carries
  // (01777: rwx for user/group/other plus sticky; setuid/setgid are
  // not part of Hadoop's permission model)
  private val S_IFMT = 0xF000
  private val S_IFLNK = 0xA000
  private val S_IFDIR = 0x4000
  private val PermBits = 0x3FF
}

/** `file:` for `FileSystem.get`: Hadoop's checksummed local file
  * system over [[NioRawLocalFileSystem]]. `rename` keeps the rule of
  * Hive's `ProxyLocalFileSystem`, which Spark's jars otherwise select
  * for `file:`: like HDFS, it refuses to replace an existing file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `file:` for `FileContext` (checkpoint and sink-metadata logs):
  * Hadoop's `LocalFs` — a `ChecksumFs` over the raw file system —
  * with [[NioRawLocalFileSystem]] as the raw layer. The constructor
  * signature is the one `AbstractFileSystem.get` instantiates. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** `RawLocalFs` with the NIO raw file system: no default port,
    * local server defaults, every name valid. */
  private class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
