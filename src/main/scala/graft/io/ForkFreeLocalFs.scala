package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without the process forks it makes when the
  * native `libhadoop` is absent: stock `setPermission` runs `chmod` (on
  * every `mkdirs` and `create`) and stock `getFileLinkStatus` runs
  * `readlink` (several times per `FileContext.rename`). Both go through
  * `java.nio` here and fall back to the stock code for what `java.nio`
  * cannot express: a sticky bit, a non-POSIX file system.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      val bits = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
    } catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  // For a path that is not a link the stock code returns getFileStatus
  // too. A link reports its own attributes (as lstat does) and its target
  // qualified against the link's directory; the stock code would read the
  // target by running `readlink` on the path's string form, which for a
  // `file:` URI names no file, so it reports the link as a plain file.
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else try {
      val a = Files.readAttributes(file, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f,
        new Path(Files.readSymbolicLink(file).toString))
      new FileStatus(a.size, false, 1, getDefaultBlockSize(f), a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
        a.owner.getName, a.group.getName, target, f)
    } catch {
      case _: UnsupportedOperationException => super.getFileLinkStatus(f)
    }
  }
}

/** The checksummed `file:` `FileSystem` (`.crc` sidecars written and
  * verified as by the stock `LocalFileSystem`) over the fork-free raw one.
  * The `file:` class Spark's jars resolve to without it is Hive's
  * `ProxyLocalFileSystem`, whose one change is kept: `rename` onto an
  * existing file fails, as on HDFS, instead of replacing it.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The checksummed `file:` `AbstractFileSystem` behind `FileContext`
  * (Structured Streaming's checkpoint logs) over the fork-free raw one.
  * Built as the stock `LocalFs` is over `RawLocalFs`; `RawLocalFs`'s
  * constructor is not public, so its four overrides are repeated here.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, uri.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
