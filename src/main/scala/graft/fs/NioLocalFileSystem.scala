package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without process spawns. Without native libhadoop
  * (Spark does not ship it), the stock [[RawLocalFileSystem]] forks
  * `chmod` for every permission it sets (each created file and directory)
  * and `readlink` for every `getFileLinkStatus` (two per FileContext
  * rename). This class does both through java.nio with the same results.
  * What nio cannot express goes to the stock code: a sticky bit, a
  * directory's setuid/setgid bits (a 4-digit octal `chmod` keeps them),
  * and a real symlink. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || (Files.isDirectory(path) &&
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0))
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner r,w,x, group r,w,x, others r,w,x: 0400 down to 0001
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b))
      Files.setPosixFilePermissions(path, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem behind FileContext
  * (`fs.AbstractFileSystem.file.impl`), which Structured Streaming's
  * checkpoint logs use. It keeps `RawLocalFs`'s overrides. The
  * `(URI, Configuration)` constructor is the one `AbstractFileSystem.get`
  * reflects on; like `LocalFs`, it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
