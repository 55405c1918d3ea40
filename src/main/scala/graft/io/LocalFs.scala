package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process launch per file
  * operation. With no native libhadoop, the stock `RawLocalFileSystem`
  * runs `chmod` for every file and directory it creates and `readlink`
  * for every link-status lookup (each `FileContext` rename of the
  * streaming checkpoint does several) — ~65 launches per trigger of the
  * fan-out stream at 500 events/s, under one with these classes. Here
  * permissions go through the POSIX attribute view (the same 9 bits; a
  * sticky bit or a non-POSIX store takes the stock path) and only real
  * symlinks take the stock link lookup.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if (view == null || permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // other rwx: bit 0400 down to 0001
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((permission.toShort & (0x100 >> i)) != 0) bits.add(b)
      }
      view.setPermissions(bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]], as `LocalFileSystem` wraps the stock raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`, what `FileContext` and so the
  * streaming checkpoint manager use), built as `local.LocalFs` is; Hadoop
  * instantiates it reflectively through this (URI, Configuration)
  * constructor, and the URI is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(conf))

/** `local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[io] class NioRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
