package graft.ledger

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system [[Catalog]] commit writes go through: Hadoop's
  * checksummed `LocalFileSystem` (so every data file still gets its
  * `.crc`) over [[NioRawLocalFileSystem]]. Named by class in the write's
  * Hadoop options, so Hadoop instantiates it with the no-arg
  * constructor. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with `setPermission` through `java.nio`.
  * Without libhadoop the stock one forks `chmod` (plus a stream-reader
  * thread) for every file and dir a write creates; the bits set are the
  * same. A sticky bit, which `PosixFilePermission` cannot express, still
  * goes through the stock path. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
