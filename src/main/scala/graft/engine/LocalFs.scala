package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, minus a process per file.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", ...)`: one forked process for every file,
  * `.crc` sidecar and directory a write creates (a file and its `.crc` per
  * write task of a [[Pipeline.runFrom]] write). [[LocalFs.Raw]] sets the
  * same mode with `java.nio.file` instead. Everything else — checksums, umask, layout,
  * rename/delete semantics — is the stock `LocalFileSystem`'s.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Per-write Hadoop options that route a write's `file:` paths through
    * [[LocalFs]]; other schemes are untouched. The FileSystem cache is keyed
    * by scheme, not implementation, so it is bypassed, or a cached stock
    * `LocalFileSystem` would be handed back.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `RawLocalFileSystem` whose `setPermission` is a `chmod(2)` through
    * NIO, following symlinks as the stock `chmod` does. It defers to the
    * stock method when the path's file system has no POSIX view, and for a
    * sticky-bit mode, which a NIO permission set cannot carry.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null || permission.getStickyBit) super.setPermission(p, permission)
      else
        // the "rwxr-x---" form; not toString, which subclasses (FsCreateModes) override
        view.setPermissions(PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
    }
  }
}
