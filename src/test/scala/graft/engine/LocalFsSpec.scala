package graft.engine

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] is the stock checksummed `LocalFileSystem` but for how a mode
  * is applied: same modes, same `.crc` sidecars, same checksum failures.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  conf.set("fs.permissions.umask-mode", "022")

  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
  private lazy val stock = init(new LocalFileSystem())
  private lazy val ours = init(new LocalFs())
  private lazy val root = Files.createTempDirectory("local-fs")

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  /** A file written through `create` and a nested dir made through `mkdirs`
    * with the umasked default, as Hadoop's writers make them.
    */
  private def layout(fs: FileSystem, name: String): (Path, Path) = {
    val dir = new Path(root.toUri.toString, s"$name/a/b")
    val file = new Path(dir, "f.bin")
    assert(fs.mkdirs(dir, FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf))))
    val out = fs.create(file)
    out.write(Array.tabulate[Byte](4096)(i => (i * 31).toByte))
    out.close()
    (dir, file)
  }

  test("file and nested dir modes equal the stock LocalFileSystem's at umask 022") {
    val (sDir, sFile) = layout(stock, "stock")
    val (oDir, oFile) = layout(ours, "ours")
    assert(perms(oFile) == perms(sFile) && perms(oFile) == "rw-r--r--")
    assert(perms(oDir) == perms(sDir) && perms(oDir) == "rwxr-xr-x")
    assert(perms(oDir.getParent) == perms(sDir.getParent))
    // an explicit setPermission takes any 9-bit mode
    ours.setPermission(oFile, new FsPermission(Integer.parseInt("640", 8).toShort))
    stock.setPermission(sFile, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(perms(oFile) == perms(sFile) && perms(oFile) == "rw-r-----")
  }

  test("a create-modes permission applies its masked mode, as the stock chmod does") {
    // FsCreateModes (FileContext's create/mkdir mode) overrides toString
    val (dir, file) = layout(ours, "create-modes")
    val modes = FsCreateModes.create(new FsPermission(Integer.parseInt("750", 8).toShort),
      new FsPermission(Integer.parseInt("777", 8).toShort))
    ours.setPermission(file, modes)
    ours.setPermission(dir, modes)
    assert(perms(file) == "rwxr-x---" && perms(dir) == "rwxr-x---")
  }

  test("the .crc sidecar is written and a corrupted byte fails the read") {
    val (dir, file) = layout(ours, "crc")
    assert(Files.exists(Paths.get(new Path(dir, ".f.bin.crc").toUri)))
    val raf = new RandomAccessFile(Paths.get(file.toUri).toFile, "rw")
    try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
    finally raf.close()
    val in = ours.open(file)
    try assertThrows[ChecksumException](in.readFully(0L, new Array[Byte](4096)))
    finally in.close()
  }

  test("a sticky-bit mode takes the stock path") {
    // a NIO permission set has no sticky bit; only the stock chmod sets it
    val dir = new Path(root.toUri.toString, "sticky")
    assert(ours.mkdirs(dir))
    ours.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    val mode = Files.getAttribute(Paths.get(dir.toUri), "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8))
  }
}
