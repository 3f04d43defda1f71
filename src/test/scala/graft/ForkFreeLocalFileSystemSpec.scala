package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` FileSystem GraftSession installs: the same permissions
  * as Hadoop's stock one, the same checksums, and no `chmod` process.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  private val root = new URI("file:///")
  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def forkFree(): LocalFileSystem = {
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(root, new Configuration())
    fs
  }
  private def stock(): LocalFileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(root, new Configuration())
    fs
  }

  test("files and directories at 0644, 0600 and 0755 get RawLocalFileSystem's modes") {
    val dir = Files.createTempDirectory("graft-fs-perm")
    val ours = forkFree().getRaw
    val parent = new RawLocalFileSystem
    parent.initialize(root, new Configuration())
    for (m <- Seq("644", "600", "755"); isDir <- Seq(false, true)) {
      val (a, b) = (dir.resolve(s"stock-$m-$isDir"), dir.resolve(s"ours-$m-$isDir"))
      Seq(a, b).foreach { p =>
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, ForkFreeLocalFileSystem.posix(octal("000")))
      }
      parent.setPermission(hpath(a), new FsPermission(octal(m).toShort))
      ours.setPermission(hpath(b), new FsPermission(octal(m).toShort))
      assert(mode(a) == octal(m), s"$m dir=$isDir")
      assert(mode(b) == mode(a), s"$m dir=$isDir")
    }
  }

  test("mkdirs and create leave the same modes as the stock FileSystem, .crc included") {
    val dir = Files.createTempDirectory("graft-fs-create")
    for ((fs, tag) <- Seq(stock() -> "stock", forkFree() -> "ours")) {
      assert(fs.mkdirs(hpath(dir.resolve(s"$tag/a/b"))))
      val out = fs.create(hpath(dir.resolve(s"$tag/a/b/part-0")))
      out.write(Array.fill[Byte](100)(7))
      out.close()
    }
    for (rel <- Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc"))
      assert(mode(dir.resolve(s"ours/$rel")) == mode(dir.resolve(s"stock/$rel")), rel)
  }

  test("sticky bits, and a directory that already carries setgid, fall back to chmod") {
    val dir = Files.createTempDirectory("graft-fs-sticky")
    val ours = forkFree().getRaw
    val parent = new RawLocalFileSystem
    parent.initialize(root, new Configuration())
    // NIO cannot set the sticky bit: seeing it proves the fallback ran
    val s = Files.createDirectory(dir.resolve("sticky"))
    ours.setPermission(hpath(s), new FsPermission(octal("1755").toShort))
    assert(mode(s) == octal("1755"))
    // chmod keeps a directory's setgid bit under a numeric mode; NIO
    // would clear it
    val (a, b) = (Files.createDirectory(dir.resolve("g-stock")),
      Files.createDirectory(dir.resolve("g-ours")))
    Seq(a, b).foreach(p =>
      parent.setPermission(hpath(p), new FsPermission(octal("2775").toShort)))
    parent.setPermission(hpath(a), new FsPermission(octal("755").toShort))
    ours.setPermission(hpath(b), new FsPermission(octal("755").toShort))
    assert(mode(b) == mode(a))
    intercept[java.io.FileNotFoundException](
      ours.setPermission(hpath(dir.resolve("missing")), new FsPermission(octal("644").toShort)))
  }

  test("a .crc sidecar is written and a flipped byte fails the read") {
    val dir = Files.createTempDirectory("graft-fs-crc")
    val fs = forkFree()
    val f = dir.resolve("data.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(hpath(f))
    out.write(bytes)
    out.close()
    assert(Files.isRegularFile(dir.resolve(".data.bin.crc")))
    def readAll(): Array[Byte] = {
      val in = fs.open(hpath(f))
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b }
      finally in.close()
    }
    assert(readAll().sameElements(bytes))
    val torn = Files.readAllBytes(f)
    torn(1000) = (torn(1000) ^ 0xff).toByte
    Files.write(f, torn)
    intercept[ChecksumException](readAll())
  }

  test("the session conf selects it, and only the stock FileSystem counts as forking") {
    val conf = new Configuration()
    conf.set(ForkFreeLocalFileSystem.ConfKey.stripPrefix("spark.hadoop."),
      classOf[ForkFreeLocalFileSystem].getName)
    val fs = FileSystem.newInstance(root, conf)
    try {
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
      assert(!ForkFreeLocalFileSystem.forksPerFile(fs))
    } finally fs.close()
    assert(ForkFreeLocalFileSystem.forksPerFile(stock()) == !NativeIO.isAvailable)
    assert(ForkFreeLocalFileSystem.forksPerFile(stock().getRaw) == !NativeIO.isAvailable)
  }
}
