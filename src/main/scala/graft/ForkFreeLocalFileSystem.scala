package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local FileSystem without a process fork per
  * written file.
  *
  * Without the Hadoop native library (Spark does not ship it),
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process,
  * and `LocalFileSystem` calls it for every file it creates, every
  * `.crc` sidecar and every directory `mkdirs` makes: about 100 forks
  * per engine commit, at about 1.5 ms each. This subclass sets the
  * permission bits through `java.nio` instead (a system call, not a
  * process). Checksums stay on: a torn write still surfaces as a
  * `ChecksumException` on read.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` uses `java.nio` for the
  * nine rwx bits. Whatever NIO cannot express falls back to the parent
  * (its `chmod`): a requested sticky, setuid or setgid bit, and a target
  * that already carries one (`chmod` keeps a directory's setuid/setgid
  * bits, NIO would clear them). So the resulting mode always equals the
  * parent's.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val bits = permission.toShort.toInt
    try {
      val current = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      if (((bits | current) & SpecialBits) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(f, posix(bits))
    } catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
    }
  }
}

object ForkFreeLocalFileSystem {
  /** Session conf that makes Hadoop instantiate this class for `file:`. */
  val ConfKey = "spark.hadoop.fs.file.impl"

  /** Sticky, setgid and setuid. */
  private[graft] val SpecialBits = 0xe00

  /** The rwx bits of `mode`: bit 8 (owner read) down to bit 0 (others
    * execute) is the declaration order of `PosixFilePermission`.
    */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(perm)
    }
    s
  }

  /** True when `fs` is Hadoop's stock local FileSystem without the
    * native library, i.e. it forks a `chmod` for every file it writes.
    * Hadoop caches FileSystems by scheme and user, not by conf, so the
    * first `file:` instance a JVM creates serves every later session.
    */
  def forksPerFile(fs: FileSystem): Boolean = {
    val raw = fs match {
      case l: LocalFileSystem => l.getRaw
      case r => r
    }
    raw.getClass == classOf[RawLocalFileSystem] && !NativeIO.isAvailable
  }
}
