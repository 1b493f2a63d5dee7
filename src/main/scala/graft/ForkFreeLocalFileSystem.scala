package graft

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every [[GraftSession]] registers
  * (`fs.file.impl`): Hadoop's checksummed `LocalFileSystem` (so `.crc`
  * siblings and checksum verification are unchanged) over
  * [[ForkFreeRawLocalFileSystem]].
  *
  * Rename contract: a rename onto an existing FILE returns false and
  * leaves both files as they were; a rename onto an existing directory
  * still moves the source into it. HDFS and `hostile://` behave the
  * same, and StateFile, LandingLog, Tombstones, the refreeze protocol
  * and MergeRunner rely on it. Plain `LocalFileSystem` would replace the
  * destination file silently, so the rule is stated here rather than
  * left to whichever `file:` class the classpath's service entries
  * happen to pick.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `RawLocalFileSystem` whose `setPermission` sets the nine rwx bits with
  * one `chmod(2)` through java.nio, instead of forking a `chmod` process
  * as Hadoop does when native libhadoop is not loaded. Hadoop calls
  * `setPermission` on every file (and `.crc`) it creates and every
  * directory it makes: measured on 4 vCPU, a create+close costs ~7 ms
  * and four process spawns that way and ~0.5 ms this way, a mkdirs
  * ~3.6 ms and two spawns against ~0.2 ms. HDFS and object stores never
  * fork, so this changes nothing there.
  *
  * Anything the nine bits cannot say goes to Hadoop's path unchanged: a
  * mode with sticky/setuid/setgid bits, a target that already carries
  * such bits (the `chmod` command keeps a directory's setgid bit, a
  * plain `chmod(2)` would clear it), and a filesystem without POSIX
  * attributes.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~RwxBits) != 0 || !setRwx(pathToFile(p).toPath, mode))
      super.setPermission(p, permission)
  }

  /** False, having changed nothing, when the target already carries
    * special bits or its filesystem has no POSIX attributes. */
  private def setRwx(target: java.nio.file.Path, mode: Int): Boolean =
    try {
      if ((Files.getAttribute(target, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0) false
      else { Files.setPosixFilePermissions(target, posixSet(mode)); true }
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}

object ForkFreeRawLocalFileSystem {
  private val RwxBits = 0x1ff     // 0777
  private val SpecialBits = 0xe00 // 07000: setuid, setgid, sticky

  /** `PosixFilePermission` is declared owner-read first, others-execute
    * last, i.e. from bit 8 down to bit 0. */
  private def posixSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(v => if ((mode & (0x100 >> v.ordinal)) != 0) s.add(v))
    s
  }
}
