package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` filesystem ([[ForkFreeLocalFileSystem]]): it is
  * what `GraftSession.build` registers, it keeps the strict rename rule
  * the commit protocols were written against, it sets exactly the mode
  * bits Hadoop's own local filesystem sets, and it does so without
  * starting a process per created file or directory. */
class LocalFsSpec extends SparkSpec {

  private def sessionFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft_localfs_$tag").toUri)

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  test("GraftSession registers the fork-free class as file:") {
    assert(sessionFs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(sessionFs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    // A configuration that never saw the session's settings gets the
    // same cached instance.
    assert(FileSystem.get(new URI("file:///"), new Configuration()) eq sessionFs)
  }

  test("GraftSession.build replaces a file: instance cached before it") {
    // The state of a JVM that read a state file outside any session
    // before its first GraftSession.build.
    sessionFs.close()
    val early = FileSystem.get(new URI("file:///"), new Configuration())
    assert(!early.isInstanceOf[ForkFreeLocalFileSystem])
    assert(GraftSession.build("graft-test") eq spark)
    assert(sessionFs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), new Configuration()) eq sessionFs)
  }

  test("a rename onto an existing file returns false and leaves both files intact") {
    val fs = sessionFs
    val d = tmp("rename_file")
    val (a, b) = (new Path(d, "a"), new Path(d, "b"))
    write(fs, a, "from-a")
    write(fs, b, "from-b")
    assert(!fs.rename(a, b))
    assert(read(fs, a) == "from-a")
    assert(read(fs, b) == "from-b")
  }

  test("a rename onto an existing directory moves the file into it") {
    val fs = sessionFs
    val d = tmp("rename_dir")
    val (a, sub) = (new Path(d, "a"), new Path(d, "sub"))
    write(fs, a, "from-a")
    assert(fs.mkdirs(sub))
    assert(fs.rename(a, sub))
    assert(!fs.exists(a))
    assert(read(fs, new Path(sub, "a")) == "from-a")
  }

  test("files, .crc files and directories get Hadoop's mode bits, under any umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val ours = new ForkFreeLocalFileSystem
      val hadoops = new LocalFileSystem // over a plain RawLocalFileSystem
      Seq(ours, hadoops).foreach(_.initialize(new URI("file:///"), conf))
      val d = tmp("modes")
      def made(fs: FileSystem, tag: String): Seq[Path] = {
        val f = new Path(d, s"$tag.bin")
        write(fs, f, tag)
        val nested = new Path(d, s"$tag/x/y")
        assert(fs.mkdirs(nested))
        Seq(f, new Path(d, s".$tag.bin.crc"), nested, nested.getParent)
      }
      val got = made(ours, "ours").map(mode)
      val want = made(hadoops, "hadoop").map(mode)
      assert(got == want, s"umask ${umask.getOrElse("default")}")
      val expectDir = if (umask.contains("077")) 0x1c0 else 0x1ed // 0700 / 0755
      assert(got(2) == expectDir)
    }
  }

  test("modes the nine rwx bits cannot express still apply through Hadoop's path") {
    val d = tmp("sticky")
    val ours = new Path(d, "ours")
    val hadoops = new Path(d, "hadoop")
    val reference = new LocalFileSystem
    reference.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    for ((fs, p) <- Seq(sessionFs -> ours, reference -> hadoops)) {
      assert(fs.mkdirs(p))
      fs.setPermission(p, new FsPermission(0x3ff.toShort)) // 01777
      assert(mode(p) == 0x3ff)
      // The chmod command keeps a directory's setgid bit on a 0755.
      fs.setPermission(p, new FsPermission(0x5ed.toShort)) // 02755
      fs.setPermission(p, new FsPermission(0x1ed.toShort)) // 0755
    }
    assert(mode(ours) == mode(hadoops))
  }

  test("creating files and directories starts no process per operation") {
    val loadavg = Paths.get("/proc/loadavg")
    if (!Files.isReadable(loadavg)) cancel("needs Linux /proc/loadavg")
    // The last field is the most recently allocated PID in this PID
    // namespace; threads take PIDs too, so the bound leaves room.
    def lastPid(): Long = new String(Files.readAllBytes(loadavg), UTF_8).trim.split("[ /]").last.toLong
    val pidMax = scala.util.Try(new String(Files.readAllBytes(
      Paths.get("/proc/sys/kernel/pid_max")), UTF_8).trim.toLong).getOrElse(4194304L)
    val fs = sessionFs
    val d = tmp("forks")
    val before = lastPid()
    for (i <- 0 until 100) {
      fs.create(new Path(d, s"f$i")).close()
      assert(fs.mkdirs(new Path(d, s"d$i")))
    }
    val after = lastPid()
    val used = if (after >= before) after - before else after + pidMax - before
    assert(used < 50, s"100 creates + 100 mkdirs consumed $used PIDs")
  }
}
