package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Crash-safe SMALL state files (watermarks, policy markers) over the
  * Hadoop FileSystem API — the round-15 port of the java.nio
  * `ATOMIC_MOVE` pattern to an API that also runs on HDFS/object-store
  * roots (and under the hostile test FS, where rename is copy+delete).
  *
  * Protocol: [[write]] fully writes a sibling `.tmp`, drops the old
  * main file, renames the tmp into place. The swap is not atomic (and
  * a rename is copy+delete on object stores) — but from the moment the
  * old main is dropped until the new one is fully in place, a COMPLETE
  * `.tmp` exists, so [[read]] recovers through it: a missing or torn
  * main file with a parseable tmp returns the tmp's content; torn with
  * no readable tmp still fails loudly. Single-writer contract; a reader
  * in any process whose probes interleave with a publish re-reads a
  * bounded number of times and returns the old or the new state.
  */
private[graft] object StateFile {

  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def fs(path: String): FileSystem = new HPath(path).getFileSystem(conf)

  private def tmpOf(p: HPath): HPath = new HPath(p.getParent, p.getName + ".tmp")

  def write(path: String, content: String): Unit = {
    val f = fs(path)
    val p = new HPath(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val tmp = tmpOf(p)
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    require(f.rename(tmp, p),
      s"state-file publish failed: could not move $tmp into $path")
  }

  /** None = neither main nor (readable) tmp exists. `parse` MUST throw
    * on torn content. A main that cannot be read is re-read up to 10
    * times (a publish in flight finishes meanwhile, so reads never go
    * back to an older state); one that stays torn is a crash's, and
    * recovers from a complete tmp or fails loudly. */
  def read[T](path: String)(parse: String => T): Option[T] = {
    val f = fs(path)
    val p = new HPath(path)
    val tmp = tmpOf(p)
    def readAll(q: HPath): String = {
      val in = f.open(q)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    // An empty tmp is a publish's create still in progress, never a
    // complete state.
    def fromTmp: Option[T] =
      if (!f.exists(tmp)) None
      else scala.util.Try(readAll(tmp)).toOption.filter(_.nonEmpty)
        .flatMap(txt => scala.util.Try(parse(txt)).toOption)
    def raced = new java.io.FileNotFoundException(s"$path was replaced while being read")
    // Left = not readable on this pass.
    def once(last: Boolean): Either[Exception, Option[T]] =
      try {
        if (f.exists(p)) {
          val txt = readAll(p)
          // An empty main beside a tmp, or one that has grown since, is a
          // copy-based rename still copying.
          if (txt.isEmpty && (f.exists(tmp) || f.getFileStatus(p).getLen > 0)) throw raced
          Right(Some(parse(txt)))
        } else {
          val r = fromTmp
          // A publish renamed its tmp into place meanwhile; the tmp read
          // may already be the next publish's.
          if (f.exists(p)) throw raced
          // Found nothing: once written, the main or a complete tmp always
          // exists, so only one listing (a single snapshot, unlike the
          // probes) that shows neither proves "never written".
          if (r.isEmpty && !last) {
            val names = try f.listStatus(p.getParent).map(_.getPath.getName).toSet
              catch { case _: java.io.FileNotFoundException => Set.empty[String] }
            if (names(p.getName) || names(tmp.getName)) throw raced
          }
          Right(r)
        }
      } catch {
        case e: Exception if last => fromTmp.map(t => Right(Some(t))).getOrElse(Left(e))
        case e: Exception => Left(e)
      }
    @annotation.tailrec
    def loop(attempt: Int): Option[T] = once(last = attempt >= 10) match {
      case Right(r) => r
      case Left(e) if attempt >= 10 => throw e
      case Left(_) => Thread.sleep(attempt * 5L); loop(attempt + 1)
    }
    loop(1)
  }
}
