package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

/** The local file system, counting the entries its `listStatus` returns.
  * The traced run installs it as `fs.file.impl` (uncached) for one untimed
  * listing pass, so the count is what the program's own file index listed:
  * day directories and files, whichever index the entry point builds.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    CountingLocalFileSystem.entries.addAndGet(out.length.toLong)
    out
  }
}

object CountingLocalFileSystem {
  val entries = new AtomicLong

  /** Entries listed while `body` runs on `conf`'s local file systems. */
  def count(conf: org.apache.hadoop.conf.Configuration)(body: => Unit): Long = {
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    entries.set(0)
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    entries.get()
  }
}
