package graft

import java.io.{File, IOException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** [[GraftLocalFileSystem]] against Hadoop's stock local file system, both
  * without libhadoop (with it, the graft classes defer every overridden
  * call to Hadoop, so the spec cancels): same mode bits, same `.crc`
  * sidecars and checksum failures, same link statuses.
  *
  * Stock and graft instances come from `FileSystem.newInstance`, never
  * `FileSystem.get`: the JVM-wide cache keeps the first `file:` instance
  * made, whatever its class, and serves it to every later `get`.
  */
class GraftLocalFileSystemSpec extends SparkSpec {
  import GraftLocalFileSystemSpec._

  private def parity(name: String)(body: => Unit): Unit =
    test(name) {
      assume(!NativeIO.isAvailable, "libhadoop is loaded: the graft classes are Hadoop's")
      body
    }

  private def tempDir(): File = Files.createTempDirectory("graft_fs").toFile

  private def fileSystem(conf: Configuration): FileSystem = FileSystem.newInstance(local, conf)

  private def fileContext(conf: Configuration): FileContext = FileContext.getFileContext(local, conf)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Mode of every entry under `root`, `.crc` sidecars included. */
  private def modes(root: File): Map[String, Int] = {
    val walk = Files.walk(root.toPath)
    try walk.iterator.asScala.map(p => root.toPath.relativize(p).toString -> mode(p.toFile)).toMap
    finally walk.close()
  }

  parity("new files and directories get Hadoop's mode bits under the same umask") {
    for (umask <- Seq("022", "077", "002", "027")) {
      val Seq(stockModes, graftModes) = Seq(stock, graft).map { impls =>
        val conf = hadoopConf(impls, umask)
        val root = tempDir()
        val fs = fileSystem(conf)
        try {
          fs.create(new Path(root.getPath, "fs/a/file")).close()
          fs.create(new Path(root.getPath, "fs/explicit"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
            .close()
          fs.mkdirs(new Path(root.getPath, "fs/dir"))
          fs.mkdirs(new Path(root.getPath, "fs/dir750"), new FsPermission("750"))
          fs.create(new Path(root.getPath, "fs/chmod")).close()
          fs.setPermission(new Path(root.getPath, "fs/chmod"), new FsPermission("604"))
        } finally fs.close()
        val fc = fileContext(conf)
        fc.create(new Path(root.getPath, "fc/a/file"), EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
          .close()
        fc.mkdir(new Path(root.getPath, "fc/dir"), FsPermission.getDirDefault, true)
        modes(root)
      }
      assert(graftModes == stockModes, s"umask $umask")
      val mask = Integer.parseInt(umask, 8)
      assert(graftModes("fs/a/file") == (0x1b6 & ~mask), s"umask $umask") // 0666
      assert(graftModes("fc/dir") == (0x1ff & ~mask), s"umask $umask") // 0777
      assert(graftModes.contains("fs/a/.file.crc") && graftModes.contains("fc/a/.file.crc"))
    }
  }

  parity(".crc sidecars are written through both APIs and a flipped byte fails the read") {
    val conf = hadoopConf(graft)
    val fs = fileSystem(conf)
    val fc = fileContext(conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    val root = tempDir()
    val payload = ("audit session checkpoint " * 200).getBytes(UTF_8)
    def readAll(in: java.io.InputStream): Array[Byte] = try in.readAllBytes() finally in.close()

    val viaFs = new Path(root.getPath, "viaFs")
    val out = fs.create(viaFs)
    out.write(payload)
    out.close()
    // temporary name, then rename over: Spark's checkpoint manager's write
    val tmp = new Path(root.getPath, "viaFc.tmp")
    val viaFc = new Path(root.getPath, "viaFc")
    val out2 = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    out2.write(payload)
    out2.close()
    fc.rename(tmp, viaFc, Rename.OVERWRITE)

    assert(new File(root, ".viaFs.crc").isFile)
    assert(new File(root, ".viaFc.crc").isFile)
    assert(!new File(root, ".viaFc.tmp.crc").exists)
    for (p <- Seq(viaFs, viaFc)) {
      assert(readAll(fs.open(p)).sameElements(payload), p)
      assert(readAll(fc.open(p)).sameElements(payload), p)
    }

    for (name <- Seq("viaFs", "viaFc")) {
      val raf = new RandomAccessFile(new File(root, name), "rw")
      try {
        raf.seek(1000)
        val b = raf.read()
        raf.seek(1000)
        raf.write(b ^ 0x01)
      } finally raf.close()
    }
    // outcome of reading each damaged file: fs.open, fc.open with a
    // buffer size (verifies), fc.open without one (in Hadoop 3.4 that
    // opens through openFile, which skips the sidecar, stock included)
    def reads(impls: Map[String, String]): Seq[String] = {
      val conf = hadoopConf(impls)
      val (fs2, fc2) = (fileSystem(conf), fileContext(conf))
      def outcome(in: => java.io.InputStream) =
        try { readAll(in); "read" } catch { case e: IOException => e.getClass.getSimpleName }
      try Seq(viaFs, viaFc).flatMap(p => Seq(outcome(fs2.open(p)), outcome(fc2.open(p, 4096)), outcome(fc2.open(p))))
      finally fs2.close()
    }
    val graftReads = reads(graft)
    assert(graftReads == reads(stock))
    assert(graftReads == Seq.fill(2)(Seq("ChecksumException", "ChecksumException", "read")).flatten)
    fs.close()
  }

  parity("getFileLinkStatus on a file, a symlink and a dangling symlink matches Hadoop's") {
    val root = tempDir()
    val file = new File(root, "file")
    Files.writeString(file.toPath, "x")
    Files.createSymbolicLink(new File(root, "link").toPath, file.toPath)
    Files.createSymbolicLink(new File(root, "dangling").toPath, new File(root, "missing").toPath)

    val Seq(stockFs, graftFs) = Seq(stock, graft).map(i => fileSystem(hadoopConf(i)))
    val Seq(stockFc, graftFc) = Seq(stock, graft).map(i => fileContext(hadoopConf(i)))
    try {
      for (name <- Seq("file", "link", "dangling", "missing"); qualified <- Seq(false, true)) {
        val bare = new Path(new File(root, name).getPath)
        // Hadoop reads the link of Path.toString, which a qualified path
        // ("file:/...") never names: stock sees no link there, nor may graft
        val p = if (qualified) graftFs.makeQualified(bare) else bare
        assert(describe(graftFs.getFileLinkStatus(p)) == describe(stockFs.getFileLinkStatus(p)), p)
        assert(describe(graftFc.getFileLinkStatus(p)) == describe(stockFc.getFileLinkStatus(p)), p)
      }
      // the links really are seen as links on the bare path
      assert(describe(graftFs.getFileLinkStatus(new Path(new File(root, "link").getPath))).contains("link->file:"))
      assert(describe(graftFc.getFileLinkStatus(new Path(new File(root, "dangling").getPath))).contains("link->file:"))
    } finally Seq(stockFs, graftFs).foreach(_.close())
  }

  parity("a sticky-bit mode takes Hadoop's path and keeps the bit") {
    val dir = tempDir()
    val p = new Path(dir.getPath)
    for (impls <- Seq(stock, graft)) {
      val fs = fileSystem(hadoopConf(impls))
      try {
        fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
        assert(mode(dir) == Integer.parseInt("1777", 8), impls)
        fs.setPermission(p, new FsPermission("755"))
        assert(mode(dir) == Integer.parseInt("755", 8), impls)
      } finally fs.close()
    }
  }

  parity("a GraftSession.local session resolves file: to the graft classes through both APIs") {
    spark // the shared session exists first, as in every spec
    withRestoredConf(GraftSessionSpec.localTouches) {
      val conf = GraftSession.local(cores = 4).sessionState.newHadoopConf()
      assert(FileSystem.get(local, conf).getClass == classOf[GraftLocalFileSystem])
      assert(new Path("/tmp").getFileSystem(conf).getClass == classOf[GraftLocalFileSystem])
      assert(AbstractFileSystem.get(local, conf).getClass == classOf[GraftLocalFs])
    }
  }
}

object GraftLocalFileSystemSpec {
  val local: URI = URI.create("file:///")

  /** Hadoop settings selecting each implementation of `file:` for both
    * APIs; graft's are [[GraftSession.localFileSystem]] without Spark's
    * `spark.hadoop.` prefix.
    */
  val stock: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
  val graft: Map[String, String] =
    GraftSession.localFileSystem.map { case (k, v) => k.stripPrefix("spark.hadoop.") -> v }

  def hadoopConf(impls: Map[String, String], umask: String = "022"): Configuration = {
    val conf = new Configuration()
    impls.foreach { case (k, v) => conf.set(k, v) }
    conf.set("fs.permissions.umask-mode", umask)
    conf
  }

  /** A status's observable fields, or the exception class it threw. */
  def describe(status: => FileStatus): String =
    try {
      val s = status
      val link = if (s.isSymlink) s"link->${s.getSymlink}" else "no-link"
      s"${s.getPath} $link dir=${s.isDirectory} len=${s.getLen} mtime=${s.getModificationTime} " +
        s"perm=${s.getPermission} owner=${s.getOwner} group=${s.getGroup}"
    } catch { case e: IOException => e.getClass.getName }
}
