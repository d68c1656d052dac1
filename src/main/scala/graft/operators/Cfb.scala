package graft.operators

import java.nio.charset.StandardCharsets.UTF_16LE

/** CFB (Compound File Binary, [MS-CFB]) — the OLE container every
  * legacy Office binary (.doc/.xls/.ppt) and every ENCRYPTED OOXML
  * package lives in. Until round 18 the office triage classified the
  * whole family as `encrypted` on the magic alone; most CFB files in a
  * real dump are UNENCRYPTED Word 97–2003 binaries, so the container
  * walk itself is the gate between "quarantine" and "yield".
  *
  * The walk is the published sector machine: the header's DIFAT lists
  * the FAT sectors; the FAT is the next-sector chain for regular
  * (512/4096-byte) sectors; the directory is a chain of 128-byte
  * entries; streams smaller than the mini cutoff (4096) live as
  * 64-byte mini sectors inside the ROOT entry's stream, chained by the
  * miniFAT. Strict and bounded: a malformed header, an out-of-range
  * chain, a cycle, or an over-cap stream parses to None — the caller
  * degrades countably, never guesses.
  *
  * Reference scope: the reference ingests line JSON only
  * (`App.java:136-162`); binary-office ingest is north-star corpus
  * surface.
  */
object Cfb {

  import Bytes.{le16, le32, le64, putLe}

  /** The OLE signature — also what an ECMA-376 ENCRYPTED OOXML package
    * is on disk, so the OOXML readers sniff it through [[isCfb]].
    */
  private[operators] val Magic = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)

  final val FreeSect = 0xFFFFFFFFL
  final val EndOfChain = 0xFFFFFFFEL
  final val FatSect = 0xFFFFFFFDL
  final val DifSect = 0xFFFFFFFCL
  final val NoStream = 0xFFFFFFFFL

  def isCfb(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 &&
      (0 until 8).forall(i => (bytes(i) & 0xFF) == Magic(i))

  /** One directory entry: name, object type (1 storage, 2 stream,
    * 5 root), starting sector, byte size.
    */
  final case class Entry(name: String, typ: Int, start: Long, size: Long)

  /** The parsed container: directory entries in directory order, and
    * each STREAM entry's bytes by name (first wins on a cross-storage
    * name collision — the streams the readers consume live in the
    * root storage of real files).
    */
  final case class CfbDoc(entries: Seq[Entry], streams: Map[String, Array[Byte]])

  /** Parse a CFB container. None on any structural violation — the
    * countable `cfb` degrade. `maxBytes` caps total extracted stream
    * bytes (bomb guard).
    */
  def parse(bytes: Array[Byte], maxBytes: Int = Bytes.MaxOut): Option[CfbDoc] = {
    if (!isCfb(bytes) || bytes.length < 512) return None
    val shift = le16(bytes, 30)
    if (shift != 9 && shift != 12) return None
    val ss = 1 << shift
    if (le16(bytes, 32) != 6) return None // mini sector shift is always 6
    val numFat = le32(bytes, 44)
    val dirStart = le32(bytes, 48)
    val miniCutoff = le32(bytes, 56)
    val miniFatStart = le32(bytes, 60)
    val difatStart = le32(bytes, 68)
    val numDifat = le32(bytes, 72)
    val nSectors = math.max(0L, (bytes.length.toLong - ss) / ss)
    if (numFat > nSectors + 1 || numDifat > nSectors) return None

    def sectorOff(sec: Long): Int = ((sec + 1) * ss).toInt
    def validSector(sec: Long): Boolean = sec >= 0 && sec < nSectors

    // DIFAT: 109 header entries, then chained DIFAT sectors (each
    // ss/4 - 1 entries + a next pointer in the last slot)
    val fatSectors = scala.collection.mutable.ArrayBuffer[Long]()
    var di = 0
    while (di < 109 && fatSectors.length < numFat) {
      val s = le32(bytes, 76 + di * 4)
      if (s != FreeSect) fatSectors += s
      di += 1
    }
    var dsec = difatStart
    var dguard = 0L
    while (dsec != EndOfChain && dsec != FreeSect && fatSectors.length < numFat) {
      if (!validSector(dsec) || dguard > numDifat) return None
      val off = sectorOff(dsec)
      var j = 0
      while (j < ss / 4 - 1 && fatSectors.length < numFat) {
        val s = le32(bytes, off + j * 4)
        if (s != FreeSect) fatSectors += s
        j += 1
      }
      dsec = le32(bytes, off + ss - 4)
      dguard += 1
    }
    if (fatSectors.length < numFat) return None
    if (fatSectors.exists(!validSector(_))) return None

    // FAT: the next-sector map
    val fat = new Array[Long](fatSectors.length * (ss / 4))
    fatSectors.zipWithIndex.foreach { case (s, k) =>
      val off = sectorOff(s)
      var j = 0
      while (j < ss / 4) { fat(k * (ss / 4) + j) = le32(bytes, off + j * 4); j += 1 }
    }

    def chain(start: Long): Option[Seq[Long]] = {
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      val seen = scala.collection.mutable.HashSet[Long]()
      var s = start
      while (s != EndOfChain) {
        if (!validSector(s) || s >= fat.length || !seen.add(s)) return None
        out += s
        s = fat(s.toInt)
      }
      Some(out.toSeq)
    }

    def readChain(start: Long, size: Long): Option[Array[Byte]] =
      chain(start).flatMap { cs =>
        if (size > maxBytes || size > cs.length.toLong * ss) None
        else {
          val out = new Array[Byte](size.toInt)
          var done = 0
          cs.iterator.takeWhile(_ => done < size).foreach { s =>
            val n = math.min(ss.toLong, size - done).toInt
            val off = sectorOff(s)
            if (off + n > bytes.length) return None
            System.arraycopy(bytes, off, out, done, n)
            done += n
          }
          if (done < size) None else Some(out)
        }
      }

    // directory: a full-sector chain of 128-byte entries
    val dirBytes = chain(dirStart) match {
      case None => return None
      case Some(cs) =>
        if (cs.length.toLong * ss > maxBytes) return None
        val out = new Array[Byte](cs.length * ss)
        cs.zipWithIndex.foreach { case (s, k) =>
          val off = sectorOff(s)
          if (off + ss > bytes.length) return None
          System.arraycopy(bytes, off, out, k * ss, ss)
        }
        out
    }
    // raw entries with their red-black-tree pointers, indexed by slot
    // (the slot number IS the pointer space left/right/child live in)
    final case class RawEntry(name: String, typ: Int, start: Long, size: Long,
        left: Long, right: Long, child: Long)
    val nSlots = dirBytes.length / 128
    val raw: IndexedSeq[Option[RawEntry]] = (0 until nSlots).map { k =>
      val off = k * 128
      val nameLen = le16(dirBytes, off + 64)
      val typ = dirBytes(off + 66) & 0xFF
      if (typ == 0 || nameLen < 2 || nameLen > 64) None
      else {
        val name = new String(dirBytes, off, nameLen - 2, UTF_16LE)
        val start = le32(dirBytes, off + 116)
        val size =
          if (shift == 9) le32(dirBytes, off + 120) // v3: low 32 bits only
          else le64(dirBytes, off + 120)
        Some(RawEntry(name, typ, start, size,
          le32(dirBytes, off + 68), le32(dirBytes, off + 72), le32(dirBytes, off + 76)))
      }
    }
    val rootIdx = raw.indexWhere(_.exists(_.typ == 5))
    if (rootIdx < 0) return None
    val root = raw(rootIdx).get

    // PATH-QUALIFIED directory walk: each storage's children form a
    // sibling BST under its child pointer; stream names qualify as
    // `storage/stream` (root-level streams keep their bare name), so
    // a recipient storage's body can never shadow the message body —
    // the tree IS the namespace ([MS-CFB] §2.6.4). Cycle/width guards
    // make a corrupt tree a clean parse failure, and an empty but
    // entry-bearing walk falls back to the flat first-wins view
    // (legacy lenient behavior for mangled pointers).
    val walked = scala.collection.mutable.ArrayBuffer[(String, RawEntry)]()
    val seenSlots = scala.collection.mutable.HashSet[Long]()
    // the depth guard counts STORAGE nesting only: siblings iterate
    // through an explicit in-order stack, so a directory level with
    // hundreds of entries in a degenerate left/right chain (unbalanced
    // real trees; this file's own fixture writer) still walks
    // path-qualified instead of falling back to the flat first-wins
    // namespace. Total work stays bounded by seenSlots (each slot
    // enters at most once; a cycle is a clean parse failure).
    def walkTree(slot0: Long, prefix: String, depth: Int): Boolean = {
      if (depth > 64) return false
      var cur = slot0
      var stack = List.empty[RawEntry]
      while (cur != NoStream || stack.nonEmpty) {
        while (cur != NoStream) {
          if (cur < 0 || cur >= nSlots || !seenSlots.add(cur)) return false
          raw(cur.toInt) match {
            case None => cur = NoStream // a freed slot in a pointer: tolerate
            case Some(e) => stack = e :: stack; cur = e.left
          }
        }
        if (stack.nonEmpty) {
          val e = stack.head
          stack = stack.tail
          walked += ((prefix + e.name, e))
          if (e.typ == 1 && !walkTree(e.child, prefix + e.name + "/", depth + 1))
            return false
          cur = e.right
        }
      }
      true
    }
    val treeOk = walkTree(root.child, "", 0)
    val entries: Seq[Entry] =
      Entry(root.name, 5, root.start, root.size) +: (
        if (treeOk && walked.nonEmpty)
          walked.toSeq.map { case (p, e) => Entry(p, e.typ, e.start, e.size) }
        else
          raw.zipWithIndex.collect { case (Some(e), k) if k != rootIdx =>
            Entry(e.name, e.typ, e.start, e.size)
          })

    // mini stream machinery (only when some stream needs it)
    lazy val miniFat: Option[Array[Long]] =
      chain(miniFatStart).flatMap { cs =>
        if (cs.isEmpty) Some(Array.empty[Long])
        else {
          val m = new Array[Long](cs.length * (ss / 4))
          cs.zipWithIndex.foreach { case (s, k) =>
            val off = sectorOff(s)
            if (off + ss > bytes.length) return None
            var j = 0
            while (j < ss / 4) { m(k * (ss / 4) + j) = le32(bytes, off + j * 4); j += 1 }
          }
          Some(m)
        }
      }
    lazy val miniStream: Option[Array[Byte]] = readChain(root.start, root.size)

    def readMini(start: Long, size: Long): Option[Array[Byte]] =
      for {
        mf <- miniFat
        ms <- miniStream
        out <- {
          if (size > maxBytes) None
          else {
            val buf = new Array[Byte](size.toInt)
            val seen = scala.collection.mutable.HashSet[Long]()
            var s = start
            var done = 0
            var ok = true
            while (ok && done < size) {
              if (s == EndOfChain || s < 0 || s >= mf.length || !seen.add(s) ||
                (s + 1) * 64 > ms.length) ok = false
              else {
                val n = math.min(64L, size - done).toInt
                System.arraycopy(ms, s.toInt * 64, buf, done, n)
                done += n
                s = mf(s.toInt)
              }
            }
            if (ok) Some(buf) else None
          }
        }
      } yield out

    var totalOut = 0L
    val streams = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    entries.filter(_.typ == 2).foreach { e =>
      totalOut += e.size
      if (totalOut > maxBytes) return None
      val data =
        if (e.size == 0) Some(Array.empty[Byte])
        else if (e.size < miniCutoff) readMini(e.start, e.size)
        else readChain(e.start, e.size)
      data match {
        case None => return None
        case Some(d) => if (!streams.contains(e.name)) streams(e.name) = d
      }
    }
    Some(CfbDoc(entries, streams.toMap))
  }

  /** Is this a parseable CFB that wraps an ENCRYPTED OOXML package?
    * ECMA-376 encryption (standard and agile) stores `EncryptionInfo`
    * + `EncryptedPackage` streams in a CFB shell — the honest
    * `encrypted` verdict, distinguished from a plain legacy binary.
    */
  def isEncryptedOoxml(doc: CfbDoc): Boolean =
    doc.streams.contains("EncryptionInfo") && doc.streams.contains("EncryptedPackage")

  // ---- fixture writer (tests + gates only) ----

  /** Minimal valid v3 CFB over the given streams: 512-byte sectors,
    * one FAT sector (capacity 128 sectors — far above any fixture),
    * streams under the 4096-byte cutoff in the mini stream (the real
    * layout small streams use), larger ones in regular sectors.
    * Stream names may carry `/`-separated STORAGE paths (an Outlook
    * .msg's recipient/attachment sub-storages) — storages become type-1
    * entries whose children chain as sibling trees, the namespace the
    * path-qualified reader walks.
    */
  def cfb(streamsIn: Seq[(String, Array[Byte])]): Array[Byte] = {
    val ss = 512
    val nameMax = 31
    require(streamsIn.forall(_._1.split("/").forall(_.length <= nameMax)),
      "stream name segment too long")

    // path trie → preorder slot assignment (root = slot 0)
    final class Node(val name: String) {
      var data: Option[Array[Byte]] = None
      val children = scala.collection.mutable.LinkedHashMap[String, Node]()
    }
    val rootNode = new Node("")
    streamsIn.foreach { case (path, data) =>
      val parts = path.split("/")
      var cur = rootNode
      parts.dropRight(1).foreach { seg =>
        cur = cur.children.getOrElseUpdate(seg, new Node(seg))
      }
      val leaf = cur.children.getOrElseUpdate(parts.last, new Node(parts.last))
      require(leaf.data.isEmpty && leaf.children.isEmpty, s"duplicate path $path")
      leaf.data = Some(data)
    }
    val flat = scala.collection.mutable.ArrayBuffer[Node]()
    val parentOf = scala.collection.mutable.HashMap[Node, Node]()
    def dfs(n: Node): Unit = n.children.values.foreach { c =>
      parentOf(c) = n
      flat += c
      dfs(c)
    }
    dfs(rootNode)
    val slotOf: Map[Node, Int] = flat.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    def childSlot(n: Node): Long =
      n.children.values.headOption.map(slotOf(_).toLong).getOrElse(NoStream)
    def rightSlot(n: Node): Long = {
      val sibs = parentOf(n).children.values.toSeq
      val i = sibs.indexOf(n)
      if (i >= 0 && i + 1 < sibs.length) slotOf(sibs(i + 1)).toLong else NoStream
    }
    val streamNodes = flat.filter(_.data.isDefined).toSeq
    val small = streamNodes.map(n => (n, n.data.get))
      .filter(s => s._2.length > 0 && s._2.length < 4096)
    val large = streamNodes.map(n => (n, n.data.get)).filter(_._2.length >= 4096)

    // mini stream: each small stream padded to 64-byte mini sectors
    val miniChunks = small.map(s => (s._2.length + 63) / 64)
    val miniStarts = miniChunks.scanLeft(0)(_ + _)
    val totalMini = miniStarts.last
    val miniStream = new Array[Byte](totalMini * 64)
    small.zipWithIndex.foreach { case ((_, d), i) =>
      System.arraycopy(d, 0, miniStream, miniStarts(i) * 64, d.length)
    }
    val miniFat: Array[Long] = {
      val mf = Array.fill((totalMini + 127) / 128 * 128)(FreeSect)
      small.indices.foreach { i =>
        (miniStarts(i) until miniStarts(i) + miniChunks(i)).foreach { s =>
          mf(s) = if (s == miniStarts(i) + miniChunks(i) - 1) EndOfChain else s + 1L
        }
      }
      mf
    }

    // regular sector plan: [0]=FAT, then directory, miniFAT, mini
    // stream container, large streams
    val nEntries = 1 + flat.length
    val dirSectors = (nEntries * 128 + ss - 1) / ss
    val miniFatSectors = if (totalMini > 0) (miniFat.length * 4 + ss - 1) / ss else 0
    val miniStreamSectors = (miniStream.length + ss - 1) / ss
    val largeSectors = large.map(s => (s._2.length + ss - 1) / ss)
    val dirStart = 1L
    val miniFatStart = dirStart + dirSectors
    val miniStreamStart = miniFatStart + miniFatSectors
    val largeStarts = largeSectors.scanLeft(miniStreamStart + miniStreamSectors)(_ + _)
    val totalSectors = largeStarts.last
    require(totalSectors <= 128, "fixture exceeds one FAT sector")

    val fat = Array.fill(128)(FreeSect)
    fat(0) = FatSect
    def chainFill(start: Long, n: Int): Unit =
      (0 until n).foreach { i =>
        fat((start + i).toInt) = if (i == n - 1) EndOfChain else start + i + 1
      }
    chainFill(dirStart, dirSectors)
    if (miniFatSectors > 0) chainFill(miniFatStart, miniFatSectors)
    if (miniStreamSectors > 0) chainFill(miniStreamStart, miniStreamSectors)
    large.indices.foreach(i => chainFill(largeStarts(i), largeSectors(i)))

    // directory entries
    val dir = new Array[Byte](dirSectors * ss)
    java.util.Arrays.fill(dir, 0.toByte)
    def entry(idx: Int, name: String, typ: Int, start: Long, size: Long,
        child: Long, right: Long): Unit = {
      val off = idx * 128
      val nb = name.getBytes(UTF_16LE)
      System.arraycopy(nb, 0, dir, off, nb.length)
      putLe(dir, off + 64, nb.length + 2, 2)
      dir(off + 66) = typ.toByte
      dir(off + 67) = 1 // black
      putLe(dir, off + 68, NoStream, 4) // left (degenerate right-chain BSTs)
      putLe(dir, off + 72, right, 4)
      putLe(dir, off + 76, child, 4)
      putLe(dir, off + 116, start, 4)
      putLe(dir, off + 120, size, 4)
    }
    entry(0, "Root Entry", 5,
      if (miniStreamSectors > 0) miniStreamStart else EndOfChain,
      miniStream.length.toLong, childSlot(rootNode), NoStream)
    // stream data placement indexes, in the same flat (preorder) order
    // the small/large lists were built from
    val smallStart = small.map { case (n, _) => n }.zip(miniStarts.init).toMap
    val largeStart = large.map(_._1).zip(largeStarts.init).toMap
    flat.zipWithIndex.foreach { case (n, i) =>
      val slot = i + 1
      n.data match {
        case None => // storage
          entry(slot, n.name, 1, 0L, 0L, childSlot(n), rightSlot(n))
        case Some(data) =>
          val (start, sz) =
            if (data.isEmpty) (EndOfChain, 0L)
            else if (data.length < 4096) (smallStart(n).toLong, data.length.toLong)
            else (largeStart(n), data.length.toLong)
          entry(slot, n.name, 2, start, sz, NoStream, rightSlot(n))
      }
    }

    // header
    val out = new java.io.ByteArrayOutputStream()
    val header = new Array[Byte](512)
    Magic.zipWithIndex.foreach { case (m, i) => header(i) = m.toByte }
    putLe(header, 24, 0x003E, 2) // minor
    putLe(header, 26, 0x0003, 2) // major (v3)
    putLe(header, 28, 0xFFFE, 2) // byte order
    putLe(header, 30, 9, 2) // sector shift
    putLe(header, 32, 6, 2) // mini sector shift
    putLe(header, 44, 1L, 4) // one FAT sector
    putLe(header, 48, dirStart, 4)
    putLe(header, 56, 4096L, 4) // mini cutoff
    putLe(header, 60, if (miniFatSectors > 0) miniFatStart else EndOfChain, 4)
    putLe(header, 64, miniFatSectors.toLong, 4)
    putLe(header, 68, EndOfChain, 4) // no DIFAT chain
    putLe(header, 72, 0L, 4)
    putLe(header, 76, 0L, 4) // DIFAT[0] = FAT sector 0
    (1 until 109).foreach(i => putLe(header, 76 + i * 4, FreeSect, 4))
    out.write(header)
    // sector 0: FAT
    val fatBytes = new Array[Byte](ss)
    fat.zipWithIndex.foreach { case (v, i) => putLe(fatBytes, i * 4, v, 4) }
    out.write(fatBytes)
    // directory
    out.write(dir)
    // miniFAT
    if (miniFatSectors > 0) {
      val mfb = new Array[Byte](miniFatSectors * ss)
      miniFat.zipWithIndex.foreach { case (v, i) => putLe(mfb, i * 4, v, 4) }
      out.write(mfb)
    }
    // mini stream (padded to sectors)
    if (miniStreamSectors > 0) {
      out.write(miniStream)
      out.write(new Array[Byte](miniStreamSectors * ss - miniStream.length))
    }
    // large streams
    large.foreach { case (_, d) =>
      out.write(d)
      val pad = (d.length + ss - 1) / ss * ss - d.length
      out.write(new Array[Byte](pad))
    }
    out.toByteArray
  }

  /** A real ENCRYPTED-OOXML shell: a parseable CFB holding
    * `EncryptionInfo` + `EncryptedPackage` streams (opaque bytes) —
    * what the triage must classify as `encrypted` WITHOUT attempting a
    * decrypt.
    */
  def encryptedOoxmlFixture(seed: Long): Array[Byte] = {
    var s = seed * 6364136223846793005L + 1442695040888963407L
    def junk(n: Int): Array[Byte] = Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) & 0xFF).toByte
    }
    cfb(Seq(("EncryptionInfo", junk(64)), ("EncryptedPackage", junk(128))))
  }
}
