package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

/** WebDataset-style tar-shard ingest — the container format sharded
  * multimodal training sets actually ship in: a plain POSIX tar whose
  * consecutive same-stem files form one SAMPLE (`000017.jpg` +
  * `000017.txt` + `000017.json` = one image/caption/metadata record),
  * so a shard streams sequentially with zero seeks and a reader can
  * process samples as they arrive. The parser is hand-rolled and
  * LENIENT under the family's untrusted-input contract
  * ([[Warc]]/[[DumpDecode]]):
  *
  *   - 512-byte ustar headers with checksum VERIFICATION (the octal
  *     `chksum` field re-computed with its own bytes as spaces — a
  *     blob that drifts off 512-alignment stops the walk instead of
  *     yielding garbage entries);
  *   - GNU `L` long-name entries and PAX `x` extended headers (the
  *     `path=` record) applied to the FOLLOWING entry, GNU base-256
  *     sizes for >8 GiB members, the ustar `prefix` field joined with
  *     `/`;
  *   - torn headers or data running past the payload end keep the
  *     completed-entry prefix, never a throw mid-partition; entry and
  *     aggregate-byte budgets bound a hostile header claiming absurd
  *     sizes.
  *
  * Sample grouping is CONSECUTIVE-run by WebDataset convention (key =
  * path up to the first dot of the basename; extension = everything
  * after that first dot, lower-cased) — grouping happens inside the
  * per-blob walk, so the reader stays map-only: no shuffle exists at
  * 100 TB because a sample never spans shards. Reference scope: the
  * reference engine reads line JSON only (`App.java:136-162`);
  * shard ingest is north-star surface for the multimodal corpus path.
  */
object TarShard {

  /** One archive member. `data` is empty for directories. */
  final case class TarEntry(name: String, typeflag: String, size: Long, data: Array[Byte])

  /** One WebDataset sample: the shared stem and its (extension, bytes)
    * parts in archive order.
    */
  final case class TarSample(key: String, parts: Seq[(String, Array[Byte])])

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = off
    val end = off + 512
    while (i < end) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** NUL-terminated field decode (UTF-8 — PAX archives are UTF-8 and
    * ASCII ustar decodes identically).
    */
  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val max = off + len
    while (end < max && b(end) != 0) end += 1
    new String(b, off, end - off, StandardCharsets.UTF_8)
  }

  /** Octal numeric field (leading spaces/NULs tolerated) or GNU
    * base-256 when the first byte has the high bit set. -1 on junk.
    */
  private def num(b: Array[Byte], off: Int, len: Int): Long = {
    if ((b(off) & 0x80) != 0) { // GNU base-256, big-endian
      var v = (b(off) & 0x7F).toLong
      var i = off + 1
      while (i < off + len) {
        if (v > (Long.MaxValue >> 8)) return -1L // would overflow
        v = (v << 8) | (b(i) & 0xFF); i += 1
      }
      return v
    }
    var i = off
    val end = off + len
    var v = 0L
    var seen = false
    while (i < end && (b(i) == ' ' || b(i) == 0) && !seen) i += 1
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); seen = true; i += 1
    }
    if (!seen) -1L else v
  }

  /** Header checksum: unsigned byte sum with the chksum field (148-155)
    * read as spaces.
    */
  private def checksum(b: Array[Byte], off: Int): Long = {
    var s = 0L
    var i = 0
    while (i < 512) {
      s += (if (i >= 148 && i < 156) 0x20 else b(off + i) & 0xFF)
      i += 1
    }
    s
  }

  /** PAX extended-header records: `"%d %s=%s\n" % (len, key, value)`
    * where len counts the WHOLE record including itself. Returns the
    * `path` override if present and well-formed.
    */
  private def paxPath(data: Array[Byte]): Option[String] = {
    var off = 0
    var path: Option[String] = None
    while (off < data.length) {
      var p = off
      var len = 0
      var seen = false
      while (p < data.length && data(p) >= '0' && data(p) <= '9') {
        len = len * 10 + (data(p) - '0'); seen = true; p += 1
      }
      if (!seen || p >= data.length || data(p) != ' ' || len <= 0 ||
        off + len > data.length || data(off + len - 1) != '\n') return path
      val rec = new String(data, p + 1, off + len - (p + 1) - 1, StandardCharsets.UTF_8)
      val eq = rec.indexOf('=')
      if (eq > 0 && rec.substring(0, eq) == "path") path = Some(rec.substring(eq + 1))
      off += len
    }
    path
  }

  /** Walk one shard's members (completed-prefix on torn input). */
  def entries(bytes: Array[Byte],
      maxEntries: Int = 65536,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[TarEntry] = {
    if (bytes == null) return Seq.empty
    val out = Vector.newBuilder[TarEntry]
    var off = 0
    var n = 0
    var total = 0L
    var pendingName: String = null // GNU 'L' / PAX path= for the NEXT entry
    var done = false
    while (!done && off + 512 <= bytes.length && n < maxEntries) {
      if (isZeroBlock(bytes, off)) done = true // end-of-archive marker
      else {
        val declared = num(bytes, off + 148, 8)
        if (declared < 0 || declared != checksum(bytes, off)) done = true // torn/garbage header
        else {
          val size = num(bytes, off + 124, 12)
          val dataBlocks = if (size < 0) -1L else (size + 511) / 512
          if (size < 0 || total + size > maxOutTotal ||
            off + 512 + dataBlocks * 512 > bytes.length) done = true // torn data / bomb
          else {
            val tf0 = bytes(off + 156).toChar
            val typeflag = (if (tf0 == 0) '0' else tf0).toString
            val magic = str(bytes, off + 257, 6)
            val prefix =
              if (magic == "ustar") str(bytes, off + 345, 155) else ""
            val base = str(bytes, off, 100)
            val name =
              if (pendingName != null) pendingName
              else if (prefix.nonEmpty) prefix + "/" + base
              else base
            val data =
              if (size == 0) Array.emptyByteArray
              else java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size.toInt)
            typeflag match {
              case "L" => // GNU long name: data names the next entry
                pendingName = {
                  var end = data.length
                  while (end > 0 && data(end - 1) == 0) end -= 1
                  new String(data, 0, end, StandardCharsets.UTF_8)
                }
              case "x" => // PAX extended header for the next entry
                paxPath(data).foreach(pendingName = _)
              case "g" => // PAX global header: metadata, not a member
                ()
              case _ =>
                pendingName = null
                out += TarEntry(name, typeflag, size, data)
                total += size
                n += 1
            }
            off += 512 + (dataBlocks * 512).toInt
          }
        }
      }
    }
    out.result()
  }

  /** Group a shard's regular files into WebDataset samples:
    * CONSECUTIVE runs sharing a stem (path up to the basename's first
    * dot). Dot-less files have no extension and break the run without
    * joining a sample; directories and special types never
    * participate.
    */
  def samples(es: Seq[TarEntry]): Seq[TarSample] = {
    val out = Vector.newBuilder[TarSample]
    var key: String = null
    var parts = Vector.newBuilder[(String, Array[Byte])]
    def flush(): Unit = {
      if (key != null) { out += TarSample(key, parts.result()); parts = Vector.newBuilder }
      key = null
    }
    for (e <- es) {
      if (e.typeflag != "0") { if (e.typeflag == "5") flush() } // dirs break runs
      else {
        val slash = e.name.lastIndexOf('/')
        val dot = e.name.indexOf('.', slash + 1)
        if (dot < 0) flush() // extension-less file: not part of any sample
        else {
          val stem = e.name.substring(0, dot)
          val ext = e.name.substring(dot + 1).toLowerCase(java.util.Locale.ROOT)
          if (stem != key) { flush(); key = stem }
          parts += ((ext, e.data))
        }
      }
    }
    flush()
    out.result()
  }

  /** Member inventory per shard row: (media_id, entry_idx, name,
    * typeflag, size). Map-only.
    */
  def entryRows(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        entries(p).zipWithIndex.map { case (e, i) => (id, i, e.name, e.typeflag, e.size) }
      }
      .toDF(idCol, "entry_idx", "name", "typeflag", "size")
  }

  /** WebDataset sample parts per shard row: (media_id, sample_idx,
    * sample_key, ext, data), sample_idx in archive order. Map-only —
    * the group-by-stem happened inside the walk.
    */
  def sampleRows(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        samples(entries(p)).zipWithIndex.flatMap { case (s, i) =>
          s.parts.map { case (ext, data) => (id, i, s.key, ext, data) }
        }
      }
      .toDF(idCol, "sample_idx", "sample_key", "ext", "data")
  }

  // ---- fixture writer (tests + gates only) ----

  /** Minimal ustar writer: (name, typeflag, data) members, GNU `L`
    * long-name entries for >100-char names, two zero end blocks.
    * Deterministic (fixed mtime/uid/gid/mode) so gates hash stably.
    */
  def tar(members: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def block(data: Array[Byte]): Unit = {
      out.write(data, 0, data.length)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad), 0, pad)
    }
    def header(name: String, typeflag: String, size: Long): Unit = {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name.take(100))
      put(100, "0000644")
      put(108, "0000000")
      put(116, "0000000")
      put(124, f"${size}%011o")
      put(136, "00000000000")
      h(156) = typeflag.charAt(0).toByte
      put(257, "ustar")
      put(263, "00")
      val sum = checksum(h, 0)
      put(148, f"${sum}%06o")
      h(154) = 0; h(155) = ' '
      out.write(h, 0, 512)
    }
    for ((name, typeflag, data) <- members) {
      if (name.length > 100) {
        val nb = (name + "\u0000").getBytes(StandardCharsets.UTF_8)
        header("././@LongLink", "L", nb.length.toLong)
        block(nb)
      }
      header(name, typeflag, data.length.toLong)
      if (data.nonEmpty) block(data)
    }
    out.write(new Array[Byte](1024), 0, 1024)
    out.toByteArray
  }
}
