package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.DataFrame

/** Zip-shard ingest — the OTHER container sharded datasets ship in
  * (Kaggle-style bundles, model checkpoints, scraped-site exports):
  * a STREAM-ORDER walk over local file headers, deliberately ignoring
  * the central directory, because a 100 TB reader sees each shard as
  * one sequential blob — seeking to the end first is the layout's
  * convenience, not the data path's. Same untrusted-input contract as
  * the rest of the family ([[TarShard]]/[[DumpDecode]]):
  *
  *   - methods 0 (stored) and 8 (deflate, raw), CRC32-VERIFIED either
  *     from the header or, for flag-bit-3 entries, from the trailing
  *     data descriptor (whose sizes are only knowable after the
  *     inflate — the streaming-zip corner tar never has);
  *   - a STORED entry with bit 3 set is undecodable in stream order
  *     (no length anywhere before the data) — the walk stops there,
  *     visibly, rather than guessing at boundaries;
  *   - torn/corrupt entries keep the completed prefix; per-entry and
  *     aggregate inflate budgets bound bombs (deflate amplifies
  *     ~1000:1); the walk ends CLEANLY at the central directory.
  *
  * Sample grouping reuses [[TarShard.samples]]' consecutive-stem law —
  * the container is invisible to the WebDataset layer. Map-only over
  * (media_id, payload) rows. Reference scope: the reference ingests
  * line JSON only (`App.java:136-162`); shard ingest is north-star
  * surface.
  */
object ZipShard {

  /** One zip member. Directories carry a trailing `/` name and empty
    * data (the zip convention).
    */
  final case class ZipEntry(name: String, method: Int, usize: Long, data: Array[Byte])

  import Bytes.{le16, le32, le64, leBytes}

  /** 4- or 8-byte LE read — the descriptor fields' width depends on
    * whether the entry declared zip64.
    */
  private def leN(b: Array[Byte], o: Int, wide: Boolean): Long =
    if (wide) le64(b, o) else le32(b, o)

  private val LocalSig = 0x04034b50L
  private val CentralSig = 0x02014b50L
  private val EndSig = 0x06054b50L
  private val DescSig = 0x08074b50L

  /** Walk one shard's members in stream order (completed-prefix on
    * torn input; clean stop at the central directory).
    */
  def entries(bytes: Array[Byte],
      maxEntries: Int = 65536,
      maxOutPerEntry: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[ZipEntry] = {
    if (bytes == null) return Seq.empty
    val out = Vector.newBuilder[ZipEntry]
    var off = 0
    var n = 0
    var total = 0L
    var done = false
    while (!done && off + 4 <= bytes.length && n < maxEntries) {
      val sig = le32(bytes, off)
      if (sig == CentralSig || sig == EndSig) done = true // clean end of the local stream
      else if (sig != LocalSig || off + 30 > bytes.length) done = true // junk/torn header
      else {
        val flags = le16(bytes, off + 6)
        val method = le16(bytes, off + 8)
        val hasDesc = (flags & 0x08) != 0
        val crc = le32(bytes, off + 14)
        var csize = le32(bytes, off + 18)
        var usize = le32(bytes, off + 22)
        val nameLen = le16(bytes, off + 26)
        val extraLen = le16(bytes, off + 28)
        val dataAt = off + 30 + nameLen + extraLen
        if (dataAt > bytes.length) done = true // torn before data
        else {
          val name = new String(bytes, off + 30, nameLen, java.nio.charset.StandardCharsets.UTF_8)
          // zip64 (APPNOTE 4.5.3): the 0x0001 extended-information
          // extra field carries 8-byte sizes when the 4-byte fields are
          // saturated (0xFFFFFFFF) — without this, a >4 GiB member
          // (model checkpoints routinely are) stops the walk. Its mere
          // PRESENCE also widens a flag-bit-3 entry's data descriptor
          // to 8-byte fields.
          var isZip64 = false
          var ep = off + 30 + nameLen
          val extraEnd = ep + extraLen
          while (ep + 4 <= extraEnd) {
            val fid = le16(bytes, ep)
            val fsz = le16(bytes, ep + 2)
            if (fid == 0x0001 && ep + 4 + fsz <= extraEnd) {
              isZip64 = true
              var q = ep + 4
              val fEnd = ep + 4 + fsz
              if (usize == 0xFFFFFFFFL && q + 8 <= fEnd) { usize = le64(bytes, q); q += 8 }
              if (csize == 0xFFFFFFFFL && q + 8 <= fEnd) { csize = le64(bytes, q); q += 8 }
            }
            ep += 4 + fsz
          }
          if (csize < 0 || usize < 0) { // a 2^63 "size" is a bomb claim
            done = true
          } else
          method match {
            case 0 if !hasDesc => // stored, sized up front
              if (csize != usize || dataAt + csize > bytes.length ||
                csize > maxOutPerEntry || total + csize > maxOutTotal) done = true
              else {
                val data = java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + csize.toInt)
                val c = new CRC32(); c.update(data)
                if (c.getValue != crc) done = true // corrupt: stop, keep prefix
                else {
                  out += ZipEntry(name, 0, usize, data); total += csize; n += 1
                  off = dataAt + csize.toInt
                }
              }
            case 0 => done = true // stored + descriptor: boundary unknowable in stream order
            case 8 => // deflate (raw); descriptor entries learn sizes from the inflate
              val inflated = Bytes.inflate(bytes, dataAt, bytes.length - dataAt, raw = true,
                math.min(maxOutPerEntry.toLong, maxOutTotal - total))
              if (inflated == null) done = true // torn, corrupt or over budget
              else {
                val (data, consumed) = inflated
                val c = new CRC32(); c.update(data)
                var next = dataAt + consumed
                var expectCrc = crc
                var expectUsize = usize
                if (hasDesc) {
                  // descriptor: OPTIONAL PK\x07\x08 sig, crc32, csize,
                  // usize (8-byte fields when the entry declared zip64).
                  // The sig is ambiguous — an entry whose real
                  // CRC32 equals the sig value looks identical — so
                  // both layouts are validated against the one fact the
                  // inflate established (csize == bytes consumed) and
                  // the consistent one wins (sig-ful preferred: it is
                  // what every mainstream writer emits).
                  val w = if (isZip64) 8 else 4
                  def descAt(p: Int): Boolean =
                    p + 4 + 2 * w <= bytes.length && leN(bytes, p + 4, isZip64) == consumed
                  if (next + 4 <= bytes.length && le32(bytes, next) == DescSig &&
                    descAt(next + 4)) next += 4
                  if (!descAt(next)) done = true // neither layout consistent: torn
                  else {
                    expectCrc = le32(bytes, next)
                    expectUsize = leN(bytes, next + 4 + w, isZip64)
                    next += 4 + 2 * w
                  }
                } else if (csize != consumed) done = true // header lied about the body
                if (!done) {
                  if (c.getValue != expectCrc || expectUsize != data.length.toLong) done = true
                  else {
                    out += ZipEntry(name, 8, data.length.toLong, data)
                    total += data.length; n += 1
                    off = next
                  }
                }
              }
            case _ => done = true // unsupported method: stop, keep prefix
          }
        }
      }
    }
    out.result()
  }

  /** The WebDataset view of a zip shard: [[TarShard.samples]]' law
    * over the stream-order members (directories break runs exactly
    * like tar's type-5 entries).
    */
  def samples(es: Seq[ZipEntry]): Seq[TarShard.TarSample] =
    TarShard.samples(es.map(e =>
      TarShard.TarEntry(e.name, if (e.name.endsWith("/")) "5" else "0", e.usize, e.data)))

  /** Member inventory per shard row: (media_id, entry_idx, name,
    * method, size). Map-only.
    */
  def entryRows(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        entries(p).zipWithIndex.map { case (e, i) => (id, i, e.name, e.method, e.usize) }
      }
      .toDF(idCol, "entry_idx", "name", "method", "size")
  }

  /** WebDataset sample parts per shard row — [[TarShard.sampleRows]]'
    * exact shape, so the container is provably invisible downstream.
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

  /** Minimal zip writer: stored (`deflate = false`) or raw-deflate
    * members, optional data-descriptor layout, then a central
    * directory + end record so real readers accept the bytes.
    * `zip64 = true` writes every member in the zip64 LAYOUT —
    * saturated 4-byte size fields, the 0x0001 extended-information
    * extra field, 8-byte descriptor fields — which is structurally
    * what a >4 GiB member looks like, without needing 4 GiB of
    * fixture. Deterministic (zeroed times).
    */
  def zip(members: Seq[(String, Array[Byte])], deflate: Boolean = true,
      descriptor: Boolean = false, zip64: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w16(v: Int): Unit = out.write(leBytes(v, 2))
    def w32(v: Long): Unit = out.write(leBytes(v, 4))
    val central = new ByteArrayOutputStream()
    def c16(v: Int): Unit = central.write(leBytes(v, 2))
    def c32(v: Long): Unit = central.write(leBytes(v, 4))
    for ((name, data) <- members) {
      val hdrOff = out.size()
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val crc = { val c = new CRC32(); c.update(data); c.getValue }
      val method = if (deflate) 8 else 0
      val body: Array[Byte] =
        if (!deflate) data
        else {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data); d.finish()
          val bo = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
          d.end()
          bo.toByteArray
        }
      val flags = if (descriptor && deflate) 0x08 else 0
      def w64(v: Long): Unit = out.write(leBytes(v, 8))
      // zip64 extra field: usize then csize, 8 bytes each (zeros under
      // a descriptor — the trailing descriptor carries the real ones)
      val extra = new ByteArrayOutputStream()
      if (zip64) {
        extra.write(0x01); extra.write(0x00); extra.write(16); extra.write(0)
        extra.write(leBytes(if (flags != 0) 0L else data.length.toLong, 8))
        extra.write(leBytes(if (flags != 0) 0L else body.length.toLong, 8))
      }
      val eb = extra.toByteArray
      w32(LocalSig); w16(if (zip64) 45 else 20); w16(flags); w16(method); w16(0); w16(0)
      if (flags != 0) { w32(0); w32(if (zip64) 0xFFFFFFFFL else 0); w32(if (zip64) 0xFFFFFFFFL else 0) }
      else if (zip64) { w32(crc); w32(0xFFFFFFFFL); w32(0xFFFFFFFFL) }
      else { w32(crc); w32(body.length.toLong); w32(data.length.toLong) }
      w16(nb.length); w16(eb.length)
      out.write(nb, 0, nb.length)
      out.write(eb, 0, eb.length)
      out.write(body, 0, body.length)
      if (flags != 0) {
        w32(DescSig); w32(crc)
        if (zip64) { w64(body.length.toLong); w64(data.length.toLong) }
        else { w32(body.length.toLong); w32(data.length.toLong) }
      }
      // central directory copy
      c32(CentralSig); c16(20); c16(20); c16(flags); c16(method); c16(0); c16(0)
      c32(crc); c32(body.length.toLong); c32(data.length.toLong)
      c16(nb.length); c16(0); c16(0); c16(0); c16(0); c32(0); c32(hdrOff.toLong)
      central.write(nb, 0, nb.length)
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd, 0, cd.length)
    w32(EndSig); w16(0); w16(0); w16(members.length); w16(members.length)
    w32(cd.length.toLong); w32(cdOff.toLong); w16(0)
    out.toByteArray
  }
}
