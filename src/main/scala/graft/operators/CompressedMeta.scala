package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compressed-container METADATA — the measurement pass BEFORE any
  * inflate commits CPU, completing the inventory layer
  * ([[AudioMeta]]/[[ContainerMeta]]) for the two formats web corpora
  * actually ship compressed in: gzip (RFC 1952 — every WARC/WET
  * member) and zstd (RFC 8878 — the format crawl archives are moving
  * to). Both walks are header/structure arithmetic only: gzip reads
  * the member header (method, mtime, OS, FNAME) and the single-member
  * trailer (ISIZE — the decompressed size a scheduler bins by); zstd
  * frames are FULLY walkable without entropy decode because every
  * block header carries its compressed size, so frame count, declared
  * content sizes, window requirements (the decoder's memory bound!),
  * dictionary ids and checksum presence all read in O(blocks).
  *
  * Untrusted-input contract as everywhere: torn payloads keep the
  * completed-frame prefix, junk degrades to a null/zero row, never a
  * throw mid-partition. Map-only over (media_id, payload) rows.
  */
object CompressedMeta {

  import Bytes.{le16, le24, le32, le64, leBytes}

  /** One gzip member's inventory (RFC 1952). `isize` is the trailer's
    * decompressed-size-mod-2^32 under the SINGLE-member contract (the
    * web norm — Content-Encoding: gzip is one member); multi-member
    * files report the LAST member's trailer, which is all the trailer
    * can say without inflating. `fname` null unless FNAME present.
    *
    * `isize` is UNVERIFIED header arithmetic: the trailer position is
    * only knowable for sure by inflating (RFC 1952 has no compressed-
    * length field), so this walk reads the last 4 bytes AS the
    * trailer. A payload torn mid-deflate-body therefore reports
    * whatever bytes sit at its end as `isize` — a scheduler binning
    * by it on untrusted input must treat it as a HINT, and anything
    * that needs the verified size uses [[gunzipMembers]], whose
    * CRC32+ISIZE check is authoritative.
    */
  final case class GzipInventory(
      media_id: Long,
      is_gzip: Boolean,
      method: Int,
      mtime: Long,
      os: Int,
      fname: String,
      header_len: Int,
      isize: Long)

  /** The member-header walk at an OFFSET (shared by [[gzipInventory]]
    * and the [[gunzipMembers]] loop without copying tails):
    * (fname, header length RELATIVE to `off`) — header length 0 when
    * the header is torn before completing.
    */
  private def gzipHeaderAt(bytes: Array[Byte], off: Int): (String, Int) = {
    val flg = bytes(off + 3) & 0xFF
    var p = off + 10
    var fname: String = null
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > bytes.length) return (null, 0)
      val xlen = le16(bytes, p); p += 2 + xlen
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated latin-1
      val s = p
      while (p < bytes.length && bytes(p) != 0) p += 1
      if (p >= bytes.length) return (null, 0)
      fname = new String(bytes, s, p - s, java.nio.charset.StandardCharsets.ISO_8859_1)
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (p < bytes.length && bytes(p) != 0) p += 1
      p += 1
    }
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (p > bytes.length) (fname, 0) else (fname, p - off)
  }

  def gzipInventory(id: Long, bytes: Array[Byte]): GzipInventory = try {
    if (bytes == null || bytes.length < 10 ||
      (bytes(0) & 0xFF) != 0x1F || (bytes(1) & 0xFF) != 0x8B)
      return GzipInventory(id, false, 0, 0L, 0, null, 0, 0L)
    val method = bytes(2) & 0xFF
    val mtime = le32(bytes, 4)
    val os = bytes(9) & 0xFF
    val (fname, headerLen) = gzipHeaderAt(bytes, 0)
    // trailer: CRC32 + ISIZE — only readable when the member is whole
    val isize =
      if (headerLen > 0 && bytes.length >= headerLen + 8) le32(bytes, bytes.length - 4)
      else 0L
    GzipInventory(id, true, method, mtime, os,
      if (headerLen == 0) null else fname, headerLen, isize)
  } catch {
    case _: Exception => GzipInventory(id, false, 0, 0L, 0, null, 0, 0L)
  }

  /** One zstd payload's inventory (RFC 8878): every COMPLETE frame's
    * declared content size (FCS) sums into `content_size`, the window
    * requirement (the decoder's memory bound — single-segment frames
    * require exactly their content size) maxes into `window_size`,
    * the first non-zero dictionary id and any checksum flag surface,
    * and skippable frames count separately. A frame torn mid-block
    * contributes NOTHING (completed-prefix contract).
    */
  final case class ZstdInventory(
      media_id: Long,
      n_frames: Long,
      n_skippable: Long,
      n_blocks: Long,
      content_size: Long,
      window_size: Long,
      dict_id: Long,
      has_checksum: Boolean)

  def zstdInventory(id: Long, bytes: Array[Byte]): ZstdInventory = try {
    var frames = 0L; var skippable = 0L; var blocks = 0L
    var csize = 0L; var wmax = 0L; var dict = 0L; var hasCk = false
    var i = 0
    var stop = bytes == null
    while (!stop && i + 4 <= bytes.length) {
      val magic = le32(bytes, i)
      if (magic == 0xFD2FB528L) {
        var p = i + 4
        var torn = false
        def need(n: Int): Boolean = { torn ||= p + n > bytes.length; !torn }
        var fBlocks = 0L
        var fcs = 0L; var window = 0L; var fDict = 0L; var fCk = false
        if (need(1)) {
          val fhd = bytes(p) & 0xFF; p += 1
          val single = (fhd & 0x20) != 0
          fCk = (fhd & 0x04) != 0
          val dictLen = Array(0, 1, 2, 4)((fhd & 3))
          val fcsLen = (fhd >>> 6) match {
            case 0 => if (single) 1 else 0
            case 1 => 2
            case 2 => 4
            case _ => 8
          }
          if (!single && need(1)) {
            val wd = bytes(p) & 0xFF; p += 1
            val base = 1L << (10 + (wd >>> 3))
            window = base + base / 8 * (wd & 7)
          }
          if (dictLen > 0 && need(dictLen)) {
            fDict = dictLen match {
              case 1 => (bytes(p) & 0xFFL)
              case 2 => le16(bytes, p).toLong
              case _ => le32(bytes, p)
            }
            p += dictLen
          }
          if (fcsLen > 0 && need(fcsLen)) {
            fcs = fcsLen match {
              case 1 => bytes(p) & 0xFFL
              case 2 => le16(bytes, p) + 256L // the 2-byte field stores FCS − 256
              case 4 => le32(bytes, p)
              case _ => le64(bytes, p)
            }
            p += fcsLen
          }
          if (single) window = fcs
          // block walk: every header carries the compressed extent, so
          // the frame skips WITHOUT entropy decode
          var last = false
          while (!torn && !last) {
            if (need(3)) {
              val hdr = le24(bytes, p); p += 3
              last = (hdr & 1) == 1
              val btype = (hdr >>> 1) & 3
              val bsize = hdr >>> 3
              if (btype == 3) torn = true // reserved type: malformed
              else {
                val extent = if (btype == 1) 1 else bsize // RLE stores ONE byte
                if (need(extent)) { p += extent; fBlocks += 1 }
              }
            }
          }
          if (fCk && !torn) { if (need(4)) p += 4 }
        }
        if (torn) stop = true // completed-prefix contract: drop this frame
        else {
          frames += 1; blocks += fBlocks; csize += fcs
          wmax = math.max(wmax, window)
          if (dict == 0L) dict = fDict
          hasCk ||= fCk
          i = p
        }
      } else if ((magic & 0xFFFFFFF0L) == 0x184D2A50L) {
        if (i + 8 > bytes.length) stop = true
        else {
          val sz = le32(bytes, i + 4)
          if (i + 8 + sz > bytes.length) stop = true
          else { skippable += 1; i += 8 + sz.toInt }
        }
      } else stop = true
    }
    ZstdInventory(id, frames, skippable, blocks, csize, wmax, dict, hasCk)
  } catch {
    case _: Exception => ZstdInventory(id, 0L, 0L, 0L, 0L, 0L, 0L, false)
  }

  /** Split a CONCATENATED-members gzip payload into its per-member
    * decompressed outputs — the `.warc.gz` reading path: Common Crawl
    * gzips ONE member PER RECORD so readers can seek, and a whole-file
    * gunzip (GZIPInputStream transparently concatenates) loses exactly
    * those boundaries. Each member: header walk ([[gzipInventory]]'s
    * arithmetic) → raw-Inflater inflate (the member's compressed
    * extent is only knowable BY inflating — RFC 1952 has no length
    * field) → CRC32 + ISIZE trailer VERIFIED (a corrupt member and
    * everything after it drops — the completed-prefix contract).
    * `maxOutPerMember` caps expansion (a gzip bomb must not park an
    * executor — the crawl-delay-cap discipline for untrusted input),
    * and `maxOutTotal` caps the WHOLE walk: deflate tops out near
    * ~1000× expansion PER member, so a payload of many small maximal
    * members would otherwise accumulate unbounded output in this
    * one-task buffer even with every member individually under cap.
    * Hitting either cap stops the walk and keeps the members completed
    * BEFORE it — the same completed-prefix contract as corruption.
    */
  def gunzipMembers(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[Array[Byte]] =
    walkGzipMembers(bytes, maxOutPerMember, maxOutTotal)._1

  /** STRICT whole-payload gunzip — the `Content-Encoding: gzip` body
    * decoder: every member must verify (CRC32 + ISIZE) AND the walk
    * must consume the payload EXACTLY to its last byte, else null.
    * [[gunzipMembers]]' completed-prefix leniency is right for a
    * container of independent records; an HTTP body is ONE message —
    * a truncated or trailing-junk decode would hand downstream dedup
    * digests and tokenizers silently-partial text, so the contract
    * here is all-or-NULL (the charset layer's honesty discipline).
    * Members concatenate (RFC 9110 permits multi-member gzip bodies).
    */
  def gunzipAll(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Array[Byte] = {
    if (bytes == null || bytes.length < 18) return null // header+trailer minimum
    val (members, end, clean) = walkGzipMembers(bytes, maxOutPerMember, maxOutTotal)
    allOrNullConcat(members, clean && end == bytes.length)
  }

  /** The combine tail every all-or-NULL whole-payload decoder shares
    * ([[gunzipAll]], [[ZstdDecode.zstdAll]], [[DumpDecode]]'s pair):
    * every member decoded cleanly AND the walk consumed the payload
    * exactly (`clean`), else null; members concatenate. One definition
    * so the family's contract cannot silently diverge per format.
    */
  private[operators] def allOrNullConcat(
      members: Seq[Array[Byte]], clean: Boolean): Array[Byte] =
    if (!clean || members.isEmpty) null
    else if (members.length == 1) members.head
    else {
      val out = new java.io.ByteArrayOutputStream()
      members.foreach(m => out.write(m, 0, m.length))
      out.toByteArray
    }

  /** The member walk both readers share: (verified members, offset the
    * walk ended at, clean) — `clean` is true iff the walk never hit
    * corruption, truncation, or a bomb cap (it may still end short of
    * the payload's last byte on trailing non-gzip bytes; callers that
    * need exact consumption check `end`).
    */
  private def walkGzipMembers(bytes: Array[Byte],
      maxOutPerMember: Int,
      maxOutTotal: Long): (Seq[Array[Byte]], Int, Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (bytes == null) return (out.toSeq, 0, true)
    var i = 0
    var total = 0L
    var stop = false
    while (!stop && i + 10 <= bytes.length) {
      val isGz = (bytes(i) & 0xFF) == 0x1F && (bytes(i + 1) & 0xFF) == 0x8B
      val headerLen = if (isGz) gzipHeaderAt(bytes, i)._2 else 0
      if (!isGz || headerLen == 0) stop = true
      else {
        val dataStart = i + headerLen
        val inflated = Bytes.inflate(bytes, dataStart, bytes.length - dataStart,
          raw = true, maxOutPerMember)
        if (inflated == null) stop = true // corrupt, truncated, or bomb cap
        else {
          val (data, consumed) = inflated
          val trailerAt = dataStart + consumed
          if (trailerAt + 8 > bytes.length) stop = true
          else {
            val crc = new java.util.zip.CRC32()
            crc.update(data)
            val okCrc = le32(bytes, trailerAt) == crc.getValue
            val okSize = le32(bytes, trailerAt + 4) == (data.length.toLong & 0xFFFFFFFFL)
            if (okCrc && okSize) {
              total += data.length
              if (total > maxOutTotal) stop = true // aggregate bomb cap
              else { out += data; i = trailerAt + 8 }
            } else stop = true // corrupt member: drop it and the rest
          }
        }
      }
    }
    (out.toSeq, i, !stop)
  }

  /** Batch walks: map-only, shuffle-free — the inventory-layer plan. */
  def gzipInventories(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => gzipInventory(b.media_id, b.payload)))
      .toDF()
  }

  def zstdInventories(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => zstdInventory(b.media_id, b.payload)))
      .toDF()
  }

  // --- synthetic fixtures --------------------------------------------------

  /** Wrap raw bytes as one minimal gzip member (header flags 0, raw
    * deflate, CRC32 + ISIZE trailer) — the `.warc.gz` fixtures'
    * per-record builder.
    */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1F); out.write(0x8B); out.write(8); out.write(0)
    out.write(leBytes(0L, 4), 0, 4)
    out.write(0); out.write(3)
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(data); defl.finish()
    val buf = new Array[Byte](data.length + 64)
    var done = false
    while (!done) {
      val n = defl.deflate(buf)
      if (n > 0) out.write(buf, 0, n)
      done = defl.finished()
    }
    defl.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    out.write(leBytes(crc.getValue, 4), 0, 4)
    out.write(leBytes(data.length.toLong, 4), 0, 4)
    out.toByteArray
  }

  /** Four-arm gzip fixture keyed on `seed % 4`:
    * 0 — FNAME member ("f<seed>.txt", mtime 1700000000+seed, OS 3,
    *     real deflate body, ISIZE = 20+seed%10);
    * 1 — anonymous member with FEXTRA and FHCRC (the skip arms),
    *     mtime 0, ISIZE = 40+seed%10;
    * 2 — arm 0 torn mid-FNAME (header fields survive, name/trailer
    *     degrade);
    * 3 — not gzip.
    */
  def syntheticGzip(seed: Long): Array[Byte] = {
    def member(flg: Int, mtime: Long, name: String, textLen: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x1F); out.write(0x8B); out.write(8); out.write(flg)
      out.write(leBytes(mtime, 4), 0, 4)
      out.write(0); out.write(3) // XFL, OS=unix
      if ((flg & 4) != 0) { out.write(leBytes(4L, 2), 0, 2); out.write(new Array[Byte](4), 0, 4) }
      if ((flg & 8) != 0) {
        out.write(name.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
          0, name.length)
        out.write(0)
      }
      if ((flg & 2) != 0) out.write(leBytes(0x1234L, 2), 0, 2)
      val text = (0 until textLen).map(k => ('a' + (seed + k) % 26).toChar)
        .mkString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      defl.setInput(text); defl.finish()
      val buf = new Array[Byte](textLen + 64)
      val n = defl.deflate(buf)
      defl.end()
      out.write(buf, 0, n)
      val crc = new java.util.zip.CRC32()
      crc.update(text)
      out.write(leBytes(crc.getValue, 4), 0, 4)
      out.write(leBytes(text.length.toLong, 4), 0, 4)
      out.toByteArray
    }
    (seed % 4).toInt match {
      case 0 => member(8, 1700000000L + seed, s"f$seed.txt", 20 + (seed % 10).toInt)
      case 1 => member(4 | 2, 0L, null, 40 + (seed % 10).toInt)
      case 2 =>
        val full = member(8, 1700000000L + seed, s"f$seed.txt", 20)
        java.util.Arrays.copyOf(full, 13) // cut mid-FNAME
      case _ => (0 until 24).map(k => ((seed + k) & 0x7D).toByte).toArray
    }
  }

  /** Four-arm zstd fixture keyed on `seed % 4`:
    * 0 — ONE single-segment frame (1-byte FCS = 100+seed%100, a raw
    *     block of exactly that size, content checksum);
    * 1 — frame A (windowed: descriptor 0x08 → 2 KiB, 1-byte dict id
    *     7+seed%5, 4-byte FCS = 1000+seed, one RLE block) + a
    *     skippable frame (8 bytes) + frame B (single-segment, FCS
    *     40+seed%10, raw block), no checksums;
    * 2 — arm 0 torn mid-block (a complete-frame walk yields nothing);
    * 3 — not zstd.
    */
  def syntheticZstd(seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def magic(): Unit = out.write(leBytes(0xFD2FB528L, 4), 0, 4)
    def rawFrame(content: Int, checksum: Boolean): Unit = {
      magic()
      out.write(0x20 | (if (checksum) 0x04 else 0)) // single-segment, FCS flag 0 → 1 byte
      out.write(content & 0xFF)
      out.write(leBytes(((content.toLong << 3) | 1L), 3), 0, 3) // last, raw, size
      for (k <- 0 until content) out.write(((seed + k) % 251).toInt)
      if (checksum) out.write(leBytes(0xCAFEBABEL, 4), 0, 4) // not verified by the walk
    }
    (seed % 4).toInt match {
      case 0 =>
        rawFrame(100 + (seed % 100).toInt, checksum = true)
      case 1 =>
        magic()
        out.write((2 << 6) | 1) // 4-byte FCS, windowed, 1-byte dict id
        out.write(0x08) // exponent 1 → 2048, mantissa 0
        out.write((7 + seed % 5).toInt)
        out.write(leBytes(1000L + seed, 4), 0, 4)
        val rleSize = 1000L + seed
        out.write(leBytes((rleSize << 3) | (1L << 1) | 1L, 3), 0, 3) // last, RLE
        out.write(0x42) // the one regenerated byte
        // skippable frame
        out.write(leBytes(0x184D2A53L, 4), 0, 4)
        out.write(leBytes(8L, 4), 0, 4)
        out.write(new Array[Byte](8), 0, 8)
        rawFrame(40 + (seed % 10).toInt, checksum = false)
      case 2 =>
        rawFrame(100 + (seed % 100).toInt, checksum = true)
        val full = out.toByteArray
        return java.util.Arrays.copyOf(full, full.length - 10)
      case _ =>
        for (k <- 0 until 24) out.write(((seed + k) & 0x7D).toInt)
    }
    out.toByteArray
  }
}
