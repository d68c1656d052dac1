package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
import org.tukaani.xz.{LZMA2Options, XZOutputStream}

/** bzip2 + xz member decode — the compression formats PUBLISHED data
  * dumps actually ship in, completing the ingest family next to gzip
  * ([[CompressedMeta]]) and zstd ([[ZstdDecode]]): Wikipedia's
  * `pages-articles-multistream.xml.bz2` is CONCATENATED byte-aligned
  * bzip2 streams (one per article batch, so readers can seek via the
  * companion offset index), and mirror tooling re-ships the same dumps
  * as `.xz`. Both formats are already on the public classpath
  * (Apache commons-compress + org.tukaani xz), so unlike zstd there is
  * nothing to hand-build — what THIS layer owns is the multistream
  * member walk, the bomb caps, and the untrusted-input contract the
  * rest of the ingest family guarantees:
  *
  *   - member-wise decode with completed-prefix semantics: a torn or
  *     corrupt stream drops ITSELF and everything after it, never a
  *     throw mid-partition and never silently-partial text;
  *   - per-member AND aggregate output budgets (a 10 KB bzip2 bomb
  *     inflates to ~4 GB — RLE + Huffman is a better amplifier than
  *     deflate), refusal is visible as a shortened member list;
  *   - member boundaries are recovered from the DECODER's exact
  *     consumption, not a signature scan: both formats end streams
  *     byte-aligned (bzip2 pads the final bit-stream byte; xz pads the
  *     footer to 4 bytes), so the byte after stream N's last consumed
  *     byte IS stream N+1's first — a magic-bytes scan would false-
  *     positive on compressed payload that happens to contain the
  *     signature at a byte boundary.
  *
  * Map-only over (media_id, payload) rows, like every reader in the
  * family. Reference scope: the reference engine ingests line JSON
  * only (`App.java:136-162`); dump-compression ingest is north-star
  * surface for the 100 TB corpus path.
  */
object DumpDecode {

  /** bzip2 stream header: "BZh" + block-size digit '1'..'9'. */
  private def bz2HeaderAt(bytes: Array[Byte], off: Int): Boolean =
    off + 4 <= bytes.length &&
      bytes(off) == 'B' && bytes(off + 1) == 'Z' && bytes(off + 2) == 'h' &&
      bytes(off + 3) >= '1' && bytes(off + 3) <= '9'

  /** xz stream header magic (6 bytes): FD '7zXZ' 00. */
  private val XzMagic = Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0)

  private def xzHeaderAt(bytes: Array[Byte], off: Int): Boolean =
    off + 6 <= bytes.length && (0 until 6).forall(i => bytes(off + i) == XzMagic(i))

  /** The shared member walk ([[CompressedMeta]]'s `walkGzipMembers`
    * shape): (cleanly-decoded members, offset the walk ended at,
    * clean). `clean` is true iff the walk never hit corruption,
    * truncation, or a bomb cap — it may still end short of the
    * payload's last byte on trailing non-stream bytes; callers that
    * need exact consumption check `end`. `headerAt` gates each
    * candidate offset, `open` builds the decompressor over the
    * remaining bytes; the next offset is recovered from the wrapped
    * stream's exact consumption (`in.available()` delta — both
    * decoders pull from the underlying stream without read-ahead past
    * their own framing).
    */
  /** Drain one decompressor under an output cap: the decoded bytes, or
    * null when the cap is hit (the shared read discipline of
    * [[walkMembers]] and [[bz2MemberAt]]). Throws what the decoder
    * throws — callers own the torn/corrupt policy.
    */
  private def drain(dec: java.io.InputStream, cap: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 << 10)
    var n = dec.read(buf)
    while (n >= 0) {
      if (out.size.toLong + n > cap) return null
      out.write(buf, 0, n)
      n = dec.read(buf)
    }
    out.toByteArray
  }

  private def walkMembers(
      bytes: Array[Byte],
      maxOutPerMember: Int,
      maxOutTotal: Long,
      headerAt: (Array[Byte], Int) => Boolean,
      open: ByteArrayInputStream => java.io.InputStream): (Seq[Array[Byte]], Int, Boolean) = {
    if (bytes == null) return (Seq.empty, 0, true)
    val members = Vector.newBuilder[Array[Byte]]
    var off = 0
    var total = 0L
    var clean = true
    var done = false
    while (!done && headerAt(bytes, off)) {
      val in = new ByteArrayInputStream(bytes, off, bytes.length - off)
      val before = in.available()
      try {
        val m = drain(open(in), math.min(maxOutPerMember.toLong, maxOutTotal - total))
        if (m == null) { clean = false; done = true } // budget refusal: keep prefix
        else {
          members += m
          total += m.length
          val consumed = before - in.available()
          if (consumed <= 0) { clean = false; done = true } // defensive: no progress
          else off += consumed
        }
      } catch { case _: Exception => clean = false; done = true } // torn/corrupt
    }
    (members.result(), off, clean)
  }

  /** Split a multistream bzip2 payload into its decoded members, up to
    * the first torn/corrupt/over-budget stream (completed-prefix).
    * Wikipedia multistream dumps are exactly this layout (first member
    * the `<mediawiki>` site-info header, then one member per ~100
    * pages). Junk that doesn't start "BZh1".."BZh9" yields no members.
    */
  def bz2Members(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[Array[Byte]] =
    walkMembers(bytes, maxOutPerMember, maxOutTotal, bz2HeaderAt,
      in => new BZip2CompressorInputStream(in, false))._1

  /** Split a multistream xz payload into its decoded members
    * (completed-prefix, like [[bz2Members]]).
    */
  def xzMembers(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[Array[Byte]] =
    walkMembers(bytes, maxOutPerMember, maxOutTotal, xzHeaderAt,
      in => new XZCompressorInputStream(in))._1

  /** STRICT whole-payload decode — the single-document contract
    * ([[CompressedMeta.allOrNullConcat]], the family's one combine
    * tail): every member must decode cleanly AND the walk must consume
    * the payload exactly to its last byte, else null.
    */
  private def decodeAll(walked: (Seq[Array[Byte]], Int, Boolean), len: Int): Array[Byte] = {
    val (members, end, clean) = walked
    CompressedMeta.allOrNullConcat(members, clean && end == len)
  }

  /** All-or-NULL bzip2 decode of one payload (trailing junk → null). */
  def bunzipAll(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Array[Byte] = {
    if (bytes == null || bytes.length < 14) return null // smallest empty stream
    decodeAll(walkMembers(bytes, maxOutPerMember, maxOutTotal, bz2HeaderAt,
      in => new BZip2CompressorInputStream(in, false)), bytes.length)
  }

  /** All-or-NULL xz decode of one payload (trailing junk → null). */
  def unxzAll(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Array[Byte] = {
    if (bytes == null || bytes.length < 32) return null // header+footer+index minimum
    decodeAll(walkMembers(bytes, maxOutPerMember, maxOutTotal, xzHeaderAt,
      in => new XZCompressorInputStream(in)), bytes.length)
  }

  /** Decode the ONE stream starting at `offset` (byte-aligned, as the
    * multistream layout guarantees) — the random-access read the
    * companion offset index exists for: a reader that wants 50 pages
    * out of a 20 GB dump inflates only the members that contain them.
    * Null on a torn/corrupt/over-budget stream or a junk offset.
    */
  def bz2MemberAt(bytes: Array[Byte], offset: Long,
      maxOut: Int = Bytes.MaxOut): Array[Byte] = {
    if (bytes == null || offset < 0 || offset > Int.MaxValue ||
      !bz2HeaderAt(bytes, offset.toInt)) return null
    val in = new ByteArrayInputStream(bytes, offset.toInt, bytes.length - offset.toInt)
    try drain(new BZip2CompressorInputStream(in, false), maxOut.toLong) // null on bomb
    catch { case _: Exception => null }
  }

  /** Parse a multistream OFFSET INDEX (`offset:page_id:title` lines,
    * the dump's companion file): the map from page to the byte offset
    * of the stream that contains it. Junk lines drop; titles keep
    * embedded colons (only the first two split).
    */
  def parseMultistreamIndex(text: String): Seq[(Long, Long, String)] = {
    if (text == null) return Seq.empty
    text.split("\n", -1).toSeq.flatMap { raw =>
      val line = if (raw.endsWith("\r")) raw.substring(0, raw.length - 1) else raw
      val c1 = line.indexOf(':')
      val c2 = if (c1 < 0) -1 else line.indexOf(':', c1 + 1)
      if (c2 < 0) None
      else for {
        off <- line.substring(0, c1).trim.toLongOption
        pid <- line.substring(c1 + 1, c2).trim.toLongOption
        if off >= 0 && line.length > c2 + 1
      } yield (off, pid, line.substring(c2 + 1))
    }
  }

  /** Magic-sniffed whole-payload decompression — what a shard reader
    * actually needs when a dataset mixes `.tar`, `.tar.gz`, `.tar.zst`
    * and `.tar.bz2` shards: gzip (1F 8B), zstd (28 B5 2F FD), bzip2
    * ("BZh1".."BZh9") and xz (FD "7zXZ" 00) dispatch to their
    * all-or-NULL decoders; anything else passes through UNCHANGED
    * (plain tar has no magic at offset 0 — its signature sits at byte
    * 257). A corrupt compressed payload therefore returns null, never
    * silently-partial bytes, while an uncompressed one is untouched.
    */
  def decompressAuto(bytes: Array[Byte],
      maxOutPerMember: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Array[Byte] = {
    if (bytes == null || bytes.length < 2) return bytes
    if ((bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B)
      CompressedMeta.gunzipAll(bytes, maxOutPerMember, maxOutTotal)
    else if (bytes.length >= 4 && (bytes(0) & 0xFF) == 0x28 && (bytes(1) & 0xFF) == 0xB5 &&
      (bytes(2) & 0xFF) == 0x2F && (bytes(3) & 0xFF) == 0xFD)
      ZstdDecode.zstdAll(bytes, maxOutPerMember, maxOutTotal)
    else if (bz2HeaderAt(bytes, 0))
      bunzipAll(bytes, maxOutPerMember, maxOutTotal)
    else if (xzHeaderAt(bytes, 0))
      unxzAll(bytes, maxOutPerMember, maxOutTotal)
    else bytes
  }

  // ---- fixture encoders (tests + gates only; closed-form round-trips) ----

  /** One bzip2 stream over `data` (smallest block size — fixtures are tiny). */
  def bz2Member(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val bz = new BZip2CompressorOutputStream(out, 1)
    bz.write(data); bz.close()
    out.toByteArray
  }

  /** One xz stream over `data` (LZMA2 preset 0 — fixtures are tiny).
    * The default preset 6 allocates an 8 MB-dictionary match finder
    * PER CALL (tens of MB of throwaway arrays for a 100-byte member);
    * preset 0's 256 KB dictionary cuts the fixture-generation cost an
    * order of magnitude. Decoded members — the only thing any gate or
    * oracle observes — are byte-identical under every preset.
    */
  def xzMember(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val xz = new XZOutputStream(out, new LZMA2Options(0))
    xz.write(data); xz.close()
    out.toByteArray
  }
}
