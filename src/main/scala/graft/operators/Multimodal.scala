package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches.
  *
  * IMAGE decode is REAL as of round 10: [[decodePpm]] (binary P6) and
  * [[decodeBmp]] (24-bit uncompressed BMP — bottom-up rows, B,G,R
  * order and 4-byte row padding normalized away) parse in pure JVM to
  * one common top-down RGB raster, from which [[imageStats]] derives
  * dimensions, per-channel integer moments and the dHash; the
  * header-sniffing fallback covers formats this environment ships no
  * codec for (JPEG/PNG would drop in at the same mapPartitions seam).
  * `decodeStub` remains only as the deterministic FAKE-feature
  * generator for the embedding-plumbing gates, clearly so named.
  *
  * Scale notes: payloads stay columnar until the mapPartitions boundary;
  * the decode stage is map-only (no shuffle); `targetPartitionBytes`
  * repartitioning keeps a 1000-executor cluster's tasks balanced when
  * blob sizes are skewed.
  */
object Multimodal {

  import Bytes.{be16, be32, beBytes, le16, le32, leBytes, putLe}

  /** Pixel cap of every raster decoder ([[decodeTiff]], [[decodeGif]],
    * [[decodeJpeg]], [[decodePng]]): a header declaring more than 2^26
    * pixels degrades to None before any raster is allocated, so a
    * 60-byte payload cannot claim gigabytes.
    */
  private val MaxPixels = 1L << 26

  /** A decoded media record: fixed-shape features + metadata. */
  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      features: Array[Float]
  )

  final case class MediaBlob(media_id: Long, payload: Array[Byte])

  /** Deterministic fake "decode": header sniff + pseudo-dimensions +
    * a fixed-length feature vector from a rolling hash of the payload.
    * Replace with a real codec (JavaCV, TwelveMonkeys, …) in production.
    */
  def decodeStub(blob: MediaBlob): MediaFeatures = {
    val bytes = blob.payload
    val fmt =
      if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
      else if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
      else "unknown"
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    val dim = 8
    val feats = Array.tabulate(dim) { j =>
      // spread the hash into [0,1) floats, deterministic per payload
      (((h >>> (j * 7)) & 0xFFFF).toFloat) / 65536.0f
    }
    MediaFeatures(
      media_id = blob.media_id,
      n_bytes = bytes.length.toLong,
      format = fmt,
      width = 1 + (math.abs(h) % 1920).toInt,
      height = 1 + (math.abs(h >>> 11) % 1080).toInt,
      features = feats
    )
  }

  /** Batch decode over partitions — the Scala analog of a pandas-batched
    * UDF: one iterator pass per partition, constant memory, no
    * per-row setup cost (a real codec would be initialized once per
    * partition here).
    */
  def decodeAll(blobs: Dataset[MediaBlob]): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition init of the (stub) codec would go here
      it.map(decodeStub)
    }
  }

  /** DataFrame-level entry: (idCol: long, payloadCol: binary) → features. */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    val typed = df
      .select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
    decodeAll(typed).toDF()
  }

  /** A REAL decoded image: dimensions, integer per-channel moments
    * (mean/variance derive as sum/n and ssq/n − mean²), and the 64-bit
    * dHash split into two 32-bit halves (`dhash_hi:dhash_lo`) so both
    * engines' signed-64 arithmetic stays overflow-free in the oracle.
    */
  final case class ImageStats(
      media_id: Long,
      format: String,
      width: Int,
      height: Int,
      n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      ssq_r: Long, ssq_g: Long, ssq_b: Long,
      dhash_lo: Long, dhash_hi: Long)

  /** Pure-JVM binary-PPM (P6) parser — a real pixel format decoded with
    * no codec dependency: header `P6 <w> <h> <maxval>` with PPM's
    * whitespace/`#`-comment rules, then a w·h·3 RGB raster (one byte
    * per sample; maxval ≤ 255). Returns None on anything malformed —
    * wrong magic, non-positive dims, wide maxval, short raster — so
    * corrupt payloads degrade to the sniffing fallback instead of
    * throwing mid-partition.
    */
  def decodePpm(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val b = bytes(i)
        if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (b == ' ' || b == '\n' || b == '\r' || b == '\t') i += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = -1
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (bytes(i) - '0')
        i += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    // header ends with exactly ONE whitespace byte before the raster
    i += 1
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    if (w.toLong * h * 3 > Int.MaxValue - i) return None
    if (i + w * h * 3 > bytes.length) return None
    Some((w, h, java.util.Arrays.copyOfRange(bytes, i, i + w * h * 3)))
  }

  /** Decode a 24-bit uncompressed BMP (BITMAPINFOHEADER or larger,
    * biCompression = 0) to the same top-down RGB raster [[decodePpm]]
    * yields: rows are stored bottom-up (top-down when the height field
    * is negative) in B,G,R byte order with each row padded to 4 bytes —
    * all three quirks are normalized away here so every consumer
    * ([[imageStats]]' moments and dHash) is format-agnostic.
    */
  def decodeBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = le32(bytes, 10).toInt
    if (le32(bytes, 14).toInt < 40) return None // pre-BITMAPINFOHEADER variants
    val w = le32(bytes, 18).toInt
    val hRaw = le32(bytes, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0 || le16(bytes, 28) != 24 || le32(bytes, 30) != 0) return None
    if (w.toLong * h * 3 > Int.MaxValue) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff < 54 || stride.toLong * h + dataOff > bytes.length) return None
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val ro = dataOff + (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val so = ro + x * 3
        val po = (y * w + x) * 3
        px(po) = bytes(so + 2)
        px(po + 1) = bytes(so + 1)
        px(po + 2) = bytes(so)
        x += 1
      }
      y += 1
    }
    Some((w, h, px))
  }

  /** PackBits decompression (the TIFF §9 / classic Mac RLE): control
    * byte 0..127 copies n+1 literals, −1..−127 repeats the next byte
    * 1−n times, −128 is a no-op. Strict: running past either buffer
    * is a malformation (false), the degrade discipline every codec
    * here shares.
    */
  private def unpackBits(src: Array[Byte], from: Int, until: Int,
      dst: Array[Byte], dstOff: Int, need: Int): Boolean = {
    var i = from
    var o = dstOff
    val end = dstOff + need
    while (o < end) {
      if (i >= until) return false
      val nb = src(i); i += 1
      if (nb == -128) () // no-op
      else if (nb >= 0) {
        val len = nb + 1
        if (i + len > until || o + len > end) return false
        System.arraycopy(src, i, dst, o, len); i += len; o += len
      } else {
        val len = 1 - nb
        if (i >= until || o + len > end) return false
        java.util.Arrays.fill(dst, o, o + len, src(i)); i += 1; o += len
      }
    }
    true
  }

  /** Test seam for [[unpackBits]] (the −128 no-op path is not
    * reachable through the ImageIO-interop fixtures). */
  private[graft] def unpackBitsForTest(src: Array[Byte], from: Int,
      until: Int, dst: Array[Byte], dstOff: Int, need: Int): Boolean =
    unpackBits(src, from, until, dst, dstOff, need)

  /** PackBits encoder for the TIFF fixture: repeat runs ≥ 2 become
    * repeat tokens, everything else literal chunks. No −128 no-ops are
    * emitted (ImageIO's decoder mishandles them — measured one-byte
    * stream drift; the skip path is pinned at the [[unpackBits]] unit
    * level instead). Round-trip correctness is spec-pinned; any valid
    * encoding suffices for the gate because the decode target is the
    * closed form.
    */
  def packBitsEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length + 8)
    var i = 0
    while (i < src.length) {
      var j = i + 1
      while (j < src.length && src(j) == src(i) && j - i < 128) j += 1
      if (j - i >= 2) { out.write((1 - (j - i)) & 0xFF); out.write(src(i)); i = j }
      else {
        var k = i + 1
        while (k < src.length && k - i < 128 &&
          !(k + 1 < src.length && src(k) == src(k + 1))) k += 1
        out.write(k - i - 1)
        out.write(src, i, k - i)
        i = k
      }
    }
    out.toByteArray
  }

  /** Pure-JVM baseline TIFF decoder — the archival/scanner format of
    * the document-digitization corpora a multimodal pipeline ingests.
    * Coverage per the public TIFF 6.0 layout: both byte orders
    * (`II*`/`MM*`), the first IFD's entry walk (BYTE/SHORT/LONG
    * values, inline when ≤ 4 bytes else offset-addressed), 8-bit
    * grayscale (PhotometricInterpretation 1, SamplesPerPixel 1 —
    * expanded r=g=b) and RGB (2 / 3), multi-strip assembly via
    * RowsPerStrip/StripOffsets/StripByteCounts, and Compression 1
    * (none) or 32773 (PackBits). Anything else — white-is-zero,
    * palettes, tiles, LZW, other depths — returns None: degrade,
    * don't guess, like every codec here.
    */
  def decodeTiff(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes.length < 8) return None
    val le =
      if (bytes(0) == 'I' && bytes(1) == 'I') true
      else if (bytes(0) == 'M' && bytes(1) == 'M') false
      else return None
    def short(o: Int): Int = if (le) le16(bytes, o) else be16(bytes, o)
    def long(o: Int): Long = if (le) le32(bytes, o) else be32(bytes, o)
    if (short(2) != 42) return None
    val ifd = long(4)
    if (ifd < 8 || ifd + 2 > bytes.length) return None
    val n = short(ifd.toInt)
    if (ifd + 2 + 12L * n + 4 > bytes.length) return None
    val tags = scala.collection.mutable.Map.empty[Int, IndexedSeq[Long]]
    var e = 0
    while (e < n) {
      val off = ifd.toInt + 2 + 12 * e
      val tag = short(off)
      val typ = short(off + 2)
      val cnt = long(off + 4)
      val sz = typ match { case 1 => 1; case 3 => 2; case 4 => 4; case _ => 0 }
      if (sz > 0) { // unsupported value types (rationals, ascii) are skipped
        if (cnt < 0 || cnt > 65536) return None
        val total = sz * cnt
        val base =
          if (total <= 4) off + 8L
          else {
            val o = long(off + 8)
            if (o + total > bytes.length) return None
            o
          }
        tags(tag) = (0L until cnt).map { j =>
          val vo = (base + sz * j).toInt
          sz match {
            case 1 => (bytes(vo) & 0xFF).toLong
            case 2 => short(vo).toLong
            case _ => long(vo)
          }
        }.toIndexedSeq
      }
      e += 1
    }
    def one(tag: Int, dflt: Long = -1L): Long =
      tags.get(tag).flatMap(_.headOption).getOrElse(dflt)
    val w = one(256).toInt
    val h = one(257).toInt
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val spp = one(277, 1L).toInt
    if (spp != 1 && spp != 3) return None
    val photo = one(262).toInt
    if (!(spp == 1 && photo == 1) && !(spp == 3 && photo == 2)) return None
    val bps = tags.getOrElse(258, IndexedSeq(8L))
    if (bps.isEmpty || bps.exists(_ != 8L)) return None
    val comp = one(259, 1L).toInt
    if (comp != 1 && comp != 32773) return None
    // planar (separate-plane) layout would decode to a silently
    // scrambled interleave under the chunky arraycopy below — degrade
    if (one(284, 1L) != 1L) return None
    val rps = math.min(one(278, h.toLong), h.toLong).toInt
    if (rps <= 0) return None
    val offsets = tags.getOrElse(273, IndexedSeq.empty)
    val counts = tags.getOrElse(279, IndexedSeq.empty)
    val nStrips = (h + rps - 1) / rps
    if (offsets.length != nStrips || counts.length != nStrips) return None
    val raw = new Array[Byte](w * h * spp)
    var s = 0
    var row0 = 0
    while (s < nStrips) {
      val rows = math.min(rps, h - row0)
      val need = rows * w * spp
      val off = offsets(s)
      val cnt = counts(s)
      if (off < 0 || cnt < 0 || off + cnt > bytes.length) return None
      val dstOff = row0 * w * spp
      if (comp == 1) {
        if (cnt < need) return None
        System.arraycopy(bytes, off.toInt, raw, dstOff, need)
      } else if (!unpackBits(bytes, off.toInt, (off + cnt).toInt, raw, dstOff, need))
        return None
      row0 += rows
      s += 1
    }
    val px =
      if (spp == 3) raw
      else Array.tabulate(w * h * 3)(i => raw(i / 3))
    Some((w, h, px))
  } catch { case _: Exception => None }

  /** Deterministic TIFF fixture sharing the codec family's pixel
    * formulas: RGB sample i = (seed·31+i) mod 256 (the [[syntheticPpm]]
    * formula), grayscale pixel m = (seed·31 + (m div 4)·4) mod 256
    * (4-pixel runs so PackBits' repeat tokens are really exercised).
    * RowsPerStrip 2 forces multi-strip assembly; offsets/counts and
    * the 3-value BitsPerSample live in offset-addressed arrays, so
    * both the inline and external entry paths are walked.
    */
  def syntheticTiff(seed: Long, w: Int, h: Int, gray: Boolean,
      packBits: Boolean, bigEndian: Boolean): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticTiff: non-negative seed, positive dims")
    val spp = if (gray) 1 else 3
    val data =
      if (gray) Array.tabulate(w * h)(m => ((seed * 31 + (m / 4) * 4) % 256).toByte)
      else Array.tabulate(w * h * 3)(i => ((seed * 31 + i) % 256).toByte)
    val rps = 2
    val nStrips = (h + rps - 1) / rps
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rps, h - s * rps)
      if (packBits)
        // TIFF §9: rows are packed SEPARATELY, never across boundaries
        (0 until rows).map { r =>
          packBitsEncode(java.util.Arrays.copyOfRange(data,
            (s * rps + r) * w * spp, (s * rps + r + 1) * w * spp))
        }.reduce(_ ++ _)
      else java.util.Arrays.copyOfRange(
        data, s * rps * w * spp, s * rps * w * spp + rows * w * spp)
    }
    val out = new java.io.ByteArrayOutputStream()
    def p16(v: Int): Unit = out.write(if (bigEndian) beBytes(v, 2) else leBytes(v, 2))
    def p32(v: Int): Unit = out.write(if (bigEndian) beBytes(v, 4) else leBytes(v, 4))
    out.write(if (bigEndian) 'M' else 'I'); out.write(if (bigEndian) 'M' else 'I')
    p16(42); // magic
    val stripOffs = strips.scanLeft(8)((acc, st) => acc + st.length)
    var dataEnd = stripOffs.last
    if (dataEnd % 2 == 1) dataEnd += 1 // word-align the IFD
    p32(dataEnd)
    strips.foreach(st => out.write(st))
    if (stripOffs.last % 2 == 1) out.write(0)
    // IFD: 9 ascending-tag entries; external arrays follow it
    val nEntries = 9
    val ifdEnd = dataEnd + 2 + 12 * nEntries + 4
    val bpsOff = ifdEnd // 3 shorts when rgb (gray inlines)
    val offsOff = ifdEnd + (if (gray) 0 else 6)
    val cntsOff = offsOff + 4 * nStrips
    def entry(tag: Int, typ: Int, cnt: Int, inline: => Unit): Unit = {
      p16(tag); p16(typ); p32(cnt)
      val before = out.size
      inline
      while (out.size < before + 4) out.write(0)
    }
    p16(nEntries)
    entry(256, 4, 1, p32(w))
    entry(257, 4, 1, p32(h))
    if (gray) entry(258, 3, 1, p16(8)) else entry(258, 3, 3, p32(bpsOff))
    entry(259, 3, 1, p16(if (packBits) 32773 else 1))
    entry(262, 3, 1, p16(if (gray) 1 else 2))
    if (nStrips == 1) entry(273, 4, 1, p32(stripOffs(0)))
    else entry(273, 4, nStrips, p32(offsOff))
    entry(277, 3, 1, p16(spp))
    entry(278, 3, 1, p16(rps))
    if (nStrips == 1) entry(279, 4, 1, p32(strips(0).length))
    else entry(279, 4, nStrips, p32(cntsOff))
    p32(0) // no next IFD
    if (!gray) { p16(8); p16(8); p16(8) }
    if (nStrips > 1) {
      (0 until nStrips).foreach(s => p32(stripOffs(s)))
      strips.foreach(st => p32(st.length))
    }
    out.toByteArray
  }

  /** Try every real decoder in order; the format tag records which one
    * matched. */
  def decodeImageBytes(bytes: Array[Byte]): Option[(String, Int, Int, Array[Byte])] =
    decodePpm(bytes).map { case (w, h, px) => ("ppm", w, h, px) }
      .orElse(decodeBmp(bytes).map { case (w, h, px) => ("bmp", w, h, px) })
      .orElse(decodeJpeg(bytes).map { case (w, h, px) => ("jpeg", w, h, px) })
      .orElse(decodePng(bytes).map { case (w, h, px) => ("png", w, h, px) })
      .orElse(decodeGif(bytes).map { case (w, h, px) => ("gif", w, h, px) })
      .orElse(decodeTiff(bytes).map { case (w, h, px) => ("tiff", w, h, px) })
      .orElse(decodeWebp(bytes).map { case (w, h, px) => ("webp", w, h, px) })

  /** Pure-JVM GIF decoder (87a/89a) — the third COMPRESSED image
    * format, and like FLAC a LOSSLESS one, so its decode is closed-form
    * oracle-able: the LZW-coded index stream reconstructs exactly,
    * then maps through the palette. Coverage per the public spec:
    * logical screen descriptor, global and local color tables,
    * extension blocks skipped (graphic control, comment, application),
    * the FIRST image descriptor decoded (animation frames beyond it
    * are ignored), interlaced row ordering (the 8/8/4/2 four-pass
    * scheme), and full GIF-LZW: variable code width (min+1 up to 12
    * bits, LSB-first packing across data sub-blocks), dictionary
    * growth with the deferred width bump, CLEAR-code reset, the KwKwK
    * first-use case, and EOI. Malformed payloads (bad magic, truncated
    * sub-blocks, out-of-range codes, missing color table) return None
    * — degrade, don't throw. Returns top-down RGB.
    */
  def decodeGif(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes.length < 13) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    def u8(o: Int): Int = bytes(o) & 0xFF
    var p = 6
    val screenW = le16(bytes, p); val screenH = le16(bytes, p + 2); p += 4
    val lsdFlags = u8(p); p += 3 // flags, bg index, aspect
    var globalPal: Array[Byte] = null
    if ((lsdFlags & 0x80) != 0) {
      val n = 2 << (lsdFlags & 7)
      if (p + 3 * n > bytes.length) return None
      globalPal = java.util.Arrays.copyOfRange(bytes, p, p + 3 * n)
      p += 3 * n
    }
    while (p < bytes.length) {
      u8(p) match {
        case 0x3B => return None // trailer before any image
        case 0x21 => // extension: label + sub-blocks
          p += 2
          while (p < bytes.length && u8(p) != 0) p += 1 + u8(p)
          if (p >= bytes.length) return None
          p += 1
        case 0x2C => // image descriptor
          if (p + 10 > bytes.length) return None
          val left = le16(bytes, p + 1); val top = le16(bytes, p + 3)
          val w = le16(bytes, p + 5); val h = le16(bytes, p + 7)
          val idFlags = u8(p + 9)
          p += 10
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
          // frame-local geometry only covers the full screen: an offset
          // or sub-screen frame would need background/disposal
          // composition (and would diverge from this decoder's
          // single-raster contract) — degrade, don't mis-frame
          if (left != 0 || top != 0 || w != screenW || h != screenH) return None
          var pal = globalPal
          if ((idFlags & 0x80) != 0) {
            val n = 2 << (idFlags & 7)
            if (p + 3 * n > bytes.length) return None
            pal = java.util.Arrays.copyOfRange(bytes, p, p + 3 * n)
            p += 3 * n
          }
          if (pal == null) return None
          val interlaced = (idFlags & 0x40) != 0
          if (p >= bytes.length) return None
          val minCode = u8(p); p += 1
          if (minCode < 2 || minCode > 11) return None
          // concatenate the data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (p < bytes.length && u8(p) != 0) {
            val n = u8(p)
            if (p + 1 + n > bytes.length) return None
            data.write(bytes, p + 1, n)
            p += 1 + n
          }
          if (p >= bytes.length) return None
          val d = data.toByteArray
          // ---- GIF-LZW decode, LSB-first bit packing ----
          val clear = 1 << minCode
          val eoi = clear + 1
          val maxDict = 4096
          val prefix = new Array[Int](maxDict)
          val suffix = new Array[Byte](maxDict)
          // first byte of each entry's expansion, tracked at add time —
          // no per-code chain walk (the sibling codecs' array style)
          val firstB = new Array[Byte](maxDict)
          var dictSize = eoi + 1
          var width = minCode + 1
          var bitPos = 0
          def readCode(): Int = {
            if (bitPos + width > d.length * 8) return -1
            var v = 0; var i = 0
            while (i < width) {
              val bp = bitPos + i
              if (((d(bp >> 3) >> (bp & 7)) & 1) != 0) v |= (1 << i)
              i += 1
            }
            bitPos += width
            v
          }
          val out = new Array[Byte](w * h)
          var outPos = 0
          val stack = new Array[Byte](maxDict + 1) // preallocated expansion stack
          def emit(code: Int): Boolean = { // expand a code to out
            var sp = 0
            var c = code
            while (c >= clear + 2) {
              if (sp >= maxDict) return false
              stack(sp) = suffix(c); sp += 1
              c = prefix(c)
            }
            if (c >= clear) return false
            stack(sp) = c.toByte; sp += 1
            // a stream encoding more pixels than the raster holds is a
            // malformation like any other — degrade, don't decode a prefix
            if (outPos + sp > out.length) return false
            while (sp > 0) {
              sp -= 1
              out(outPos) = stack(sp); outPos += 1
            }
            true
          }
          def firstOf(code: Int): Int =
            if (code < clear) code
            else if (code >= clear + 2 && code < dictSize) firstB(code) & 0xFF
            else -1
          var prev = -1
          var done = false
          while (!done && outPos < out.length) {
            val code = readCode()
            if (code < 0) return None
            if (code == clear) {
              dictSize = eoi + 1; width = minCode + 1; prev = -1
            } else if (code == eoi) {
              done = true
            } else if (prev < 0) {
              if (code >= clear) return None
              if (!emit(code)) return None
              prev = code
            } else {
              if (code > dictSize || (code < clear + 2 && code >= clear)) return None
              if (code == dictSize) {
                // KwKwK: the code being defined right now
                val f = firstOf(prev)
                if (f < 0 || dictSize >= maxDict) return None
                prefix(dictSize) = prev; suffix(dictSize) = f.toByte
                firstB(dictSize) = firstOf(prev).toByte
                dictSize += 1
                if (!emit(dictSize - 1)) return None
              } else {
                if (!emit(code)) return None
                if (dictSize < maxDict) {
                  val f = firstOf(code)
                  val fp = firstOf(prev)
                  if (f < 0 || fp < 0) return None
                  prefix(dictSize) = prev; suffix(dictSize) = f.toByte
                  // the entry expands as expansion(prev) + first(code),
                  // so ITS first byte comes from the prefix chain
                  firstB(dictSize) = fp.toByte
                  dictSize += 1
                }
              }
              // GIF width timing (pinned externally by the ImageIO
              // spec test): the decoder grows when its own table fills
              // the current width; the ENCODER compensates for the
              // one-entry decode lag by growing one entry later
              if (dictSize == (1 << width) && width < 12) width += 1
              prev = code
            }
          }
          if (outPos != out.length) return None
          // interlace reorder + palette map
          val rows = gifRowOrder(h, interlaced)
          val rgb = new Array[Byte](w * h * 3)
          val nPal = pal.length / 3
          var r = 0
          while (r < h) {
            val y = rows(r)
            var x = 0
            while (x < w) {
              val idx = out(r * w + x) & 0xFF
              if (idx >= nPal) return None
              val o = (y * w + x) * 3
              rgb(o) = pal(idx * 3); rgb(o + 1) = pal(idx * 3 + 1)
              rgb(o + 2) = pal(idx * 3 + 2)
              x += 1
            }
            r += 1
          }
          return Some((w, h, rgb))
        case _ => return None
      }
    }
    None
  } catch { case _: Exception => None }

  /** Deterministic gzip fixture (gate/spec side): the text's gzip
    * member, optionally truncated to `truncateTo` bytes to plant a
    * corrupt member — ONE definition so the truncation convention
    * cannot drift across the gunzip gates, specs and flagships.
    */
  def syntheticGzipText(s: String, truncateTo: Int = -1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(s.getBytes("UTF-8")); g.close()
    val full = bos.toByteArray
    if (truncateTo >= 0) java.util.Arrays.copyOf(full, math.min(truncateTo, full.length))
    else full
  }

  /** Storage row order of a GIF image: identity, or the four-pass
    * 8/8/4/2 interlace sequence — ONE definition shared by decoder and
    * fixture encoder so the pass table cannot drift one-sided.
    */
  private def gifRowOrder(h: Int, interlaced: Boolean): Array[Int] =
    if (!interlaced) Array.tabulate(h)(identity)
    else {
      val order = new Array[Int](h)
      var r = 0
      for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
           y <- start until h by step) { order(r) = y; r += 1 }
      order
    }

  /** Deterministic GIF fixture encoder: a REAL GIF89a with a 128-color
    * global palette (color i = ((i·37) mod 256, (i·59) mod 256,
    * (i·83) mod 256)) and pixel index `(seed·31 + y·w + x·7) mod 128`
    * at (x, y) — both closed form, so the oracle re-derives every RGB
    * value. The index stream is compressed by a REAL LZW encoder
    * (string-table build, variable width 8→12 with the deferred bump,
    * CLEAR reset at table overflow, LSB-first packing into ≤255-byte
    * sub-blocks), so the decoder's dictionary walk — including KwKwK
    * and width growth — runs against genuinely compressed data.
    * `interlaced = true` writes the four-pass row order.
    */
  def syntheticGif(seed: Long, w: Int, h: Int, interlaced: Boolean = false): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticGif: non-negative seed, positive dims")
    val minCode = 7 // 128-entry palette
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(leBytes(w, 2)); out.write(leBytes(h, 2))
    out.write(0x80 | (minCode - 1)) // global table, 2^7 entries
    out.write(0); out.write(0)      // bg index, aspect
    var i = 0
    while (i < clear) {
      out.write((i * 37) % 256); out.write((i * 59) % 256); out.write((i * 83) % 256)
      i += 1
    }
    out.write(0x2C) // image descriptor
    Seq(0, 0, w, h).foreach(v => out.write(leBytes(v, 2)))
    out.write(if (interlaced) 0x40 else 0x00)
    out.write(minCode)
    // pixel indices in STORED row order (interlaced: four-pass)
    val rows = gifRowOrder(h, interlaced)
    val idx = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val y = rows(r)
      var x = 0
      while (x < w) {
        idx(r * w + x) = ((seed * 31 + y.toLong * w + x.toLong * 7) % clear).toInt
        x += 1
      }
      r += 1
    }
    // ---- real LZW encoder ----
    val payload = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    def putCode(c: Int, width: Int): Unit = {
      acc |= c.toLong << nb; nb += width
      while (nb >= 8) { payload.write((acc & 0xFF).toInt); acc >>= 8; nb -= 8 }
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var dictSize = eoi + 1
    var width = minCode + 1
    putCode(clear, width)
    var cur = idx(0)
    var j = 1
    while (j < idx.length) {
      val k = idx(j)
      dict.get((cur, k)) match {
        case Some(c) => cur = c
        case None =>
          putCode(cur, width)
          if (dictSize < 4096) {
            dict((cur, k)) = dictSize
            dictSize += 1
            // one LATER than the decoder's bump: the decoder adds each
            // entry one code behind, so its width grows after reading
            // the code this encoder emits at the OLD width
            if (dictSize == (1 << width) + 1 && width < 12) width += 1
          } else {
            // table full: emit CLEAR and restart the dictionary
            putCode(clear, width)
            dict = scala.collection.mutable.HashMap.empty
            dictSize = eoi + 1
            width = minCode + 1
          }
          cur = k
      }
      j += 1
    }
    putCode(cur, width)
    putCode(eoi, width)
    if (nb > 0) payload.write((acc & 0xFF).toInt)
    // sub-blocks
    val pb = payload.toByteArray
    var o = 0
    while (o < pb.length) {
      val n = math.min(255, pb.length - o)
      out.write(n)
      out.write(pb, o, n)
      o += n
    }
    out.write(0)    // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Pure-JVM BASELINE-DCT JPEG decoder (ITU-T T.81 sequential DCT,
    * Huffman, 8-bit) — the first COMPRESSED format the image pillar
    * decodes, written against the public spec with no codec
    * dependency: marker walk (DQT 8/16-bit, SOF0, DHT, DRI, SOS, APPn/
    * COM skipped), canonical Huffman decode, entropy-coded scan with
    * 0xFF00 unstuffing and RSTn restart handling, DC DPCM + AC
    * run-length per block, dequantize, de-zigzag, separable double-
    * precision IDCT with round-half-up + clamp, nearest-neighbor
    * chroma upsampling for any (h,v) ≤ 2 sampling factors, and
    * BT.601 YCbCr→RGB (1- and 3-component images). Yields the same
    * top-down RGB raster as [[decodePpm]]/[[decodeBmp]], so every
    * consumer stays format-agnostic. Progressive (SOF2), arithmetic
    * coding, and 12-bit precision return None — payloads degrade to
    * the sniffing fallback instead of throwing mid-partition.
    */
  def decodeJpeg(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes.length < 4 || bytes(0) != 0xFF.toByte || bytes(1) != 0xD8.toByte) return None
    def u8(o: Int): Int = bytes(o) & 0xFF

    val quant = Array.ofDim[Int](4, 64) // zigzag order, as stored
    val quantDefined = new Array[Boolean](4)
    // Huffman tables [class 0=DC 1=AC][id]: decode via the canonical
    // per-length (firstCode, firstIndex) arrays from the spec's
    // Generate_size/code procedure
    final case class Huff(minCode: Array[Int], maxCode: Array[Int],
        valPtr: Array[Int], vals: Array[Byte])
    val huff = Array.ofDim[Huff](2, 4)
    def buildHuff(bits: Array[Int], vals: Array[Byte]): Huff = {
      val minCode = new Array[Int](17); val maxCode = new Array[Int](17)
      val valPtr = new Array[Int](17)
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k; minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
      Huff(minCode, maxCode, valPtr, vals)
    }

    var w = 0; var h = 0
    var nComp = 0
    final case class Comp(id: Int, hs: Int, vs: Int, tq: Int)
    var comps: Array[Comp] = null
    var restartInterval = 0

    var p = 2
    var sosAt = -1
    var scanTables: Array[(Int, Int)] = null // (dcTbl, acTbl) per comp in scan order
    var scanComps: Array[Int] = null         // index into comps
    while (sosAt < 0) {
      if (p + 4 > bytes.length) return None
      if (u8(p) != 0xFF) return None
      val marker = u8(p + 1)
      if (marker == 0xD8) { p += 2 } // stray SOI
      else {
        val len = be16(bytes, p + 2)
        if (p + 2 + len > bytes.length) return None
        marker match {
          case 0xDB => // DQT
            var o = p + 4
            while (o < p + 2 + len) {
              val pq = u8(o) >> 4; val tq = u8(o) & 15
              if (tq > 3) return None
              var i = 0
              if (pq == 0) { while (i < 64) { quant(tq)(i) = u8(o + 1 + i); i += 1 }; o += 65 }
              else { while (i < 64) { quant(tq)(i) = be16(bytes, o + 1 + 2 * i); i += 1 }; o += 129 }
              quantDefined(tq) = true
            }
          case 0xC0 => // SOF0 (baseline sequential)
            if (u8(p + 4) != 8) return None // 8-bit precision only
            h = be16(bytes, p + 5); w = be16(bytes, p + 7)
            nComp = u8(p + 9)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels ||
              (nComp != 1 && nComp != 3)) return None
            comps = Array.tabulate(nComp) { i =>
              val o = p + 10 + 3 * i
              Comp(u8(o), u8(o + 1) >> 4, u8(o + 1) & 15, u8(o + 2))
            }
            if (comps.exists(c => c.hs < 1 || c.hs > 2 || c.vs < 1 || c.vs > 2))
              return None
          case 0xC4 => // DHT
            var o = p + 4
            while (o < p + 2 + len) {
              val tc = u8(o) >> 4; val th = u8(o) & 15
              if (tc > 1 || th > 3) return None
              val bits = Array.tabulate(16)(i => u8(o + 1 + i))
              val n = bits.sum
              val vals = java.util.Arrays.copyOfRange(bytes, o + 17, o + 17 + n)
              huff(tc)(th) = buildHuff(bits, vals)
              o += 17 + n
            }
          case 0xDD => restartInterval = be16(bytes, p + 4) // DRI
          case 0xDA => // SOS
            val ns = u8(p + 4)
            if (comps == null || ns != nComp) return None
            scanComps = new Array[Int](ns)
            scanTables = new Array[(Int, Int)](ns)
            var i = 0
            while (i < ns) {
              val cid = u8(p + 5 + 2 * i); val tt = u8(p + 6 + 2 * i)
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return None
              scanComps(i) = ci
              scanTables(i) = (tt >> 4, tt & 15)
              i += 1
            }
            sosAt = p + 2 + len
          case m if m >= 0xC1 && m <= 0xCF && m != 0xC4 && m != 0xC8 =>
            return None // progressive/arithmetic/other SOF: unsupported
          case _ => () // APPn, COM, others: skip
        }
        if (sosAt < 0) p += 2 + len
      }
    }

    // a stream that never defined a referenced DQT would otherwise
    // dequantize against an all-zero table and "decode" to a flat-128
    // raster — wrong-but-plausible stats; degrade like the missing-DHT
    // path instead
    if (comps.exists(c => !quantDefined(c.tq))) return None

    val hMax = comps.map(_.hs).max; val vMax = comps.map(_.vs).max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (w + mcuW - 1) / mcuW; val mcusY = (h + mcuH - 1) / mcuH
    // per-component plane at its own resolution (padded to whole MCUs)
    val planeW = comps.map(c => mcusX * 8 * c.hs)
    val planeH = comps.map(c => mcusY * 8 * c.vs)
    val planes = Array.tabulate(nComp)(i => new Array[Byte](planeW(i) * planeH(i)))

    // entropy-coded bit reader with byte unstuffing
    var bp = sosAt
    var acc = 0L; var nBits = 0
    def readBit(): Int = {
      if (nBits == 0) {
        if (bp >= bytes.length) throw new IllegalStateException("eof")
        var b = u8(bp); bp += 1
        if (b == 0xFF) {
          val b2 = if (bp < bytes.length) u8(bp) else 0xD9
          if (b2 == 0x00) bp += 1
          else { bp -= 1; b = 0 } // marker mid-read (truncated stream):
          // hold bp AT the 0xFF so every further fill keeps yielding
          // zero-padding instead of consuming the marker id as
          // coefficient bits, and the RSTn scan still sees the marker
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      ((acc >> nBits) & 1L).toInt
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    def huffDecode(t: Huff): Int = {
      var code = readBit(); var l = 1
      while (l <= 16 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        code = (code << 1) | readBit(); l += 1
      }
      if (l > 16) throw new IllegalStateException("bad huffman code")
      t.vals(t.valPtr(l) + code - t.minCode(l)) & 0xFF
    }

    val Zigzag: Array[Int] = Array( // zigzag sequence -> (row*8+col)
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val Cos: Array[Array[Double]] =
      Array.tabulate(8, 8)((t, f) => StrictMath.cos((2 * t + 1) * f * math.Pi / 16.0))
    val C: Array[Double] = Array.tabulate(8)(f => if (f == 0) 1.0 / math.sqrt(2.0) else 1.0)

    val dcPred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val out8 = new Array[Int](64)
    def decodeBlock(ci: Int, si: Int): Unit = {
      java.util.Arrays.fill(coef, 0)
      val (dcT, acT) = scanTables(si)
      val qt = quant(comps(ci).tq)
      val dc = huff(0)(dcT); val ac = huff(1)(acT)
      if (dc == null || ac == null) throw new IllegalStateException("missing table")
      val t = huffDecode(dc)
      dcPred(ci) += extend(receive(t), t)
      coef(0) = dcPred(ci) * qt(0)
      var k = 1
      while (k < 64) {
        val rs = huffDecode(ac)
        val r = rs >> 4; val s = rs & 15
        if (s == 0) { if (r == 15) k += 16 else k = 64 }
        else {
          k += r
          if (k > 63) throw new IllegalStateException("ac overflow")
          coef(Zigzag(k)) = extend(receive(s), s) * qt(k)
          k += 1
        }
      }
      // separable would be faster; direct double IDCT keeps this
      // audit-simple — decode is still map-only and per-block O(1)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var svv = 0.0
          var v = 0
          while (v < 8) {
            var u = 0
            while (u < 8) {
              val f = coef(v * 8 + u)
              if (f != 0) svv += C(u) * C(v) * f * Cos(x)(u) * Cos(y)(v)
              u += 1
            }
            v += 1
          }
          val pix = math.round(svv / 4.0 + 128.0).toInt
          out8(y * 8 + x) = if (pix < 0) 0 else if (pix > 255) 255 else pix
          x += 1
        }
        y += 1
      }
    }

    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // byte-align and consume the RSTn marker; DC predictors reset
        nBits = 0
        while (bp + 1 < bytes.length &&
          !(u8(bp) == 0xFF && u8(bp + 1) >= 0xD0 && u8(bp + 1) <= 0xD7)) bp += 1
        if (bp + 1 >= bytes.length) throw new IllegalStateException("missing RST")
        bp += 2
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var si = 0
      while (si < nComp) {
        val ci = scanComps(si)
        val c = comps(ci)
        var by = 0
        while (by < c.vs) {
          var bx = 0
          while (bx < c.hs) {
            decodeBlock(ci, si)
            val ox = (mx * c.hs + bx) * 8; val oy = (my * c.vs + by) * 8
            val pw = planeW(ci)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((oy + yy) * pw + ox + xx) = out8(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        si += 1
      }
      mcu += 1
    }

    // upsample + color convert to the shared top-down RGB raster
    val px = new Array[Byte](w * h * 3)
    def clamp(v: Long): Int = if (v < 0) 0 else if (v > 255) 255 else v.toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        if (nComp == 1) {
          val yv = planes(0)((y * comps(0).vs / vMax) * planeW(0) +
            (x * comps(0).hs / hMax)) & 0xFF
          px(o) = yv.toByte; px(o + 1) = yv.toByte; px(o + 2) = yv.toByte
        } else {
          def samp(ci: Int): Int =
            planes(ci)((y * comps(ci).vs / vMax) * planeW(ci) +
              (x * comps(ci).hs / hMax)) & 0xFF
          val yv = samp(0).toDouble
          val cb = samp(1) - 128.0
          val cr = samp(2) - 128.0
          px(o) = clamp(math.round(yv + 1.402 * cr)).toByte
          px(o + 1) = clamp(math.round(yv - 0.344136 * cb - 0.714136 * cr)).toByte
          px(o + 2) = clamp(math.round(yv + 1.772 * cb)).toByte
        }
        x += 1
      }
      y += 1
    }
    Some((w, h, px))
  } catch { case _: Exception => None }

  /** Decode one payload to [[ImageStats]]: channel sums + sums of
    * squares and the difference hash (dHash: 9×8 nearest-neighbor
    * grayscale grid, bit j = gy·8+gx set when the right neighbor is
    * brighter). All-integer arithmetic — gray is (r+g+b) div 3,
    * sample coords are gx·w div 9 / gy·h div 8 — so the whole record
    * is oracle-checkable in SQL, for every format [[decodeImageBytes]]
    * handles. Undecodable payloads keep the header sniff and zeroed
    * stats (the labeled fallback replacing the retired decodeStub
    * claims for images).
    */
  def imageStats(id: Long, bytes: Array[Byte]): ImageStats =
    decodeImageBytes(bytes) match {
      case Some((fmt, w, h, px)) => rasterStats(id, fmt, w, h, px)
      case None                  => sniffedZeroStats(id, bytes)
    }

  /** Moments + dHash of an already-decoded RGB raster — shared by the
    * direct decode path and the resize path so every stats consumer
    * sees one definition.
    */
  def rasterStats(id: Long, fmt: String, w: Int, h: Int, px: Array[Byte]): ImageStats = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var qr = 0L; var qg = 0L; var qb = 0L
    val n = w * h
    var m = 0
    while (m < n) {
      val r = px(3 * m) & 0xFF; val g = px(3 * m + 1) & 0xFF; val b = px(3 * m + 2) & 0xFF
      sr += r; sg += g; sb += b
      qr += r.toLong * r; qg += g.toLong * g; qb += b.toLong * b
      m += 1
    }
    def gray(x: Int, y: Int): Int = {
      val o = (y * w + x) * 3
      ((px(o) & 0xFF) + (px(o + 1) & 0xFF) + (px(o + 2) & 0xFF)) / 3
    }
    var lo = 0L; var hi = 0L
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 8) {
        if (gray((gx + 1) * w / 9, sy) > gray(gx * w / 9, sy)) {
          val j = gy * 8 + gx
          if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
        }
        gx += 1
      }
      gy += 1
    }
    ImageStats(id, fmt, w, h, n.toLong, sr, sg, sb, qr, qg, qb, lo, hi)
  }

  private def sniffedZeroStats(id: Long, bytes: Array[Byte]): ImageStats = {
    val fmt =
      if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
      else if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
      else if (bytes.length >= 3 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
      else if (bytes.length >= 4 &&
        ((bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 42 && bytes(3) == 0) ||
          (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 && bytes(3) == 42))) "tiff"
      else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'E' &&
        bytes(10) == 'B' && bytes(11) == 'P') "webp"
      else "unknown"
    ImageStats(id, fmt, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
  }

  /** Box-average downsample by an integer factor: each output pixel is
    * the per-channel integer mean (floor) of its f×f source block —
    * the standard anti-aliased shrink a training pipeline runs before
    * feature extraction. Requires f | w and f | h.
    */
  def downsampleBox(px: Array[Byte], w: Int, h: Int, f: Int): (Int, Int, Array[Byte]) = {
    require(f > 0 && w % f == 0 && h % f == 0, s"downsampleBox: $f must divide ${w}x$h")
    val rw = w / f; val rh = h / f
    val out = new Array[Byte](rw * rh * 3)
    var by = 0
    while (by < rh) {
      var bx = 0
      while (bx < rw) {
        var c = 0
        while (c < 3) {
          var s = 0
          var dy = 0
          while (dy < f) {
            var dx = 0
            while (dx < f) {
              s += px(((by * f + dy) * w + bx * f + dx) * 3 + c) & 0xFF
              dx += 1
            }
            dy += 1
          }
          out((by * rw + bx) * 3 + c) = (s / (f * f)).toByte
          c += 1
        }
        bx += 1
      }
      by += 1
    }
    (rw, rh, out)
  }

  /** Nearest-neighbor resize to an arbitrary target — the cheap
    * resize for thumbnails/grids (source coord = floor(t·src/tgt)).
    */
  def resizeNearest(px: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    require(tw > 0 && th > 0, "resizeNearest: positive target dims")
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        val sx = x * w / tw
        val so = (sy * w + sx) * 3; val oo = (y * tw + x) * 3
        out(oo) = px(so); out(oo + 1) = px(so + 1); out(oo + 2) = px(so + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Batch decode→box-downsample→stats: the resize stage of a
    * multimodal preprocessing pipeline, map-only like the decode
    * itself. Payloads whose dimensions the factor does not divide (or
    * that fail to decode) degrade to sniffed zero stats.
    */
  def decodeImagesResized(
      df: DataFrame, idCol: String, payloadCol: String, factor: Int): DataFrame = {
    // fail fast on the driver (mirroring downsampleBox's own guard)
    // instead of an ArithmeticException inside executor tasks
    require(factor > 0, s"Multimodal.decodeImagesResized: positive factor (got $factor)")
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
      .mapPartitions(_.map { b =>
        decodeImageBytes(b.payload) match {
          case Some((fmt, w, h, px)) if w % factor == 0 && h % factor == 0 =>
            val (rw, rh, rpx) = downsampleBox(px, w, h, factor)
            rasterStats(b.media_id, fmt, rw, rh, rpx)
          case Some((fmt, _, _, _)) =>
            // decodable but indivisible dims: keep the DECODED format
            // tag (re-sniffing would mislabel PPM/BMP as "unknown" in
            // per-format degrade metrics), zero the stats
            ImageStats(b.media_id, fmt, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          case None => sniffedZeroStats(b.media_id, b.payload)
        }
      })
      .toDF()
  }

  /** Batch image decode: (idCol: long, payloadCol: binary) →
    * [[ImageStats]] rows via one iterator pass per partition (same
    * map-only shape as [[decodeAll]] — a real codec for other formats
    * initializes once per partition here).
    */
  def decodeImages(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
      .mapPartitions(_.map(b => imageStats(b.media_id, b.payload)))
      .toDF()
  }

  /** Deterministic PPM fixture encoder (test/gate side): pixel byte at
    * flat raster index m is (seed·31 + m) mod 256 — closed-form, so a
    * SQL oracle can re-derive every pixel the decoder must report.
    */
  def syntheticPpm(seed: Long, w: Int, h: Int): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticPpm: non-negative seed, positive dims")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(w * h * 3)(m => ((seed * 31 + m) % 256).toByte)
    header ++ px
  }

  /** Closed-form 24-bit bottom-up BMP with the SAME logical pixel
    * formula as [[syntheticPpm]] (RGB sample m = (seed·31+m) mod 256 in
    * top-down order), so one oracle covers both decoders — the BMP
    * encoding buries the formula under bottom-up rows, B,G,R order and
    * row padding, exactly the quirks [[decodeBmp]] must normalize.
    */
  def syntheticBmp(seed: Long, w: Int, h: Int): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticBmp: non-negative seed, positive dims")
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + stride * h)
    out(0) = 'B'; out(1) = 'M'
    putLe(out, 2, out.length, 4); putLe(out, 10, 54, 4); putLe(out, 14, 40, 4)
    putLe(out, 18, w, 4); putLe(out, 22, h, 4)
    putLe(out, 26, 1, 2); putLe(out, 28, 24, 2)
    putLe(out, 30, 0, 4); putLe(out, 34, stride * h, 4)
    var y = 0
    while (y < h) {
      val ro = 54 + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        out(ro + x * 3) = ((seed * 31 + p + 2) % 256).toByte
        out(ro + x * 3 + 1) = ((seed * 31 + p + 1) % 256).toByte
        out(ro + x * 3 + 2) = ((seed * 31 + p) % 256).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic baseline-JPEG fixture encoder: a REAL 4:2:0 YCbCr
    * JPEG (SOI, DQT, SOF0, two DHTs, SOS, entropy-coded scan with byte
    * stuffing, EOI) whose decoded pixels are CLOSED-FORM — so a SQL
    * oracle re-derives every stat from the formula alone and only a
    * decoder that actually walks markers, Huffman-decodes, dequantizes,
    * runs the IDCT and converts color can match.
    *
    * The exactness trick: every luma block carries ONLY the DC
    * coefficient and the (v=4,u=0) AC coefficient (zigzag 10). With a
    * flat quant table of 8s the IDCT is exactly `128 + D + A·s(y)`
    * with s(y) = +1 for y mod 4 ∈ {0,3} else −1 (the cos(π(2y+1)/4)
    * basis column collapses to ±1/√2, cancelling the C(0)/√2 factor),
    * and double-precision error (~1e-12) vanishes under round-to-int.
    * Chroma blocks are all-zero → flat 128 → Cb=Cr neutral → R=G=B=Y
    * exactly, so the 4:2:0 upsample and BT.601 convert are exercised
    * with integer-exact output. Per 16×16 image of seed k, luma block
    * b (MCU order) has D_b = (k·31+7b) mod 120 − 60 and
    * A_b = (k+b) mod 16 − 8; DPCM across the four blocks is real.
    */
  def syntheticJpeg(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticJpeg: non-negative seed")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xFF)
    def b16(v: Int): Unit = { b(v >> 8); b(v) }
    // ---- headers ----
    b16(0xFFD8) // SOI
    b16(0xFFDB); b16(2 + 1 + 64); b(0) // DQT, 8-bit, id 0
    (0 until 64).foreach(_ => b(8))    // flat 8s: dequant = 8·code
    b16(0xFFC0); b16(8 + 3 * 3); b(8); b16(16); b16(16); b(3) // SOF0 16x16, 3 comps
    b(1); b(0x22); b(0) // Y  h=2 v=2, quant 0
    b(2); b(0x11); b(0) // Cb h=1 v=1
    b(3); b(0x11); b(0) // Cr
    // custom canonical Huffman tables (decoder is general; these are
    // minimal). DC id0: symbols 0..6 at length 3, 7 at length 4.
    val dcBits = Array(0, 0, 7, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val dcVals = Array(0, 1, 2, 3, 4, 5, 6, 7)
    // AC id0: EOB at length 2; (run=9,size=1..3) at length 3; (9,4) at 4
    val acBits = Array(0, 1, 3, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acVals = Array(0x00, 0x91, 0x92, 0x93, 0x94)
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      b16(0xFFC4); b16(2 + 1 + 16 + vals.length); b(cls << 4)
      bits.foreach(b); vals.foreach(b)
    }
    dht(0, dcBits, dcVals)
    dht(1, acBits, acVals)
    b16(0xFFDA); b16(6 + 2 * 3); b(3)
    b(1); b(0x00); b(2); b(0x00); b(3); b(0x00) // all components use tables 0/0
    b(0); b(63); b(0) // Ss, Se, Ah/Al
    // ---- entropy-coded scan (one 16×16 MCU: 4 Y blocks, Cb, Cr) ----
    var acc = 0; var n = 0
    val body = new java.io.ByteArrayOutputStream()
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          body.write(acc & 0xFF)
          if ((acc & 0xFF) == 0xFF) body.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    // canonical codes for the tables above
    def dcCode(cat: Int): (Int, Int) = if (cat <= 6) (cat, 3) else (0xE, 4)
    def acCode(sym: Int): (Int, Int) = sym match {
      case 0x00 => (0x0, 2)
      case 0x91 => (0x2, 3)
      case 0x92 => (0x3, 3)
      case 0x93 => (0x4, 3)
      case 0x94 => (0xA, 4)
      case _    => throw new IllegalArgumentException(s"sym $sym")
    }
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def putCoeff(v: Int, cat: Int): Unit =
      if (cat > 0) putBits(if (v < 0) v + (1 << cat) - 1 else v, cat)
    var dcPred = 0
    var blk = 0
    while (blk < 4) { // luma blocks in MCU order (row-major 2×2)
      val d = ((seed * 31 + 7 * blk) % 120 - 60).toInt
      val a = ((seed + blk) % 16 - 8).toInt
      val diff = d - dcPred; dcPred = d
      val cat = category(diff)
      val (dc, dl) = dcCode(cat); putBits(dc, dl); putCoeff(diff, cat)
      if (a != 0) {
        val s = category(a)
        val (ac, al) = acCode(0x90 | s); putBits(ac, al); putCoeff(a, s)
      }
      val (eob, el) = acCode(0x00); putBits(eob, el)
      blk += 1
    }
    var c = 0
    while (c < 2) { // Cb then Cr: DC diff 0, no AC → flat 128 after shift
      val (dc, dl) = dcCode(0); putBits(dc, dl)
      val (eob, el) = acCode(0x00); putBits(eob, el)
      c += 1
    }
    if (n > 0) { // pad final byte with 1s per spec
      acc = (acc << (8 - n)) | ((1 << (8 - n)) - 1)
      body.write(acc & 0xFF)
      if ((acc & 0xFF) == 0xFF) body.write(0x00)
    }
    out.write(body.toByteArray)
    b16(0xFFD9) // EOI
    out.toByteArray
  }

  /** Pure-JVM PNG decoder — the second compressed image format, built
    * on the JDK's zlib (`java.util.zip.Inflater`, part of the platform,
    * not a dependency): signature check, chunk walk (IHDR, PLTE, IDAT
    * concatenation, IEND), inflate, then per-scanline UNFILTERING of
    * all five PNG filter types (None/Sub/Up/Average/Paeth, the Paeth
    * predictor per the spec). Bit depth 8 with color types 0 (gray),
    * 2 (RGB), 3 (palette), 4 (gray+alpha) and 6 (RGBA) decode to the
    * shared top-down RGB raster (alpha is dropped — stats consumers
    * read color mass); interlaced (Adam7), 1/2/4/16-bit and malformed
    * payloads return None, the same degrade-don't-throw contract as
    * every other decoder here.
    */
  def decodePng(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    if (bytes.length < 8 + 25 || !sig.indices.forall(j => (bytes(j) & 0xFF) == sig(j)))
      return None
    var w = 0; var h = 0; var colorType = -1
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var p = 8
    var done = false
    while (!done && p + 8 <= bytes.length) {
      val len = be32(bytes, p).toInt
      if (len < 0 || p + 12 + len.toLong > bytes.length) return None
      val ctype = new String(bytes, p + 4, 4, "US-ASCII")
      ctype match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(bytes, p + 8).toInt; h = be32(bytes, p + 12).toInt
          val bitDepth = bytes(p + 16) & 0xFF
          colorType = bytes(p + 17) & 0xFF
          val (compression, filterM, interlace) =
            (bytes(p + 18) & 0xFF, bytes(p + 19) & 0xFF, bytes(p + 20) & 0xFF)
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels || bitDepth != 8 ||
            compression != 0 || filterM != 0 || interlace != 0 ||
            !Set(0, 2, 3, 4, 6).contains(colorType)) return None
        case "PLTE" => palette = java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + len)
        case "IDAT" => idat.write(bytes, p + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunks skipped
      }
      p += 12 + len // len + type + data + CRC
    }
    if (w == 0 || colorType < 0) return None
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // needsDictionary: a crafted FDICT stream would otherwise make
        // inflate() return 0 forever (needsInput stays false) and
        // busy-loop the executor task on one bad blob
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got < raw.length) return None
    } finally inf.end() // release native zlib buffers on EVERY path
    // unfilter in place into a flat channel raster
    val img = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xFF
      val ro = y * (stride + 1) + 1
      val oo = y * stride
      var x = 0
      while (x < stride) {
        val rawv = raw(ro + x) & 0xFF
        val a = if (x >= channels) img(oo + x - channels) & 0xFF else 0
        val b = if (y > 0) img(oo - stride + x) & 0xFF else 0
        val c = if (x >= channels && y > 0) img(oo - stride + x - channels) & 0xFF else 0
        val rec = f match {
          case 0 => rawv
          case 1 => rawv + a
          case 2 => rawv + b
          case 3 => rawv + (a + b) / 2
          case 4 => // Paeth
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            rawv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        img(oo + x) = (rec & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    // expand to RGB
    val px = new Array[Byte](w * h * 3)
    var m = 0
    while (m < w * h) {
      colorType match {
        case 0 | 4 =>
          val g = img(m * channels)
          px(3 * m) = g; px(3 * m + 1) = g; px(3 * m + 2) = g
        case 2 | 6 =>
          px(3 * m) = img(m * channels)
          px(3 * m + 1) = img(m * channels + 1)
          px(3 * m + 2) = img(m * channels + 2)
        case 3 =>
          if (palette == null) return None
          val pi = (img(m) & 0xFF) * 3
          if (pi + 2 >= palette.length) return None
          px(3 * m) = palette(pi); px(3 * m + 1) = palette(pi + 1)
          px(3 * m + 2) = palette(pi + 2)
      }
      m += 1
    }
    Some((w, h, px))
  } catch { case _: Exception => None }

  /** Deterministic PNG fixture encoder: a REAL zlib-deflated RGB PNG
    * (CRC'd chunks, IHDR/IDAT/IEND) carrying the SAME logical pixel
    * formula as [[syntheticPpm]] (sample m = (seed·31+m) mod 256), with
    * row y forward-filtered by filter type y mod 5 — so all five
    * unfilter paths (None/Sub/Up/Average/Paeth) are exercised and one
    * oracle covers PPM, BMP and PNG.
    */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticPng: non-negative seed, positive dims")
    val stride = w * 3
    val img = Array.tabulate(h * stride)(m => ((seed * 31 + m) % 256).toByte)
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      val f = y % 5
      raw(y * (stride + 1)) = f.toByte
      var x = 0
      while (x < stride) {
        val v = img(y * stride + x) & 0xFF
        val a = if (x >= 3) img(y * stride + x - 3) & 0xFF else 0
        val b = if (y > 0) img((y - 1) * stride + x) & 0xFF else 0
        val c = if (x >= 3 && y > 0) img((y - 1) * stride + x - 3) & 0xFF else 0
        val filt = f match {
          case 0 => v
          case 1 => v - a
          case 2 => v - b
          case 3 => v - (a + b) / 2
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            v - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw(y * (stride + 1) + 1 + x) = (filt & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end()
      buf.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      out.write(beBytes(data.length, 4), 0, 4)
      val tb = ctype.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(beBytes(crc.getValue, 4), 0, 4)
    }
    // bit depth 8, color type 2 (RGB), deflate, adaptive filter, no interlace
    val ihdr = beBytes(w, 4) ++ beBytes(h, 4) ++ Array[Byte](8, 2, 0, 0, 0)
    chunk("IHDR", ihdr)
    chunk("IDAT", deflated)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Frame sampling shape for video-like payloads: n evenly-strided
    * byte slices per payload (8-byte samples in the stub; a real decoder
    * slices at container frame offsets), one row per sampled frame —
    * the explode-side plumbing of a video pipeline. Pure binary
    * `substr`, no string round-trip.
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String, nFrames: Int): DataFrame = {
    val stride = greatest(floor(length(col(payloadCol)) / nFrames), lit(1)).cast("int")
    df.select(
      col(idCol).cast("long").as("media_id"),
      posexplode(
        transform(
          sequence(lit(0), lit(nFrames - 1)),
          i => col(payloadCol).substr(i * stride + lit(1), lit(8))
        )
      ).as(Seq("frame_no", "frame_sample"))
    )
  }

  /** A REAL decoded audio clip: format/layout metadata plus per-channel
    * integer moments (mean/RMS derive as sum/n and ssq/n) and
    * zero-crossing counts — the standard cheap audio-quality screens
    * (silence ↔ near-zero ssq, clipping ↔ ssq near full-scale², noise
    * ↔ high crossing rate). Stats are laid out for the FIRST TWO
    * channels (c0/c1) so the record is fixed-shape; mono clips carry
    * zeros in the c1 lanes. All-integer arithmetic (16-bit samples sum
    * into longs) — oracle-checkable in SQL like [[ImageStats]].
    */
  final case class AudioStats(
      media_id: Long,
      format: String,
      n_channels: Int,
      sample_rate: Int,
      n_frames: Long,
      dur_ms: Long,
      sum_c0: Long, ssq_c0: Long, zc_c0: Long,
      sum_c1: Long, ssq_c1: Long, zc_c1: Long)

  /** The ONE RIFF/WAVE chunk walk all three WAV decoders (PCM, IMA
    * ADPCM, G.711) share: word-aligned chunk sizes, bounds-checked,
    * stopping once both `fmt ` (≥ 16 bytes) and `data` are found.
    * Returns (fmtOff, dataOff, dataLen) with fmtOff at the fmt
    * chunk's payload; None on malformation.
    */
  private def riffWaveChunks(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def tag(o: Int, s: String): Boolean =
      bytes(o) == s(0).toByte && bytes(o + 1) == s(1).toByte &&
        bytes(o + 2) == s(2).toByte && bytes(o + 3) == s(3).toByte
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var fmtOff = -1
    var dataOff = -1; var dataLen = -1
    var i = 12
    while (i + 8 <= bytes.length && (dataOff < 0 || fmtOff < 0)) {
      val sz = le32(bytes, i + 4).toInt
      if (sz < 0 || i + 8 + sz.toLong > bytes.length) return None
      if (tag(i, "fmt ") && sz >= 16) fmtOff = i + 8
      else if (tag(i, "data")) { dataOff = i + 8; dataLen = sz }
      i += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (fmtOff < 0 || dataOff < 0) None else Some((fmtOff, dataOff, dataLen))
  }

  /** Shared RIFF/WAVE scaffold for the synthetic audio fixtures: the
    * 12-byte RIFF header, a fmt chunk carrying the six standard fields
    * plus `extra` bytes, and a `data` chunk header sized `dataLen`.
    * Returns (buffer, dataOffset); callers fill the payload. ONE
    * builder for all four WAV fixtures, so a header-offset mistake
    * can't hide in a single codec's copy.
    */
  private def wavScaffold(fmtTag: Int, channels: Int, rate: Int,
      byteRate: Int, blockAlign: Int, bits: Int, extra: Array[Byte],
      dataLen: Int): (Array[Byte], Int) = {
    val fmtLen = 16 + extra.length
    val out = new Array[Byte](12 + 8 + fmtLen + 8 + dataLen)
    def ptag(o: Int, s: String): Unit =
      s.zipWithIndex.foreach { case (ch, j) => out(o + j) = ch.toByte }
    ptag(0, "RIFF"); putLe(out, 4, out.length - 8, 4); ptag(8, "WAVE")
    ptag(12, "fmt "); putLe(out, 16, fmtLen, 4)
    putLe(out, 20, fmtTag, 2); putLe(out, 22, channels, 2); putLe(out, 24, rate, 4)
    putLe(out, 28, byteRate, 4); putLe(out, 32, blockAlign, 2); putLe(out, 34, bits, 2)
    System.arraycopy(extra, 0, out, 36, extra.length)
    val dataHdr = 36 + extra.length
    ptag(dataHdr, "data"); putLe(out, dataHdr + 4, dataLen, 4)
    (out, dataHdr + 8)
  }

  /** Pure-JVM RIFF/WAVE PCM decoder — the audio analog of [[decodePpm]],
    * no codec dependency: `RIFF <size> WAVE`, then a chunk walk for
    * `fmt ` (must be audioFormat 1 = integer PCM; 16-bit signed or
    * 8-bit unsigned samples) and `data` (little-endian interleaved
    * frames). 8-bit samples normalize into the 16-bit signed space as
    * (b − 128)·256, so every consumer sees one sample domain. Trailing
    * partial frames and odd-size chunk padding are handled per the
    * RIFF spec; anything malformed — wrong magic, missing/short
    * chunks, non-PCM, unsupported depth, non-positive layout — returns
    * None so corrupt payloads degrade to the header sniff instead of
    * throwing mid-partition.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    val (fmt, dataOff, dataLen) = riffWaveChunks(bytes) match {
      case Some(t) => t
      case None    => return None
    }
    if (le16(bytes, fmt) != 1) return None // integer PCM only
    val channels = le16(bytes, fmt + 2)
    val rate = le32(bytes, fmt + 4).toInt
    val bits = le16(bytes, fmt + 14)
    if (channels <= 0 || rate <= 0 || (bits != 16 && bits != 8)) return None
    val sampleBytes = bits / 8
    val frameBytes = channels * sampleBytes
    val frames = dataLen / frameBytes // drop a trailing partial frame
    val out = new Array[Short](frames * channels)
    var s = 0
    while (s < out.length) {
      val o = dataOff + s * sampleBytes
      out(s) =
        if (bits == 16) ((bytes(o) & 0xFF) | (bytes(o + 1) << 8)).toShort
        else (((bytes(o) & 0xFF) - 128) * 256).toShort
      s += 1
    }
    Some((channels, rate, out))
  }

  /** The IMA/DVI ADPCM step-size table (89 entries) and index-advance
    * table — the public constants every IMA decoder shares; mirrored
    * verbatim in the q_audio_decode_ima oracle's literal list.
    */
  val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
    2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** Pure-JVM IMA/DVI ADPCM WAV decoder (wFormatTag 0x11) — the first
    * COMPRESSED audio format: 4-bit nibbles expand through the adaptive
    * step-size state machine to the same 16-bit signed sample domain
    * as [[decodeWav]], so every downstream screen is codec-agnostic.
    * Block layout per the public spec: each `blockAlign`-sized block
    * opens with a 4-byte header (initial predictor int16 LE, step
    * index, reserved) whose predictor IS the block's first output
    * sample, then data bytes carry two nibbles each, LOW nibble first.
    * Mono only (the PCM path covers multi-channel de-interleave;
    * stereo ADPCM adds 4-byte channel interleave and returns None
    * here). Malformed payloads return None — degrade, don't throw.
    */
  def decodeWavIma(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    val (fmt, dataOff, dataLen) = riffWaveChunks(bytes) match {
      case Some(t) => t
      case None    => return None
    }
    if (le16(bytes, fmt) != 0x11) return None // IMA/DVI ADPCM only
    val channels = le16(bytes, fmt + 2)
    val rate = le32(bytes, fmt + 4).toInt
    val blockAlign = le16(bytes, fmt + 12)
    val bits = le16(bytes, fmt + 14)
    if (channels != 1 || rate <= 0 || bits != 4 || blockAlign < 5)
      return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Short]
    var bo = 0
    while (bo + 4 <= dataLen) {
      val blockLen = math.min(blockAlign, dataLen - bo)
      var pred = le16(bytes, dataOff + bo).toShort.toInt // sign-extended
      var idx = bytes(dataOff + bo + 2) & 0xFF
      if (idx > 88) return None
      out += pred.toShort // the header predictor is the first sample
      var j = 4
      while (j < blockLen) {
        val b = bytes(dataOff + bo + j) & 0xFF
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) b & 0x0F else (b >> 4) & 0x0F
          val step = ImaStepTable(idx)
          var diff = step >> 3
          if ((nib & 4) != 0) diff += step
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 1) != 0) diff += step >> 2
          pred = if ((nib & 8) != 0) math.max(-32768, pred - diff)
                 else math.min(32767, pred + diff)
          out += pred.toShort
          idx = math.min(88, math.max(0,
            idx + (if ((nib & 7) < 4) -1 else ((nib & 7) - 3) * 2)))
          half += 1
        }
        j += 1
      }
      bo += blockLen
    }
    Some((1, rate, out.toArray))
  }

  /** Deterministic IMA ADPCM WAV fixture: mono 8000 Hz, ONE block —
    * header predictor (seed·37 mod 256 − 128), step index seed mod 16,
    * then 64 nibbles n_i = (seed+i) mod 16 (two per byte, low first).
    * Every decoded sample is a pure function of (seed, i) through the
    * public IMA state machine, so a recursive SQL oracle re-derives
    * the whole clip.
    */
  def syntheticWavIma(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticWavIma: non-negative seed")
    val nData = 32 // bytes -> 64 nibbles -> 65 samples with the header
    val blockAlign = 4 + nData
    val (out, base) = wavScaffold(0x11, 1, 8000, 8000 * blockAlign / 65,
      blockAlign, 4, Array[Byte](2, 0, 65, 0) /* cbSize, samples/block */,
      blockAlign)
    val pred0 = ((seed * 37) % 256 - 128).toInt
    putLe(out, base, pred0 & 0xFFFF, 2)
    out(base + 2) = (seed % 16).toByte; out(base + 3) = 0
    var j = 0
    while (j < nData) {
      val lo = ((seed + 2 * j) % 16).toInt
      val hi = ((seed + 2 * j + 1) % 16).toInt
      out(base + 4 + j) = (lo | (hi << 4)).toByte
      j += 1
    }
    out
  }

  /** MS ADPCM adaptation table — 16 entries indexed by the UNSIGNED
    * nibble (public RIFF/WAVE spec, wFormatTag 2).
    */
  val MsAdaptTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** The seven standard MS ADPCM predictor coefficient pairs
    * (iCoef1, iCoef2) — the two-tap predictors every conformant
    * encoder chooses among per block.
    */
  val MsCoef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  val MsCoef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

  /** Pure-JVM MS ADPCM WAV decoder (wFormatTag 2) — the third ADPCM
    * family member, completing the WAV codec matrix (PCM, IMA, G.711
    * μ/A, MS). Each `blockAlign` block opens with a per-channel header
    * — predictor index (selects the two-tap coefficient pair), initial
    * delta (int16), then the block's first two samples iSamp1/iSamp2
    * (iSamp2 is the OLDER one and is emitted FIRST) — fields
    * channel-interleaved; nibbles then stream HIGH half first,
    * alternating channels. Per sample: predict (s1·c1 + s2·c2)/256
    * (integer division truncating toward zero — both engines agree),
    * add delta×signed-nibble, clamp to int16, adapt
    * delta = max(16, table[nibble]·delta/256). The adaptation has no
    * upper bound in the spec because conformant encoders never grow it
    * — but an UNTRUSTED nibble stream multiplies delta by up to 3 per
    * sample, overflowing any fixed width, so delta caps at 2^24 here
    * (far above any real stream's range; keeps every product in
    * bounded integer arithmetic in both engines). Malformed payloads —
    * predictor index over 6, non-positive initial delta, bad layout —
    * return None: degrade, don't throw.
    */
  def decodeWavMs(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    val (fmt, dataOff, dataLen) = riffWaveChunks(bytes) match {
      case Some(t) => t
      case None    => return None
    }
    if (le16(bytes, fmt) != 2) return None // MS ADPCM only
    val channels = le16(bytes, fmt + 2)
    val rate = le32(bytes, fmt + 4).toInt
    val blockAlign = le16(bytes, fmt + 12)
    val bits = le16(bytes, fmt + 14)
    if (channels < 1 || channels > 2 || rate <= 0 || bits != 4 ||
        blockAlign < 7 * channels)
      return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Short]
    var bo = 0
    while (bo + 7 * channels <= dataLen) {
      val blockLen = math.min(blockAlign, dataLen - bo)
      val base = dataOff + bo
      val c1 = new Array[Int](channels); val c2 = new Array[Int](channels)
      val delta = new Array[Int](channels)
      val s1 = new Array[Int](channels); val s2 = new Array[Int](channels)
      var ch = 0
      while (ch < channels) {
        val p = bytes(base + ch) & 0xFF
        if (p > 6) return None
        c1(ch) = MsCoef1(p); c2(ch) = MsCoef2(p)
        delta(ch) = le16(bytes, base + channels + 2 * ch).toShort.toInt
        if (delta(ch) <= 0) return None
        s1(ch) = le16(bytes, base + 3 * channels + 2 * ch).toShort.toInt
        s2(ch) = le16(bytes, base + 5 * channels + 2 * ch).toShort.toInt
        ch += 1
      }
      // the two header samples lead the block, OLDER first
      ch = 0; while (ch < channels) { out += s2(ch).toShort; ch += 1 }
      ch = 0; while (ch < channels) { out += s1(ch).toShort; ch += 1 }
      var j = 7 * channels
      var nibIdx = 0
      while (j < blockLen) {
        val b = bytes(base + j) & 0xFF
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) (b >> 4) & 0x0F else b & 0x0F
          val c = nibIdx % channels
          val snib = if (nib >= 8) nib - 16 else nib
          val pred = (s1(c) * c1(c) + s2(c) * c2(c)) / 256
          val sample = math.min(32767, math.max(-32768, pred + delta(c) * snib))
          out += sample.toShort
          delta(c) = math.min(1 << 24,
            math.max(16L, MsAdaptTable(nib).toLong * delta(c) / 256L)).toInt
          s2(c) = s1(c); s1(c) = sample
          nibIdx += 1
          half += 1
        }
        j += 1
      }
      bo += blockLen
    }
    if (out.isEmpty) return None
    Some((channels, rate, out.toArray))
  }

  /** Deterministic MS ADPCM WAV fixture: mono 8000 Hz, ONE block with
    * predictor pair seed mod 7 (all seven coefficient pairs exercised
    * across the key range), initial delta 16 + (seed·13 mod 240),
    * header samples (seed·31 mod 256 − 128) / (seed·17 mod 256 − 128),
    * then 64 nibbles n_i = (seed+i) mod 16 packed HIGH half first.
    * Every decoded sample is a pure function of (seed, i) through the
    * public predictor/adaptation arithmetic, so a recursive SQL oracle
    * re-derives the whole clip.
    */
  def syntheticWavMs(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticWavMs: non-negative seed")
    val nData = 32 // bytes -> 64 nibbles -> 66 samples with the header
    val blockAlign = 7 + nData
    val (out, base) = wavScaffold(2, 1, 8000, 8000 * blockAlign / 66,
      blockAlign, 4, Array[Byte](0, 0) /* cbSize 0: canonical table implied */,
      blockAlign)
    out(base) = (seed % 7).toByte
    putLe(out, base + 1, (16 + (seed * 13) % 240).toInt, 2)
    putLe(out, base + 3, ((seed * 31) % 256 - 128).toInt & 0xFFFF, 2)
    putLe(out, base + 5, ((seed * 17) % 256 - 128).toInt & 0xFFFF, 2)
    var j = 0
    while (j < nData) {
      val hi = ((seed + 2 * j) % 16).toInt
      val lo = ((seed + 2 * j + 1) % 16).toInt
      out(base + 7 + j) = ((hi << 4) | lo).toByte
      j += 1
    }
    out
  }

  /** μ-law byte → 16-bit sample, the canonical CCITT/ITU-T G.711
    * expansion: complement, mantissa·8 + 0x84 bias, segment shift,
    * bias removal, sign (complemented bit 7 set = negative). Closed
    * form — ((u%16)·8+132)·2^((u/16)%8) with u = 255−code — so a SQL
    * oracle re-derives every sample arithmetically.
    */
  def ulawExpand(code: Int): Int = {
    val u = ~code & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u >> 4) & 7
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** A-law byte → 16-bit sample (ITU-T G.711): XOR 0x55 (the even-bit
    * inversion), segmented expansion — seg 0: m·16+8; seg ≥ 1:
    * (m·16+264)·2^(seg−1) — bit 7 SET = positive.
    */
  def alawExpand(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a >> 4) & 7
    var t = (a & 0x0F) << 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** Pure-JVM G.711 WAV decoder — telephony's standard companded 8-bit
    * codecs (wFormatTag 7 = μ-law, 6 = A-law), byte-interleaved like
    * 8-bit PCM so the multi-channel de-interleave is shared with
    * [[decodeWav]]'s contract. Each byte expands through the
    * closed-form segment/mantissa formula into the shared 16-bit
    * signed sample domain. Returns the law's format tag alongside the
    * (channels, rate, samples) triple; anything malformed — wrong
    * magic, non-G.711 tag, non-8-bit samples, missing chunks —
    * returns None so corrupt payloads degrade like every codec here.
    */
  def decodeWavG711(bytes: Array[Byte]): Option[(String, (Int, Int, Array[Short]))] = {
    val (fmt, dataOff, dataLen) = riffWaveChunks(bytes) match {
      case Some(t) => t
      case None    => return None
    }
    val law = le16(bytes, fmt)
    if (law != 6 && law != 7) return None // A-law / μ-law only
    val channels = le16(bytes, fmt + 2)
    val rate = le32(bytes, fmt + 4).toInt
    val bits = le16(bytes, fmt + 14)
    if (channels <= 0 || rate <= 0 || bits != 8) return None
    val frames = dataLen / channels // drop a trailing partial frame
    val out = new Array[Short](frames * channels)
    var s = 0
    while (s < out.length) {
      val c = bytes(dataOff + s) & 0xFF
      out(s) = (if (law == 7) ulawExpand(c) else alawExpand(c)).toShort
      s += 1
    }
    Some((if (law == 7) "wav_ulaw" else "wav_alaw", (channels, rate, out)))
  }

  /** Deterministic G.711 WAV fixture: code byte i = (seed·31 + i·7)
    * mod 256, interleaved over `channels` at 8000 Hz — every decoded
    * sample is the closed-form expansion of that byte, so the oracle
    * re-derives the whole clip arithmetically.
    */
  def syntheticWavG711(seed: Long, law: Int, channels: Int, frames: Int): Array[Byte] = {
    require(seed >= 0 && (law == 6 || law == 7) && channels > 0 && frames > 0,
      "syntheticWavG711: non-negative seed, law 6/7, positive layout")
    val nData = channels * frames
    val (out, base) = wavScaffold(law, channels, 8000, 8000 * channels,
      channels, 8, Array.emptyByteArray, nData)
    var j = 0
    while (j < nData) {
      out(base + j) = ((seed * 31 + j * 7) % 256).toByte
      j += 1
    }
    out
  }

  /** CRC-8, polynomial x^8+x^2+x+1 (0x07), MSB-first, init 0 — the
    * FLAC frame-header checksum. */
  private def flacCrc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xFF
      var b = 0
      while (b < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF; b += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), MSB-first, init 0 —
    * the FLAC whole-frame checksum. */
  private def flacCrc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xFF) << 8
      var b = 0
      while (b < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF else (crc << 1) & 0xFFFF; b += 1 }
      i += 1
    }
    crc
  }

  /** Pure-JVM FLAC decoder — the LOSSLESS compressed audio format, so
    * (unlike MP3/AAC) its decode is closed-form oracle-able: rice-coded
    * residuals reconstruct through fixed or LPC predictors to exact
    * integer samples. Coverage per the public format spec
    * (https://xiph.org/flac/format.html layouts): STREAMINFO + skipped
    * metadata blocks; frames with any blocksize code (fixed table,
    * 8/16-bit inline), sample-rate codes (STREAMINFO, fixed table, kHz
    * and Hz inline forms), mono or independent stereo, 16-bit samples;
    * subframe types CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders
    * 1-32; 4- and 5-bit rice partitions incl. the escape (raw
    * fixed-width) code; wasted-bits shifts; CRC-8 (header) and CRC-16
    * (frame) both VERIFIED. Stereo decorrelation modes (left/mid/side)
    * and 8/12/20/24-bit depths return None — degrade, don't throw —
    * like every codec here. Returns (channels, rate, interleaved
    * 16-bit samples), [[decodeWav]]'s exact contract, so every
    * downstream screen is codec-agnostic.
    */
  def decodeFlac(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = try {
    if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
      bytes(2) != 'a' || bytes(3) != 'C') return None
    def u8(o: Int): Int = bytes(o) & 0xFF
    // ---- metadata walk ----
    var p = 4
    var last = false
    var rate = -1; var nCh = -1; var bps = -1; var total = -1L
    while (!last) {
      if (p + 4 > bytes.length) return None
      val hdr = u8(p)
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7F
      val blen = (u8(p + 1) << 16) | (u8(p + 2) << 8) | u8(p + 3)
      if (p + 4 + blen > bytes.length) return None
      if (btype == 0 && blen >= 34) { // STREAMINFO
        val o = p + 4
        rate = (u8(o + 10) << 12) | (u8(o + 11) << 4) | (u8(o + 12) >> 4)
        nCh = ((u8(o + 12) >> 1) & 7) + 1
        bps = (((u8(o + 12) & 1) << 4) | (u8(o + 13) >> 4)) + 1
        total = ((u8(o + 13) & 0xF).toLong << 32) |
          ((u8(o + 14).toLong << 24) | (u8(o + 15).toLong << 16) |
            (u8(o + 16).toLong << 8) | u8(o + 17).toLong)
      }
      p += 4 + blen
    }
    if (rate <= 0 || nCh < 1 || nCh > 2 || bps != 16) return None

    // ---- bit reader over the frame section ----
    var bitPos = p * 8
    val endBit = bytes.length * 8
    def bitsLeft: Long = endBit.toLong - bitPos
    def readBit(): Int = {
      if (bitPos >= endBit) throw new IllegalStateException("eof")
      val v = (u8(bitPos >> 3) >> (7 - (bitPos & 7))) & 1
      bitPos += 1
      v
    }
    def readBits(n: Int): Int = { // n <= 31
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if (n > 0 && (v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) {
        q += 1
        if (q > (1 << 20)) throw new IllegalStateException("runaway unary")
      }
      q
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[Short]
    var got = 0L
    // ---- frame loop ----
    while ((total <= 0L || got < total * nCh) && bitsLeft >= 40) {
      val frameStart = bitPos >> 3
      if (readBits(14) != 0x3FFE) return None // sync
      if (readBit() != 0) return None         // reserved
      readBit()                               // blocking strategy
      val bsCode = readBits(4)
      val srCode = readBits(4)
      val chCode = readBits(4)
      val ssCode = readBits(3)
      if (readBit() != 0) return None
      // coded frame/sample number: UTF-8-like variable length
      val b0 = readBits(8)
      val extra =
        if ((b0 & 0x80) == 0) 0
        else if ((b0 & 0xE0) == 0xC0) 1
        else if ((b0 & 0xF0) == 0xE0) 2
        else if ((b0 & 0xF8) == 0xF0) 3
        else if ((b0 & 0xFC) == 0xF8) 4
        else if ((b0 & 0xFE) == 0xFC) 5
        else if (b0 == 0xFE) 6
        else return None
      var e = 0
      while (e < extra) { if ((readBits(8) & 0xC0) != 0x80) return None; e += 1 }
      val blockSize = bsCode match {
        case 0  => return None // reserved
        case 1  => 192
        case n if n >= 2 && n <= 5 => 576 << (n - 2)
        case 6  => readBits(8) + 1
        case 7  => readBits(16) + 1
        case n  => 256 << (n - 8)
      }
      val frameRate = srCode match {
        case 0  => rate
        case 1  => 88200
        case 2  => 176400
        case 3  => 192000
        case 4  => 8000
        case 5  => 16000
        case 6  => 22050
        case 7  => 24000
        case 8  => 32000
        case 9  => 44100
        case 10 => 48000
        case 11 => 96000
        case 12 => readBits(8) * 1000
        case 13 => readBits(16)
        case 14 => readBits(16) * 10
        case _  => return None
      }
      if (frameRate != rate) return None
      val frameCh = chCode match {
        case 0 => 1
        case 1 => 2
        case _ => return None // >2 or stereo decorrelation: unsupported
      }
      if (frameCh != nCh) return None
      val frameBps = ssCode match {
        case 0 => bps
        case 4 => 16
        case _ => return None // 8/12/20/24-bit frames unsupported
      }
      if (frameBps != 16) return None
      // CRC-8 over the header bytes read so far (reader is byte-aligned
      // here: every inline field above is whole bytes past the first 4)
      if ((bitPos & 7) != 0) return None
      val crc8 = flacCrc8(bytes, frameStart, bitPos >> 3)
      if (readBits(8) != crc8) return None

      // ---- subframes ----
      val chans = Array.ofDim[Int](frameCh, blockSize)
      var c = 0
      while (c < frameCh) {
        if (readBit() != 0) return None // subframe pad bit
        val sfType = readBits(6)
        val wasted = if (readBit() == 1) readUnary() + 1 else 0
        val eff = 16 - wasted
        val s = chans(c)
        def decodeResiduals(order: Int): Array[Int] = {
          val res = new Array[Int](blockSize - order)
          val method = readBits(2)
          if (method > 1) throw new IllegalStateException("reserved residual method")
          val pBits = if (method == 0) 4 else 5
          val escape = if (method == 0) 0xF else 0x1F
          val po = readBits(4)
          val partitions = 1 << po
          if (blockSize % partitions != 0) throw new IllegalStateException("bad partition order")
          var idx = 0
          var part = 0
          while (part < partitions) {
            val n = (blockSize >> po) - (if (part == 0) order else 0)
            if (n < 0) throw new IllegalStateException("order exceeds first partition")
            val param = readBits(pBits)
            var j = 0
            if (param == escape) {
              val width = readBits(5)
              while (j < n) { res(idx) = if (width == 0) 0 else readSigned(width); idx += 1; j += 1 }
            } else {
              while (j < n) {
                val q = readUnary()
                val u = (q << param) | readBits(param)
                res(idx) = (u >>> 1) ^ -(u & 1) // zigzag
                idx += 1; j += 1
              }
            }
            part += 1
          }
          res
        }
        if (sfType == 0) { // CONSTANT
          val v = readSigned(eff)
          java.util.Arrays.fill(s, v)
        } else if (sfType == 1) { // VERBATIM
          var i = 0
          while (i < blockSize) { s(i) = readSigned(eff); i += 1 }
        } else if ((sfType & 0x38) == 0x08 && (sfType & 7) <= 4) { // FIXED
          val order = sfType & 7
          var i = 0
          while (i < order) { s(i) = readSigned(eff); i += 1 }
          val res = decodeResiduals(order)
          i = order
          while (i < blockSize) {
            val pred = order match {
              case 0 => 0L
              case 1 => s(i - 1).toLong
              case 2 => 2L * s(i - 1) - s(i - 2)
              case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
              case 4 => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
            }
            s(i) = (pred + res(i - order)).toInt
            i += 1
          }
        } else if ((sfType & 0x20) != 0) { // LPC, order = low 5 bits + 1
          val order = (sfType & 0x1F) + 1
          var i = 0
          while (i < order) { s(i) = readSigned(eff); i += 1 }
          val precM1 = readBits(4)
          if (precM1 == 0xF) return None
          val prec = precM1 + 1
          val shift = readSigned(5)
          if (shift < 0) return None
          val coefs = Array.fill(order)(readSigned(prec))
          val res = decodeResiduals(order)
          i = order
          while (i < blockSize) {
            var acc = 0L
            var j = 0
            while (j < order) { acc += coefs(j).toLong * s(i - 1 - j); j += 1 }
            s(i) = ((acc >> shift) + res(i - order)).toInt
            i += 1
          }
        } else return None
        if (wasted > 0) {
          var i = 0
          while (i < blockSize) { s(i) = s(i) << wasted; i += 1 }
        }
        c += 1
      }
      // byte-align, then CRC-16 over the whole frame
      while ((bitPos & 7) != 0) { if (readBit() != 0) return None }
      val crc16 = flacCrc16(bytes, frameStart, bitPos >> 3)
      if (readBits(16) != crc16) return None
      // interleave
      var t = 0
      while (t < blockSize) {
        var cc = 0
        while (cc < frameCh) {
          val v = chans(cc)(t)
          if (v < -32768 || v > 32767) return None
          out += v.toShort
          cc += 1
        }
        t += 1
      }
      got += blockSize.toLong * frameCh
    }
    if (total > 0L && got != total * nCh) return None
    Some((nCh, rate, out.toArray))
  } catch { case _: Exception => None }

  /** Deterministic FLAC fixture encoder: mono, 8000 Hz, 16-bit, one
    * 64-sample frame whose samples are the closed form
    * `s(k,i) = ((k·31 + i·17) mod 128) − 64 + (i mod 5)·9` — so the
    * oracle re-derives every sample without touching the bitstream.
    * EVEN seeds encode through a FIXED order-1 subframe (residuals =
    * first differences), ODD seeds through an LPC order-2 subframe
    * (coefs [2, −1], shift 0 — residuals = second differences), both
    * rice-coded (4-bit method, one partition, param 7) — the two
    * predictor families decode to the SAME samples, which is exactly
    * the lossless guarantee. Real CRC-8/CRC-16 are computed, so the
    * decoder's checksum verification runs for real.
    */
  def syntheticFlac(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticFlac: non-negative seed")
    val n = 64
    val s = Array.tabulate(n)(i => (((seed * 31 + i * 17) % 128) - 64 + (i % 5) * 9).toInt)
    val out = new java.io.ByteArrayOutputStream()
    // ---- stream header + STREAMINFO ----
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x80); out.write(0); out.write(0); out.write(34) // last block, type 0, len 34
    def w16(v: Int): Unit = { out.write(v >> 8); out.write(v & 0xFF) }
    w16(n); w16(n) // min/max blocksize
    out.write(0); out.write(0); out.write(0) // min framesize unknown
    out.write(0); out.write(0); out.write(0) // max framesize unknown
    val rate = 8000
    out.write(rate >> 12); out.write((rate >> 4) & 0xFF)
    out.write(((rate & 0xF) << 4) | (0 << 1) | (15 >> 4)) // ch-1=0, bps-1 high bit
    out.write(((15 & 0xF) << 4) | 0) // bps-1 low nibble, total high 4 = 0
    out.write(0); out.write(0); out.write(0); out.write(n) // total samples = 64
    (0 until 16).foreach(_ => out.write(0)) // md5 unset
    // ---- one frame ----
    val frame = new java.io.ByteArrayOutputStream()
    var acc = 0; var nb = 0
    def putBits(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) { frame.write(acc & 0xFF); acc = 0; nb = 0 }
        i -= 1
      }
    }
    def pad(): Unit = while (nb != 0) putBits(0, 1)
    // header (byte-aligned by construction)
    putBits(0x3FFE, 14); putBits(0, 1); putBits(0, 1) // sync, reserved, fixed-blocksize
    putBits(6, 4)  // blocksize: 8-bit value follows
    putBits(0, 4)  // sample rate: from STREAMINFO
    putBits(0, 4)  // mono
    putBits(4, 3); putBits(0, 1) // 16-bit, reserved
    putBits(0, 8)  // frame number 0 (UTF-8 single byte)
    putBits(n - 1, 8)
    val hdr = frame.toByteArray
    putBits(flacCrc8(hdr, 0, hdr.length), 8)
    val param = 7
    def putRice(v: Int): Unit = {
      val u = (v << 1) ^ (v >> 31) // zigzag
      val q = u >>> param
      var i = 0
      while (i < q) { putBits(0, 1); i += 1 }
      putBits(1, 1)
      putBits(u & ((1 << param) - 1), param)
    }
    if (seed % 2 == 0) {
      // FIXED order 1
      putBits(0, 1); putBits(0x09, 6); putBits(0, 1) // pad, type 001001, no wasted bits
      putBits(s(0) & 0xFFFF, 16)                     // warmup
      putBits(0, 2); putBits(0, 4); putBits(param, 4) // rice method 0, po 0, param
      var i = 1
      while (i < n) { putRice(s(i) - s(i - 1)); i += 1 }
    } else {
      // LPC order 2, coefs [2, -1], precision 4, shift 0
      putBits(0, 1); putBits(0x21, 6); putBits(0, 1) // pad, type 100001 (order 2), no wasted
      putBits(s(0) & 0xFFFF, 16); putBits(s(1) & 0xFFFF, 16)
      putBits(3, 4)  // precision - 1
      putBits(0, 5)  // shift
      putBits(2 & 0xF, 4); putBits(-1 & 0xF, 4) // coefs, 4-bit signed
      putBits(0, 2); putBits(0, 4); putBits(param, 4)
      var i = 2
      while (i < n) { putRice(s(i) - (2 * s(i - 1) - s(i - 2))); i += 1 }
    }
    pad()
    val body = frame.toByteArray
    val crc16 = flacCrc16(body, 0, body.length)
    out.write(body, 0, body.length)
    out.write(crc16 >> 8); out.write(crc16 & 0xFF)
    out.toByteArray
  }

  /** Decode one payload to [[AudioStats]]: per-channel sample sums,
    * sums of squares and zero-crossing counts (a crossing at frame t>0
    * when sign(s[t-1]) ≠ sign(s[t]), negatives vs non-negatives) over
    * the first two channels; `dur_ms = frames·1000 div rate` (integer).
    * PCM decodes tag "wav"; IMA ADPCM, "wav_ima"; MS ADPCM, "wav_ms";
    * G.711, "wav_ulaw" / "wav_alaw"; FLAC, "flac".
    * Undecodable payloads keep a header sniff (mp3/ogg/flac magics)
    * and zeroed stats — the same labeled-fallback contract as
    * [[imageStats]].
    */
  def audioStats(id: Long, bytes: Array[Byte]): AudioStats =
    decodeWav(bytes).map(d => ("wav", d))
      .orElse(decodeWavIma(bytes).map(d => ("wav_ima", d)))
      .orElse(decodeWavMs(bytes).map(d => ("wav_ms", d)))
      .orElse(decodeWavG711(bytes))
      .orElse(decodeFlac(bytes).map(d => ("flac", d))) match {
      case Some((fmt, (ch, rate, pcm))) =>
        val frames = if (ch == 0) 0 else pcm.length / ch
        val sums = new Array[Long](2); val ssqs = new Array[Long](2)
        val zcs = new Array[Long](2)
        var c = 0
        while (c < math.min(ch, 2)) {
          var t = 0
          var prevNeg = false
          while (t < frames) {
            val v = pcm(t * ch + c).toLong
            sums(c) += v; ssqs(c) += v * v
            val neg = v < 0
            if (t > 0 && neg != prevNeg) zcs(c) += 1
            prevNeg = neg
            t += 1
          }
          c += 1
        }
        AudioStats(id, fmt, ch, rate, frames.toLong,
          frames.toLong * 1000L / rate,
          sums(0), ssqs(0), zcs(0), sums(1), ssqs(1), zcs(1))
      case None =>
        val fmt =
          if (bytes.length >= 3 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') "mp3"
          else if (bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'g' && bytes(2) == 'g') "ogg"
          else if (bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a') "flac"
          else "unknown"
        AudioStats(id, fmt, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    }

  /** Batch audio decode: (idCol: long, payloadCol: binary) →
    * [[AudioStats]] rows, one iterator pass per partition — the same
    * map-only, shuffle-free shape as [[decodeImages]].
    */
  def decodeAudio(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
      .mapPartitions(_.map(b => audioStats(b.media_id, b.payload)))
      .toDF()
  }

  /** Pure-JVM MJPEG-in-AVI decoder — the first COMPRESSED video path:
    * a RIFF/AVI container walk (recursing into LIST chunks, word-
    * aligned sizes) collects the `00dc`/`00db` video chunks, each of
    * which is a complete baseline JPEG decoded by [[decodeJpeg]] — the
    * container and the codec compose, exactly how a real MJPEG file is
    * laid out. Returns (w, h, top-down RGB frames); dimension-
    * inconsistent or undecodable frames, or a frameless container,
    * return None — the degrade-don't-throw contract throughout.
    */
  def decodeAviMjpeg(bytes: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] = try {
    def tag(o: Int, s: String): Boolean =
      o + 4 <= bytes.length && s.zipWithIndex.forall { case (c, j) => bytes(o + j) == c.toByte }
    if (bytes.length < 12 || !tag(0, "RIFF") || !tag(8, "AVI ")) return None
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val sz = le32(bytes, i + 4).toInt
        if (sz < 0 || i + 8 + sz.toLong > end) return // truncated: stop
        if (tag(i, "LIST")) walk(i + 12, i + 8 + sz)
        else if (tag(i, "00dc") || tag(i, "00db"))
          chunks += java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + sz)
        i += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, math.min(bytes.length, 8 + le32(bytes, 4).toInt.max(0)))
    if (chunks.isEmpty) return None
    val decoded = chunks.map(decodeJpeg)
    if (decoded.exists(_.isEmpty)) return None
    val fs = decoded.map(_.get)
    val (w, h, _) = fs.head
    if (fs.exists(f => f._1 != w || f._2 != h)) return None
    Some((w, h, fs.map(_._3).toSeq))
  } catch { case _: Exception => None }

  /** Per decoded MJPEG frame: grayscale integer moments ((r+g+b) div 3
    * per pixel, as [[imageStats]]' dHash gray) — the per-frame signal
    * the scene-cut / black-frame screens consume, now from a
    * compressed container. Fixed-shape, all-integer.
    */
  final case class MjpegFrameStats(
      media_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      frame_no: Int,
      sum_gray: Long,
      ssq_gray: Long)

  /** Local per-payload MJPEG frame stats; empty on undecodable input. */
  def mjpegFrameStats(id: Long, bytes: Array[Byte]): Seq[MjpegFrameStats] =
    decodeAviMjpeg(bytes) match {
      case Some((w, h, frames)) =>
        frames.zipWithIndex.map { case (px, f) =>
          var s = 0L; var q = 0L
          var m = 0
          val n = w * h
          while (m < n) {
            val g = ((px(3 * m) & 0xFF) + (px(3 * m + 1) & 0xFF) +
              (px(3 * m + 2) & 0xFF)) / 3
            s += g; q += g.toLong * g
            m += 1
          }
          MjpegFrameStats(id, w, h, frames.size, f, s, q)
        }
      case None => Seq.empty
    }

  /** Batch MJPEG decode: one row per decoded frame, map-only (the same
    * flatMap shape as [[decodeVideos]]).
    */
  def decodeVideosMjpeg(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
      .mapPartitions(_.flatMap(b => mjpegFrameStats(b.media_id, b.payload)))
      .toDF()
  }

  /** Deterministic MJPEG/AVI fixture: a structurally real RIFF — LIST
    * hdrl with an avih header chunk, LIST movi with one `00dc` chunk
    * per frame — where frame f of seed k is `syntheticJpeg(k·7 + f)`,
    * so every decoded pixel stays closed-form through the container
    * AND the codec.
    */
  def syntheticAviMjpeg(seed: Long, frames: Int): Array[Byte] = {
    require(seed >= 0 && frames > 0, "syntheticAviMjpeg: non-negative seed, positive frames")
    val out = new java.io.ByteArrayOutputStream()
    def chunk(t: String, d: Array[Byte]): Array[Byte] = {
      val pad = if (d.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
      t.getBytes("US-ASCII") ++ leBytes(d.length, 4) ++ d ++ pad
    }
    def list(t: String, d: Array[Byte]): Array[Byte] =
      "LIST".getBytes("US-ASCII") ++ leBytes(4 + d.length, 4) ++ t.getBytes("US-ASCII") ++ d
    val avih = new Array[Byte](56)
    putLe(avih, 0, 66666, 4)  // usec/frame (~15 fps)
    putLe(avih, 16, frames, 4)
    putLe(avih, 24, 1, 4)     // one stream
    putLe(avih, 32, 16, 4)    // width
    putLe(avih, 36, 16, 4)    // height
    val hdrl = list("hdrl", chunk("avih", avih))
    val movi = list("movi",
      (0 until frames).flatMap(f => chunk("00dc", syntheticJpeg(seed * 7 + f))).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    out.write(leBytes(body.length, 4), 0, 4)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** Per-frame stats of a REAL decoded video: luma moments + chroma
    * sums for every frame — the per-frame signal a scene-cut /
    * black-frame / sampling stage consumes. One row per frame,
    * fixed-shape, all-integer.
    */
  final case class FrameStats(
      media_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      frame_no: Int,
      sum_y: Long, ssq_y: Long, sum_u: Long, sum_v: Long)

  /** Pure-JVM Y4M (YUV4MPEG2) decoder — a REAL video container with no
    * codec dependency (uncompressed planar YUV): ASCII stream header
    * `YUV4MPEG2 W<w> H<h> F<n>:<d> ... C<cs>`, then per frame a
    * `FRAME[ params]\n` marker followed by raw planes. C444 (three
    * w·h planes) and the C420 family (w·h luma + two w/2·h/2 chroma
    * planes, even dims required) are supported; anything malformed —
    * wrong magic, bad dims, unknown colorspace, short frame payload —
    * returns None, the same degrade-don't-throw contract as the other
    * decoders. Returns (w, h, fpsNum, fpsDen, colorspace, frames) with
    * each frame's planes concatenated Y then U then V.
    */
  def decodeY4m(bytes: Array[Byte]): Option[(Int, Int, Int, Int, String, Seq[Array[Byte]])] = {
    val magic = "YUV4MPEG2"
    if (bytes.length < magic.length ||
      !magic.zipWithIndex.forall { case (ch, j) => bytes(j) == ch.toByte }) return None
    var i = magic.length
    def readLine(): Option[String] = {
      val start = i
      while (i < bytes.length && bytes(i) != '\n') i += 1
      if (i >= bytes.length) None
      else {
        val s = new String(bytes, start, i - start, "US-ASCII")
        i += 1 // consume the newline
        Some(s)
      }
    }
    val header = readLine().getOrElse(return None)
    var w = -1; var h = -1; var fn = 25; var fd = 1; var cs = "420"
    header.trim.split(" ").filter(_.nonEmpty).foreach { tok =>
      tok.head match {
        case 'W' => w = tok.tail.toIntOption.getOrElse(-1)
        case 'H' => h = tok.tail.toIntOption.getOrElse(-1)
        case 'F' =>
          val parts = tok.tail.split(":")
          if (parts.length == 2) {
            fn = parts(0).toIntOption.getOrElse(25)
            fd = parts(1).toIntOption.getOrElse(1)
          }
        case 'C' => cs = tok.tail
        case _   => // interlacing / aspect / extensions: ignored
      }
    }
    if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return None
    val frameLen =
      if (cs.startsWith("444")) 3L * w * h
      else if (cs.startsWith("420")) {
        if (w % 2 != 0 || h % 2 != 0) return None
        w.toLong * h + 2L * (w / 2) * (h / 2)
      } else return None
    if (frameLen > Int.MaxValue) return None
    val frames = Seq.newBuilder[Array[Byte]]
    while (i < bytes.length) {
      val line = readLine().getOrElse(return None)
      if (!line.startsWith("FRAME")) return None
      if (i + frameLen > bytes.length) return None
      frames += java.util.Arrays.copyOfRange(bytes, i, i + frameLen.toInt)
      i += frameLen.toInt
    }
    Some((w, h, fn, fd, cs, frames.result()))
  }

  /** Decode one payload to per-frame [[FrameStats]]: luma sum / sum of
    * squares and chroma sums per frame — all-integer, SQL-derivable.
    * Undecodable payloads yield NO rows (the explode-side analog of
    * the sniff fallback: a missing media_id in the output IS the
    * corrupt signal, joinable back against the input for the drop
    * ledger).
    */
  def videoFrameStats(id: Long, bytes: Array[Byte]): Seq[FrameStats] =
    decodeY4m(bytes) match {
      case None => Seq.empty
      case Some((w, h, _, _, cs, frames)) =>
        val ySize = w * h
        val cSize = if (cs.startsWith("444")) ySize else (w / 2) * (h / 2)
        frames.zipWithIndex.map { case (px, f) =>
          var sy = 0L; var qy = 0L; var su = 0L; var sv = 0L
          var m = 0
          while (m < ySize) {
            val v = px(m) & 0xFF
            sy += v; qy += v.toLong * v
            m += 1
          }
          m = 0
          while (m < cSize) {
            su += px(ySize + m) & 0xFF
            sv += px(ySize + cSize + m) & 0xFF
            m += 1
          }
          FrameStats(id, w, h, frames.length, f, sy, qy, su, sv)
        }
    }

  /** Batch video decode: (idCol: long, payloadCol: binary) → one
    * [[FrameStats]] row per decoded frame, one iterator pass per
    * partition (flatMap — corrupt payloads contribute zero rows).
    */
  def decodeVideos(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[MediaBlob]
      .flatMap(b => videoFrameStats(b.media_id, b.payload))
      .toDF()
  }

  /** Deterministic Y4M fixture encoder (test/gate side): C444, plane
    * sample at (frame f, plane p, flat index m) carries
    * (seed·31 + f·97 + p·53 + m) mod 256 — closed form per sample, so
    * a SQL oracle re-derives every plane byte the decoder must
    * integrate.
    */
  def syntheticY4m(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0 && frames > 0,
      "syntheticY4m: non-negative seed, positive layout")
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    val planeSize = w * h
    var f = 0
    while (f < frames) {
      out.write(marker)
      var p = 0
      while (p < 3) {
        var m = 0
        while (m < planeSize) {
          out.write(((seed * 31 + f * 97 + p * 53 + m) % 256).toInt)
          m += 1
        }
        p += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Deterministic WAV fixture encoder (test/gate side): interleaved
    * sample index i (= frame·channels + channel) carries the 16-bit
    * value ((seed·31 + i)·97) mod 65536, interpreted signed (two's
    * complement) — closed form, so a SQL oracle re-derives every sample
    * the decoder must integrate. ·97 spreads consecutive indices across
    * the signed range so sign alternates and zero-crossing counting is
    * actually exercised.
    */
  def syntheticWav(seed: Long, channels: Int, sampleRate: Int, frames: Int): Array[Byte] = {
    require(seed >= 0 && channels > 0 && sampleRate > 0 && frames > 0,
      "syntheticWav: non-negative seed, positive layout")
    val dataLen = frames * channels * 2
    val (out, base) = wavScaffold(1, channels, sampleRate,
      sampleRate * channels * 2, channels * 2, 16, Array.emptyByteArray,
      dataLen)
    var i = 0
    while (i < frames * channels) {
      putLe(out, base + i * 2, (((seed * 31 + i) * 97) % 65536).toInt, 2)
      i += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // WebP (VP8L lossless) — the most common current web image format.
  // Pure-JVM against the published WebP Lossless Bitstream
  // Specification, in the PNG/GIF discipline (lossless, so the decode
  // is closed-form oracle-able). Coverage: the RIFF/WEBP chunk walk,
  // the VP8L header, BOTH prefix-code forms (simple 1-/2-symbol and
  // normal canonical codes behind the 19-symbol code-length code with
  // its 16/17/18 repeats and the max_symbol budget), LZ77 backward
  // references (length/distance prefix values + extra bits, plain
  // distances AND the 120-entry close-neighborhood plane map), the
  // color cache (the spec's 0x1e35a7bd multiplicative hash), and the
  // SUBTRACT_GREEN transform inverse. Out of subset, degrading to
  // None like every codec here: VP8 lossy frames (perceptual — the
  // honest boundary the audio family also draws), VP8X metadata
  // wrappers without a VP8L frame, the PREDICTOR/COLOR/
  // COLOR_INDEXING transforms, and spatially-varying meta prefix
  // codes. Returns top-down RGB.
  // ------------------------------------------------------------------

  /** LSB-first bit reader over a byte window (the VP8L bit order). */
  private final class LBits(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var bit = 0
    def read(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= end) throw new IllegalStateException("vp8l: past end")
        v |= ((b(pos) >> bit) & 1) << i
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        i += 1
      }
      v
    }
  }

  /** One prefix code: explicit (symbol, code, len) rows — canonical
    * for normal codes, first-listed-gets-0 for simple codes. Decoding
    * walks bit-by-bit against the first-code-of-length table.
    */
  private class PrefixCode(lens: Array[Int], syms: Array[Int]) {
    // per length 1..15: count, first canonical code, offset into sorted
    private val count = new Array[Int](16)
    lens.foreach { l => if (l > 0) count(l) += 1 }
    private val firstCode = new Array[Int](16)
    private val offset = new Array[Int](16)
    private var c = 0
    private var off = 0
    (1 to 15).foreach { l =>
      firstCode(l) = c
      offset(l) = off
      c = (c + count(l)) << 1
      off += count(l)
    }
    private val sorted: Array[Int] = {
      val idx = syms.indices.filter(i => lens(i) > 0).sortBy(i => (lens(i), syms(i)))
      idx.map(syms).toArray
    }
    val nSymbols: Int = sorted.length

    def next(br: LBits): Int = {
      if (nSymbols == 1) return sorted(0) // 0-bit code
      var code = 0
      var len = 0
      while (len < 15) {
        code = (code << 1) | br.read(1)
        len += 1
        val d = code - firstCode(len)
        if (d >= 0 && d < count(len)) return sorted(offset(len) + d)
      }
      throw new IllegalStateException("vp8l: bad code")
    }
  }

  /** The code-length code's symbol order (the spec's
    * kCodeLengthCodeOrder).
    */
  private val Vp8lClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** The close-neighborhood distance map: codes 1..120 are 2D offsets
    * (x, y) relative to the current pixel; dist = x + y·xsize (≥ 1).
    */
  private val Vp8lDistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

  /** Length/distance prefix value: codes 0–3 are 1–4 directly; above,
    * (code−2)>>1 extra bits over the offset (2+(code&1))<<extra.
    */
  private def vp8lLzValue(code: Int, br: LBits): Int = {
    if (code < 0) throw new IllegalStateException("vp8l: bad lz code")
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + br.read(extra) + 1
    }
  }

  /** Read one prefix code (simple or normal). */
  private def vp8lReadCode(br: LBits, alphabetSize: Int): PrefixCode = {
    if (br.read(1) == 1) { // simple
      val numSymbols = br.read(1) + 1
      val first8 = br.read(1)
      val s0 = br.read(if (first8 == 1) 8 else 1)
      // single-symbol simple codes consume 0 bits — PrefixCode's
      // nSymbols==1 fast path does exactly that
      if (numSymbols == 1) new PrefixCode(Array(1), Array(s0))
      else {
        val s1 = br.read(8)
        // first-listed symbol gets code 0: feed symbols in code order
        // with equal lengths and force the order via a direct table
        new PrefixCode(Array(1, 1), Array(s0, s1)) {
          override def next(b2: LBits): Int = if (b2.read(1) == 0) s0 else s1
        }
      }
    } else {
      val numCl = 4 + br.read(4)
      if (numCl > 19) throw new IllegalStateException("vp8l: cl count")
      val clLens = new Array[Int](19)
      (0 until numCl).foreach(i => clLens(Vp8lClOrder(i)) = br.read(3))
      val clCode = new PrefixCode(clLens, Array.tabulate(19)(identity))
      if (clCode.nSymbols == 0) throw new IllegalStateException("vp8l: empty cl code")
      var budget = alphabetSize
      if (br.read(1) == 1) { // max_symbol present
        val nbits = 2 + 2 * br.read(3)
        budget = 2 + br.read(nbits)
        if (budget > alphabetSize) throw new IllegalStateException("vp8l: max_symbol")
      }
      val lens = new Array[Int](alphabetSize)
      var sym = 0
      var prev = 8
      while (sym < alphabetSize && budget > 0) {
        budget -= 1
        clCode.next(br) match {
          case l if l < 16 =>
            lens(sym) = l; sym += 1
            if (l != 0) prev = l
          case 16 =>
            val rep = 3 + br.read(2)
            (0 until rep).foreach { _ =>
              if (sym < alphabetSize) { lens(sym) = prev; sym += 1 }
            }
          case 17 =>
            sym += 3 + br.read(3)
          case _ => // 18
            sym += 11 + br.read(7)
        }
      }
      if (sym > alphabetSize) throw new IllegalStateException("vp8l: lengths overflow")
      new PrefixCode(lens, Array.tabulate(alphabetSize)(identity))
    }
  }

  /** One entropy-coded VP8L image (the ARGB image, or a transform's
    * subimage like the palette row): color-cache info, the five
    * prefix codes, and the literal/LZ77/cache pixel loop. Only the
    * LEVEL-0 (ARGB) image carries the meta-prefix marker; a set
    * marker (spatially-varying code groups) is out of subset and
    * throws to the caller's None.
    */
  private def vp8lEntropyImage(br: LBits, w: Int, h: Int, level0: Boolean): Array[Int] = {
    var cacheBits = 0
    if (br.read(1) == 1) {
      cacheBits = br.read(4)
      if (cacheBits < 1 || cacheBits > 11)
        throw new IllegalStateException("vp8l: cache bits")
    }
    if (level0 && br.read(1) == 1)
      throw new IllegalStateException("vp8l: meta prefix out of subset")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val green = vp8lReadCode(br, 256 + 24 + cacheSize)
    val red = vp8lReadCode(br, 256)
    val blue = vp8lReadCode(br, 256)
    val alpha = vp8lReadCode(br, 256)
    val dist = vp8lReadCode(br, 40)
    val argb = new Array[Int](w * h)
    val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
    def insert(px: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * px) >>> (32 - cacheBits)) = px
    var n = 0
    while (n < w * h) {
      val s = green.next(br)
      if (s < 256) {
        val g = s
        val r = red.next(br)
        val b = blue.next(br)
        val a = alpha.next(br)
        val px = (a << 24) | (r << 16) | (g << 8) | b
        argb(n) = px; insert(px); n += 1
      } else if (s < 256 + 24) {
        val length = vp8lLzValue(s - 256, br)
        val dCode = vp8lLzValue(dist.next(br), br)
        val d =
          if (dCode > 120) dCode - 120
          else {
            val (dx, dy) = Vp8lDistMap(dCode - 1)
            math.max(1, dy * w + dx)
          }
        if (d > n || n + length > w * h)
          throw new IllegalStateException("vp8l: backref out of range")
        var i = 0
        while (i < length) {
          argb(n) = argb(n - d); insert(argb(n)); n += 1; i += 1
        }
      } else {
        val idx = s - 256 - 24
        if (idx >= cacheSize) throw new IllegalStateException("vp8l: cache index")
        argb(n) = cache(idx); n += 1
      }
    }
    argb
  }

  /** Index-bundling width shrink: palettes ≤ 16 entries pack several
    * indices into one coded pixel's green channel (§ color indexing).
    */
  private def vp8lIndexBits(paletteSize: Int): Int =
    if (paletteSize <= 2) 3 else if (paletteSize <= 4) 2
    else if (paletteSize <= 16) 1 else 0

  /** VP8L payload → top-down RGB, or None outside the subset.
    * Transforms: SUBTRACT_GREEN and COLOR_INDEXING (palette with
    * pixel bundling — the screenshot/diagram path), applied inverse
    * in reverse read order; PREDICTOR/COLOR stay counted degrades.
    */
  private def decodeVp8l(bytes: Array[Byte], start: Int, len: Int,
      maxPixels: Int): Option[(Int, Int, Array[Byte])] = {
    val br = new LBits(bytes, start, start + len)
    if (br.read(8) != 0x2F) return None
    val w = br.read(14) + 1
    val h = br.read(14) + 1
    br.read(1) // alpha hint (informational)
    if (br.read(3) != 0) return None // version must be 0
    if (w.toLong * h > maxPixels) return None
    // transforms in read order; inverses apply in REVERSE read order
    sealed trait Xf
    case object SubGreen extends Xf
    case class Indexing(palette: Array[Int], xbits: Int) extends Xf
    var transforms = List.empty[Xf] // head = last read
    var curW = w
    while (br.read(1) == 1) {
      br.read(2) match {
        case 2 => transforms ::= SubGreen
        case 3 =>
          val psize = br.read(8) + 1
          val raw = vp8lEntropyImage(br, psize, 1, level0 = false)
          // palette entries are DELTA-coded per channel
          val pal = new Array[Int](psize)
          var prev = 0
          var i = 0
          while (i < psize) {
            val v = raw(i)
            val a = (((prev >>> 24) + (v >>> 24)) & 0xFF) << 24
            val r = ((((prev >> 16) & 0xFF) + ((v >> 16) & 0xFF)) & 0xFF) << 16
            val g = ((((prev >> 8) & 0xFF) + ((v >> 8) & 0xFF)) & 0xFF) << 8
            val b = ((prev & 0xFF) + (v & 0xFF)) & 0xFF
            pal(i) = a | r | g | b
            prev = pal(i)
            i += 1
          }
          val xbits = vp8lIndexBits(psize)
          transforms ::= Indexing(pal, xbits)
          curW = (w + (1 << xbits) - 1) >> xbits
        case _ => return None // predictor/color out of subset
      }
    }
    var argb = vp8lEntropyImage(br, curW, h, level0 = true)
    var outW = curW
    transforms.foreach {
      case Indexing(pal, xbits) =>
        val full = new Array[Int](w * h)
        val bitsPerIdx = 8 >> xbits
        val idxMask = (1 << bitsPerIdx) - 1
        val xMask = (1 << xbits) - 1
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val packed = (argb(y * outW + (x >> xbits)) >> 8) & 0xFF
            val idx = (packed >> ((x & xMask) * bitsPerIdx)) & idxMask
            // out-of-range index: transparent black (the published rule)
            full(y * w + x) = if (idx < pal.length) pal(idx) else 0
            x += 1
          }
          y += 1
        }
        argb = full
        outW = w
      case SubGreen =>
        var m = 0
        while (m < argb.length) {
          val v = argb(m)
          val g = (v >> 8) & 0xFF
          val r = (((v >> 16) & 0xFF) + g) & 0xFF
          val b = ((v & 0xFF) + g) & 0xFF
          argb(m) = (v & 0xFF000000) | (r << 16) | (g << 8) | b
          m += 1
        }
    }
    if (outW != w) return None // indexing never materialized full width
    val px = new Array[Byte](w * h * 3)
    var m = 0
    while (m < w * h) {
      val v = argb(m)
      px(m * 3) = ((v >> 16) & 0xFF).toByte
      px(m * 3 + 1) = ((v >> 8) & 0xFF).toByte
      px(m * 3 + 2) = (v & 0xFF).toByte
      m += 1
    }
    Some((w, h, px))
  }

  def decodeWebp(bytes: Array[Byte], maxPixels: Int = 1 << 22): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 20) return None
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'E' && bytes(10) == 'B' && bytes(11) == 'P')) return None
    var p = 12
    while (p + 8 <= bytes.length) {
      val tag = new String(bytes, p, 4, "US-ASCII")
      val clen = le32(bytes, p + 4).toInt
      if (clen < 0 || p + 8 + clen.toLong > bytes.length) return None
      if (tag == "VP8L") return decodeVp8l(bytes, p + 8, clen, maxPixels)
      if (tag == "VP8 ") return None // lossy: the perceptual honest boundary
      p += 8 + clen + (clen & 1) // chunks pad to even size
    }
    None // VP8X wrapper without a VP8L frame, or no image chunk at all
  } catch { case _: Exception => None }

  // ---- VP8L fixture encoder (tests + gates only) ----

  private final class LBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var bit = 0
    def write(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << bit
        bit += 1
        if (bit == 8) { out.write(cur); cur = 0; bit = 0 }
        i += 1
      }
    }
    /** A prefix code's bits go MSB-first (tree descent order). */
    def writeCode(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { write((code >> i) & 1, 1); i -= 1 }
    }
    def result(): Array[Byte] = {
      if (bit > 0) { out.write(cur); cur = 0; bit = 0 }
      out.toByteArray
    }
  }

  /** Depth-bounded Huffman code lengths over `freq` (index = symbol);
    * zero-count symbols get length 0; a single used symbol gets
    * length 1 (the incomplete-but-unambiguous DEFLATE convention).
    */
  private def huffmanLengths(freq: Array[Long], maxLen: Int = 15): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    val lens = new Array[Int](freq.length)
    if (used.isEmpty) return lens
    if (used.length == 1) { lens(used.head) = 1; return lens }
    // simple two-queue Huffman over (weight, members)
    case class Node(weight: Long, members: List[Int])
    var queue = used.map(s => Node(freq(s), List(s))).sortBy(n => (n.weight, n.members.head)).toList
    val depth = new Array[Int](freq.length)
    while (queue.length > 1) {
      val a :: b :: rest = queue: @unchecked
      (a.members ++ b.members).foreach(s => depth(s) += 1)
      val merged = Node(a.weight + b.weight, a.members ++ b.members)
      queue = (merged :: rest).sortBy(n => (n.weight, n.members.head))
    }
    require(used.forall(depth(_) <= maxLen),
      s"huffmanLengths: depth exceeds $maxLen (pathological fixture histogram)")
    used.foreach(s => lens(s) = depth(s))
    lens
  }

  /** Canonical codes for `lens` (assigned (len asc, symbol asc)). */
  private def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lens.length)
    var code = 0
    (1 to 15).foreach { l =>
      lens.indices.foreach { s =>
        if (lens(s) == l) { codes(s) = code; code += 1 }
      }
      code <<= 1
    }
    codes
  }

  /** Write one prefix code header (simple when ≤2 distinct symbols all
    * ≤255, normal otherwise) and return (lens, codes) for emission.
    */
  private def vp8lWriteCode(bw: LBitWriter, freq: Array[Long]): (Array[Int], Array[Int]) = {
    val used = freq.indices.filter(freq(_) > 0)
    if (used.nonEmpty && used.length <= 2 && used.forall(_ <= 255)) {
      bw.write(1, 1) // simple
      bw.write(used.length - 1, 1)
      bw.write(1, 1) // first symbol in 8 bits
      bw.write(used.head, 8)
      if (used.length == 2) bw.write(used(1), 8)
      val lens = new Array[Int](freq.length)
      val codes = new Array[Int](freq.length)
      if (used.length == 1) lens(used.head) = 0 // 0-bit
      else {
        lens(used.head) = 1; codes(used.head) = 0
        lens(used(1)) = 1; codes(used(1)) = 1
      }
      (lens, codes)
    } else {
      val lens = huffmanLengths(freq)
      val codes = canonicalCodes(lens)
      bw.write(0, 1) // normal
      // code-length code over the literal lengths (no 16/17/18 runs —
      // fixture-size streams don't need them)
      val clFreq = new Array[Long](19)
      lens.foreach(l => clFreq(l) += 1)
      val clLens = huffmanLengths(clFreq, maxLen = 7)
      val clCodes = canonicalCodes(clLens)
      val maxPos = Vp8lClOrder.indices.filter(i => clLens(Vp8lClOrder(i)) > 0).max
      val numCl = math.max(4, maxPos + 1)
      bw.write(numCl - 4, 4)
      (0 until numCl).foreach(i => bw.write(clLens(Vp8lClOrder(i)), 3))
      bw.write(0, 1) // no max_symbol: all alphabet entries follow
      // a SINGLE-symbol code (at either level) is 0 bits on the wire:
      // the decoder's single-symbol fast path never reads — emitting
      // its nominal length-1 bit would desync the stream
      val clEmit = if (clFreq.count(_ > 0) == 1) new Array[Int](19) else clLens
      lens.foreach(l => bw.writeCode(clCodes(l), clEmit(l)))
      val lensEmit = if (used.length == 1) new Array[Int](freq.length) else lens
      (lensEmit, codes)
    }
  }

  /** Inverse of [[vp8lLzValue]]: value → (prefix code, extra bits,
    * extra value).
    */
  private def vp8lLzCode(v: Int): (Int, Int, Int) = {
    require(v >= 1, "vp8l lz value >= 1")
    if (v <= 4) (v - 1, 0, 0)
    else {
      val u = v - 1
      var e = 1
      while ((4 << e) <= u) e += 1
      // u in [2^(e+1), 2^(e+2)) given 2^(e+1) = 2<<e
      if (u < (3 << e)) (2 * e + 2, e, u - (2 << e))
      else (2 * e + 3, e, u - (3 << e))
    }
  }

  /** VP8L fixture encoder over top-down RGB pixels. Options: the
    * SUBTRACT_GREEN transform, a color cache (`cacheBits`), and
    * greedy whole-row LZ77 (`lz77Rows`: a row equal to its
    * predecessor is emitted as one length-w/distance-w backreference
    * — `plainDistance` picks the raw >120 distance form vs the
    * close-neighborhood plane code (0,1)). Alpha is constant 255.
    */
  def webpVp8l(w: Int, h: Int, rgb: Array[Byte], subtractGreen: Boolean = false,
      cacheBits: Int = 0, lz77Rows: Boolean = false,
      plainDistance: Boolean = true): Array[Byte] = {
    require(rgb.length == w * h * 3, "webpVp8l: raster shape")
    val n = w * h
    // literal plan: per pixel either (g,r,b) literal, cache ref, or a
    // row backref token (recorded once at the row's first pixel)
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = new Array[Int](math.max(1, cacheSize))
    val cacheValid = new Array[Boolean](math.max(1, cacheSize))
    sealed trait Tok
    case class Lit(g: Int, r: Int, b: Int) extends Tok
    case class CacheRef(idx: Int) extends Tok
    case object RowRef extends Tok
    val toks = scala.collection.mutable.ArrayBuffer[Tok]()
    var m = 0
    while (m < n) {
      val y = m / w
      if (lz77Rows && m % w == 0 && y > 0 &&
        (0 until w * 3).forall(i => rgb((y - 1) * w * 3 + i) == rgb(y * w * 3 + i))) {
        toks += RowRef
        // backrefs insert their pixels into the cache model too
        (0 until w).foreach { x =>
          val px = argbAt(rgb, (y * w + x), subtractGreen)
          if (cacheSize > 0) {
            val idx = (0x1e35a7bd * px) >>> (32 - cacheBits)
            cache(idx) = px; cacheValid(idx) = true
          }
        }
        m += w
      } else {
        val px = argbAt(rgb, m, subtractGreen)
        val idx = if (cacheSize > 0) (0x1e35a7bd * px) >>> (32 - cacheBits) else 0
        if (cacheSize > 0 && cacheValid(idx) && cache(idx) == px) toks += CacheRef(idx)
        else {
          toks += Lit((px >> 8) & 0xFF, (px >> 16) & 0xFF, px & 0xFF)
          if (cacheSize > 0) { cache(idx) = px; cacheValid(idx) = true }
        }
        m += 1
      }
    }
    // histograms
    val greenF = new Array[Long](256 + 24 + cacheSize)
    val redF = new Array[Long](256)
    val blueF = new Array[Long](256)
    val alphaF = new Array[Long](256)
    val distF = new Array[Long](40)
    val (lenCode, _, _) = vp8lLzCode(w)
    val distVal = if (plainDistance) w + 120 else 1 // plane code 1 = (0,1) = one row up
    val (distCode, _, _) = vp8lLzCode(distVal)
    toks.foreach {
      case Lit(g, r, b) =>
        greenF(g) += 1; redF(r) += 1; blueF(b) += 1; alphaF(255) += 1
      case CacheRef(idx) => greenF(256 + 24 + idx) += 1
      case RowRef => greenF(256 + lenCode) += 1; distF(distCode) += 1
    }
    if (distF.forall(_ == 0)) distF(0) = 1 // unused code still needs a header
    if (alphaF.forall(_ == 0)) alphaF(255) = 1
    if (redF.forall(_ == 0)) redF(0) = 1
    if (blueF.forall(_ == 0)) blueF(0) = 1
    val bw = new LBitWriter
    bw.write(0x2F, 8)
    bw.write(w - 1, 14); bw.write(h - 1, 14)
    bw.write(0, 1) // no alpha
    bw.write(0, 3) // version
    if (subtractGreen) { bw.write(1, 1); bw.write(2, 2) } // one transform
    bw.write(0, 1) // end of transforms
    if (cacheBits > 0) { bw.write(1, 1); bw.write(cacheBits, 4) } else bw.write(0, 1)
    bw.write(0, 1) // no meta prefix
    val (gL, gC) = vp8lWriteCode(bw, greenF)
    val (rL, rC) = vp8lWriteCode(bw, redF)
    val (bL, bC) = vp8lWriteCode(bw, blueF)
    val (aL, aC) = vp8lWriteCode(bw, alphaF)
    val (dL, dC) = vp8lWriteCode(bw, distF)
    toks.foreach {
      case Lit(g, r, b) =>
        bw.writeCode(gC(g), gL(g))
        bw.writeCode(rC(r), rL(r))
        bw.writeCode(bC(b), bL(b))
        bw.writeCode(aC(255), aL(255))
      case CacheRef(idx) =>
        val s = 256 + 24 + idx
        bw.writeCode(gC(s), gL(s))
      case RowRef =>
        val (lc, le, lv) = vp8lLzCode(w)
        bw.writeCode(gC(256 + lc), gL(256 + lc))
        bw.write(lv, le)
        val (dc, de, dv) = vp8lLzCode(distVal)
        bw.writeCode(dC(dc), dL(dc))
        bw.write(dv, de)
    }
    riffWebp(bw.result())
  }

  /** RIFF/WEBP wrapper around one VP8L payload (chunks pad to even). */
  private def riffWebp(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val padded = payload.length + (payload.length & 1)
    out.write("RIFF".getBytes("US-ASCII")); out.write(leBytes(4 + 8 + padded, 4))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII")); out.write(leBytes(payload.length, 4))
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** Write one all-literal entropy image (headers + per-pixel codes),
    * the shape a palette row and an index-packed main image use.
    */
  private def vp8lWriteLiteralPixels(bw: LBitWriter, argbs: Array[Int]): Unit = {
    val greenF = new Array[Long](256 + 24)
    val redF = new Array[Long](256)
    val blueF = new Array[Long](256)
    val alphaF = new Array[Long](256)
    val distF = new Array[Long](40)
    argbs.foreach { v =>
      greenF((v >> 8) & 0xFF) += 1
      redF((v >> 16) & 0xFF) += 1
      blueF(v & 0xFF) += 1
      alphaF(v >>> 24) += 1
    }
    distF(0) = 1 // unused code still needs a header
    val (gL, gC) = vp8lWriteCode(bw, greenF)
    val (rL, rC) = vp8lWriteCode(bw, redF)
    val (bL, bC) = vp8lWriteCode(bw, blueF)
    val (aL, aC) = vp8lWriteCode(bw, alphaF)
    vp8lWriteCode(bw, distF): Unit
    argbs.foreach { v =>
      val g = (v >> 8) & 0xFF
      val r = (v >> 16) & 0xFF
      val b = v & 0xFF
      val a = v >>> 24
      bw.writeCode(gC(g), gL(g))
      bw.writeCode(rC(r), rL(r))
      bw.writeCode(bC(b), bL(b))
      bw.writeCode(aC(a), aL(a))
    }
  }

  /** COLOR_INDEXING fixture encoder: palette of the image's distinct
    * colors (first-occurrence order, ≤ 256; ≤ 16 triggers the pixel
    * BUNDLING the real screenshot path uses), delta-coded palette row
    * as its own entropy image, indices packed into the main image's
    * green channel at the reduced width.
    */
  def webpVp8lIndexed(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "webpVp8lIndexed: raster shape")
    val argbs = Array.tabulate(w * h) { m =>
      0xFF000000 | ((rgb(m * 3) & 0xFF) << 16) |
        ((rgb(m * 3 + 1) & 0xFF) << 8) | (rgb(m * 3 + 2) & 0xFF)
    }
    val palette = argbs.distinct
    require(palette.length <= 256, "webpVp8lIndexed: too many colors for a palette")
    val psize = palette.length
    val index = palette.zipWithIndex.toMap
    val xbits = vp8lIndexBits(psize)
    val bitsPerIdx = 8 >> xbits
    val packedW = (w + (1 << xbits) - 1) >> xbits
    val bw = new LBitWriter
    bw.write(0x2F, 8)
    bw.write(w - 1, 14); bw.write(h - 1, 14)
    bw.write(0, 1) // no alpha
    bw.write(0, 3) // version
    bw.write(1, 1); bw.write(3, 2) // one transform: COLOR_INDEXING
    bw.write(psize - 1, 8)
    // the palette row, DELTA-coded per channel, as its own entropy image
    val deltas = Array.tabulate(psize) { i =>
      val p = palette(i)
      val prev = if (i == 0) 0 else palette(i - 1)
      val a = (((p >>> 24) - (prev >>> 24)) & 0xFF) << 24
      val r = ((((p >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16
      val g = ((((p >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8
      val b = ((p & 0xFF) - (prev & 0xFF)) & 0xFF
      a | r | g | b
    }
    bw.write(0, 1) // palette image: no color cache
    vp8lWriteLiteralPixels(bw, deltas)
    bw.write(0, 1) // end of transforms
    bw.write(0, 1) // main image: no color cache
    bw.write(0, 1) // no meta prefix
    val packed = new Array[Int](packedW * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = index(argbs(y * w + x))
        val slot = y * packedW + (x >> xbits)
        val g = ((packed(slot) >> 8) & 0xFF) |
          (idx << (((x & ((1 << xbits) - 1)) * bitsPerIdx)))
        packed(slot) = 0xFF000000 | ((g & 0xFF) << 8)
        x += 1
      }
      y += 1
    }
    vp8lWriteLiteralPixels(bw, packed)
    riffWebp(bw.result())
  }

  /** The pixel's ARGB as stored (after the subtract-green forward
    * transform when enabled); alpha fixed at 255.
    */
  private def argbAt(rgb: Array[Byte], m: Int, subtractGreen: Boolean): Int = {
    val r0 = rgb(m * 3) & 0xFF
    val g = rgb(m * 3 + 1) & 0xFF
    val b0 = rgb(m * 3 + 2) & 0xFF
    val r = if (subtractGreen) (r0 - g) & 0xFF else r0
    val b = if (subtractGreen) (b0 - g) & 0xFF else b0
    (255 << 24) | (r << 16) | (g << 8) | b
  }

  /** A LOSSY WebP stub: a well-formed RIFF/WEBP container whose image
    * chunk is a "VP8 " (perceptual) frame — what the decoder must
    * classify as webp and DEGRADE on, never guess at (the ISO-table
    * honest boundary the audio family also draws).
    */
  def webpLossyStub(seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val body = new Array[Byte](24)
    var s = seed
    body.indices.foreach { i =>
      s = s * 6364136223846793005L + 1442695040888963407L
      body(i) = ((s >>> 33) & 0xFF).toByte
    }
    out.write("RIFF".getBytes("US-ASCII")); out.write(leBytes(4 + 8 + body.length, 4))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8 ".getBytes("US-ASCII")); out.write(leBytes(body.length, 4))
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** WebP twin of [[syntheticPng]]/[[syntheticPpm]]: the SAME logical
    * pixel formula ((seed·31+m) mod 256) behind the VP8L bitstream —
    * rotating by seed across the three encodings the decoder covers
    * (COLOR_INDEXING palette, SUBTRACT_GREEN, plain literals) — so the
    * family's one oracle proves every transform path pixel-identical.
    */
  def syntheticWebp(seed: Long, w: Int, h: Int): Array[Byte] = {
    require(seed >= 0 && w > 0 && h > 0, "syntheticWebp: non-negative seed, positive dims")
    val px = Array.tabulate(w * h * 3)(m => ((seed * 31 + m) % 256).toByte)
    (seed % 3) match {
      case 0 => webpVp8lIndexed(w, h, px)
      case 1 => webpVp8l(w, h, px, subtractGreen = true)
      case _ => webpVp8l(w, h, px)
    }
  }
}
