package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Container METADATA extraction for the other two dominant media
  * container families — MP4/ISO-BMFF (the web's video container) and
  * Ogg (Vorbis/Opus audio) — completing the inventory layer
  * [[AudioMeta]] opened for MPEG audio: duration, track structure,
  * codec identity and dimensions from pure header arithmetic, no
  * codec work, ~tens of bytes read per box/page regardless of payload
  * size. The inventory decides what to decode; the decodable formats
  * (JPEG/PNG/GIF/BMP/TIFF frames, WAV/FLAC/ADPCM/G.711 audio,
  * MJPEG/Y4M video) have their own full decoders.
  *
  * Untrusted-input contract throughout: malformed sizes stop the walk
  * with the intact prefix visible (torn downloads stay measurable),
  * unknown boxes/codecs skip — never a throw mid-partition.
  *
  * Scale shape: map-only over (media_id, payload) rows — the
  * [[Multimodal.decodeAudio]] plan.
  */
object ContainerMeta {

  import Bytes.{be32, be64, beBytes, le16, le32, le64}

  /** One MP4 blob's inventory: major brand from `ftyp`, movie
    * timescale/duration from `mvhd` (both version 0 and 1 layouts),
    * track count and handler kinds from `trak`/`hdlr`, presentation
    * dimensions from the video track's `tkhd` (16.16 fixed point,
    * integer part). `brand` null when the payload is not ISO-BMFF.
    */
  final case class Mp4Inventory(
      media_id: Long,
      brand: String,
      timescale: Long,
      duration: Long,
      dur_ms: Long,
      n_tracks: Int,
      has_video: Boolean,
      has_audio: Boolean,
      width: Int,
      height: Int)

  /** ISO-BMFF containers whose children are themselves boxes — the
    * walk recurses into exactly these; everything else is a leaf.
    */
  private val Mp4Containers =
    Set("moov", "trak", "mdia", "minf", "stbl", "edts", "udta")

  /** Inventory one MP4 payload. The box walk: 4-byte big-endian size +
    * 4-char type; size 1 → 64-bit largesize follows; size 0 → box runs
    * to end of enclosure; any size overrunning the enclosure stops
    * that level's walk (torn downloads keep the parsed prefix).
    */
  def mp4Inventory(id: Long, bytes: Array[Byte]): Mp4Inventory = try {
    var brand: String = null
    var timescale = 0L; var duration = 0L
    var nTracks = 0; var hasV = false; var hasA = false
    var w = 0; var h = 0
    var trakW = 0; var trakH = 0
    def walk(start: Long, end: Long): Unit = {
      var i = start
      while (i + 8 <= end) {
        val sz32 = be32(bytes, i.toInt)
        val typ = new String(bytes, i.toInt + 4, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        var body = i + 8
        val boxEnd =
          if (sz32 == 1L && i + 16 <= end) { body = i + 16; i + be64(bytes, i.toInt + 8) }
          else if (sz32 == 0L) end
          else i + sz32
        if (boxEnd < body || boxEnd > end) return // malformed: stop this level
        typ match {
          case "ftyp" if boxEnd - body >= 4 =>
            brand = new String(bytes, body.toInt, 4,
              java.nio.charset.StandardCharsets.ISO_8859_1)
          case "mvhd" if boxEnd - body >= 4 =>
            val v = bytes(body.toInt) & 0xFF
            if (v == 1 && boxEnd - body >= 28) {
              timescale = be32(bytes, body.toInt + 20)
              duration = be64(bytes, body.toInt + 24)
            } else if (v == 0 && boxEnd - body >= 20) {
              timescale = be32(bytes, body.toInt + 12)
              duration = be32(bytes, body.toInt + 16)
            }
          case "trak" =>
            nTracks += 1; trakW = 0; trakH = 0
            walk(body, boxEnd)
          case "tkhd" if boxEnd - body >= 1 =>
            val v = bytes(body.toInt) & 0xFF
            // width/height are the LAST 8 bytes of the box (16.16)
            if (boxEnd - body >= (if (v == 1) 92 else 80)) {
              trakW = (be32(bytes, boxEnd.toInt - 8) >> 16).toInt
              trakH = (be32(bytes, boxEnd.toInt - 4) >> 16).toInt
            }
          case "hdlr" if boxEnd - body >= 12 =>
            val kind = new String(bytes, body.toInt + 8, 4,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            if (kind == "vide") { hasV = true; w = trakW; h = trakH }
            if (kind == "soun") hasA = true
          case t if Mp4Containers.contains(t) =>
            walk(body, boxEnd)
          case _ => ()
        }
        i = boxEnd
      }
    }
    // only an ftyp-led payload is in contract (streaming-brand files
    // without a leading ftyp are out); everything else degrades
    if (bytes.length >= 8 &&
        new String(bytes, 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1) == "ftyp")
      walk(0L, bytes.length.toLong)
    val durMs = if (timescale > 0) duration * 1000L / timescale else 0L
    Mp4Inventory(id, brand, timescale, duration, durMs, nTracks, hasV, hasA, w, h)
  } catch {
    case _: Exception =>
      Mp4Inventory(id, null, 0L, 0L, 0L, 0, false, false, 0, 0)
  }

  /** One Ogg blob's inventory: codec identity from the first page's
    * identification header (Vorbis or Opus), sample counts from the
    * LAST parsed page's granule position (Vorbis granules tick at the
    * stream rate; Opus granules always tick at 48 kHz and pre-skip
    * samples subtract). `n_pages` counts parsed pages, so torn
    * downloads surface as short walks with a shorter duration.
    */
  final case class OggInventory(
      media_id: Long,
      codec: String, // "vorbis" | "opus" | "unknown"
      n_channels: Int,
      sample_rate: Int,
      n_pages: Long,
      granule: Long,
      dur_ms: Long)

  /** Inventory one Ogg payload: page walk (magic, version 0, lacing
    * table → payload size), id-header sniff on the first page.
    */
  def oggInventory(id: Long, bytes: Array[Byte]): OggInventory = try {
    var codec = "unknown"
    var channels = 0; var rate = 0; var preskip = 0
    var pages = 0L; var granule = 0L
    var i = 0
    var done = false
    while (!done && i + 27 <= bytes.length) {
      if (bytes(i) != 'O' || bytes(i + 1) != 'g' || bytes(i + 2) != 'g' ||
          bytes(i + 3) != 'S' || bytes(i + 4) != 0) done = true
      else {
        val g = le64(bytes, i + 6)
        val nsegs = bytes(i + 26) & 0xFF
        if (i + 27 + nsegs > bytes.length) done = true
        else {
          var payload = 0
          var s = 0
          while (s < nsegs) { payload += bytes(i + 27 + s) & 0xFF; s += 1 }
          val bodyOff = i + 27 + nsegs
          if (bodyOff + payload > bytes.length) done = true
          else {
            if (pages == 0L && payload >= 8) {
              if (bytes(bodyOff) == 'O' && bytes(bodyOff + 1) == 'p' &&
                  bytes(bodyOff + 2) == 'u' && bytes(bodyOff + 3) == 's' &&
                  bytes(bodyOff + 4) == 'H' && payload >= 19) {
                codec = "opus"
                channels = bytes(bodyOff + 9) & 0xFF
                preskip = le16(bytes, bodyOff + 10)
                rate = 48000 // opus granules always tick at 48 kHz
              } else if (bytes(bodyOff) == 1 && bytes(bodyOff + 1) == 'v' &&
                  bytes(bodyOff + 2) == 'o' && bytes(bodyOff + 3) == 'r' &&
                  bytes(bodyOff + 4) == 'b' && payload >= 30) {
                codec = "vorbis"
                channels = bytes(bodyOff + 11) & 0xFF
                rate = le32(bytes, bodyOff + 12).toInt
              }
            }
            // granule -1 marks a no-packet-ends-here page: keep the max
            if (g >= 0 && g > granule) granule = g
            pages += 1
            i = bodyOff + payload
          }
        }
      }
    }
    val samples = math.max(0L, granule - preskip)
    val durMs = if (rate > 0) samples * 1000L / rate else 0L
    OggInventory(id, codec, channels, rate, pages, granule, durMs)
  } catch {
    case _: Exception => OggInventory(id, "unknown", 0, 0, 0L, 0L, 0L)
  }

  /** One Matroska/WebM blob's inventory — the EBML walk (the one
    * dominant web container the layer didn't cover): doc type from the
    * EBML header, timestamp scale + duration from Segment/Info, track
    * kinds, codec ids, video dimensions and audio parameters from
    * Segment/Tracks — all header arithmetic, no codec work. Duration
    * is EBML's one float field (4- or 8-byte IEEE); dur_ms floors
    * duration·scale/10^6 ns. `doc_type` null when the payload is not
    * EBML.
    */
  final case class MkvInventory(
      media_id: Long,
      doc_type: String, // "webm" | "matroska" | null
      timescale: Long, // nanoseconds per tick (EBML default 1000000)
      dur_ms: Long,
      n_tracks: Int,
      has_video: Boolean,
      has_audio: Boolean,
      width: Int,
      height: Int,
      video_codec: String,
      audio_codec: String,
      n_channels: Int,
      sample_rate: Int)

  /** EBML vint length from its first byte: 1 + the leading-zero count
    * (0x80.. → 1, 0x40.. → 2, …, 0x01 → 8); 0 is invalid.
    */
  private def vintLen(first: Int): Int =
    if (first == 0) -1 else java.lang.Integer.numberOfLeadingZeros(first) - 23

  /** Element ID at `o` (marker bits KEPT — Matroska ids are quoted
    * with them) or null when truncated/invalid.
    */
  private def ebmlId(b: Array[Byte], o: Int, end: Int): (Long, Int) = {
    if (o >= end) return null
    val len = vintLen(b(o) & 0xFF)
    if (len < 1 || len > 4 || o + len > end) return null
    var v = 0L
    var i = 0
    while (i < len) { v = v << 8 | (b(o + i) & 0xFFL); i += 1 }
    (v, len)
  }

  /** Element size at `o` (marker bit STRIPPED); −1 = the all-ones
    * "unknown size" form (live-muxed Segments); null when truncated.
    */
  private def ebmlSize(b: Array[Byte], o: Int, end: Int): (Long, Int) = {
    if (o >= end) return null
    val first = b(o) & 0xFF
    val len = vintLen(first)
    if (len < 1 || len > 8 || o + len > end) return null
    var v = (first & ((1 << (8 - len)) - 1)).toLong
    var allOnes = v == ((1L << (8 - len)) - 1)
    var i = 1
    while (i < len) {
      val x = b(o + i) & 0xFFL
      allOnes &&= x == 0xFFL
      v = v << 8 | x
      i += 1
    }
    (if (allOnes) -1L else v, len)
  }

  private def ebmlUint(b: Array[Byte], o: Int, end: Int): Long = {
    var v = 0L
    var i = o
    while (i < end && i - o < 8) { v = v << 8 | (b(i) & 0xFFL); i += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], o: Int, end: Int): Double =
    if (end - o == 4) java.lang.Float.intBitsToFloat(be32(b, o).toInt).toDouble
    else if (end - o == 8) java.lang.Double.longBitsToDouble(be64(b, o))
    else 0.0

  private def ebmlStr(b: Array[Byte], o: Int, end: Int): String =
    new String(b, o, end - o, java.nio.charset.StandardCharsets.UTF_8)
      .takeWhile(_ != '\u0000') // strings may be zero-padded to size

  /** Inventory one Matroska/WebM payload: the EBML element walk, with
    * the untrusted-input contract of every walk here — a size
    * overrunning its enclosure (torn download) stops THAT level with
    * the parsed prefix kept; unknown-size (all-ones) bodies run to the
    * enclosure end (only meaningful for Segment — the live-muxed
    * form); unknown elements skip by their declared size.
    */
  def mkvInventory(id: Long, bytes: Array[Byte]): MkvInventory = try {
    var docType: String = null
    var tsScale = 1000000L
    var durF = 0.0
    var nTracks = 0; var hasV = false; var hasA = false
    var w = 0; var h = 0; var vCodec: String = null; var aCodec: String = null
    var ch = 0; var rate = 0
    var tType = 0L; var tCodec: String = null
    var tw = 0; var th = 0; var tch = 0; var tRate = 0
    def walk(start: Long, end: Long, ctx: String): Unit = {
      var i = start
      var ok = true
      while (ok && i < end) {
        val idR = ebmlId(bytes, i.toInt, end.toInt)
        if (idR == null) ok = false
        else {
          val (idv, idLen) = idR
          val szR = ebmlSize(bytes, i.toInt + idLen, end.toInt)
          if (szR == null) ok = false
          else {
            val (sz, szLen) = szR
            val body = i + idLen + szLen
            // unknown size: runs to the enclosure end (Segment's
            // live-mux form); a declared size past the enclosure is a
            // torn download — stop this level, keep the prefix
            val bodyEnd = if (sz < 0) end else body + sz
            if (bodyEnd < body || bodyEnd > end) ok = false
            else {
              (ctx, idv) match {
                case ("top", 0x1A45DFA3L)     => walk(body, bodyEnd, "ebml")
                case ("ebml", 0x4282L)        => docType = ebmlStr(bytes, body.toInt, bodyEnd.toInt)
                case ("top", 0x18538067L)     => walk(body, bodyEnd, "segment")
                case ("segment", 0x1549A966L) => walk(body, bodyEnd, "info")
                case ("info", 0x2AD7B1L)      => tsScale = ebmlUint(bytes, body.toInt, bodyEnd.toInt)
                case ("info", 0x4489L)        => durF = ebmlFloat(bytes, body.toInt, bodyEnd.toInt)
                case ("segment", 0x1654AE6BL) => walk(body, bodyEnd, "tracks")
                case ("tracks", 0xAEL) =>
                  tType = 0L; tCodec = null; tw = 0; th = 0; tch = 0; tRate = 0
                  walk(body, bodyEnd, "track")
                  nTracks += 1
                  if (tType == 1L) { hasV = true; w = tw; h = th; vCodec = tCodec }
                  if (tType == 2L) { hasA = true; ch = tch; rate = tRate; aCodec = tCodec }
                case ("track", 0x83L) => tType = ebmlUint(bytes, body.toInt, bodyEnd.toInt)
                case ("track", 0x86L) => tCodec = ebmlStr(bytes, body.toInt, bodyEnd.toInt)
                case ("track", 0xE0L) => walk(body, bodyEnd, "video")
                case ("track", 0xE1L) => walk(body, bodyEnd, "audio")
                case ("video", 0xB0L) => tw = ebmlUint(bytes, body.toInt, bodyEnd.toInt).toInt
                case ("video", 0xBAL) => th = ebmlUint(bytes, body.toInt, bodyEnd.toInt).toInt
                case ("audio", 0xB5L) => tRate = ebmlFloat(bytes, body.toInt, bodyEnd.toInt).toInt
                case ("audio", 0x9FL) => tch = ebmlUint(bytes, body.toInt, bodyEnd.toInt).toInt
                case _                => () // unknown element: skip by size
              }
              i = bodyEnd
            }
          }
        }
      }
    }
    // only an EBML-led payload is in contract; everything else degrades
    if (bytes.length >= 4 && (be32(bytes, 0) & 0xFFFFFFFFL) == 0x1A45DFA3L)
      walk(0L, bytes.length.toLong, "top")
    // doc type is the contract anchor: without it the payload is a
    // torn/adversarial header, and timescale/duration must degrade
    // TOGETHER (a (timescale=0, dur_ms>0) row would read as corrupt to
    // any consumer re-deriving ticks from the pair)
    val durMs =
      if (docType != null && durF > 0 && tsScale > 0)
        (durF * tsScale / 1e6).toLong
      else 0L
    MkvInventory(id, docType, if (docType == null) 0L else tsScale, durMs,
      nTracks, hasV, hasA, w, h, vCodec, aCodec, ch, rate)
  } catch {
    case _: Exception =>
      MkvInventory(id, null, 0L, 0L, 0, false, false, 0, 0, null, null, 0, 0)
  }

  /** Batch walks: map-only, shuffle-free — the decodeAudio plan. */
  def mp4Inventories(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => mp4Inventory(b.media_id, b.payload)))
      .toDF()
  }

  def oggInventories(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => oggInventory(b.media_id, b.payload)))
      .toDF()
  }

  def mkvInventories(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => mkvInventory(b.media_id, b.payload)))
      .toDF()
  }

  // --- synthetic fixtures --------------------------------------------------

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    beBytes(body.length + 8, 4) ++ typ.getBytes("ISO-8859-1").take(4) ++ body

  private def mvhdBox(version: Int, timescale: Long, duration: Long): Array[Byte] = {
    val body =
      if (version == 1)
        Array[Byte](1, 0, 0, 0) ++ beBytes(0, 8) ++ beBytes(0, 8) ++
          beBytes(timescale, 4) ++ beBytes(duration, 8) ++ new Array[Byte](80)
      else
        Array[Byte](0, 0, 0, 0) ++ beBytes(0, 4) ++ beBytes(0, 4) ++
          beBytes(timescale, 4) ++ beBytes(duration, 4) ++ new Array[Byte](80)
    box("mvhd", body)
  }

  private def trakBox(kind: String, w: Int, h: Int): Array[Byte] = {
    val tkhdBody = Array[Byte](0, 0, 0, 0) ++ new Array[Byte](72) ++
      beBytes(w.toLong << 16, 4) ++ beBytes(h.toLong << 16, 4) // 80-byte v0 body
    val hdlrBody = new Array[Byte](8) ++ kind.getBytes("ISO-8859-1") ++
      new Array[Byte](12)
    box("trak", box("tkhd", tkhdBody) ++
      box("mdia", box("hdlr", hdlrBody)))
  }

  /** Three-arm MP4 fixture keyed on `seed % 3`:
    * 0 — isom brand, v0 mvhd (timescale 1000, duration 90000+seed),
    *     one video trak (640x360+seed) + one audio trak;
    * 1 — mp42 brand, v1 mvhd (64-bit duration; timescale 600),
    *     audio-only;
    * 2 — not BMFF at all.
    */
  def syntheticMp4(seed: Long): Array[Byte] = (seed % 3).toInt match {
    case 0 =>
      box("ftyp", "isom".getBytes ++ beBytes(0, 4) ++ "isomiso2".getBytes) ++
        box("moov", mvhdBox(0, 1000L, 90000L + seed) ++
          trakBox("vide", 640 + (seed % 5).toInt, 360) ++
          trakBox("soun", 0, 0))
    case 1 =>
      box("ftyp", "mp42".getBytes ++ beBytes(1, 4) ++ "mp42".getBytes) ++
        box("moov", mvhdBox(1, 600L, 1234567890L + seed) ++
          trakBox("soun", 0, 0))
    case _ =>
      (0 until 32).map(i => ((seed + i) & 0x7D).toByte).toArray
  }

  private def oggPage(granule: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes, 0, 4); out.write(0)
    out.write(if (seq == 0) 2 else 0) // BOS flag on the first page
    for (k <- 0 until 8) out.write(((granule >> (8 * k)) & 0xFF).toInt)
    for (k <- 0 until 4) out.write((0x42 >> (8 * k) & 0xFF)) // serial
    for (k <- 0 until 4) out.write(((seq >> (8 * k)) & 0xFF))
    for (_ <- 0 until 4) out.write(0) // CRC (not verified by the walk)
    // lacing: 255-byte segments + the final short one
    val full = payload.length / 255; val rest = payload.length % 255
    out.write(full + 1)
    for (_ <- 0 until full) out.write(255)
    out.write(rest)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** Three-arm Ogg fixture keyed on `seed % 3`:
    * 0 — Opus (stereo, pre-skip 312, granule 48000+seed at 48 kHz);
    * 1 — Vorbis (channels 1+seed%2, rate 44100, granule 22050+seed);
    * 2 — not Ogg.
    */
  def syntheticOgg(seed: Long): Array[Byte] = (seed % 3).toInt match {
    case 0 =>
      val head = "OpusHead".getBytes ++ Array[Byte](1, 2) ++
        Array[Byte]((312 & 0xFF).toByte, (312 >> 8).toByte) ++
        new Array[Byte](7)
      oggPage(0L, 0, head) ++
        oggPage(48000L + seed, 1, (0 until 40).map(i => ((seed + i) & 0x7D).toByte).toArray)
    case 1 =>
      val ch = (1 + seed % 2).toByte
      // 30-byte id header: type+\"vorbis\"+version+ch+rate+3 bitrates+
      // blocksizes+framing
      val head = Array[Byte](1) ++ "vorbis".getBytes ++
        beBytes(0, 4) ++ Array[Byte](ch) ++
        Array[Byte]((44100 & 0xFF).toByte, ((44100 >> 8) & 0xFF).toByte,
          ((44100 >> 16) & 0xFF).toByte, 0) ++ new Array[Byte](12) ++
        Array[Byte](0x58, 1)
      oggPage(0L, 0, head) ++
        oggPage(22050L + seed, 1, (0 until 40).map(i => ((seed + i) & 0x7D).toByte).toArray)
    case _ =>
      (0 until 32).map(i => ((seed + i) & 0x7D).toByte).toArray
  }

  // --- EBML builders ---

  /** Minimal-vint size encoding (1 or 2 bytes — fixture bodies are
    * small); −1 writes the 1-byte unknown-size form 0xFF.
    */
  private def eSize(n: Long): Array[Byte] =
    if (n < 0) Array(0xFF.toByte)
    else if (n < 0x7F) Array((0x80L | n).toByte) // 0x7F itself would read all-ones
    else { require(n < 0x3FFF); Array((0x40L | (n >> 8)).toByte, (n & 0xFF).toByte) }

  private def eEl(idBytes: Array[Byte], body: Array[Byte]): Array[Byte] =
    idBytes ++ eSize(body.length.toLong) ++ body

  private def eUint(v: Long, len: Int): Array[Byte] =
    (0 until len).map(k => ((v >> (8 * (len - 1 - k))) & 0xFF).toByte).toArray

  private def eF64(v: Double): Array[Byte] =
    eUint(java.lang.Double.doubleToLongBits(v), 8)
  private def eF32(v: Float): Array[Byte] =
    eUint(java.lang.Float.floatToIntBits(v).toLong & 0xFFFFFFFFL, 4)

  private val IdEbml = Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte)
  private val IdSegment = Array(0x18, 0x53, 0x80, 0x67).map(_.toByte)
  private val IdInfo = Array(0x15, 0x49, 0xA9, 0x66).map(_.toByte)
  private val IdTracks = Array(0x16, 0x54, 0xAE, 0x6B).map(_.toByte)

  private def mkvTrack(tType: Int, codec: String, extra: Array[Byte]): Array[Byte] =
    eEl(Array(0xAE.toByte),
      eEl(Array(0x83.toByte), eUint(tType.toLong, 1)) ++
        eEl(Array(0x86.toByte), codec.getBytes("UTF-8")) ++ extra)

  /** Four-arm Matroska/WebM fixture keyed on `seed % 4`:
    * 0 — webm, UNKNOWN-size Segment (the live-muxed form): Info
    *     (scale 1000000, f64 duration 90000+seed ms-ticks), V_VP9
    *     video (1280+seed%7 × 720) + A_OPUS audio (2 ch, 48 kHz f64);
    * 1 — matroska, KNOWN-size Segment: Info (scale 2000000, f32
    *     duration 30000+seed%1000 — exactly representable), A_VORBIS
    *     audio only (1+seed%2 ch, 44.1 kHz);
    * 2 — arm 0 TRUNCATED 3 bytes into the Tracks id (a torn download:
    *     doc type, scale and duration survive, tracks do not);
    * 3 — not EBML at all.
    */
  def syntheticMkv(seed: Long): Array[Byte] = (seed % 4).toInt match {
    case 0 | 2 =>
      val header = eEl(IdEbml,
        eEl(Array(0x42.toByte, 0x82.toByte), "webm".getBytes("UTF-8")))
      val info = eEl(IdInfo,
        eEl(Array(0x2A.toByte, 0xD7.toByte, 0xB1.toByte), eUint(1000000L, 4)) ++
          eEl(Array(0x44.toByte, 0x89.toByte), eF64((90000L + seed).toDouble)))
      val tracks = eEl(IdTracks,
        mkvTrack(1, "V_VP9",
          eEl(Array(0xE0.toByte),
            eEl(Array(0xB0.toByte), eUint(1280L + seed % 7, 2)) ++
              eEl(Array(0xBA.toByte), eUint(720L, 2)))) ++
          mkvTrack(2, "A_OPUS",
            eEl(Array(0xE1.toByte),
              eEl(Array(0xB5.toByte), eF64(48000.0)) ++
                eEl(Array(0x9F.toByte), eUint(2L, 1)))))
      val full = header ++ IdSegment ++ eSize(-1L) ++ info ++ tracks
      if (seed % 4 == 0) full
      else java.util.Arrays.copyOf(full, header.length + IdSegment.length + 1 +
        info.length + 3) // 3 bytes into the Tracks id: torn download
    case 1 =>
      val header = eEl(IdEbml,
        eEl(Array(0x42.toByte, 0x82.toByte), "matroska".getBytes("UTF-8")))
      val info = eEl(IdInfo,
        eEl(Array(0x2A.toByte, 0xD7.toByte, 0xB1.toByte), eUint(2000000L, 4)) ++
          eEl(Array(0x44.toByte, 0x89.toByte),
            eF32((30000L + seed % 1000).toFloat)))
      val tracks = eEl(IdTracks,
        mkvTrack(2, "A_VORBIS",
          eEl(Array(0xE1.toByte),
            eEl(Array(0xB5.toByte), eF64(44100.0)) ++
              eEl(Array(0x9F.toByte), eUint(1L + seed % 2, 1)))))
      header ++ IdSegment ++ eSize((info.length + tracks.length).toLong) ++
        info ++ tracks
    case _ =>
      (0 until 32).map(i => ((seed + i) & 0x7D).toByte).toArray
  }
}
