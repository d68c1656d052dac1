package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audio METADATA extraction without decode — the inventory pass a
  * corpus pipeline runs over millions of audio blobs before deciding
  * what to decode at all: ID3v2 tag frames (title/artist — the text
  * metadata columns a training pipeline wants alongside the media),
  * and an MPEG audio (MP1/MP2/MP3) frame-header walk that yields
  * duration, sample rate, channel count and CBR/VBR-ness from header
  * arithmetic alone. Perceptual-codec PCM stays an honest boundary
  * (the ISO polyphase window is a numeric table, not a formula — a
  * made-up window would be a non-conformant fake); the FRAMING layer
  * is pure spec arithmetic and fully oracle-checkable.
  *
  * Both walks follow the untrusted-input contract of every parser
  * here: malformed structures degrade (stop the walk, skip the frame,
  * zeroed row) — never throw mid-partition.
  *
  * Scale shape: map-only over (media_id, payload) rows, the
  * [[Multimodal.decodeAudio]] plan — embarrassingly parallel, no
  * shuffle, ~30 bytes read per MPEG frame regardless of payload size.
  */
object AudioMeta {

  /** One blob's inventory row. `layer` is 0 when no MPEG frames parse;
    * `tag_ver` is 0 when no ID3v2 tag leads the payload; absent text
    * frames surface as nulls.
    */
  final case class AudioInventory(
      media_id: Long,
      tag_ver: Int,
      title: String,
      artist: String,
      layer: Int,
      sample_rate: Int,
      n_channels: Int,
      n_frames: Long,
      n_samples: Long,
      dur_ms: Long,
      bitrate_mode: String, // "cbr" | "vbr" | "none"
      kbps_min: Int,
      kbps_max: Int)

  /** ID3v2 syncsafe integer: 4 bytes, 7 payload bits each (MSB of
    * every byte must be 0 — reject otherwise: real tags never set it
    * and a flipped bit would mis-span the whole tag).
    */
  private def syncsafe(b: Array[Byte], o: Int): Int = {
    if (((b(o) | b(o + 1) | b(o + 2) | b(o + 3)) & 0x80) != 0) return -1
    (b(o) & 0x7F) << 21 | (b(o + 1) & 0x7F) << 14 |
      (b(o + 2) & 0x7F) << 7 | (b(o + 3) & 0x7F)
  }

  /** Parse a leading ID3v2.3/v2.4 tag: (majorVersion, textFrames,
    * bytesConsumed). Frame sizes are plain big-endian in v2.3 and
    * syncsafe in v2.4 (the classic interop trap — both paths here).
    * Text frames (`T...`) decode encodings 0 (ISO-8859-1) and 3
    * (UTF-8); UTF-16 (1/2) and unknown encodings skip the frame, a
    * zero byte where a frame id should start is the padding region and
    * ends the walk. An extended header (flag 0x40; v2.3 sizes exclude
    * their own 4 bytes, v2.4 syncsafe sizes include them) is skipped;
    * an unsynchronised tag (flag 0x80) is out of contract — its frame
    * sizes can't be trusted, so the whole tag is SKIPPED intact
    * (frames empty, consumed length correct) rather than misparsed.
    * None when no tag leads the payload.
    */
  def parseId3v2(bytes: Array[Byte]): Option[(Int, Seq[(String, String)], Int)] = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' || bytes(2) != '3')
      return None
    val ver = bytes(3) & 0xFF
    if (ver != 3 && ver != 4) return None
    val flags = bytes(5) & 0xFF
    val size = syncsafe(bytes, 6)
    if (size < 0 || 10L + size > bytes.length) return None
    val end = 10 + size
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if ((flags & 0x80) != 0) return Some((ver, out.toSeq, end)) // unsynchronised
    var i = 10
    if ((flags & 0x40) != 0) { // extended header precedes the frames
      if (i + 4 > end) return Some((ver, out.toSeq, end))
      val esz: Long =
        if (ver == 4) syncsafe(bytes, i) // includes its own size field
        else Bytes.be32(bytes, i) + 4 // v2.3 size EXCLUDES the 4 size bytes
      if (esz < 4 || i + esz > end) return Some((ver, out.toSeq, end))
      i += esz.toInt
    }
    var done = false
    while (!done && i + 10 <= end) {
      if (bytes(i) == 0) done = true // padding region
      else {
        val id = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        val fsz: Long = if (ver == 4) syncsafe(bytes, i + 4) else Bytes.be32(bytes, i + 4)
        if (fsz < 0 || i + 10 + fsz > end) done = true // torn frame: stop
        else {
          if (id.startsWith("T") && fsz >= 1) {
            val enc = bytes(i + 10) & 0xFF
            val cs = enc match {
              case 0 => java.nio.charset.StandardCharsets.ISO_8859_1
              case 3 => java.nio.charset.StandardCharsets.UTF_8
              case _ => null // UTF-16 variants: out of contract, skip
            }
            if (cs != null) {
              val txt = new String(bytes, i + 11, fsz.toInt - 1, cs)
              // v2 text frames NUL-terminate (or NUL-separate lists):
              // take the first value
              val v = txt.takeWhile(_ != '\u0000')
              out += ((id, v))
            }
          }
          i += 10 + fsz.toInt
        }
      }
    }
    Some((ver, out.toSeq, end))
  }

  /** MPEG-1 bitrate tables (kbps) by layer, index 1-14; 0 is
    * free-format and 15 invalid — both stop the walk.
    */
  private val BitrateL1 =
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val BitrateL2 =
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val BitrateL3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val SampleRates = Array(44100, 48000, 32000)

  /** One parsed MPEG frame header. */
  final case class MpegFrame(layer: Int, kbps: Int, sampleRate: Int,
      channels: Int, frameBytes: Int, samples: Int)

  /** Parse the MPEG-1 frame header at `o`; None when the 4 bytes are
    * not a valid MPEG-1 audio header (bad sync, reserved layer/
    * bitrate/rate). Layer I frames are slot-addressed (slot = 4
    * bytes): size = (12·kbps·1000/rate + padding)·4; layers II/III:
    * 144·kbps·1000/rate + padding.
    */
  def parseMpegHeader(bytes: Array[Byte], o: Int): Option[MpegFrame] = {
    if (o + 4 > bytes.length) return None
    val b1 = bytes(o) & 0xFF; val b2 = bytes(o + 1) & 0xFF
    val b3 = bytes(o + 2) & 0xFF; val b4 = bytes(o + 3) & 0xFF
    if (b1 != 0xFF || (b2 & 0xE0) != 0xE0) return None
    if ((b2 >> 3 & 3) != 3) return None // MPEG-1 only (version bits 11)
    val layer = 4 - (b2 >> 1 & 3) // bits: 11=I, 10=II, 01=III, 00=reserved
    if (layer == 4) return None
    val bi = b3 >> 4 & 15
    if (bi == 0 || bi == 15) return None // free-format / invalid
    val si = b3 >> 2 & 3
    if (si == 3) return None
    val pad = b3 >> 1 & 1
    val kbps = (layer match {
      case 1 => BitrateL1; case 2 => BitrateL2; case _ => BitrateL3
    })(bi)
    val rate = SampleRates(si)
    val channels = if ((b4 >> 6 & 3) == 3) 1 else 2
    val (size, samples) =
      if (layer == 1) ((12 * kbps * 1000 / rate + pad) * 4, 384)
      else (144 * kbps * 1000 / rate + pad, 1152)
    Some(MpegFrame(layer, kbps, rate, channels, size, samples))
  }

  /** Walk consecutive MPEG-1 frames from `start`: stops at the first
    * non-header or a frame overrunning the payload (torn downloads
    * stay visible as short walks — the WARC torn-fetch discipline).
    * No resync scan: a corpus inventory wants the contiguous stream
    * length, not rescue of desynced tails.
    */
  def mpegFrames(bytes: Array[Byte], start: Int): Seq[MpegFrame] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MpegFrame]
    var i = start
    var done = false
    while (!done) {
      parseMpegHeader(bytes, i) match {
        case Some(f) if i + f.frameBytes <= bytes.length =>
          out += f; i += f.frameBytes
        case _ => done = true
      }
    }
    out.toSeq
  }

  /** Full inventory of one payload: leading ID3v2 tag (if any), then
    * the MPEG frame walk. Streams whose frames disagree on layer/rate/
    * channels are out of the inventory contract and report the FIRST
    * frame's parameters with the walked counts — parameter changes
    * mid-stream are visible through bitrate_mode plus the short
    * duration, never a throw.
    */
  def inventory(id: Long, bytes: Array[Byte]): AudioInventory = try {
    val tag = parseId3v2(bytes)
    val (ver, frames, off) = tag.getOrElse((0, Nil, 0))
    def text(fid: String): String =
      frames.collectFirst { case (`fid`, v) => v }.orNull
    val ms = mpegFrames(bytes, off)
    if (ms.isEmpty)
      AudioInventory(id, ver, text("TIT2"), text("TPE1"),
        0, 0, 0, 0L, 0L, 0L, "none", 0, 0)
    else {
      val h = ms.head
      val samples = ms.map(_.samples.toLong).sum
      val kmin = ms.map(_.kbps).min; val kmax = ms.map(_.kbps).max
      AudioInventory(id, ver, text("TIT2"), text("TPE1"),
        h.layer, h.sampleRate, h.channels,
        ms.size.toLong, samples, samples * 1000L / h.sampleRate,
        if (kmin == kmax) "cbr" else "vbr", kmin, kmax)
    }
  } catch {
    case _: Exception =>
      AudioInventory(id, 0, null, null, 0, 0, 0, 0L, 0L, 0L, "none", 0, 0)
  }

  /** Batch inventory: (idCol: long, payloadCol: binary) →
    * [[AudioInventory]] rows — map-only, shuffle-free, the
    * [[Multimodal.decodeAudio]] plan shape.
    */
  def audioInventory(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MediaBlob]
      .mapPartitions(_.map(b => inventory(b.media_id, b.payload)))
      .toDF()
  }

  // --- synthetic fixtures --------------------------------------------------

  private def id3TextFrame(ver: Int, fid: String, text: String, utf8: Boolean): Array[Byte] = {
    val payload = (if (utf8) Array(3.toByte) else Array(0.toByte)) ++
      text.getBytes(if (utf8) "UTF-8" else "ISO-8859-1")
    val out = new java.io.ByteArrayOutputStream()
    out.write(fid.getBytes("ISO-8859-1"), 0, 4)
    val sz = payload.length
    if (ver == 4) { // syncsafe
      out.write(sz >> 21 & 0x7F); out.write(sz >> 14 & 0x7F)
      out.write(sz >> 7 & 0x7F); out.write(sz & 0x7F)
    } else {
      out.write(sz >> 24); out.write(sz >> 16 & 0xFF)
      out.write(sz >> 8 & 0xFF); out.write(sz & 0xFF)
    }
    out.write(0); out.write(0) // frame flags
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  private def id3Tag(ver: Int, withFrames: Seq[Array[Byte]], padding: Int): Array[Byte] = {
    val body = withFrames.flatten.toArray ++ new Array[Byte](padding)
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('D'); out.write('3')
    out.write(ver); out.write(0); out.write(0) // version, revision, flags
    val sz = body.length
    out.write(sz >> 21 & 0x7F); out.write(sz >> 14 & 0x7F)
    out.write(sz >> 7 & 0x7F); out.write(sz & 0x7F)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** One MPEG-1 frame with deterministic filler (never 0xFF, so a
    * truncated fixture can't alias a sync word). layer 1..3; si indexes
    * [[SampleRates]]; bi the layer's bitrate table.
    */
  private def mpegFrame(layer: Int, bi: Int, si: Int, pad: Int, mono: Boolean,
      fill: Int): Array[Byte] = {
    val kbps = (layer match {
      case 1 => BitrateL1; case 2 => BitrateL2; case _ => BitrateL3
    })(bi)
    val rate = SampleRates(si)
    val size =
      if (layer == 1) (12 * kbps * 1000 / rate + pad) * 4
      else 144 * kbps * 1000 / rate + pad
    val b = new Array[Byte](size)
    b(0) = 0xFF.toByte
    b(1) = (0xE0 | 3 << 3 | (4 - layer) << 1 | 1).toByte // MPEG-1, no CRC
    b(2) = (bi << 4 | si << 2 | pad << 1).toByte
    b(3) = (if (mono) 0xC0 else 0x00).toByte
    var i = 4
    while (i < size) { b(i) = (fill + i & 0x7E).toByte; i += 1 }
    b
  }

  /** Deterministic five-arm fixture keyed on `seed % 5`:
    * 0 — ID3v2.3 (latin-1 TIT2/TPE1) + 6 CBR Layer-III 128 kbps
    *     44.1 kHz mono frames;
    * 1 — ID3v2.4 (syncsafe sizes, UTF-8 text) + 4 VBR Layer-II stereo
    *     48 kHz frames alternating 96/128 kbps;
    * 2 — no tag: 8 Layer-I 256 kbps 32 kHz stereo frames with
    *     alternating padding slots;
    * 3 — tag only (with padding region), zero audio frames;
    * 4 — not MPEG at all (filler bytes).
    */
  def syntheticMpeg(seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    (seed % 5).toInt match {
      case 0 =>
        out.write(id3Tag(3, Seq(
          id3TextFrame(3, "TIT2", s"Track $seed", utf8 = false),
          id3TextFrame(3, "TPE1", s"Artist ${seed % 7}", utf8 = false)), 0))
        for (i <- 0 until 6)
          out.write(mpegFrame(3, 9, 0, 0, mono = true, fill = (seed + i).toInt))
      case 1 =>
        out.write(id3Tag(4, Seq(
          id3TextFrame(4, "TIT2", s"Träck $seed", utf8 = true)), 16))
        for (i <- 0 until 4)
          out.write(mpegFrame(2, if (i % 2 == 0) 6 else 8, 1, 0,
            mono = false, fill = (seed + i).toInt))
      case 2 =>
        for (i <- 0 until 8)
          out.write(mpegFrame(1, 8, 2, i % 2, mono = false, fill = (seed + i).toInt))
      case 3 =>
        out.write(id3Tag(3, Seq(
          id3TextFrame(3, "TIT2", s"Silent $seed", utf8 = false)), 32))
      case _ =>
        for (i <- 0 until 64) out.write((seed + i & 0x7D).toInt)
    }
    out.toByteArray
  }
}
