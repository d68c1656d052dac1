package graft.operators

/** Pure-JVM zstd DECODER (RFC 8878) — the entropy half the inventory
  * walk ([[CompressedMeta.zstdInventory]]) deliberately skipped: full
  * frame decompression — raw/RLE/compressed blocks, Huffman literals
  * (direct and FSE-compressed weights, 1- and 4-stream), FSE-coded
  * sequences (predefined / RLE / compressed / repeat table modes),
  * repeat-offset history, cross-block window matches, and the XXH64
  * content checksum — so `.warc.zst` archives (the format crawl
  * corpora are moving to) ingest end-to-end without a native library.
  *
  * Untrusted-input contract as everywhere in the codec family: a
  * corrupt, truncated, or out-of-contract frame (a dictionary frame
  * with no/mismatched dictionary supplied) decodes to null, NEVER a
  * throw mid-partition, and never silently-partial output; the member
  * walk ([[zstdMembers]]) keeps the frames completed BEFORE the
  * corruption (the gunzip walk's completed-prefix contract). Bomb
  * caps bound both per-frame and total expansion. DICTIONARIES
  * (RFC 8878 §5) are supported in both forms — structured (entropy
  * tables + offsets + content) and raw-content — including the
  * Common-Crawl `.warc.zst` convention of shipping the dictionary in
  * a leading 0x184D2A5D skippable frame ([[zstdMembersAuto]]),
  * optionally itself zstd-compressed.
  *
  * Every structure below is the RFC's: the backward bitstream
  * (§3.1.1.3.2.1), FSE table description and spread (§4.1), the
  * Huffman weight representation and canonical table (§4.2), sequence
  * codes and default distributions (§3.1.1.3.2.2), and the
  * repeat-offset rules with the literals-length-0 twist (§3.1.1.5).
  */
object ZstdDecode {

  import Bytes.{le16, le24, le32, le64, leBytes}

  // --- bitstreams -----------------------------------------------------

  /** Backward bitstream (entropy payloads): bits are written LSB-first
    * forward and READ from the top, after skipping the padding up to
    * the sentinel 1 bit in the last byte. `read` zero-pads below the
    * start (the final state flushes read zeros in the reference too);
    * callers detect overdraw via `pos < 0`.
    */
  private final class BackBits(bytes: Array[Byte], from: Int, to: Int) {
    var pos: Int =
      if (to <= from) -1
      else {
        val last = bytes(to - 1) & 0xFF
        if (last == 0) -1 // no sentinel: corrupt
        else (to - from - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
      }
    def ok: Boolean = pos >= 0
    /** Word-based extraction (n ≤ 31): bits [pos−n, pos) form a
      * little-endian integer — load the 8-byte window at the low bit's
      * byte and shift, instead of walking bits (the Huffman/FSE hot
      * path decodes one symbol per peek; bit-walking measured ~15×
      * slower on literal-heavy payloads). The boundary path gathers
      * byte-wise with zero padding outside the stream.
      */
    def peekPad(n: Int): Int = {
      if (n == 0) return 0
      val lo = pos - n
      val base = from + (lo >> 3) // arithmetic shift: floor for lo < 0
      var w = 0L
      if (lo >= 0 && base + 8 <= to) {
        w = le64(bytes, base)
      } else {
        var k = 7
        while (k >= 0) {
          val bi = base + k
          w <<= 8
          if (bi >= from && bi < to) w |= (bytes(bi) & 0xFFL)
          k -= 1
        }
      }
      ((w >>> (lo & 7)) & ((1L << n) - 1L)).toInt
    }
    def read(n: Int): Int = { val v = peekPad(n); pos -= n; v }
    def readLong(n: Int): Long = {
      if (n <= 24) read(n).toLong & 0xFFFFFFFFL
      else {
        val hi = read(n - 24).toLong
        val lo = read(24).toLong
        (hi << 24) | lo
      }
    }
  }

  /** Forward bitstream (FSE table descriptions): LSB-first. Returns −1
    * on overrun.
    */
  private final class FwdBits(bytes: Array[Byte], from: Int, to: Int) {
    var bitPos = 0
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val abs = bitPos + i
        val bi = from + (abs >> 3)
        if (bi >= to) return -1
        v |= ((bytes(bi) >> (abs & 7)) & 1) << i
        i += 1
      }
      v
    }
    def read(n: Int): Int = { val v = peek(n); if (v >= 0) bitPos += n; v }
    def skip(n: Int): Unit = bitPos += n
    def bytesConsumed: Int = (bitPos + 7) >> 3
  }

  // --- FSE ------------------------------------------------------------

  private final case class FseTable(
      symbol: Array[Int], nbBits: Array[Int], newState: Array[Int],
      accuracyLog: Int)

  private def highBit(v: Int): Int = 31 - Integer.numberOfLeadingZeros(v)

  /** Read normalized counts (forward stream) and build the decode
    * table; (table, bytesConsumed) or null on corruption.
    */
  private def readFseTable(bytes: Array[Byte], from: Int, to: Int,
      maxSym: Int, maxAccuracy: Int): (FseTable, Int) = {
    val bits = new FwdBits(bytes, from, to)
    val alRaw = bits.read(4)
    if (alRaw < 0) return null
    val accuracyLog = 5 + alRaw
    if (accuracyLog > maxAccuracy) return null
    val tableSize = 1 << accuracyLog
    val counts = new Array[Int](maxSym + 1)
    var remaining = tableSize + 1
    var threshold = tableSize
    var nbBits = accuracyLog + 1
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum <= maxSym) {
      if (previous0) {
        var cont = true
        while (cont) {
          val rep = bits.read(2)
          if (rep < 0) return null
          charnum += rep
          if (rep < 3) cont = false
          if (charnum > maxSym + 1) return null
        }
        previous0 = false
      }
      if (remaining > 1 && charnum <= maxSym) {
        val max = (2 * threshold - 1) - remaining
        val v = bits.peek(nbBits)
        if (v < 0) return null
        var count = 0
        if ((v & (threshold - 1)) < max) {
          count = v & (threshold - 1)
          bits.skip(nbBits - 1)
        } else {
          var c = v & (2 * threshold - 1)
          if (c >= threshold) c -= max
          count = c
          bits.skip(nbBits)
        }
        count -= 1 // −1 encodes "less than one"
        remaining -= (if (count < 0) -count else count)
        counts(charnum) = count
        charnum += 1
        previous0 = count == 0
        while (remaining > 1 && remaining < threshold) {
          nbBits -= 1
          threshold >>= 1
        }
      }
    }
    if (remaining != 1) return null
    val table = buildFseTable(counts, accuracyLog)
    if (table == null) null else (table, bits.bytesConsumed)
  }

  /** The standard spread + state construction (RFC 8878 §4.1.1). */
  private def buildFseTable(counts: Array[Int], accuracyLog: Int): FseTable = {
    val tableSize = 1 << accuracyLog
    val symbolT = new Array[Int](tableSize)
    var highThreshold = tableSize - 1
    var s = 0
    while (s < counts.length) { // less-than-one symbols at the top
      if (counts(s) == -1) { symbolT(highThreshold) = s; highThreshold -= 1 }
      s += 1
    }
    val step = (tableSize >> 1) + (tableSize >> 3) + 3
    val mask = tableSize - 1
    var pos = 0
    s = 0
    while (s < counts.length) {
      var i = 0
      while (i < counts(s)) {
        symbolT(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) return null // counts don't fill the table: corrupt
    val next = counts.map(c => if (c == -1) 1 else c)
    val sym = new Array[Int](tableSize)
    val nb = new Array[Int](tableSize)
    val ns = new Array[Int](tableSize)
    var u = 0
    while (u < tableSize) {
      val sy = symbolT(u)
      val n = next(sy); next(sy) += 1
      if (n <= 0) return null
      val b = accuracyLog - highBit(n)
      sym(u) = sy; nb(u) = b; ns(u) = (n << b) - tableSize
      u += 1
    }
    FseTable(sym, nb, ns, accuracyLog)
  }

  /** RLE "table": one symbol, zero-bit state machine. */
  private def rleTable(symbol: Int): FseTable =
    FseTable(Array(symbol), Array(0), Array(0), 0)

  // --- predefined distributions (RFC 8878 §3.1.1.3.2.2) ---------------

  private val LlDefaultDist = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1)
  private val MlDefaultDist = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1)
  private val OfDefaultDist = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private lazy val LlDefaultTable = buildFseTable(LlDefaultDist, 6)
  private lazy val MlDefaultTable = buildFseTable(MlDefaultDist, 6)
  private lazy val OfDefaultTable = buildFseTable(OfDefaultDist, 5)

  // --- sequence code → value tables (RFC 8878 §3.1.1.3.2.1.1) ---------

  private[operators] val LlBase: Array[Int] =
    (0 to 15).toArray ++ Array(16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
      128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private[operators] val LlBits: Array[Int] =
    Array.fill(16)(0) ++ Array(1, 1, 1, 1, 2, 2, 3, 3, 4, 6,
      7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private[operators] val MlBase: Array[Int] =
    (3 to 34).toArray ++ Array(35, 37, 39, 41, 43, 47, 51, 59, 67, 83,
      99, 131, 259, 515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
  private[operators] val MlBits: Array[Int] =
    Array.fill(32)(0) ++ Array(1, 1, 1, 1, 2, 2, 3, 3, 4, 4,
      5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // --- Huffman ---------------------------------------------------------

  /** Single-table Huffman decoder: 2^maxBits cells of (symbol, nbBits),
    * canonical layout — weight regions in increasing weight from cell
    * 0, symbols in natural order within a weight.
    */
  private final case class HufTable(
      symbol: Array[Int], nbBits: Array[Int], maxBits: Int) {
    /** (nbBits << 16) | symbol per cell — ONE lookup in the hot loop. */
    val packed: Array[Int] = {
      val p = new Array[Int](symbol.length)
      var i = 0
      while (i < p.length) { p(i) = (nbBits(i) << 16) | symbol(i); i += 1 }
      p
    }
  }

  /** Read a Huffman tree description; (table, bytesConsumed) or null. */
  private def readHufTable(bytes: Array[Byte], from: Int, to: Int): (HufTable, Int) = {
    if (from >= to) return null
    val hb = bytes(from) & 0xFF
    var weights: Array[Int] = null
    var consumed = 0
    if (hb < 128) {
      // FSE-compressed weights: hb bytes of table description + stream
      if (from + 1 + hb > to) return null
      val r = readFseTable(bytes, from + 1, from + 1 + hb, 15, 6)
      if (r == null) return null
      val (ft, hdr) = r
      val bb = new BackBits(bytes, from + 1 + hdr, from + 1 + hb)
      if (!bb.ok) return null
      var s1 = bb.read(ft.accuracyLog)
      var s2 = bb.read(ft.accuracyLog)
      if (bb.pos < 0) return null
      val ws = scala.collection.mutable.ArrayBuffer.empty[Int]
      var done = false
      while (!done && ws.length < 256) {
        ws += ft.symbol(s1)
        s1 = ft.newState(s1) + bb.read(ft.nbBits(s1))
        if (bb.pos < 0) { ws += ft.symbol(s2); done = true }
        else {
          ws += ft.symbol(s2)
          s2 = ft.newState(s2) + bb.read(ft.nbBits(s2))
          if (bb.pos < 0) { ws += ft.symbol(s1); done = true }
        }
      }
      if (!done) return null // runaway stream: corrupt
      // ≤ 255 EXPLICIT weights (the alphabet is 256 symbols and one is
      // the implicit last) — the alternating-state loop can append two
      // symbols past its guard, so cap AFTER, not just in the guard: a
      // 256th explicit weight would otherwise put symbol index 256
      // into the literals table and decode as a wrapped byte
      if (ws.length > 255) return null
      weights = ws.toArray
      consumed = 1 + hb
    } else {
      val n = hb - 127
      val nBytes = (n + 1) / 2
      if (from + 1 + nBytes > to) return null
      weights = new Array[Int](n)
      var i = 0
      while (i < n) {
        val b = bytes(from + 1 + (i >> 1)) & 0xFF
        weights(i) = if ((i & 1) == 0) b >> 4 else b & 0xF
        i += 1
      }
      consumed = 1 + nBytes
    }
    // reconstruct the implicit last weight: the total must complete to
    // a clean power of two
    var sum = 0L
    var i = 0
    while (i < weights.length) {
      if (weights(i) > 11) return null
      if (weights(i) > 0) sum += 1L << (weights(i) - 1)
      i += 1
    }
    if (sum == 0) return null
    val maxBits = highBit(sum.toInt) + 1
    if (maxBits > 11) return null
    val leftover = (1L << maxBits) - sum
    if (leftover <= 0 || (leftover & (leftover - 1)) != 0) return null
    val lastWeight = highBit(leftover.toInt) + 1
    val all = weights :+ lastWeight
    // canonical table: region offsets per weight, natural symbol order
    val tableSize = 1 << maxBits
    val rankNext = new Array[Int](maxBits + 2)
    var w = 1
    var off = 0
    while (w <= maxBits) {
      rankNext(w) = off
      var c = 0
      var j = 0
      while (j < all.length) { if (all(j) == w) c += 1; j += 1 }
      off += c << (w - 1)
      w += 1
    }
    if (off != tableSize) return null
    val sym = new Array[Int](tableSize)
    val nb = new Array[Int](tableSize)
    var j = 0
    while (j < all.length) {
      val wj = all(j)
      if (wj > 0) {
        val len = 1 << (wj - 1)
        val b = maxBits + 1 - wj
        var p = rankNext(wj)
        rankNext(wj) += len
        val end = p + len
        while (p < end) { sym(p) = j; nb(p) = b; p += 1 }
      }
      j += 1
    }
    (HufTable(sym, nb, maxBits), consumed)
  }

  /** Decode ONE Huffman stream to exactly `outLen` bytes; null unless
    * the stream is consumed EXACTLY (the reference's endOfDStream
    * check). This is the ingest's hottest loop (one table round per
    * LITERAL byte), so it keeps a rolling 64-bit container top-aligned
    * to the read head and refills every ~(64−maxBits) consumed bits —
    * the per-symbol work is one shift-and-mask, not a fresh 8-byte
    * load (measured ~4× on literal-heavy payloads).
    */
  private def hufDecodeStream(t: HufTable, bytes: Array[Byte], from: Int,
      to: Int, outLen: Int): Array[Byte] = {
    if (to <= from) return null
    val last = bytes(to - 1) & 0xFF
    if (last == 0) return null // no sentinel: corrupt
    var pos = (to - from - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    val out = new Array[Byte](outLen)
    val packed = t.packed
    val maxBits = t.maxBits
    val mask = (1L << maxBits) - 1L
    var cBase = Int.MaxValue // window's bit base; sentinel forces a load
    var c = 0L
    var i = 0
    val lv = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    while (i < outLen) {
      val lo = pos - maxBits
      if (lo < cBase) {
        // reload the 8-byte window TOP-ALIGNED to the read head so the
        // ~53 bits below it serve the next symbols without a reload;
        // the interior case is ONE intrinsified little-endian load
        val byteBase = ((pos + 7) >> 3) - 8
        cBase = byteBase << 3
        val b = from + byteBase
        if (byteBase >= 0 && b + 8 <= to) c = lv.getLong(b)
        else {
          c = 0L
          var k = 7
          while (k >= 0) {
            val bi = b + k
            c <<= 8
            if (bi >= from && bi < to) c |= (bytes(bi) & 0xFFL)
            k -= 1
          }
        }
      }
      val v = ((c >>> (lo - cBase)) & mask).toInt
      val e = packed(v)
      out(i) = e.toByte
      pos -= e >>> 16
      if (pos < 0) return null
      i += 1
    }
    if (pos != 0) return null
    out
  }

  // --- frame / block decode -------------------------------------------

  /** Growable output buffer with random access for window matches.
    * A DICTIONARY rides as a READ-ONLY window segment BELOW position 0
    * (RFC 8878 §5 — its content is window history): matches whose
    * offset reaches past the produced output read from it, but it is
    * never copied into the buffer — a 100 KB dictionary over thousands
    * of per-record frames must not cost O(|dict|) memory traffic per
    * frame.
    */
  private final class ByteBuf(hint: Int, dictC: Array[Byte]) {
    private val dict: Array[Byte] =
      if (dictC == null) Array.emptyByteArray else dictC
    var arr = new Array[Byte](math.max(64, hint))
    var len = 0
    def produced: Int = len
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        var cap = arr.length * 2
        while (cap < len + n) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, arr, len, n); len += n
    }
    def appendRepeat(b: Byte, n: Int): Unit = {
      ensure(n); java.util.Arrays.fill(arr, len, len + n, b); len += n
    }
    /** Overlap-safe match copy (offset may be < length). The common
      * non-overlapping in-output case is one arraycopy; overlaps
      * double the copied span each pass (the decoded prefix is itself
      * the source); a match reaching into the dictionary segment (the
      * rare case) copies byte-wise across the boundary — this loop is
      * the `.warc.zst` ingest's hottest path.
      */
    def copyMatch(offset: Int, n: Int): Boolean = {
      if (offset <= 0 || offset.toLong > len.toLong + dict.length) return false
      ensure(n)
      val src = len - offset
      if (src >= 0) {
        if (offset >= n) System.arraycopy(arr, src, arr, len, n)
        else {
          var done = offset
          System.arraycopy(arr, src, arr, len, offset)
          while (done < n) {
            val step = math.min(done, n - done)
            System.arraycopy(arr, len, arr, len + done, step)
            done += step
          }
        }
        len += n
      } else {
        var i = 0
        while (i < n) {
          val s = len + i - offset // source in produced space; < 0 → dict
          arr(len + i) = if (s < 0) dict(dict.length + s) else arr(s)
          i += 1
        }
        len += n
      }
      true
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  /** Entropy state carried ACROSS blocks within one frame: treeless
    * literals reuse the Huffman table; sequence-table repeat mode
    * reuses whatever table each symbol kind last used; the three
    * recent offsets start at 1/4/8. A DICTIONARY pre-loads all of it
    * (RFC 8878 §5): its entropy tables serve the first block's
    * treeless/repeat modes and its stored offsets replace the
    * defaults.
    */
  private final class FrameState {
    var huf: HufTable = null
    var ll: FseTable = null
    var of: FseTable = null
    var ml: FseTable = null
    val rep: Array[Long] = Array(1L, 4L, 8L)
  }

  /** A parsed zstd dictionary (RFC 8878 §5). STRUCTURED dictionaries
    * (magic 0xEC30A437) carry an id, pre-trained entropy tables
    * (Huffman, then FSE offsets/match-lengths/literals-lengths), three
    * starting repeat offsets, and window content; anything WITHOUT the
    * magic is a raw-content dictionary (id 0, window content only).
    */
  final class ZstdDict private[ZstdDecode] (
      val id: Long,
      private[ZstdDecode] val huf: HufTable,
      private[ZstdDecode] val of: FseTable,
      private[ZstdDecode] val ml: FseTable,
      private[ZstdDecode] val ll: FseTable,
      private[ZstdDecode] val rep: Array[Long],
      val content: Array[Byte])

  /** Parse dictionary bytes; null on corruption (the codec family's
    * degrade contract — a bad dictionary must not throw mid-task).
    */
  def parseDict(bytes: Array[Byte]): ZstdDict = try {
    if (bytes == null) return null
    if (bytes.length < 8 || le32(bytes, 0) != 0xEC30A437L)
      return new ZstdDict(0L, null, null, null, null, null, bytes)
    val id = le32(bytes, 4)
    var p = 8
    val hufR = readHufTable(bytes, p, bytes.length)
    if (hufR == null) return null
    p += hufR._2
    val ofR = readFseTable(bytes, p, bytes.length, 31, 8)
    if (ofR == null) return null
    p += ofR._2
    val mlR = readFseTable(bytes, p, bytes.length, 52, 9)
    if (mlR == null) return null
    p += mlR._2
    val llR = readFseTable(bytes, p, bytes.length, 35, 9)
    if (llR == null) return null
    p += llR._2
    if (p + 12 > bytes.length) return null
    val rep = Array(le32(bytes, p), le32(bytes, p + 4), le32(bytes, p + 8))
    p += 12
    if (rep.exists(_ <= 0L)) return null
    new ZstdDict(id, hufR._1, ofR._1, mlR._1, llR._1, rep,
      java.util.Arrays.copyOfRange(bytes, p, bytes.length))
  } catch {
    case _: ArrayIndexOutOfBoundsException => null
  }

  /** Decode the literals section; ((literals, bytesConsumed)) or null. */
  private def decodeLiterals(bytes: Array[Byte], from: Int, to: Int,
      fs: FrameState, maxOut: Int): (Array[Byte], Int) = {
    if (from >= to) return null
    val b0 = bytes(from) & 0xFF
    val ltype = b0 & 3
    val sf = (b0 >> 2) & 3
    if (ltype <= 1) { // Raw / RLE
      var hdr = 0
      var rs = 0
      if ((sf & 1) == 0) { hdr = 1; rs = b0 >> 3 }
      else if (sf == 1) {
        if (from + 2 > to) return null
        hdr = 2; rs = le16(bytes, from) >> 4
      } else {
        if (from + 3 > to) return null
        hdr = 3
        rs = le24(bytes, from) >> 4
      }
      if (rs > maxOut) return null
      if (ltype == 0) {
        if (from + hdr + rs > to) return null
        (java.util.Arrays.copyOfRange(bytes, from + hdr, from + hdr + rs), hdr + rs)
      } else {
        if (from + hdr + 1 > to) return null
        val out = new Array[Byte](rs)
        java.util.Arrays.fill(out, bytes(from + hdr))
        (out, hdr + 1)
      }
    } else { // Compressed / Treeless
      var hdr = 0
      var rs = 0
      var cs = 0
      var streams4 = true
      sf match {
        case 0 | 1 =>
          if (from + 3 > to) return null
          hdr = 3
          val h = le24(bytes, from)
          rs = (h >> 4) & 0x3FF; cs = (h >> 14) & 0x3FF
          streams4 = sf == 1
        case 2 =>
          if (from + 4 > to) return null
          hdr = 4
          val h = le32(bytes, from)
          rs = ((h >> 4) & 0x3FFF).toInt; cs = ((h >> 18) & 0x3FFF).toInt
        case _ =>
          if (from + 5 > to) return null
          hdr = 5
          val h = le32(bytes, from) | (bytes(from + 4) & 0xFFL) << 32
          rs = ((h >> 4) & 0x3FFFF).toInt; cs = ((h >> 22) & 0x3FFFF).toInt
      }
      if (rs > maxOut) return null
      if (from + hdr + cs > to) return null
      var p = from + hdr
      val end = from + hdr + cs
      if (ltype == 2) {
        val r = readHufTable(bytes, p, end)
        if (r == null) return null
        fs.huf = r._1
        p += r._2
      } else if (fs.huf == null) return null // treeless without a table
      val t = fs.huf
      val lits =
        if (!streams4) hufDecodeStream(t, bytes, p, end, rs)
        else {
          if (p + 6 > end || rs < 4) return null
          val s1 = le16(bytes, p); val s2 = le16(bytes, p + 2); val s3 = le16(bytes, p + 4)
          val d1 = p + 6
          val d2 = d1 + s1
          val d3 = d2 + s2
          val d4 = d3 + s3
          if (d4 > end) return null
          val r3 = (rs + 3) / 4
          val r4 = rs - 3 * r3
          if (r4 < 0) return null
          val o1 = hufDecodeStream(t, bytes, d1, d2, r3)
          val o2 = hufDecodeStream(t, bytes, d2, d3, r3)
          val o3 = hufDecodeStream(t, bytes, d3, d4, r3)
          val o4 = hufDecodeStream(t, bytes, d4, end, r4)
          if (o1 == null || o2 == null || o3 == null || o4 == null) null
          else o1 ++ o2 ++ o3 ++ o4
        }
      if (lits == null) null else (lits, hdr + cs)
    }
  }

  /** Decode one compressed block into `out`; false on corruption. */
  private def decodeCompressedBlock(bytes: Array[Byte], from: Int, to: Int,
      fs: FrameState, out: ByteBuf, maxOut: Int): Boolean = {
    val litR = decodeLiterals(bytes, from, to, fs, maxOut - out.produced)
    if (litR == null) return false
    val (lits, litBytes) = litR
    var p = from + litBytes
    if (p >= to) return false
    // sequences count
    val c0 = bytes(p) & 0xFF
    var nbSeq = 0
    if (c0 < 128) { nbSeq = c0; p += 1 }
    else if (c0 < 255) {
      if (p + 2 > to) return false
      nbSeq = ((c0 - 128) << 8) | (bytes(p + 1) & 0xFF); p += 2
    } else {
      if (p + 3 > to) return false
      nbSeq = le16(bytes, p + 1) + 0x7F00
      p += 3
    }
    if (nbSeq == 0) {
      if (out.produced + lits.length > maxOut) return false
      out.append(lits, 0, lits.length)
      return p == to // trailing junk in the block: corrupt
    }
    if (p >= to) return false
    val modes = bytes(p) & 0xFF
    if ((modes & 3) != 0) return false // reserved bits
    p += 1
    def table(mode: Int, kind: Int): FseTable = {
      // kind: 0 = LL, 1 = OF, 2 = ML
      val (maxSym, maxAl, dflt, prev) = kind match {
        case 0 => (35, 9, LlDefaultTable, fs.ll)
        case 1 => (31, 8, OfDefaultTable, fs.of)
        case _ => (52, 9, MlDefaultTable, fs.ml)
      }
      mode match {
        case 0 => dflt
        case 1 =>
          if (p >= to) null
          else {
            val s = bytes(p) & 0xFF; p += 1
            if (s > maxSym) null else rleTable(s)
          }
        case 2 =>
          val r = readFseTable(bytes, p, to, maxSym, maxAl)
          if (r == null) null else { p += r._2; r._1 }
        case _ => prev // repeat: the table last used (null → corrupt)
      }
    }
    val llT = table((modes >> 6) & 3, 0)
    val ofT = table((modes >> 4) & 3, 1)
    val mlT = table((modes >> 2) & 3, 2)
    if (llT == null || ofT == null || mlT == null) return false
    fs.ll = llT; fs.of = ofT; fs.ml = mlT
    // the sequences bitstream: the rest of the block, read backward
    val bb = new BackBits(bytes, p, to)
    if (!bb.ok) return false
    var llS = bb.read(llT.accuracyLog)
    var ofS = bb.read(ofT.accuracyLog)
    var mlS = bb.read(mlT.accuracyLog)
    if (bb.pos < 0) return false
    var litPos = 0
    var i = 0
    while (i < nbSeq) {
      val ofCode = ofT.symbol(ofS)
      val mlCode = mlT.symbol(mlS)
      val llCode = llT.symbol(llS)
      if (ofCode > 31 || mlCode > 52 || llCode > 35) return false
      // extra bits: offset first, then match length, then literals length
      val ofValue = (1L << ofCode) + bb.readLong(ofCode)
      val ml = MlBase(mlCode) + bb.read(MlBits(mlCode))
      val ll = LlBase(llCode) + bb.read(LlBits(llCode))
      if (bb.pos < 0) return false
      // repeat-offset resolution (§3.1.1.5) with the ll == 0 twist
      var offset = 0L
      if (ofValue > 3) {
        offset = ofValue - 3
        fs.rep(2) = fs.rep(1); fs.rep(1) = fs.rep(0); fs.rep(0) = offset
      } else {
        val idx = (if (ll == 0) ofValue + 1 else ofValue).toInt
        idx match {
          case 1 => offset = fs.rep(0)
          case 2 =>
            offset = fs.rep(1)
            fs.rep(1) = fs.rep(0); fs.rep(0) = offset
          case 3 =>
            offset = fs.rep(2)
            fs.rep(2) = fs.rep(1); fs.rep(1) = fs.rep(0); fs.rep(0) = offset
          case _ => // ll == 0 && ofValue == 3: rep1 − 1
            offset = fs.rep(0) - 1
            if (offset <= 0) return false
            fs.rep(2) = fs.rep(1); fs.rep(1) = fs.rep(0); fs.rep(0) = offset
        }
      }
      // execute: ll literals, then the match
      if (litPos + ll > lits.length) return false
      if (out.produced + ll + ml > maxOut) return false
      out.append(lits, litPos, ll)
      litPos += ll
      if (offset > Int.MaxValue) return false
      // window validity (incl. the dictionary segment) is copyMatch's
      if (!out.copyMatch(offset.toInt, ml)) return false
      // state updates (order LL, ML, OF), skipped after the last sequence
      if (i != nbSeq - 1) {
        llS = llT.newState(llS) + bb.read(llT.nbBits(llS))
        mlS = mlT.newState(mlS) + bb.read(mlT.nbBits(mlS))
        ofS = ofT.newState(ofS) + bb.read(ofT.nbBits(ofS))
        if (bb.pos < 0) return false
        if (llS >= llT.symbol.length || mlS >= mlT.symbol.length ||
          ofS >= ofT.symbol.length) return false
      }
      i += 1
    }
    if (bb.pos != 0) return false // the stream must be consumed exactly
    val rest = lits.length - litPos
    if (out.produced + rest > maxOut) return false
    out.append(lits, litPos, rest)
    true
  }

  /** Decode ONE frame starting at `off`. Returns (decoded bytes, end
    * offset past the frame) or null on any corruption: bad magic, a
    * dictionary requirement with no/mismatched dictionary supplied,
    * torn blocks, entropy corruption, a declared-content-size
    * mismatch, a failed XXH64 content checksum, or the bomb cap.
    *
    * With `dict` supplied (RFC 8878 §5): its content pre-seeds the
    * window (matches may reach into it), its entropy tables serve the
    * first block's treeless/repeat modes, and its stored offsets
    * replace the 1/4/8 defaults. A frame declaring a dictionary id
    * must match a structured dict's id; raw-content dicts (id 0)
    * serve any frame.
    */
  def decodeFrame(bytes: Array[Byte], off: Int,
      maxOut: Int = Bytes.MaxOut, dict: ZstdDict = null): (Array[Byte], Int) = try {
    if (bytes == null || off + 4 > bytes.length) return null
    if (le32(bytes, off) != 0xFD2FB528L) return null
    var p = off + 4
    if (p >= bytes.length) return null
    val fhd = bytes(p) & 0xFF; p += 1
    val single = (fhd & 0x20) != 0
    if ((fhd & 0x08) != 0) return null // reserved bit
    val hasCk = (fhd & 0x04) != 0
    val dictLen = Array(0, 1, 2, 4)(fhd & 3)
    val fcsLen = (fhd >>> 6) match {
      case 0 => if (single) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (!single) {
      if (p >= bytes.length) return null
      p += 1 // window descriptor: decode into a growable buffer anyway
    }
    if (dictLen > 0) {
      if (p + dictLen > bytes.length) return null
      var d = 0L
      var i = 0
      while (i < dictLen) { d |= (bytes(p + i) & 0xFFL) << (8 * i); i += 1 }
      p += dictLen
      // a declared dictionary id needs the matching dictionary —
      // decoding without it would be silently-wrong bytes, not degrade
      if (d != 0 && (dict == null || (dict.id != 0L && dict.id != d)))
        return null
    }
    var fcs = -1L
    if (fcsLen > 0) {
      if (p + fcsLen > bytes.length) return null
      fcs = fcsLen match {
        case 1 => bytes(p) & 0xFFL
        case 2 => le16(bytes, p) + 256L
        case 4 => le32(bytes, p)
        case _ => le64(bytes, p)
      }
      p += fcsLen
      // an 8-byte FCS with bit 63 set parses negative — a declared frame
      // size >= 2^63 is out of contract, and letting it through would skip
      // both this bomb pre-gate and the declared-size equality check below
      if (fcs < 0 || fcs > maxOut) return null
    }
    val fs = new FrameState
    val out = new ByteBuf(if (fcs >= 0) fcs.toInt else 4096,
      if (dict != null) dict.content else null)
    if (dict != null) {
      fs.huf = dict.huf
      fs.ll = dict.ll; fs.of = dict.of; fs.ml = dict.ml
      if (dict.rep != null) {
        fs.rep(0) = dict.rep(0); fs.rep(1) = dict.rep(1); fs.rep(2) = dict.rep(2)
      }
    }
    var last = false
    while (!last) {
      if (p + 3 > bytes.length) return null
      val hdr = le24(bytes, p)
      p += 3
      last = (hdr & 1) == 1
      val btype = (hdr >>> 1) & 3
      val bsize = hdr >>> 3
      btype match {
        case 0 =>
          if (p + bsize > bytes.length || out.produced + bsize > maxOut) return null
          out.append(bytes, p, bsize)
          p += bsize
        case 1 =>
          if (p + 1 > bytes.length || out.produced + bsize > maxOut) return null
          out.appendRepeat(bytes(p), bsize)
          p += 1
        case 2 =>
          if (p + bsize > bytes.length) return null
          if (!decodeCompressedBlock(bytes, p, p + bsize, fs, out, maxOut))
            return null
          p += bsize
        case _ => return null // reserved block type
      }
    }
    if (fcs >= 0 && out.produced.toLong != fcs) return null
    val data = out.toArray
    if (hasCk) {
      if (p + 4 > bytes.length) return null
      val want = le32(bytes, p)
      p += 4
      val got = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        data, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        data.length, 0L) & 0xFFFFFFFFL
      if (got != want) return null
    }
    (data, p)
  } catch {
    // allocations are bounded by maxOut before they happen, so OOM here
    // would be genuine executor heap exhaustion — let it propagate rather
    // than masking it as a corrupt-frame degrade
    case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException =>
      null
  }

  /** Split a CONCATENATED-frames zstd payload into its per-frame
    * decoded outputs — the `.warc.zst` twin of
    * [[CompressedMeta.gunzipMembers]]: data frames decode, skippable
    * frames skip, and a corrupt/truncated frame drops it AND
    * everything after (the completed-prefix contract). Bomb-capped
    * per frame and in aggregate.
    */
  def zstdMembers(bytes: Array[Byte],
      maxOutPerFrame: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal,
      dict: ZstdDict = null): Seq[Array[Byte]] =
    walkFrames(bytes, maxOutPerFrame, maxOutTotal, dict)._1

  /** The Common-Crawl `.warc.zst` member walk: their convention ships
    * the dictionary IN the archive — the first frame is a skippable
    * frame with magic 0x184D2A5D whose content is the dictionary,
    * either plain (raw or structured) or itself compressed as a
    * dictionary-less zstd frame. This walk lifts it, parses it, and
    * decodes the remaining frames under it; payloads WITHOUT the
    * convention (no leading 0x184D2A5D frame) walk exactly like
    * [[zstdMembers]], so one reader serves both layouts. A corrupt
    * embedded dictionary degrades to NO members (every data frame
    * needs it — emitting dictionary-less decodes would be
    * silently-wrong bytes for any frame that references it).
    */
  def zstdMembersAuto(bytes: Array[Byte],
      maxOutPerFrame: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Seq[Array[Byte]] = {
    if (bytes == null || bytes.length < 8) return Nil
    if (le32(bytes, 0) != 0x184D2A5DL)
      return zstdMembers(bytes, maxOutPerFrame, maxOutTotal)
    val sz = le32(bytes, 4)
    if (8 + sz > bytes.length) return Nil
    val raw = java.util.Arrays.copyOfRange(bytes, 8, (8 + sz).toInt)
    // the embedded dictionary may itself be zstd-compressed
    val dictBytes =
      if (raw.length >= 4 &&
        le32(raw, 0) == 0xFD2FB528L) {
        val r = decodeFrame(raw, 0, maxOutPerFrame)
        if (r == null) return Nil
        r._1
      } else raw
    val dict = parseDict(dictBytes)
    if (dict == null) return Nil
    zstdMembers(java.util.Arrays.copyOfRange(bytes, (8 + sz).toInt, bytes.length),
      maxOutPerFrame, maxOutTotal, dict)
  }

  /** STRICT whole-payload decode — the `Content-Encoding: zstd` body
    * decoder (RFC 8878 §7 registers the coding): every frame must
    * decode AND the walk must consume the payload exactly, else null —
    * [[CompressedMeta.gunzipAll]]'s all-or-NULL honesty contract.
    */
  def zstdAll(bytes: Array[Byte],
      maxOutPerFrame: Int = Bytes.MaxOut,
      maxOutTotal: Long = Bytes.MaxOutTotal): Array[Byte] = {
    if (bytes == null || bytes.length < 4) return null
    val (members, end, clean) = walkFrames(bytes, maxOutPerFrame, maxOutTotal)
    CompressedMeta.allOrNullConcat(members, clean && end == bytes.length)
  }

  // --- fixture encoders -------------------------------------------------
  //
  // Deterministic frame BUILDERS for the gates and specs: every decode
  // path needs runtime-generated input whose plaintext is closed-form
  // (the DuckDB oracle re-derives it), so these emit real RFC 8878
  // frames — raw blocks, RLE blocks, compressed blocks with raw
  // literals + RLE-mode sequences, and Huffman-coded literals with
  // direct weights. The REFERENCE-implementation coverage (FSE tables,
  // compressed weights, repeat modes) comes from the golden CLI bytes
  // in ZstdDecodeSpec; these builders cover what must parameterize by
  // seed at runtime.

  private def xxh32(data: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      data, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      data.length, 0L) & 0xFFFFFFFFL

  /** Single-segment frame header + FCS for `len` content bytes. */
  private def frameHead(len: Long, checksum: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(leBytes(0xFD2FB528L, 4), 0, 4)
    val ck = if (checksum) 0x04 else 0
    if (len < 256) { out.write(0x20 | ck); out.write(len.toInt) }
    else if (len < 65536 + 256) {
      out.write(0x60 | ck); out.write(leBytes(len - 256, 2), 0, 2)
    } else { out.write(0xA0 | ck); out.write(leBytes(len, 4), 0, 4) }
    out.toByteArray
  }

  /** A raw-blocks frame: any payload, split at `blockSize`. */
  def zstdFrameRaw(data: Array[Byte], checksum: Boolean = false,
      blockSize: Int = 1 << 16): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val h = frameHead(data.length.toLong, checksum)
    out.write(h, 0, h.length)
    var off = 0
    var first = true
    while (off < data.length || first) {
      first = false
      val n = math.min(blockSize, data.length - off)
      val last = if (off + n >= data.length) 1 else 0
      out.write(leBytes((n.toLong << 3) | last, 3), 0, 3)
      out.write(data, off, n)
      off += n
    }
    if (checksum) out.write(leBytes(xxh32(data), 4), 0, 4)
    out.toByteArray
  }

  /** An RLE-block frame: `n` copies of one byte. */
  def zstdFrameRle(b: Byte, n: Int, checksum: Boolean = false): Array[Byte] = {
    require(n > 0 && n < (1 << 21), "zstdFrameRle: 21-bit block size")
    val data = new Array[Byte](n)
    java.util.Arrays.fill(data, b)
    val out = new java.io.ByteArrayOutputStream()
    val h = frameHead(n.toLong, checksum)
    out.write(h, 0, h.length)
    out.write(leBytes((n.toLong << 3) | 2L | 1L, 3), 0, 3) // last, RLE
    out.write(b)
    if (checksum) out.write(leBytes(xxh32(data), 4), 0, 4)
    out.toByteArray
  }

  /** Backward-bitstream WRITER: fields queued in decoder-read order,
    * packed so the sentinel bit tops the last byte (the exact inverse
    * of [[BackBits]]).
    */
  private final class BackBitsWriter {
    private val fields = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    def add(v: Long, n: Int): Unit = { require(n >= 0 && (n == 0 || (v >> n) == 0)); if (n > 0) fields += ((v, n)) }
    def toBytes: Array[Byte] = {
      val total = 1 + fields.map(_._2).sum
      val arr = new Array[Byte]((total + 7) / 8)
      var j = 0 // read-order bit index; 0 is the sentinel
      def put(bit: Int): Unit = {
        val pos = total - 1 - j
        if (bit != 0) arr(pos >> 3) = (arr(pos >> 3) | (1 << (pos & 7))).toByte
        j += 1
      }
      put(1) // sentinel
      for ((v, n) <- fields; k <- (n - 1) to 0 by -1) put(((v >> k) & 1L).toInt)
      arr
    }
  }

  private def codeFor(base: Array[Int], bits: Array[Int], v: Int): Int = {
    var c = base.length - 1
    while (c >= 0 && !(base(c) <= v && v - base(c) < (1 << bits(c)))) c -= 1
    require(c >= 0, s"no sequence code for value $v")
    c
  }

  // --- FSE/Huffman ENCODERS (fixture generation only) ------------------
  //
  // The minimal inverse of the decode path above, so runtime gates can
  // synthesize FULLY entropy-coded frames (FSE-compressed Huffman
  // weights, Compressed_Mode sequence tables, real state transitions)
  // at any scale factor with a generation-formula oracle. Not a
  // compressor: tables are hand-normalized, no LZ search — the bytes
  // are VALID RFC 8878, certified by the decoder the CLI golden bytes
  // certified, not size-optimal.

  /** Forward LSB-first bit writer — [[FwdBits]]' inverse (FSE table
    * descriptions).
    */
  private final class FwdBitsWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var bitPos = 0
    def add(v: Int, n: Int): Unit = {
      require(n >= 0 && (n == 0 || (v >>> n) == 0), "FwdBitsWriter: value fits")
      var i = 0
      while (i < n) {
        val abs = bitPos + i
        if ((abs >> 3) >= buf.length) buf += 0
        if (((v >> i) & 1) != 0)
          buf(abs >> 3) = (buf(abs >> 3) | (1 << (abs & 7))).toByte
        i += 1
      }
      bitPos += n
    }
    def toBytes: Array[Byte] = buf.toArray
  }

  /** Write an FSE table description — [[readFseTable]]'s exact inverse
    * (the FSE_writeNCount walk): `counts` are normalized counts summing
    * to 2^accuracyLog (−1 = less-than-one), trailing zeros omitted by
    * the remaining==1 stop, zero runs as 2-bit repeat flags.
    */
  private def writeFseTable(counts: Array[Int], accuracyLog: Int): Array[Byte] = {
    val w = new FwdBitsWriter
    w.add(accuracyLog - 5, 4)
    val tableSize = 1 << accuracyLog
    var remaining = tableSize + 1
    var threshold = tableSize
    var nbBits = accuracyLog + 1
    var charnum = 0
    var previous0 = false
    while (remaining > 1) {
      if (previous0) {
        var z = 0
        while (counts(charnum + z) == 0) z += 1 // a nonzero exists: remaining > 1
        charnum += z
        while (z >= 3) { w.add(3, 2); z -= 3 }
        w.add(z, 2)
        previous0 = false
      }
      val max = (2 * threshold - 1) - remaining
      val c = counts(charnum)
      charnum += 1
      remaining -= (if (c < 0) -c else c)
      var v = c + 1 // decoded-value mapping: −1→0, 0→1, k→k+1
      if (v >= threshold) v += max
      w.add(v, nbBits - (if (v < max) 1 else 0))
      previous0 = v == 1
      while (remaining > 1 && remaining < threshold) {
        nbBits -= 1; threshold >>= 1
      }
    }
    w.toBytes
  }

  /** Normalized counts for a used-symbol histogram: every used symbol
    * gets ≥ 1, proportional otherwise, remainder on the most frequent —
    * deterministic, sums to 2^accuracyLog.
    */
  private def normalizeCounts(hist: Seq[(Int, Int)], accuracyLog: Int): Array[Int] = {
    require(hist.nonEmpty, "normalizeCounts: empty histogram")
    val size = 1 << accuracyLog
    val maxSym = hist.map(_._1).max
    val counts = new Array[Int](maxSym + 1)
    val total = hist.map(_._2).sum
    var assigned = 0
    hist.foreach { case (s, c) =>
      counts(s) = math.max(1, c * size / total); assigned += counts(s)
    }
    val top = hist.maxBy { case (s, c) => (c, -s) }._1
    counts(top) += size - assigned
    require(counts(top) >= 1, "normalizeCounts: histogram too wide for the table")
    counts
  }

  /** The decode-table entry of `sym` whose state range contains
    * `nextState` — unique by the FSE tiling property.
    */
  private def fseEntryFor(t: FseTable, sym: Int, nextState: Int): Int = {
    var u = 0
    while (u < t.symbol.length) {
      if (t.symbol(u) == sym && nextState >= t.newState(u) &&
        nextState < t.newState(u) + (1 << t.nbBits(u))) return u
      u += 1
    }
    require(false, s"fseEntryFor: no entry for symbol $sym covering $nextState")
    -1
  }

  private def fseFirstEntry(t: FseTable, sym: Int): Int = {
    var u = 0
    while (u < t.symbol.length && t.symbol(u) != sym) u += 1
    require(u < t.symbol.length, s"fseFirstEntry: symbol $sym not in table")
    u
  }

  /** FSE-encode a Huffman WEIGHTS run for [[readHufTable]]'s
    * two-alternating-states decode loop: states chosen backward through
    * the tiling, stream exhaustion lands exactly at the read that makes
    * the decoder append the final weight.
    */
  private def fseWeightStream(t: FseTable, weights: Array[Int]): Array[Byte] = {
    val n = weights.length
    require(n >= 2, "fseWeightStream: two weights minimum")
    val v = new Array[Int](n)
    v(n - 1) = fseFirstEntry(t, weights(n - 1))
    v(n - 2) = fseFirstEntry(t, weights(n - 2))
    var i = n - 3
    while (i >= 0) { v(i) = fseEntryFor(t, weights(i), v(i + 2)); i -= 1 }
    // the read AFTER the second-to-last emit is what exhausts the
    // stream; a zero-bit read cannot exhaust and the decoder would run
    // away — keep that state's bit width positive
    require(t.nbBits(v(n - 2)) > 0,
      "fseWeightStream: second-to-last weight needs a >0-bit state")
    val w = new BackBitsWriter
    w.add(v(0).toLong, t.accuracyLog)
    w.add(v(1).toLong, t.accuracyLog)
    var j = 1
    while (j <= n - 2) { // read j updates the chain of v(j−1) to v(j+1)
      w.add((v(j + 1) - t.newState(v(j - 1))).toLong, t.nbBits(v(j - 1)))
      j += 1
    }
    w.toBytes
  }

  /** One fully ENTROPY-CODED frame, decoded output =
    * `"abcd"·r1 ++ "bc"·r2 ++ "dd"` — closed-form for the oracle while
    * walking the complete compressed-block path: Huffman literals under
    * an FSE-COMPRESSED weight table (header < 128 — the mode the
    * direct-weight fixture can't reach), two sequences under
    * Compressed_Mode (FSE-described) LL/OF/ML tables with REAL state
    * transitions between them, offset extra bits, ML extra bits once
    * r1 pushes the match past the 0-extra-bit codes, and leftover
    * literals after the last sequence.
    */
  def zstdFrameEntropy(r1: Int, r2: Int, checksum: Boolean = true): Array[Byte] = {
    require(r1 >= 2 && r1 <= 12 && r2 >= 3 && r2 <= 17,
      "zstdFrameEntropy: bounds (matches are >= 3 bytes: r2 >= 3)")
    val decoded = ("abcd" * r1 + "bc" * r2 + "dd").getBytes("US-ASCII")
    val lits = "abcdbcdd".getBytes("US-ASCII")
    // --- literals: Huffman (a=3 b=2 c=1, implicit d=1), FSE weights ---
    val code = Map[Byte, (Int, Int)](
      'c'.toByte -> (0, 3), 'd'.toByte -> (1, 3),
      'b'.toByte -> (1, 2), 'a'.toByte -> (1, 1))
    val litStream = {
      val w = new BackBitsWriter
      lits.foreach { b => val (cv, nb) = code(b); w.add(cv.toLong, nb) }
      w.toBytes
    }
    val weights = new Array[Int](100) // symbols 0..99, 'd'=100 implicit
    weights('a'.toInt) = 3; weights('b'.toInt) = 2; weights('c'.toInt) = 1
    val wCounts = normalizeCounts(
      weights.groupBy(identity).map { case (s, g) => (s, g.length) }.toSeq, 5)
    val wTable = buildFseTable(wCounts, 5)
    require(wTable != null, "zstdFrameEntropy: weight table")
    val wDesc = writeFseTable(wCounts, 5)
    val wStream = fseWeightStream(wTable, weights)
    val tree = new java.io.ByteArrayOutputStream()
    require(wDesc.length + wStream.length < 128, "compressed-weights header")
    tree.write(wDesc.length + wStream.length) // < 128: FSE-compressed
    tree.write(wDesc, 0, wDesc.length)
    tree.write(wStream, 0, wStream.length)
    val rs = lits.length
    val cs = tree.size() + litStream.length
    require(rs < 1024 && cs < 1024)
    val block = new java.io.ByteArrayOutputStream()
    val lh = 2 | (0 << 2) | (rs << 4) | (cs << 14) // Compressed, sf0 1-stream
    block.write(lh & 0xFF); block.write((lh >> 8) & 0xFF); block.write((lh >> 16) & 0xFF)
    val tb = tree.toByteArray
    block.write(tb, 0, tb.length)
    block.write(litStream, 0, litStream.length)
    // --- sequences: (ll, offset, ml) pairs, Compressed_Mode tables ---
    val seqs = Array((4, 4L, 4 * (r1 - 1)), (2, 2L, 2 * (r2 - 1)))
    val llCodes = seqs.map { case (ll, _, _) => codeFor(LlBase, LlBits, ll) }
    val mlCodes = seqs.map { case (_, _, ml) => codeFor(MlBase, MlBits, ml) }
    val ofValues = seqs.map { case (_, off, _) => off + 3L }
    val ofCodes = ofValues.map(v => highBit(v.toInt))
    def hist(xs: Array[Int]) =
      xs.groupBy(identity).map { case (s, g) => (s, g.length) }.toSeq
    val llCounts = normalizeCounts(hist(llCodes), 5)
    val ofCounts = normalizeCounts(hist(ofCodes), 5)
    val mlCounts = normalizeCounts(hist(mlCodes), 5)
    val llT = buildFseTable(llCounts, 5)
    val ofT = buildFseTable(ofCounts, 5)
    val mlT = buildFseTable(mlCounts, 5)
    require(llT != null && ofT != null && mlT != null, "sequence tables")
    block.write(seqs.length) // nbSeq < 128
    block.write((2 << 6) | (2 << 4) | (2 << 2)) // Compressed_Mode LL/OF/ML
    val llDesc = writeFseTable(llCounts, 5)
    val ofDesc = writeFseTable(ofCounts, 5)
    val mlDesc = writeFseTable(mlCounts, 5)
    block.write(llDesc, 0, llDesc.length)
    block.write(ofDesc, 0, ofDesc.length)
    block.write(mlDesc, 0, mlDesc.length)
    // states backward through the tiling (the last sequence's states
    // are free — no update follows it)
    val n = seqs.length
    val lSt = new Array[Int](n); val oSt = new Array[Int](n); val mSt = new Array[Int](n)
    lSt(n - 1) = fseFirstEntry(llT, llCodes(n - 1))
    oSt(n - 1) = fseFirstEntry(ofT, ofCodes(n - 1))
    mSt(n - 1) = fseFirstEntry(mlT, mlCodes(n - 1))
    var i = n - 2
    while (i >= 0) {
      lSt(i) = fseEntryFor(llT, llCodes(i), lSt(i + 1))
      oSt(i) = fseEntryFor(ofT, ofCodes(i), oSt(i + 1))
      mSt(i) = fseEntryFor(mlT, mlCodes(i), mSt(i + 1))
      i -= 1
    }
    val w = new BackBitsWriter
    w.add(lSt(0).toLong, llT.accuracyLog)
    w.add(oSt(0).toLong, ofT.accuracyLog)
    w.add(mSt(0).toLong, mlT.accuracyLog)
    i = 0
    while (i < n) {
      w.add(ofValues(i) - (1L << ofCodes(i)), ofCodes(i))
      w.add((seqs(i)._3 - MlBase(mlCodes(i))).toLong, MlBits(mlCodes(i)))
      w.add((seqs(i)._1 - LlBase(llCodes(i))).toLong, LlBits(llCodes(i)))
      if (i < n - 1) { // state updates in the decoder's LL, ML, OF order
        w.add((lSt(i + 1) - llT.newState(lSt(i))).toLong, llT.nbBits(lSt(i)))
        w.add((mSt(i + 1) - mlT.newState(mSt(i))).toLong, mlT.nbBits(mSt(i)))
        w.add((oSt(i + 1) - ofT.newState(oSt(i))).toLong, ofT.nbBits(oSt(i)))
      }
      i += 1
    }
    val sb = w.toBytes
    block.write(sb, 0, sb.length)
    val body = block.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    val fh = frameHead(decoded.length.toLong, checksum)
    out.write(fh, 0, fh.length)
    out.write(leBytes((body.length.toLong << 3) | (2L << 1) | 1L, 3), 0, 3)
    out.write(body, 0, body.length)
    if (checksum) out.write(leBytes(xxh32(decoded), 4), 0, 4)
    out.toByteArray
  }

  /** A compressed-block frame with RAW literals and ONE RLE-mode-coded
    * sequence: decoded output = `period` × `repeats` ++ `tail` (the
    * classic LZ window match, closed-form for the oracle). Exercises
    * the sequences section, offset resolution, and the overlap-safe
    * match copy.
    */
  def zstdFrameSequences(period: Array[Byte], repeats: Int,
      tail: Array[Byte], checksum: Boolean = false): Array[Byte] = {
    require(period.nonEmpty && repeats >= 2, "zstdFrameSequences: need a real match")
    val ll = period.length
    val ml = (repeats - 1) * period.length
    require(ml >= 3, "zstdFrameSequences: matches are >= 3 bytes")
    val decoded = Array.fill(repeats)(period).flatten ++ tail
    val lits = period ++ tail
    val llCode = codeFor(LlBase, LlBits, ll)
    val mlCode = codeFor(MlBase, MlBits, ml)
    val ofValue = ll.toLong + 3L
    val ofCode = highBit(ofValue.toInt)
    val block = new java.io.ByteArrayOutputStream()
    // literals header: Raw, 12-bit size format (2 bytes)
    require(lits.length < 4096)
    block.write(0 | (1 << 2) | ((lits.length & 0xF) << 4))
    block.write(lits.length >> 4)
    block.write(lits, 0, lits.length)
    block.write(1) // one sequence
    block.write((1 << 6) | (1 << 4) | (1 << 2)) // RLE mode for LL/OF/ML
    block.write(llCode); block.write(ofCode); block.write(mlCode)
    val w = new BackBitsWriter // states are 0-bit under RLE tables
    w.add(ofValue - (1L << ofCode), ofCode)
    w.add((ml - MlBase(mlCode)).toLong, MlBits(mlCode))
    w.add((ll - LlBase(llCode)).toLong, LlBits(llCode))
    val bs = w.toBytes
    block.write(bs, 0, bs.length)
    val body = block.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    val h = frameHead(decoded.length.toLong, checksum)
    out.write(h, 0, h.length)
    out.write(leBytes((body.length.toLong << 3) | (2L << 1) | 1L, 3), 0, 3)
    out.write(body, 0, body.length)
    if (checksum) out.write(leBytes(xxh32(decoded), 4), 0, 4)
    out.toByteArray
  }

  /** A compressed-block frame whose FIRST match reaches INTO THE
    * DICTIONARY window: one sequence with zero literals, offset =
    * |period| (the dict content must END with `period`), match length
    * = repeats·|period| — the copy starts in the dict prefix and
    * self-extends across the boundary. Decoded output (given the
    * dict) = `period` × `repeats` ++ `tail`. The runtime twin of what
    * a real dictionary buys: bytes the frame never carries.
    */
  def zstdFrameDictSeq(period: Array[Byte], repeats: Int,
      tail: Array[Byte], checksum: Boolean = false): Array[Byte] = {
    require(period.nonEmpty && repeats >= 1, "zstdFrameDictSeq: need a match")
    val ml = repeats * period.length
    require(ml >= 3, "zstdFrameDictSeq: matches are >= 3 bytes")
    val decoded = Array.fill(repeats)(period).flatten ++ tail
    val mlCode = codeFor(MlBase, MlBits, ml)
    val ofValue = period.length.toLong + 3L
    val ofCode = highBit(ofValue.toInt)
    val block = new java.io.ByteArrayOutputStream()
    require(tail.length < 4096)
    block.write(0 | (1 << 2) | ((tail.length & 0xF) << 4)) // raw literals, 12-bit size
    block.write(tail.length >> 4)
    block.write(tail, 0, tail.length)
    block.write(1) // one sequence
    block.write((1 << 6) | (1 << 4) | (1 << 2)) // RLE mode for LL/OF/ML
    block.write(0) // llCode 0 → literals length 0
    block.write(ofCode); block.write(mlCode)
    val w = new BackBitsWriter
    w.add(ofValue - (1L << ofCode), ofCode)
    w.add((ml - MlBase(mlCode)).toLong, MlBits(mlCode))
    val bs = w.toBytes
    block.write(bs, 0, bs.length)
    val body = block.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    val h = frameHead(decoded.length.toLong, checksum)
    out.write(h, 0, h.length)
    out.write(leBytes((body.length.toLong << 3) | (2L << 1) | 1L, 3), 0, 3)
    out.write(body, 0, body.length)
    if (checksum) out.write(leBytes(xxh32(decoded), 4), 0, 4)
    out.toByteArray
  }

  /** Wrap dictionary bytes in the Common-Crawl `.warc.zst` leading
    * skippable frame (magic 0x184D2A5D) — the layout
    * [[zstdMembersAuto]] reads.
    */
  def dictFrame(dictBytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(leBytes(0x184D2A5DL, 4), 0, 4)
    out.write(leBytes(dictBytes.length.toLong, 4), 0, 4)
    out.write(dictBytes, 0, dictBytes.length)
    out.toByteArray
  }

  /** A compressed-block frame whose literals are HUFFMAN-coded with a
    * direct (4-bit) weight table over the fixed alphabet a/b/c/d
    * (weights 3/2/1/1 — 'd' is the spec's implicit last weight), zero
    * sequences: decoded output = `text` verbatim. `fourStream` selects
    * the jump-table layout.
    */
  def zstdFrameHuffman(text: Array[Byte], fourStream: Boolean,
      checksum: Boolean = false): Array[Byte] = {
    require(text.forall(b => b >= 'a' && b <= 'd'), "alphabet is a/b/c/d")
    require(text.length >= 4, "4-stream needs 4 symbols minimum")
    // canonical table for weights a=3 b=2 c=1 d=1(implicit), maxBits 3:
    // cells: c [0,1) 3 bits, d [1,2) 3 bits, b [2,4) 2 bits, a [4,8) 1 bit
    val code = Map[Byte, (Int, Int)]( // symbol -> (code value, nbBits)
      'c'.toByte -> (0, 3), 'd'.toByte -> (1, 3),
      'b'.toByte -> (1, 2), 'a'.toByte -> (1, 1))
    def stream(part: Array[Byte]): Array[Byte] = {
      val w = new BackBitsWriter
      part.foreach { b => val (v, n) = code(b); w.add(v.toLong, n) }
      w.toBytes
    }
    // weight table: direct representation, symbols 0..99 (100 weights,
    // 'd'=100 implicit): headerByte 227, 50 nibble bytes
    val weights = new Array[Int](100)
    weights('a'.toInt) = 3; weights('b'.toInt) = 2; weights('c'.toInt) = 1
    val wb = new java.io.ByteArrayOutputStream()
    wb.write(127 + 100)
    var i = 0
    while (i < 100) {
      wb.write((weights(i) << 4) | (if (i + 1 < 100) weights(i + 1) else 0))
      i += 2
    }
    val tree = wb.toByteArray
    val streams = new java.io.ByteArrayOutputStream()
    if (!fourStream) {
      val s = stream(text)
      streams.write(s, 0, s.length)
    } else {
      val r3 = (text.length + 3) / 4
      val parts = Seq(
        java.util.Arrays.copyOfRange(text, 0, r3),
        java.util.Arrays.copyOfRange(text, r3, 2 * r3),
        java.util.Arrays.copyOfRange(text, 2 * r3, 3 * r3),
        java.util.Arrays.copyOfRange(text, 3 * r3, text.length)).map(stream)
      streams.write(leBytes(parts(0).length.toLong, 2), 0, 2)
      streams.write(leBytes(parts(1).length.toLong, 2), 0, 2)
      streams.write(leBytes(parts(2).length.toLong, 2), 0, 2)
      parts.foreach(p => streams.write(p, 0, p.length))
    }
    val cs = tree.length + streams.size()
    val rs = text.length
    require(rs < 16384 && cs < 16384)
    val block = new java.io.ByteArrayOutputStream()
    // compressed literals, size-format 2 (4-byte header, 14/14 bits);
    // sf2 is 4-stream — for the 1-stream case use sf0 (10/10 bits)
    if (!fourStream) {
      require(rs < 1024 && cs < 1024)
      val h = 2 | (0 << 2) | (rs << 4) | (cs << 14)
      block.write(h & 0xFF); block.write((h >> 8) & 0xFF); block.write((h >> 16) & 0xFF)
    } else {
      val h = (2L | (2L << 2) | (rs.toLong << 4) | (cs.toLong << 18))
      block.write((h & 0xFF).toInt); block.write(((h >> 8) & 0xFF).toInt)
      block.write(((h >> 16) & 0xFF).toInt); block.write(((h >> 24) & 0xFF).toInt)
    }
    block.write(tree, 0, tree.length)
    val sb = streams.toByteArray
    block.write(sb, 0, sb.length)
    block.write(0) // zero sequences
    val body = block.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    val fh = frameHead(text.length.toLong, checksum)
    out.write(fh, 0, fh.length)
    out.write(leBytes((body.length.toLong << 3) | (2L << 1) | 1L, 3), 0, 3)
    out.write(body, 0, body.length)
    if (checksum) out.write(leBytes(xxh32(text), 4), 0, 4)
    out.toByteArray
  }

  private def walkFrames(bytes: Array[Byte], maxOutPerFrame: Int,
      maxOutTotal: Long, dict: ZstdDict = null): (Seq[Array[Byte]], Int, Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (bytes == null) return (out.toSeq, 0, true)
    var i = 0
    var total = 0L
    var stop = false
    while (!stop && i + 4 <= bytes.length) {
      val magic = le32(bytes, i)
      if (magic == 0xFD2FB528L) {
        val r = decodeFrame(bytes, i, maxOutPerFrame, dict)
        if (r == null) stop = true
        else {
          total += r._1.length
          if (total > maxOutTotal) stop = true // aggregate bomb cap
          else { out += r._1; i = r._2 }
        }
      } else if ((magic & 0xFFFFFFF0L) == 0x184D2A50L) {
        if (i + 8 > bytes.length) stop = true
        else {
          val sz = le32(bytes, i + 4)
          if (i + 8 + sz > bytes.length) stop = true
          else { i += (8 + sz).toInt }
        }
      } else stop = true
    }
    (out.toSeq, i, !stop)
  }
}
