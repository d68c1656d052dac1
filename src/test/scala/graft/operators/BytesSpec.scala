package graft.operators

import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

/** The decoders' shared byte primitives, pinned directly: unsigned
  * integer reads at the sign boundaries, writer → reader round trips,
  * and the bounded inflate's contract (null on corrupt, truncated,
  * preset-dictionary or over-cap streams; trailing input reported
  * through `consumed`, never judged).
  */
class BytesSpec extends AnyFunSuite {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def deflate(data: Array[Byte], raw: Boolean,
      dict: Array[Byte] = null): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    if (dict != null) d.setDictionary(dict)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private val text = ("the quick brown fox jumps over the lazy dog " * 50).getBytes("US-ASCII")

  test("16-bit reads are unsigned at the sign boundary, both byte orders") {
    for ((v, lo, hi) <- Seq((0x7FFF, 0xFF, 0x7F), (0x8000, 0x00, 0x80), (0xFFFF, 0xFF, 0xFF))) {
      assert(Bytes.le16(b(lo, hi), 0) == v)
      assert(Bytes.be16(b(hi, lo), 0) == v)
    }
    assert(Bytes.le24(b(0xFF, 0xFF, 0xFF), 0) == 0xFFFFFF)
  }

  test("32-bit reads are unsigned at the sign boundary, both byte orders") {
    for (v <- Seq(0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL)) {
      val le = Array.tabulate(4)(k => (v >>> (8 * k)).toByte)
      assert(Bytes.le32(le, 0) == v)
      assert(Bytes.be32(le.reverse, 0) == v)
    }
  }

  test("64-bit reads keep the top bit, both byte orders") {
    val v = 0x8123456789ABCDEFL
    val le = b(0xEF, 0xCD, 0xAB, 0x89, 0x67, 0x45, 0x23, 0x81)
    assert(Bytes.le64(le, 0) == v && v < 0)
    assert(Bytes.be64(le.reverse, 0) == v)
    assert(Bytes.le64(b(0, 0, 0, 0, 0, 0, 0, 0x80), 0) == Long.MinValue)
  }

  test("reads honor the offset") {
    val buf = b(0xAA, 0x34, 0x12, 0xBB)
    assert(Bytes.le16(buf, 1) == 0x1234 && Bytes.be16(buf, 1) == 0x3412)
  }

  test("writers round-trip through the readers") {
    for (v <- Seq(0L, 1L, 0x7FFFL, 0x8000L, 0xFFFFL)) {
      assert(Bytes.le16(Bytes.leBytes(v, 2), 0) == v)
      assert(Bytes.be16(Bytes.beBytes(v, 2), 0) == v)
    }
    for (v <- Seq(0L, 0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL)) {
      assert(Bytes.le32(Bytes.leBytes(v, 4), 0) == v)
      assert(Bytes.be32(Bytes.beBytes(v, 4), 0) == v)
    }
    for (v <- Seq(0L, Long.MaxValue, Long.MinValue, -1L, 0x8123456789ABCDEFL)) {
      assert(Bytes.le64(Bytes.leBytes(v, 8), 0) == v)
      assert(Bytes.be64(Bytes.beBytes(v, 8), 0) == v)
    }
    assert(Bytes.le24(Bytes.leBytes(0xABCDEFL, 3), 0) == 0xABCDEF)
    // writers keep the LOW n bytes
    assert(Bytes.leBytes(0x11223344L, 2).toSeq == b(0x44, 0x33).toSeq)
    assert(Bytes.beBytes(0x11223344L, 2).toSeq == b(0x33, 0x44).toSeq)
    val buf = new Array[Byte](6)
    Bytes.putLe(buf, 1, 0xCAFEBABEL, 4)
    assert(buf.toSeq == b(0, 0xBE, 0xBA, 0xFE, 0xCA, 0).toSeq)
  }

  test("inflate: zlib and raw streams decode and consume exactly the stream") {
    for (raw <- Seq(false, true)) {
      val z = deflate(text, raw)
      val (out, consumed) = Bytes.inflate(z, 0, z.length, raw, Bytes.MaxOut)
      assert(out.sameElements(text) && consumed == z.length, s"raw=$raw")
    }
    // the framings are not interchangeable
    val z = deflate(text, raw = false)
    assert(Bytes.inflate(z, 0, z.length, raw = true, Bytes.MaxOut) == null)
  }

  test("inflate: truncated and preset-dictionary streams give null") {
    val z = deflate(text, raw = false)
    assert(Bytes.inflate(z, 0, z.length - 5, raw = false, Bytes.MaxOut) == null)
    assert(Bytes.inflate(z, 0, 2, raw = false, Bytes.MaxOut) == null)
    val r = deflate(text, raw = true)
    assert(Bytes.inflate(r, 0, r.length / 2, raw = true, Bytes.MaxOut) == null)
    val withDict = deflate(text, raw = false, dict = "quick brown".getBytes("US-ASCII"))
    assert((withDict(1) & 0x20) != 0) // FDICT set
    assert(Bytes.inflate(withDict, 0, withDict.length, raw = false, Bytes.MaxOut) == null)
  }

  test("inflate: corrupt input gives null") {
    val z = deflate(text, raw = false)
    val bad = z.clone(); bad(0) = 0x00 // not a zlib header
    assert(Bytes.inflate(bad, 0, bad.length, raw = false, Bytes.MaxOut) == null)
    val junk = b(0xFF, 0xFF, 0xFF, 0xFF)
    assert(Bytes.inflate(junk, 0, junk.length, raw = true, Bytes.MaxOut) == null)
  }

  test("inflate: output exactly at the cap succeeds; one byte over gives null") {
    val z = deflate(text, raw = true)
    val (out, _) = Bytes.inflate(z, 0, z.length, raw = true, text.length)
    assert(out.sameElements(text))
    assert(Bytes.inflate(z, 0, z.length, raw = true, text.length - 1) == null)
    // a bomb: 16 MiB of zeros from a few KB, against a 1 MiB cap
    val bomb = deflate(new Array[Byte](16 << 20), raw = false)
    assert(bomb.length < (64 << 10))
    assert(Bytes.inflate(bomb, 0, bomb.length, raw = false, 1 << 20) == null)
  }

  test("inflate: trailing bytes are reported, not judged") {
    val z = deflate(text, raw = false)
    val padded = z ++ b(1, 2, 3, 4, 5)
    val (out, consumed) = Bytes.inflate(padded, 0, padded.length, raw = false, Bytes.MaxOut)
    assert(out.sameElements(text))
    assert(consumed == z.length && consumed < padded.length)
  }

  test("inflate: reads only its off/len window") {
    val r = deflate(text, raw = true)
    val framed = b(9, 9, 9) ++ r ++ b(7, 7)
    val (out, consumed) = Bytes.inflate(framed, 3, r.length, raw = true, Bytes.MaxOut)
    assert(out.sameElements(text) && consumed == r.length)
    // a window that cuts the stream short is a truncation, whatever follows it
    assert(Bytes.inflate(framed, 3, r.length - 1, raw = true, Bytes.MaxOut) == null)
  }

  test("budgets keep their values") {
    assert(Bytes.MaxOut == 64 * 1024 * 1024)
    assert(Bytes.MaxOutTotal == 256L * 1024 * 1024)
  }
}
