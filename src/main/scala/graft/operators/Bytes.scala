package graft.operators

import java.util.zip.{DataFormatException, Inflater}

/** The byte primitives, ONE definition for every decoder that reads
  * untrusted bytes: unsigned little/big-endian integer readers and
  * writers, the bounded inflate, and the output budgets. The bomb-cap
  * and truncation rules therefore live in one place, and every
  * format's decoder inherits the same contract: a value or a null
  * (the caller's counted degrade), never an unbounded allocation.
  */
private[operators] object Bytes {

  /** Default output budget of one decoded unit — a zip entry, gzip
    * member, zstd frame, PDF stream, Avro block, HTTP body or CFB
    * container's streams.
    */
  val MaxOut: Int = 64 << 20

  /** Default output budget of one whole payload's walk: deflate and
    * zstd top out near ~1000× per member, so many small maximal
    * members must not accumulate unbounded output in one task.
    */
  val MaxOutTotal: Long = 256L << 20

  // ---- unsigned readers: the value at `b(o)`, never sign-extended ----

  def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
  def le24(b: Array[Byte], o: Int): Int =
    le16(b, o) | (b(o + 2) & 0xFF) << 16
  def le32(b: Array[Byte], o: Int): Long =
    le16(b, o).toLong | le16(b, o + 2).toLong << 16
  def le64(b: Array[Byte], o: Int): Long =
    le32(b, o) | le32(b, o + 4) << 32

  def be16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) << 8 | (b(o + 1) & 0xFF)
  def be32(b: Array[Byte], o: Int): Long =
    be16(b, o).toLong << 16 | be16(b, o + 2).toLong
  def be64(b: Array[Byte], o: Int): Long =
    be32(b, o) << 32 | be32(b, o + 4)

  // ---- writers: the low `n` bytes of `v` ----

  def putLe(buf: Array[Byte], o: Int, v: Long, n: Int): Unit = {
    var k = 0
    while (k < n) { buf(o + k) = (v >>> (8 * k)).toByte; k += 1 }
  }
  def leBytes(v: Long, n: Int): Array[Byte] = {
    val a = new Array[Byte](n); putLe(a, 0, v, n); a
  }
  def beBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(k => (v >>> (8 * (n - 1 - k))).toByte)

  /** Inflate the deflate stream in `src(off until off + len)` — zlib
    * (RFC 1950) framing, or bare RFC 1951 when `raw` — to at most
    * `maxOut` bytes. Returns (output, input bytes the stream consumed),
    * or null on a corrupt or truncated stream, one that asks for a
    * preset dictionary, or output past `maxOut`. Input after the
    * stream's end is reported through `consumed < len`, not judged:
    * a strict body decoder rejects it, a padded container tolerates it,
    * and a zip/gzip walk finds its descriptor or trailer there.
    */
  def inflate(src: Array[Byte], off: Int, len: Int, raw: Boolean,
      maxOut: Long): (Array[Byte], Int) = {
    val inf = new Inflater(raw)
    try {
      inf.setInput(src, off, len)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // needs input or a dictionary
        if (out.size + n.toLong > maxOut) return null // bomb cap
        out.write(buf, 0, n)
      }
      (out.toByteArray, inf.getBytesRead.toInt)
    } catch {
      case _: DataFormatException => null
    } finally inf.end()
  }
}
