package graft.operators

import org.apache.spark.sql.DataFrame

/** Legacy PowerPoint 97–2003 `.ppt` ([MS-PPT]) text extraction — the
  * second leg of the CFB family next to [[Doc]]: the `PowerPoint
  * Document` stream is a tree of 8-byte-headed RECORDS (version
  * nibble 0xF marks a container; type and length little-endian), and
  * slide text lives in `TextCharsAtom` (0x0FA0, UTF-16LE) and
  * `TextBytesAtom` (0x0FA8, one-byte cp1252 chars) atoms. The walk
  * descends containers in document order and collects the text atoms,
  * splitting on the `\r` paragraph marks the format stores.
  *
  * Exclusions, per the office-family contract: `Notes` (0x03F0) and
  * `MainMaster` (0x03F8) container subtrees never surface (speaker
  * notes and master chrome — the PPTX part-family exclusion in record
  * form). A `DocumentEncryptionAtom` (0x2F14) anywhere marks the
  * document `encrypted` — classification, never a guessed decrypt.
  *
  * Degrades, all countable: not a parseable CFB → `cfb`; a CFB
  * without a `PowerPoint Document` stream → `part`; encryption →
  * `encrypted`. A torn record tail drops, completed atoms keep (the
  * completed-prefix discipline). Map-only. Reference scope: the
  * reference ingests line JSON only (`App.java:136-162`).
  */
object Ppt {

  import Bytes.{le16, le32}

  final case class PptText(stage: String, paragraphs: Seq[String])

  private val TextCharsAtom = 0x0FA0
  private val TextBytesAtom = 0x0FA8
  private val NotesContainer = 0x03F0
  private val MainMasterContainer = 0x03F8
  private val EncryptionAtom = 0x2F14

  /** Walk one record run [from, to), collecting text atom payloads in
    * order; `excluded` subtrees are skipped whole. Returns false when
    * an encryption atom was seen (caller degrades). Containers past
    * `depth` 64 are ignored whole (the torn-tail discipline) — a
    * crafted stream of millions of nested 8-byte container headers
    * must degrade, not StackOverflow the executor (the [[Cfb]]
    * walkTree / [[Pdf]] resolve guard, applied here).
    */
  private def walk(b: Array[Byte], from: Int, to: Int,
      out: scala.collection.mutable.ArrayBuffer[String],
      maxAtoms: Int, depth: Int = 0): Boolean = {
    if (depth > 64) return true
    var i = from
    while (i + 8 <= to && out.length < maxAtoms) {
      val ver = b(i) & 0x0F
      val typ = le16(b, i + 2)
      val len = le32(b, i + 4)
      val end = i + 8 + len
      if (len < 0 || end > to) return true // torn tail: completed atoms keep
      if (typ == EncryptionAtom) return false
      if (ver == 0x0F) {
        // container: skip chrome subtrees whole, descend the rest
        if (typ != NotesContainer && typ != MainMasterContainer) {
          if (!walk(b, i + 8, end.toInt, out, maxAtoms, depth + 1)) return false
        }
      } else if (typ == TextCharsAtom && len % 2 == 0) {
        out += new String(b, i + 8, len.toInt,
          java.nio.charset.StandardCharsets.UTF_16LE)
      } else if (typ == TextBytesAtom) {
        out += new String(b, i + 8, len.toInt,
          java.nio.charset.Charset.forName("windows-1252"))
      }
      i = end.toInt
    }
    true
  }

  /** Extract from an already-parsed container (the one-walk triage
    * path).
    */
  private[operators] def readCfb(doc: Cfb.CfbDoc, maxAtoms: Int = 100000): PptText = {
    val ps = doc.streams.getOrElse("PowerPoint Document",
      return PptText("part", Seq.empty))
    val atoms = scala.collection.mutable.ArrayBuffer[String]()
    if (!walk(ps, 0, ps.length, atoms, maxAtoms))
      return PptText("encrypted", Seq.empty)
    // each atom is a text body whose paragraphs split at \r (trailing
    // marks terminate — `split` drops the trailing empty); 0x0B manual
    // breaks become NEWLINE inside a paragraph; other control chars
    // drop; empty paragraphs drop (slide bodies carry no blank-line
    // semantics, unlike prose documents)
    val paras = atoms.flatMap { a =>
      val cleaned = a.map {
        case 0x0B => '\n'
        case c if c == '\r' || c == '\t' || c == '\n' || c >= 0x20 => c
        case _ => 0.toChar
      }.filter(_ != 0.toChar)
      cleaned.split('\r').toSeq
    }.filter(_.nonEmpty)
    PptText("ok", paras.toSeq)
  }

  def read(bytes: Array[Byte]): PptText =
    Cfb.parse(bytes) match {
      case None => PptText("cfb", Seq.empty)
      case Some(doc) =>
        if (Cfb.isEncryptedOoxml(doc)) PptText("encrypted", Seq.empty)
        else readCfb(doc)
    }

  /** One row per document: (media_id, stage, n_paragraphs, text) —
    * the office-family shape. Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = if (b == null || !Cfb.isCfb(b)) PptText("cfb", Seq.empty) else read(b)
        (id, d.stage, d.paragraphs.length,
          if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
      }
      .toDF(idCol, "stage", "n_paragraphs", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  private def w16(b: java.io.ByteArrayOutputStream, v: Int): Unit = b.write(Bytes.leBytes(v, 2))
  private def w32(b: java.io.ByteArrayOutputStream, v: Long): Unit = b.write(Bytes.leBytes(v, 4))

  private def record(ver: Int, typ: Int, payload: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    w16(b, ver & 0xF)
    w16(b, typ)
    w32(b, payload.length.toLong)
    b.write(payload)
    b.toByteArray
  }

  /** Minimal valid .ppt: a CFB holding a `PowerPoint Document` stream
    * of Slide containers (0x03EE) — each slide's paragraphs written
    * alternately as `TextBytesAtom` (ASCII-safe) and `TextCharsAtom`
    * (UTF-16LE, exercising both decoders) — plus a Notes container
    * with poison text proving the chrome exclusion. `encrypted = true`
    * plants a DocumentEncryptionAtom instead.
    */
  def ppt(slides: Seq[Seq[String]], encrypted: Boolean = false): Array[Byte] = {
    val stream = new java.io.ByteArrayOutputStream()
    if (encrypted)
      stream.write(record(0, EncryptionAtom, new Array[Byte](16)))
    else {
      slides.zipWithIndex.foreach { case (paras, si) =>
        val inner = new java.io.ByteArrayOutputStream()
        paras.zipWithIndex.foreach { case (p, pi) =>
          val body = p + "\r"
          val atom =
            if ((si + pi) % 2 == 0 && body.forall(_.toInt < 0x100))
              record(0, TextBytesAtom,
                body.getBytes(java.nio.charset.Charset.forName("windows-1252")))
            else record(0, TextCharsAtom,
              body.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
          inner.write(atom)
        }
        stream.write(record(0xF, 0x03EE, inner.toByteArray))
      }
      val poison = record(0, TextBytesAtom,
        "SPEAKER NOTES MUST NOT SURFACE\r".getBytes("ISO-8859-1"))
      stream.write(record(0xF, NotesContainer, poison))
    }
    Cfb.cfb(Seq(("PowerPoint Document", stream.toByteArray),
      ("Current User", new Array[Byte](24))))
  }
}
