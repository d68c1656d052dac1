package graft

import graft.operators.{Cfb, Docx, Msg, Office}

/** Outlook .msg extraction: path-qualified property streams, the
  * recipient/attachment storage census, the tree-namespace poison
  * proof, degrades, and the triage routing.
  */
class MsgSpec extends SparkSpec {

  test("msg: subject/sender/body extract; recipient poison never shadows") {
    val b = Msg.msg("Re: budget", "dana", "see attached\nthanks",
      Seq("alice", "bob"), attachments = 2)
    val d = Msg.read(b)
    assert(d.stage == "ok")
    assert(d.subject == "Re: budget" && d.sender == "dana")
    assert(d.body == "see attached\nthanks")
    assert(d.n_recipients == 2 && d.n_attachments == 2)
    // the poison body-tagged streams inside recipient storages exist
    // in the container but never surface as the message body
    val doc = Cfb.parse(b).get
    assert(doc.streams.keys.exists(_.contains("/__substg1.0_1000001F")))
    assert(!d.body.contains("RECIPIENT"))
    assert(Msg.flatText(d) == "Re: budget\nsee attached\nthanks")
  }

  test("cfb tree: storages qualify paths; corrupt sibling pointers fall back flat") {
    val b = Msg.msg("s", "x", "b", Seq("r"))
    val doc = Cfb.parse(b).get
    // top-level streams keep bare names; storage children qualify
    assert(doc.streams.contains("__substg1.0_0037001F"))
    assert(doc.streams.contains(
      "__recip_version1.0_#00000000/__substg1.0_3001001F"))
    assert(doc.entries.exists(e =>
      e.typ == 1 && e.name == "__recip_version1.0_#00000000"))
    // 8-bit (001E) property spelling decodes too
    val legacy = Cfb.cfb(Seq(
      ("__properties_version1.0", new Array[Byte](16)),
      ("__substg1.0_0037001E", "plain subject".getBytes("windows-1252"))))
    assert(Msg.read(legacy).subject == "plain subject")
  }

  test("compressed-RTF body: LZFu round-trips through the prelude reference") {
    val rtf = "{\\rtf1\\ansi hello from rtf\\par second para}"
    val b = Msg.msg("subj", "s", null, Seq.empty, rtfBody = rtf)
    val d = Msg.read(b)
    assert(d.stage == "ok")
    assert(d.body == "hello from rtf\nsecond para")
    // a plain-text body WINS over the RTF form when both exist
    val both = Msg.msg("subj", "s", "plain wins", Seq.empty, rtfBody = rtf)
    assert(Msg.read(both).body == "plain wins")
    // the raw primitive: compress(x) decompresses to x byte-for-byte
    val raw = rtf.getBytes("ISO-8859-1")
    assert(Msg.lzfuDecompress(Msg.lzfuCompress(raw)).get.toSeq == raw.toSeq)
    // a body NOT opening with the dictionary header: all-literal path
    val plain = "no rtf header at all".getBytes("ISO-8859-1")
    assert(Msg.lzfuDecompress(Msg.lzfuCompress(plain)).get.toSeq == plain.toSeq)
    // MELA (stored) payloads read straight through
    val mela = Array[Byte](0, 0, 0, 0, 3, 0, 0, 0,
      'M', 'E', 'L', 'A', 0, 0, 0, 0, 'a', 'b', 'c', 'd')
    assert(Msg.lzfuDecompress(mela).get.toSeq == "abc".getBytes("ISO-8859-1").toSeq)
    // malformed: truncation never throws, yields None (absent body)
    val comp = Msg.lzfuCompress(raw)
    (0 until comp.length by 7).foreach(n =>
      Msg.lzfuDecompress(java.util.Arrays.copyOfRange(comp, 0, n)): Unit)
    assert(Msg.lzfuDecompress(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("msg degrades and routing: encrypted shell, junk OLE, junk bytes, triage") {
    assert(Msg.read(Cfb.encryptedOoxmlFixture(3L)).stage == "encrypted")
    assert(Msg.read(Docx.encryptedFixture(3L)).stage == "cfb")
    assert(Msg.read("junk".getBytes("UTF-8")).stage == "cfb")
    assert(Msg.read(Cfb.cfb(Seq(("Other", "x".getBytes("UTF-8"))))).stage == "part")
    assert(Office.routeOne(Msg.msg("s", "x", "b", Seq("r")))._1 == "msg")
    // adversarial: truncation and bit flips never throw
    val whole = Msg.msg("subject line", "sender", "body text", Seq("a", "b"))
    (1 until whole.length by 157).foreach(n => Msg.read(whole.take(n)): Unit)
    (0 until whole.length by 101).foreach { i =>
      val flip = whole.clone
      flip(i) = (flip(i) ^ 0x3E).toByte
      Msg.read(flip): Unit
    }
  }

  test("textRows distributed map-only; routed triage carries the msg arm") {
    import spark.implicits._
    val blobs = Seq(
      (1L, Msg.msg("hello", "s1", "world", Seq("a"))),
      (2L, "junk".getBytes("UTF-8")))
    val t = Msg.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1), r.getString(6))).toSet ==
      Set((1L, "ok", "hello\nworld"), (2L, "cfb", null)))
    val routed = Office.routedText(blobs.toDF("media_id", "payload"),
      "media_id", "payload")
    assert(routed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet ==
      Set((1L, "msg", 1, "hello\nworld"), (2L, "unknown", 0, null)))
  }

  test("body precedence: plain > html > rtf; empty-stripping html falls through") {
    val html = "<html><body><p>html body</p><p>two</p></body></html>"
    val rtf = "{\\rtf1\\ansi rtf body}"
    // all three: plain wins
    assert(Msg.read(Msg.msg("s", "x", "plain", Seq.empty,
      htmlBody = html, rtfBody = rtf)).body == "plain")
    // html + rtf: html wins, stripped through the HTML pipeline
    assert(Msg.read(Msg.msg("s", "x", null, Seq.empty,
      htmlBody = html, rtfBody = rtf)).body == "html body\ntwo")
    // html alone (the modern HTML-only mail the old chain nulled)
    assert(Msg.read(Msg.msg("s", "x", null, Seq.empty,
      htmlBody = html)).body == "html body\ntwo")
    // markup-only html strips empty -> the rtf arm still yields
    assert(Msg.read(Msg.msg("s", "x", null, Seq.empty,
      htmlBody = "<html><body><div></div></body></html>",
      rtfBody = rtf)).body == "rtf body")
    // the 8-bit (001E) html spelling decodes too
    val legacy = Cfb.cfb(Seq(
      ("__properties_version1.0", new Array[Byte](16)),
      ("__substg1.0_1013001E", "<p>legacy html</p>".getBytes("windows-1252"))))
    assert(Msg.read(legacy).body == "legacy html")
  }

  test("attachments open: filename chain, routed payloads, embedded message floor") {
    val docx = graft.operators.Docx.docx(Seq(Seq("report para")))
    val b = Msg.msg("subj", "x", "body", Seq("r"), attachments = 1,
      attachFiles = Seq(("q.docx", docx)),
      attachMsg = Some(("inner subj", "inner body")))
    val atts = Msg.attachmentsOf(Cfb.parse(b).get)
    assert(atts.map(_.no) == Seq(0, 1, 2))
    assert(atts(0).filename == null && atts(0).data != null) // opaque census arm
    assert(atts(1).filename == "q.docx" && atts(1).data.toSeq == docx.toSeq)
    // embedded message: parsed one level deep, own attachments only count
    assert(atts(2).filename == "inner subj" && atts(2).data == null)
    val inner = atts(2).embedded.get
    assert(inner.stage == "ok" && inner.subject == "inner subj" &&
      inner.body == "inner body" && inner.n_attachments == 0)
    // the census itself is attachment-content-transparent
    assert(Msg.read(b).n_attachments == 3)
  }

  test("attachmentRows: routed kinds, map-only; non-msg emits nothing") {
    import spark.implicits._
    val pdf = graft.operators.Pdf.pdf(Seq(graft.operators.Pdf.Page(
      graft.operators.Pdf.contentOps(Seq("pdf text")))))
    val blobs = Seq(
      (1L, Msg.msg("m", "x", "b", Seq.empty,
        attachFiles = Seq(("a.docx", graft.operators.Docx.docx(Seq(Seq("para")))),
          ("b.pdf", pdf), ("junk.bin", "junk bytes".getBytes("UTF-8"))))),
      (2L, "not cfb".getBytes("UTF-8")),
      (3L, graft.operators.Docx.docx(Seq(Seq("a docx, not a msg")))))
    val t = Office.attachmentRows(blobs.toDF("media_id", "payload"),
      "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getInt(4), r.getString(5))).toSet == Set(
      (1L, 0, "a.docx", "docx", 1, "para"),
      (1L, 1, "b.pdf", "pdf", 1, "pdf text"),
      (1L, 2, "junk.bin", "unknown", 0, null)))
    // corpusRows: document row (attach_no -1) + attachment rows, one walk
    val c = Office.corpusRows(blobs.toDF("media_id", "payload"),
      "media_id", "payload")
    graft.queries.Q.requireNoShuffle(c)
    val rows = c.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows == Set(
      (1L, -1, "msg"), (1L, 0, "docx"), (1L, 1, "pdf"), (1L, 2, "unknown"),
      (2L, -1, "unknown"), (3L, -1, "docx")))
  }

  test("msg text streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val blobs = Seq(
      (1L, Msg.msg("status", "s2", "all good", Seq("a", "b"), attachments = 1)),
      (2L, Cfb.encryptedOoxmlFixture(2L)),
      (3L, "junk".getBytes("UTF-8")))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val q = Msg.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("msg_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(4), r.getInt(5), r.getString(6))).toSet
      val batch = rows(Msg.textRows(blobs.toDF("media_id", "payload"),
        "media_id", "payload"))
      assert(rows(spark.table("msg_out")) == batch)
      assert(batch == Set(
        (1L, "ok", 2, 1, "status\nall good"),
        (2L, "encrypted", 0, 0, null),
        (3L, "cfb", 0, 0, null)))
    } finally q.stop()
  }
}
