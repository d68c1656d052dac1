package graft

import graft.operators.Mbox

/** Mbox/email ingest: From_ splitting + mboxrd unquoting, folded
  * headers, RFC 2047 encoded-words, QP/base64 transfer decoding
  * through the strict charset layer, multipart text/plain selection,
  * degrades, and the distributed view.
  */
class MboxSpec extends SparkSpec {

  private def msg(headers: String, body: String): String =
    s"From alice@example.com Thu Jan  1 00:00:00 2026\n$headers\n\n$body\n"

  test("From_ split + mboxrd: body 'From ' lines unquote by exactly one '>'") {
    val mb = msg("Subject: one", "line a\n>From quoted line\n>>From stays once-quoted") +
      msg("Subject: two", "second body")
    val ms = Mbox.messages(mb)
    assert(ms.length == 2)
    assert(ms(0).contains("\nFrom quoted line"))
    assert(ms(0).contains("\n>From stays once-quoted"))
    val parsed = Mbox.parseMessage(ms(0))
    assert(parsed.subject == "one" && parsed.text.contains("From quoted line"))
  }

  test("headers: folding unfolds, first occurrence wins, fields of record extract") {
    val raw = "Subject: a very\n  long subject\nFrom: Bob <b@x>\nDate: Thu, 1 Jan 2026\n" +
      "Message-ID: <m1@x>\nSubject: duplicate ignored\n\nbody"
    val m = Mbox.parseMessage(raw)
    assert(m.subject == "a very long subject")
    assert(m.from == "Bob <b@x>" && m.date == "Thu, 1 Jan 2026" && m.messageId == "<m1@x>")
    assert(m.text == "body")
  }

  test("RFC 2047 encoded-words: B and Q forms, adjacent-word merge, junk verbatim") {
    val b64 = java.util.Base64.getEncoder.encodeToString("café".getBytes("UTF-8"))
    assert(Mbox.parseMessage(s"Subject: =?utf-8?B?$b64?= time\n\nx").subject == "café time")
    assert(Mbox.parseMessage("Subject: =?iso-8859-1?Q?caf=E9_page?=\n\nx").subject == "café page")
    // whitespace between adjacent encoded words vanishes (§6.2)
    assert(Mbox.parseMessage(s"Subject: =?utf-8?B?$b64?= =?iso-8859-1?Q?_ol=E9?=\n\nx")
      .subject == "café olé")
    // a junk token stays verbatim — visible, never guessed
    assert(Mbox.parseMessage("Subject: =?nocharset?X?zz?=\n\nx").subject == "=?nocharset?X?zz?=")
  }

  test("transfer decodings: QP with soft breaks, base64, charset layer strictness") {
    val qp = "Content-Type: text/plain; charset=iso-8859-1\n" +
      "Content-Transfer-Encoding: quoted-printable\n\n" +
      "caf=E9 soft=\nbreak =3D equals"
    assert(Mbox.parseMessage(qp).text == "café softbreak = equals")
    val b64body = java.util.Base64.getMimeEncoder.encodeToString("日本語 mail".getBytes("UTF-8"))
    val b64 = s"Content-Type: text/plain; charset=utf-8\nContent-Transfer-Encoding: base64\n\n$b64body"
    assert(Mbox.parseMessage(b64).text == "日本語 mail")
    // a LYING charset still NULLs (the strict layer's contract)
    val lyingMsg = "Content-Type: text/plain; charset=utf-8\n" +
      "Content-Transfer-Encoding: quoted-printable\n\ncaf=E9"
    assert(Mbox.parseMessage(lyingMsg).text == null)
    // out-of-contract coding: visible NULL
    assert(Mbox.parseMessage("Content-Transfer-Encoding: uuencode\n\nxx").text == null)
  }

  test("review finding: Content-Type params match case-insensitively at original offsets") {
    // upper-case parameter names and a non-length-preserving char
    // ahead of the param must not shift the value capture
    val m = "Content-Type: text/plain; CHARSET=iso-8859-1\n" +
      "Content-Transfer-Encoding: quoted-printable\n\ncaf=E9"
    assert(Mbox.parseMessage(m).text == "café")
    val tricky = "Content-Type: text/plain; x=\"İİİ\"; charset=us-ascii\n\nok"
    assert(Mbox.parseMessage(tricky).text == "ok")
  }

  test("advice finding: parameter names match only at a name boundary") {
    // `charset=` must not match inside `x-charset=…`: the wrong value
    // would reach the strict charset layer and refuse a valid body
    val shadow = "Content-Type: text/plain; x-charset=klingon; charset=us-ascii\n\nok"
    assert(Mbox.parseMessage(shadow).text == "ok")
    // `boundary=` must not match inside `x-boundary=…` and split the
    // multipart on the wrong token
    val mpShadow = "Content-Type: multipart/alternative; x-boundary=WRONG; boundary=BB\n\n" +
      "--WRONG\njunk\n--BB\nContent-Type: text/plain; charset=us-ascii\n\nright part\n--BB--"
    assert(Mbox.parseMessage(mpShadow).text == "right part\n")
    // the param at offset 0 of the value region still matches
    assert(Mbox.parseMessage("Content-Type: text/plain;charset=us-ascii\n\nok").text == "ok")
  }

  test("multipart: the first text/plain wins; html-only and depth bombs stay NULL") {
    val mp = "Content-Type: multipart/alternative; boundary=\"BB\"\n\n" +
      "preamble\n--BB\nContent-Type: text/html\n\n<p>html</p>\n" +
      "--BB\nContent-Type: text/plain; charset=us-ascii\n\nplain wins\n" +
      "--BB--\nepilogue"
    assert(Mbox.parseMessage(mp).text == "plain wins\n")
    val htmlOnly = "Content-Type: multipart/mixed; boundary=ZZ\n\n" +
      "--ZZ\nContent-Type: text/html\n\n<p>x</p>\n--ZZ--"
    assert(Mbox.parseMessage(htmlOnly).text == null)
    // nested one level resolves; the depth cap stops a bomb
    val nested = "Content-Type: multipart/mixed; boundary=AA\n\n" +
      "--AA\n" + mp + "\n--AA--"
    assert(Mbox.parseMessage(nested).text == "plain wins\n")
  }

  test("messageRows: distributed walk map-only; torn tail keeps the prefix") {
    import spark.implicits._
    val mb = msg("Subject: s1\nContent-Type: text/plain; charset=utf-8", "body one") +
      msg("Subject: s2", "body two")
    val df = Seq((1L, mb), (2L, "not an mbox at all")).toDF("media_id", "mbox")
    val out = Mbox.messageRows(df, "media_id", "mbox")
    graft.queries.Q.requireNoShuffle(out)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
    assert(got == Set((1L, 0, "s1"), (1L, 1, "s2"))) // the junk blob yields nothing
    for (cut <- 0 to mb.length by 23) Mbox.messages(mb.take(cut)).foreach(Mbox.parseMessage(_))
    assert(Mbox.messages(null).isEmpty)
  }
}
