package graft.queries

import graft.operators.Pdf

/** PDF ingest gates: the pure-JVM text extractor
  * ([[graft.operators.Pdf]]) under the DuckDB oracle. Fixtures are
  * closed-form from table keys — the writer builds real classic-xref
  * PDFs (FlateDecode streams, Annex D encodings, incremental updates)
  * whose extracted text the oracle re-derives arithmetically.
  */
object PdfQueries {

  val all: Seq[Q] = Seq(

    // PDF TEXT extraction — the arms a real corpus actually ships:
    // flate vs raw content (parity), the three Annex D encodings with
    // high bytes that prove the tables (WinAnsi €/—/é on page 1,
    // MacRoman π/≈ vs Standard ’ on page 2), TJ kerning vs word gaps,
    // hex strings, and the degrade families under the same oracle —
    // torn bytes (k%11: the back half is gone, and a PDF's xref lives
    // at the END), encrypted (k%7: structure stays readable so
    // n_pages holds, text is ciphertext → NULL), and CID-keyed fonts
    // (k%5) — which since the ToUnicode reader SPLIT by CMap
    // presence: even cid keys embed the CMap and their text EXTRACTS,
    // odd cid keys ship bare Identity-H and keep the counted
    // `cid_font` NULL. Map-only.
    Q(
      "q_pdf_text",
      (spark, dir) => {
        val mk = (k: Long) => {
          val page1 = ("BT /F1 12 Tf 72 720 Td " + Pdf.lit(s"Doc $k — café €") +
            " Tj 0 -14 Td [" + Pdf.lit(s"A$k") + " -250 " + Pdf.lit("B") +
            " -50 " + Pdf.lit("C") + "] TJ 0 -14 Td " + Pdf.hexLit(s"hex $k") +
            " Tj ET").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          val isCid = k % 11 != 0 && k % 7 != 0 && k % 5 == 0
          val page2 =
            if (isCid && k % 2 == 0) {
              val t = s"cid $k"
              Pdf.Page(Pdf.cidContentOps(Seq(t.map(_.toInt))), cid = true,
                toUnicode = Some(Pdf.toUnicodeCMap(
                  t.distinct.map(c => c.toInt -> c.toString))))
            } else if (k % 3 == 0)
              Pdf.Page(Pdf.contentOps(Seq(s"π ≈ $k"), "MacRomanEncoding"), "MacRomanEncoding",
                cid = isCid)
            else
              Pdf.Page(Pdf.contentOps(Seq(s"it’s $k"), "StandardEncoding"), "StandardEncoding",
                cid = isCid)
          val bytes = Pdf.pdf(Seq(Pdf.Page(page1), page2),
            flate = k % 2 == 0,
            encrypted = k % 11 != 0 && k % 7 == 0)
          if (k % 11 == 0) java.util.Arrays.copyOfRange(bytes, 0, bytes.length / 2)
          else bytes
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  CAST(CASE WHEN k % 11 = 0 THEN 0 ELSE 2 END AS INT) AS n_pages,
          |  CASE WHEN k % 11 = 0 THEN 'parse'
          |       WHEN k % 7 = 0 THEN 'encrypted'
          |       WHEN k % 5 = 0 AND k % 2 <> 0 THEN 'cid_font'
          |       ELSE 'ok' END AS stage,
          |  CASE WHEN k % 11 = 0 OR k % 7 = 0 OR (k % 5 = 0 AND k % 2 <> 0) THEN NULL
          |       ELSE 'Doc ' || k || ' — café €' || chr(10)
          |         || 'A' || k || ' BC' || chr(10)
          |         || 'hex ' || k || chr(10)
          |         || CASE WHEN k % 5 = 0 THEN 'cid ' || k
          |            WHEN k % 3 = 0 THEN 'π ≈ ' || k
          |            ELSE 'it’s ' || k END
          |  END AS text
          |FROM n""".stripMargin
      )
    ),

    // PDF DECRYPTION — the standard security handler with an EMPTY
    // user password (ISO 32000-1 §7.6.3), the second-largest
    // real-world PDF degrade converted to yield: owner-password-only
    // files verify against /U (Algorithm 6; the iterated 2.B hash +
    // /UE key unwrap for V5) and then decrypt per object — RC4-40
    // (V1/R2), RC4-128 (V2/R3), AES-128-CBC (V4/R4 /AESV2) and
    // AES-256 (V5/R6 /AESV3) arms all open; a NON-empty user password keeps
    // the honest 'encrypted' degrade (the verifier decides BEFORE any
    // byte decrypts — never a guessed decode). The fixture derives
    // /O and /U from the published algorithms, so the gate proves
    // interop with real writers, not self-consistency. Map-only.
    Q(
      "q_pdf_decrypt",
      (spark, dir) => {
        val mk = (k: Long) => (k % 6) match {
          case 4 => Pdf.encryptedPdf(Seq(Seq(s"locked $k")), "aes256",
            userPwd = "hunter2")
          case 5 => s"junk pdf $k".getBytes("UTF-8")
          case m =>
            val mode = Seq("rc40", "rc4128", "aes128", "aes256")(m.toInt)
            Pdf.encryptedPdf(Seq(
              Seq(s"open doc $k", s"line two $k"), Seq(s"page two $k")), mode)
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  CAST(CASE CAST(k % 6 AS INT) WHEN 4 THEN 1 WHEN 5 THEN 0
          |    ELSE 2 END AS INT) AS n_pages,
          |  CASE CAST(k % 6 AS INT) WHEN 4 THEN 'encrypted'
          |    WHEN 5 THEN 'parse' ELSE 'ok' END AS stage,
          |  CASE WHEN k % 6 IN (4, 5) THEN NULL
          |    ELSE 'open doc ' || k || chr(10) || 'line two ' || k ||
          |      chr(10) || 'page two ' || k
          |  END AS text
          |FROM n""".stripMargin
      )
    ),

    // The MODERN cross-reference layout — what PDFs in the wild carry
    // since 1.5 (2006): the xref as a /Type /XRef STREAM with /W field
    // widths, flate + the PNG-Up predictor rotating by parity, and
    // (every 3rd key) the document's dict objects packed into a
    // /Type /ObjStm object stream resolved through type-2 entries.
    // The ORACLE IS SHARED logic with the classic writer's output —
    // the same text regardless of which of the four layouts shipped —
    // so the table form is provably invisible to extraction, exactly
    // like compression is invisible to the WARC layer. Map-only.
    Q(
      "q_pdf_xref_stream",
      (spark, dir) => {
        val mk = (k: Long) => {
          val pages = Seq(
            Pdf.Page(Pdf.contentOps(Seq(s"Doc $k modern", s"line ${k % 4}"))),
            Pdf.Page(Pdf.contentOps(Seq(s"it’s $k"), "StandardEncoding"), "StandardEncoding"))
          Pdf.pdfXrefStream(pages, flate = true,
            predictor = k % 2 == 0, objStm = k % 3 == 0)
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(2 AS INT) AS n_pages, 'ok' AS stage,
          |  'Doc ' || n_nationkey || ' modern' || chr(10)
          |    || 'line ' || (n_nationkey % 4) || chr(10)
          |    || 'it’s ' || n_nationkey AS text
          |FROM nation""".stripMargin
      )
    ),

    // RE-ENCODED simple fonts — the /Differences overlay TeX output
    // and subset embeds actually ship: (code, glyph-name…) slots over
    // a base encoding, resolved through the Adobe Glyph List subset
    // (spelled-out names, letters, uniXXXX). Every 5th key names a
    // glyph outside the list and the whole font degrades ('encoding')
    // — substituting a guess would silently rewrite text. Map-only.
    Q(
      "q_pdf_differences",
      (spark, dir) => {
        val mk = (k: Long) => {
          val ops = s"BT /F1 12 Tf 72 720 Td (doc $k \\310\\311\\312\\313) Tj ET"
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          val diffs =
            if (k % 5 == 0) Seq((200, "nosuchglyph"))
            else Seq((200, "Euro"), (201, "uni0142"), (202, "quotedblleft"), (203, "seven"))
          Pdf.pdf(Seq(Pdf.Page(ops, differences = diffs)))
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(1 AS INT) AS n_pages,
          |  CASE WHEN n_nationkey % 5 = 0 THEN 'encoding' ELSE 'ok' END AS stage,
          |  CASE WHEN n_nationkey % 5 = 0 THEN NULL
          |       ELSE 'doc ' || n_nationkey || ' €ł“7' END AS text
          |FROM nation""".stripMargin
      )
    ),

    // CID/Type0 FONTS through the ToUnicode CMap — the dominant
    // post-2010 PDF form (Identity-H 2-byte codes, the embedded
    // §9.10.3 CMap as the decode map). Arms per k%4: a bfchar CMap
    // whose entries include a MULTI-CHAR ligature expansion and CJK
    // (0), a bfrange covering the digit block — the last code unit
    // increments across the range (1), an UNMAPPED code surfacing as
    // the visible U+FFFD like an undefined simple-encoding slot (2),
    // and a bare Identity-H font with no CMap at all keeping the
    // counted `cid_font` degrade (3). Map-only.
    Q(
      "q_pdf_cid",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 0 =>
            val t = s"日本 $k"
            Pdf.pdf(Seq(Pdf.Page(
              Pdf.cidContentOps(Seq(1 +: t.map(_.toInt))), cid = true,
              toUnicode = Some(Pdf.toUnicodeCMap(
                (1 -> "ffi") +: t.distinct.map(c => c.toInt -> c.toString))))))
          case 1 =>
            Pdf.pdf(Seq(Pdf.Page(
              Pdf.cidContentOps(Seq(s"$k".map(_.toInt))), cid = true,
              toUnicode = Some(Pdf.toUnicodeCMap(Nil, Seq((0x30, 0x39, "0")))))))
          case 2 =>
            Pdf.pdf(Seq(Pdf.Page(
              Pdf.cidContentOps(Seq(Seq(0x41, 0x9999))), cid = true,
              toUnicode = Some(Pdf.toUnicodeCMap(Seq(0x41 -> "A"))))))
          case _ =>
            Pdf.pdf(Seq(Pdf.Page(Pdf.cidContentOps(Seq(Seq(0x41))), cid = true)))
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id, CAST(1 AS INT) AS n_pages,
          |  CASE WHEN k % 4 = 3 THEN 'cid_font' ELSE 'ok' END AS stage,
          |  CASE CAST(k % 4 AS INT)
          |    WHEN 0 THEN 'ffi日本 ' || k
          |    WHEN 1 THEN CAST(k AS VARCHAR)
          |    WHEN 2 THEN 'A' || chr(65533)
          |    ELSE NULL END AS text
          |FROM n""".stripMargin
      )
    ),

    // DOCUMENT METADATA — the /Info Title/Author a corpus keys
    // provenance and metadata dedup on, under BOTH text-string
    // encodings the spec defines (§7.9.2.2): UTF-16BE behind the
    // FE FF BOM on even keys (a Greek char proves the wide path),
    // PDFDocEncoding otherwise (em-dash and curly quotes prove the
    // 0x80–0x9F table), absent /Info staying countable NULLs.
    // Map-only.
    Q(
      "q_pdf_info",
      (spark, dir) => {
        val mk = (k: Long) => Pdf.pdf(
          Seq(Pdf.Page(Pdf.contentOps(Seq(s"body $k")))),
          info =
            if (k % 7 == 0) None
            else if (k % 2 == 0) Some((s"π — $k", s"“$k”"))
            else Some((s"Tít — $k", s"“$k”")),
          infoUtf16 = k % 2 == 0)
        val out = Pdf.infoRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 7 = 0 THEN NULL
          |       WHEN n_nationkey % 2 = 0 THEN 'π — ' || n_nationkey
          |       ELSE 'Tít — ' || n_nationkey END AS title,
          |  CASE WHEN n_nationkey % 7 = 0 THEN NULL
          |       ELSE '“' || n_nationkey || '”' END AS author
          |FROM nation""".stripMargin
      )
    ),

    // INCREMENTAL updates — how PDFs are edited in place: appended
    // objects + a new xref whose /Prev chains to the old table, newest
    // generation winning per object (the dump merge's rev_id
    // semantics, in xref form). Arms: untouched base (k%4 ∈ {3}),
    // one update replacing the page's content stream (k even), TWO
    // chained updates (k%4 == 1) — the reader must follow the whole
    // /Prev chain and still take only the newest offset per object.
    // Map-only.
    Q(
      "q_pdf_update",
      (spark, dir) => {
        val mk = (k: Long) => {
          val base = Pdf.pdf(Seq(Pdf.Page(Pdf.contentOps(Seq(s"v1 of $k")))))
          // the writer's layout pins page 1's content stream at obj 4
          if (k % 2 == 0)
            Pdf.pdfUpdate(base, 4, Pdf.streamBody(Pdf.contentOps(Seq(s"v2 of $k")), flate = true))
          else if (k % 4 == 1) {
            val once = Pdf.pdfUpdate(base, 4,
              Pdf.streamBody(Pdf.contentOps(Seq(s"v2 of $k")), flate = false))
            Pdf.pdfUpdate(once, 4,
              Pdf.streamBody(Pdf.contentOps(Seq(s"v3 of $k")), flate = true))
          } else base
        }
        val out = Pdf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(1 AS INT) AS n_pages, 'ok' AS stage,
          |  CASE WHEN n_nationkey % 2 = 0 THEN 'v2 of ' || n_nationkey
          |       WHEN n_nationkey % 4 = 1 THEN 'v3 of ' || n_nationkey
          |       ELSE 'v1 of ' || n_nationkey END AS text
          |FROM nation""".stripMargin
      )
    )
  )
}
