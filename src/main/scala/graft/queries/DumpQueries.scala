package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DumpDecode, Multimodal, TarShard, TextAnalysis, XmlDump, ZipShard}

/** Published-dump ingest gates: the bzip2/xz multistream decode layer
  * ([[graft.operators.DumpDecode]]), the tar-shard sample reader
  * ([[graft.operators.TarShard]]), and the XML-dump → wikitext page
  * pipeline ([[graft.operators.XmlDump]]) — the source family for
  * corpora that arrive as published dumps (Wikipedia, mirrored
  * re-compressions, WebDataset shards) rather than crawl archives.
  * Fixtures are closed-form from table keys, so every gate's DuckDB
  * oracle re-derives the expected rows arithmetically.
  */
object DumpQueries {

  /** The shard sample layout q_tar_samples and q_zip_samples SHARE —
    * identical logical members in the two containers, so one oracle
    * proves the container is invisible to the WebDataset layer.
    */
  private val ShardSamplesOracleSql: String =
    """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
      |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
      |          UNNEST(generate_series(0, 4)) u(i) WHERE i < 2 + k % 3)
      |SELECT k AS media_id, i AS sample_idx,
      |  'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0') AS sample_key,
      |  'txt' AS ext, 'cap ' || k || ' item ' || i AS content
      |FROM items
      |UNION ALL
      |SELECT k, i, 'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0'),
      |  'cls', CAST((k + i) % 10 AS VARCHAR)
      |FROM items
      |UNION ALL
      |SELECT k, CAST(2 + k % 3 AS INT),
      |  'shard' || k || '/' || repeat('L', 95) || '/x', 'json', '{}'
      |FROM n WHERE k % 5 = 0""".stripMargin

  /** The shared logical member list behind [[ShardSamplesOracleSql]]. */
  private def shardSampleMembers(k: Long): Seq[(String, Array[Byte])] = {
    val n = (2 + k % 3).toInt
    (0 until n).flatMap { i =>
      Seq(
        (f"shard$k/$i%06d.txt", s"cap $k item $i".getBytes("US-ASCII")),
        (f"shard$k/$i%06d.cls", s"${(k + i) % 10}".getBytes("US-ASCII")))
    } ++
      (if (k % 5 == 0) Seq((s"shard$k/" + "L" * 95 + "/x.json", "{}".getBytes("US-ASCII")))
      else Seq.empty)
  }

  /** The 13-arm office grid q_office_triage and q_office_pipeline
    * share, keyed k % 13: the routing the triage pins and the
    * accounting the pipeline pins read the same payloads.
    */
  private def officeGrid(k: Long): Array[Byte] = (k % 13) match {
    case 0 => graft.operators.Docx.docx(Seq(Seq(s"word doc $k")))
    case 1 => graft.operators.Pptx.pptx(Seq(Seq(s"slide $k")))
    case 2 => graft.operators.Odt.odt(Seq(s"odt doc $k"))
    case 3 => s"{\\rtf1\\ansi legacy $k\\par tail $k}".getBytes("ISO-8859-1")
    case 4 => graft.operators.Xlsx.xlsxGrid(Seq(
      (1, Seq(("s", s"cell $k"), ("n", s"$k"))),
      (2, Seq(("is", s"note $k")))))
    case 5 => graft.operators.Cfb.encryptedOoxmlFixture(k)
    case 6 => s"legacy junk $k".getBytes("UTF-8")
    case 7 => graft.operators.Doc.doc(Seq(s"legacy word $k", s"body $k"))
    case 8 => graft.operators.Odt.ods(Seq(Seq(s"sheet cell $k", "2")))
    case 9 => graft.operators.Odt.odp(Seq(Seq(s"deck $k")))
    case 10 => graft.operators.Ppt.ppt(Seq(Seq(s"old deck $k", s"pt $k")))
    case 11 => graft.operators.Xls.xls(Seq(
      (1, Seq(("s", s"sheet97 $k"), ("n", "7")))))
    case _ => graft.operators.Msg.msg(s"Re: topic $k", s"sender $k",
      s"hello body $k", Seq("alice", "bob"),
      // the attachment is ROUTING-TRANSPARENT here: routedText's
      // msg row (kind/units/text) must not change — only the
      // pipeline's corpusRows surface opens it
      attachFiles = Seq((s"rep$k.docx",
        graft.operators.Docx.docx(Seq(Seq(s"attach $k"))))))
  }

  /** One CDXJ line of the q_cdx_* fixtures: capture `i` of site `k`. */
  private def cdxLine(k: Long, i: Int, extra: String): String =
    s"""com,site$k)/p$i 2026010$i {"url": "http://site$k.com/p$i", """ +
      s""""filename": "crawl-$k.warc.gz"$extra}"""

  /** Site `k`'s three 200 text/html captures, which q_cdx_index parses
    * and q_cdx_lookup joins against.
    */
  private def cdxCaptures(k: Long): Seq[String] = (0 until 3).map(i => cdxLine(k, i,
    s""", "offset": "${i * 1000}", "length": "800", "status": "200", "mime": "text/html""""))

  val all: Seq[Q] = Seq(

    // The bzip2 MULTISTREAM ingest — Wikipedia's dump layout:
    // byte-aligned concatenated streams, decoded member-wise by the
    // classpath reference implementation under this layer's bomb caps
    // and completed-prefix contract (DumpDecodeSpec certifies against
    // real-CLI golden bytes; THIS gate certifies the distributed
    // plumbing stays map-only and deterministic under Verify). The
    // middle member is EMPTY — a legal zero-block stream whose member
    // row must still appear, or downstream member_idx alignment against
    // a dump's offset index silently shifts.
    Q(
      "q_bz2_decode",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val m0 = (s"w${k % 7}x " * (5 + k % 4).toInt + s"end$k").getBytes("US-ASCII")
          val m2 = ("abacad" * (3 + (k % 3)).toInt).getBytes("US-ASCII")
          DumpDecode.bz2Member(m0) ++ DumpDecode.bz2Member(Array.emptyByteArray) ++
            DumpDecode.bz2Member(m2)
        }
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            DumpDecode.bz2Members(p).zipWithIndex.map {
              case (m, i) => (id, i, new String(m, "US-ASCII"))
            }
          }
          .toDF("media_id", "member_idx", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS member_idx,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN repeat('w' || CAST(n_nationkey % 7 AS VARCHAR) || 'x ',
          |                       CAST(5 + n_nationkey % 4 AS INT))
          |                || 'end' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN ''
          |    ELSE repeat('abacad', CAST(3 + n_nationkey % 3 AS INT))
          |  END AS text
          |FROM nation, UNNEST(generate_series(0, 2)) AS u(i)""".stripMargin
      )
    ),

    // The xz twin — same logical members under the other dump
    // compression (mirrors re-ship .bz2 dumps as .xz), sharing the
    // bz2 gate's oracle shape so the compression format is provably
    // invisible to the member layer. The torn tail (half of the
    // second stream, keyed on parity) exercises the completed-prefix
    // contract UNDER THE ORACLE: those members simply don't appear.
    Q(
      "q_xz_decode",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val m0 = (s"w${k % 7}x " * (5 + k % 4).toInt + s"end$k").getBytes("US-ASCII")
          val m1 = ("abacad" * (3 + (k % 3)).toInt).getBytes("US-ASCII")
          val s1 = DumpDecode.xzMember(m1)
          DumpDecode.xzMember(m0) ++
            (if (k % 2 == 0) s1 else s1.take(s1.length / 2))
        }
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            DumpDecode.xzMembers(p).zipWithIndex.map {
              case (m, i) => (id, i, new String(m, "US-ASCII"))
            }
          }
          .toDF("media_id", "member_idx", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS member_idx,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN repeat('w' || CAST(n_nationkey % 7 AS VARCHAR) || 'x ',
          |                       CAST(5 + n_nationkey % 4 AS INT))
          |                || 'end' || CAST(n_nationkey AS VARCHAR)
          |    ELSE repeat('abacad', CAST(3 + n_nationkey % 3 AS INT))
          |  END AS text
          |FROM nation, UNNEST(generate_series(0, 1)) AS u(i)
          |WHERE i = 0 OR n_nationkey % 2 = 0""".stripMargin
      )
    ),

    // The tar-shard member INVENTORY — the measurement pass over a
    // WebDataset shard before any sample assembly: one row per member
    // with name/typeflag/size, checksum-verified headers, the GNU
    // long-name arm in-gate (every k%5==0 shard carries a >100-char
    // path that must resolve through the 'L' entry). Map-only.
    Q(
      "q_tar_entries",
      (spark, dir) => {
        val mk = (k: Long) => {
          val n = (2 + k % 3).toInt
          val files = Seq((s"shard$k/", "5", Array.emptyByteArray)) ++
            (0 until n).flatMap { i =>
              Seq(
                (f"shard$k/$i%06d.txt", "0", s"cap $k item $i".getBytes("US-ASCII")),
                (f"shard$k/$i%06d.cls", "0", s"${(k + i) % 10}".getBytes("US-ASCII")))
            } ++
            (if (k % 5 == 0)
              Seq((s"shard$k/" + "L" * 95 + "/x.json", "0", "{}".getBytes("US-ASCII")))
            else Seq.empty)
          TarShard.tar(files)
        }
        val out = TarShard.entryRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |          UNNEST(generate_series(0, 4)) u(i) WHERE i < 2 + k % 3)
          |SELECT k AS media_id, CAST(0 AS INT) AS entry_idx,
          |  'shard' || k || '/' AS name, '5' AS typeflag, CAST(0 AS BIGINT) AS size
          |FROM n
          |UNION ALL
          |SELECT k, CAST(1 + 2 * i AS INT),
          |  'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0') || '.txt', '0',
          |  CAST(length('cap ' || k || ' item ' || i) AS BIGINT)
          |FROM items
          |UNION ALL
          |SELECT k, CAST(2 + 2 * i AS INT),
          |  'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0') || '.cls', '0',
          |  CAST(1 AS BIGINT)
          |FROM items
          |UNION ALL
          |SELECT k, CAST(5 + 2 * (k % 3) AS INT),
          |  'shard' || k || '/' || repeat('L', 95) || '/x.json', '0', CAST(2 AS BIGINT)
          |FROM n WHERE k % 5 = 0""".stripMargin
      )
    ),

    // WebDataset SAMPLE assembly: consecutive same-stem members fold
    // into one sample inside the per-shard walk (`000007.txt` +
    // `000007.cls` = one record), so the reader is map-only — a sample
    // never spans shards, so no shuffle exists at any scale. The
    // long-name member forms its own single-part sample; the dot-less
    // contract and run-break laws are pinned in TarShardSpec.
    Q(
      "q_tar_samples",
      (spark, dir) => {
        val mk = (k: Long) =>
          TarShard.tar(shardSampleMembers(k).map { case (n, d) => (n, "0", d) })
        val out = TarShard.sampleRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
          .withColumn("content", col("data").cast("string"))
          .drop("data")
        Q.requireNoShuffle(out)
        out
      },
      Some(ShardSamplesOracleSql)
    ),

    // COMPRESSED tar shards under the shared oracle — the four ways a
    // shard really arrives (`.tar`, `.tar.gz`, `.tar.zst` via the
    // pure-JVM RFC 8878 decoder, `.tar.bz2`), rotating by key, all
    // reduced by ONE magic-sniffed all-or-NULL decompression in front
    // of the same walk: two compression layers and the container are
    // simultaneously invisible to the sample layer. Map-only.
    Q(
      "q_tar_compressed",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val tarBytes = TarShard.tar(shardSampleMembers(k).map { case (n, d) => (n, "0", d) })
          k % 4 match {
            case 0 => tarBytes
            case 1 => graft.operators.CompressedMeta.gzipMember(tarBytes)
            case 2 => graft.operators.ZstdDecode.zstdFrameRaw(tarBytes, checksum = true)
            case _ => DumpDecode.bz2Member(tarBytes)
          }
        }
        val blobs = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .map { case (id, p) => (id, DumpDecode.decompressAuto(p)) }
          .toDF("media_id", "payload")
        val out = TarShard.sampleRows(blobs, "media_id", "payload")
          .withColumn("content", col("data").cast("string"))
          .drop("data")
        Q.requireNoShuffle(out)
        out
      },
      Some(ShardSamplesOracleSql)
    ),

    // The zip-shard member INVENTORY — the stream-order local-header
    // walk (CRC-verified; the central directory is the clean stop, not
    // the index): one row per member with name/method/size, the stored
    // and deflated arms alternating by parity so both decode paths sit
    // under the oracle; every 3rd key ships in the ZIP64 layout
    // (saturated 4-byte sizes + the 0x0001 extra field, 8-byte
    // descriptor fields where flag bit 3 is set) and the oracle is
    // UNCHANGED — the >4 GiB wire format is invisible to the member
    // layer. Map-only.
    Q(
      "q_zip_entries",
      (spark, dir) => {
        val mk = (k: Long) => ZipShard.zip(
          shardSampleMembers(k), deflate = k % 2 == 0, descriptor = k % 4 == 0,
          zip64 = k % 3 == 0)
        val out = ZipShard.entryRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |          UNNEST(generate_series(0, 4)) u(i) WHERE i < 2 + k % 3)
          |SELECT k AS media_id, CAST(2 * i AS INT) AS entry_idx,
          |  'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0') || '.txt' AS name,
          |  CAST(CASE WHEN k % 2 = 0 THEN 8 ELSE 0 END AS INT) AS method,
          |  CAST(length('cap ' || k || ' item ' || i) AS BIGINT) AS size
          |FROM items
          |UNION ALL
          |SELECT k, CAST(2 * i + 1 AS INT),
          |  'shard' || k || '/' || lpad(CAST(i AS VARCHAR), 6, '0') || '.cls',
          |  CAST(CASE WHEN k % 2 = 0 THEN 8 ELSE 0 END AS INT), CAST(1 AS BIGINT)
          |FROM items
          |UNION ALL
          |SELECT k, CAST(4 + 2 * (k % 3) AS INT),
          |  'shard' || k || '/' || repeat('L', 95) || '/x.json',
          |  CAST(CASE WHEN k % 2 = 0 THEN 8 ELSE 0 END AS INT), CAST(2 AS BIGINT)
          |FROM n WHERE k % 5 = 0""".stripMargin
      )
    ),

    // Zip sample assembly — q_tar_samples' oracle VERBATIM over the
    // SAME logical members in the other container (descriptor-layout
    // deflate, the streaming-zip corner): the container is provably
    // invisible to the WebDataset layer, exactly like compression is
    // invisible to the WARC layer (q_warc_gz/q_warc_zst). Map-only.
    Q(
      "q_zip_samples",
      (spark, dir) => {
        val mk = (k: Long) =>
          ZipShard.zip(shardSampleMembers(k), deflate = true, descriptor = true)
        val out = ZipShard.sampleRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
          .withColumn("content", col("data").cast("string"))
          .drop("data")
        Q.requireNoShuffle(out)
        out
      },
      Some(ShardSamplesOracleSql)
    ),

    // The multimodal WebDataset pipeline CLOSED: shard → samples →
    // pair each sample's image part with its caption part → decode the
    // image (the real BMP decoder from the media layer) → caption
    // token count. One flatMap does shard-to-features; the only
    // columns that survive are the training-table ones. Map-only.
    Q(
      "q_tar_pipeline",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val n = (2 + k % 2).toInt
          TarShard.tar((0 until n).flatMap { i =>
            Seq(
              (f"$i%06d.bmp", "0",
                Multimodal.syntheticBmp(k * 7 + i, (3 + (k + i) % 4).toInt, (2 + (k + 2 * i) % 3).toInt)),
              (f"$i%06d.txt", "0", ("tok " * (2 + i) + "end").getBytes("US-ASCII")))
          })
        }
        val shards = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
        val out = shards
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            TarShard.samples(TarShard.entries(p)).flatMap { s =>
              val img = s.parts.collectFirst { case ("bmp", d) => d }
              val cap = s.parts.collectFirst { case ("txt", d) => new String(d, "US-ASCII") }
              for {
                bytes <- img
                (w, h, _) <- Multimodal.decodeBmp(bytes)
                text <- cap
              } yield (id, s.key, w, h, text)
            }
          }
          .toDF("media_id", "sample_key", "width", "height", "caption")
          .select(col("media_id"), col("sample_key"), col("width"), col("height"),
            TextAnalysis.tokenCount(col("caption")).as("caption_tokens"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |          UNNEST(generate_series(0, 3)) u(i) WHERE i < 2 + k % 2)
          |SELECT k AS media_id, lpad(CAST(i AS VARCHAR), 6, '0') AS sample_key,
          |  CAST(3 + (k + i) % 4 AS INT) AS width,
          |  CAST(2 + (k + 2 * i) % 3 AS INT) AS height,
          |  CAST(3 + i AS INT) AS caption_tokens
          |FROM items""".stripMargin
      )
    ),

    // XML-dump PAGE extraction: the four arms a pages-articles export
    // really contains — a plain article, a redirect stub (the
    // `<redirect>` target binds, not just the #REDIRECT body), a
    // non-article namespace, and (every 4th key) an entity-bearing
    // title that must XML-decode; every 3rd blob ends in a TORN page
    // the walk must drop without losing the whole ones. The page id is
    // pinned as the PRE-revision <id>. Map-only.
    Q(
      "q_wiki_pages",
      (spark, dir) => {
        val mk = (k: Long) => {
          "<mediawiki xml:lang=\"en\">\n" +
            XmlDump.pageXml(k * 10, 0, s"Page $k", None, s"Body [[Topic ${k % 5}]] of $k") +
            XmlDump.pageXml(k * 10 + 1, 0, s"Redir $k", Some(s"Page $k"), s"#REDIRECT [[Page $k]]") +
            XmlDump.pageXml(k * 10 + 2, 1, s"Talk:Page $k", None, s"talk $k") +
            (if (k % 4 == 0) XmlDump.pageXml(k * 10 + 3, 0, s"A&B <$k>", None, s"e&e $k") else "") +
            (if (k % 3 == 0) "  <page>\n    <title>Torn</title>\n    <ns>0</ns>" else "") +
            "</mediawiki>"
        }
        val out = XmlDump.pageRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "xml")(mk),
          "media_id", "xml")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id, CAST(0 AS INT) AS page_idx, k * 10 AS page_id,
          |  k * 10000 + 1 AS rev_id,
          |  CAST(0 AS INT) AS ns, 'Page ' || k AS title, CAST(NULL AS VARCHAR) AS redirect,
          |  'Body [[Topic ' || (k % 5) || ']] of ' || k AS text
          |FROM n
          |UNION ALL
          |SELECT k, CAST(1 AS INT), k * 10 + 1, (k * 10 + 1) * 1000 + 1,
          |  CAST(0 AS INT), 'Redir ' || k,
          |  'Page ' || k, '#REDIRECT [[Page ' || k || ']]'
          |FROM n
          |UNION ALL
          |SELECT k, CAST(2 AS INT), k * 10 + 2, (k * 10 + 2) * 1000 + 1,
          |  CAST(1 AS INT), 'Talk:Page ' || k,
          |  NULL, 'talk ' || k
          |FROM n
          |UNION ALL
          |SELECT k, CAST(3 AS INT), k * 10 + 3, (k * 10 + 3) * 1000 + 1,
          |  CAST(0 AS INT),
          |  'A&B <' || k || '>', NULL, 'e&e ' || k
          |FROM n WHERE k % 4 = 0""".stripMargin
      )
    ),

    // The wikitext STRIP under the oracle: one composed article per
    // key exercising every pass (heading, bold/italic quotes, nested
    // template, piped + plain wiki links, ref body, external link,
    // table, entity, residual tag — plus the media-link arm on odd
    // keys), reduced to closed-form prose the oracle re-derives by
    // concatenation. Whitespace is preserved exactly as the removals
    // leave it — that's the documented contract. Map-only.
    Q(
      "q_wiki_text",
      (spark, dir) => {
        val strip = (k: Long) => XmlDump.stripWikitext(
          s"== Heading $k ==\n'''Bold''' text {{tmpl|x=$k}}with [[Link $k|label $k]] " +
            s"and [[Plain$k]], see <ref name=a>junk</ref>[https://e.com/$k ext $k] rest " +
            s"{| tbl |} &amp; <b>tail</b>$k" +
            (if (k % 2 == 1) s"\npix [[File:p$k.jpg|thumb|a [[l]] cap]] done" else ""))
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "plain")(strip)
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  'Heading ' || n_nationkey || chr(10) || 'Bold text with label ' || n_nationkey
          |  || ' and Plain' || n_nationkey || ', see ext ' || n_nationkey
          |  || ' rest  & tail' || n_nationkey
          |  || CASE WHEN n_nationkey % 2 = 1 THEN chr(10) || 'pix  done' ELSE '' END AS plain
          |FROM nation""".stripMargin
      )
    ),

    // The dump pipeline CLOSED: multistream bzip2 blob (site-header
    // member with no pages, then two page-batch members — Wikipedia's
    // real layout) → member-wise page extraction with page_idx
    // re-indexed across members → article screen (ns=0, non-redirect,
    // body present) → wikitext strip → token count → GLOBAL exact
    // dedup (texts collide across blobs by construction; keep-min by
    // (media_id, page_id), copies counted). ONE shuffle total — the
    // dedup window; everything upstream is map-only.
    Q(
      "q_wiki_pipeline",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val header = "<mediawiki xml:lang=\"en\">\n  <siteinfo>\n    <sitename>Fixture</sitename>\n  </siteinfo>\n"
          val batch1 =
            XmlDump.pageXml(k * 10, 0, s"Page $k",
              None, s"'''Doc''' about [[Topic ${k % 5}|topic ${k % 5}]] with {{box|$k}} tail ${k % 5}") +
              XmlDump.pageXml(k * 10 + 1, 0, s"Redir $k", Some(s"Page $k"), s"#REDIRECT [[Page $k]]")
          val batch2 =
            XmlDump.pageXml(k * 10 + 2, 1, s"Talk:Page $k", None, s"talk $k") +
              (if (k % 4 == 0)
                XmlDump.pageXml(k * 10 + 3, 0, s"More $k", None, s"Extra &amp; [[data]] {{t}} page ${k % 8}")
              else "") +
              (if (k % 3 == 0) "  <page>\n    <title>Torn</title>" else "")
          DumpDecode.bz2Member(header.getBytes("UTF-8")) ++
            DumpDecode.bz2Member(batch1.getBytes("UTF-8")) ++
            DumpDecode.bz2Member(batch2.getBytes("UTF-8"))
        }
        val pages = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            DumpDecode.bz2Members(p)
              .flatMap(m => XmlDump.pages(new String(m, "UTF-8")))
              .zipWithIndex
              .map { case (pg, i) => (id, i, pg.page_id, pg.ns, pg.title, pg.redirect, pg.text) }
          }
          .toDF("media_id", "page_idx", "page_id", "ns", "title", "redirect", "text")
        val strip = udf((s: String) => XmlDump.stripWikitext(s))
        val articles = pages
          .filter(col("ns") === 0 && col("redirect").isNull && col("text").isNotNull)
          .withColumn("plain", strip(col("text")))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("plain")))
        val byText = Window.partitionBy(col("plain"))
        val out = articles
          .withColumn("rn", row_number().over(byText.orderBy(col("media_id"), col("page_id"))))
          .withColumn("copies", count(lit(1)).over(byText))
          .where(col("rn") === 1)
          .select(col("media_id"), col("page_id"), col("title"), col("n_tokens"), col("copies"))
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |arts AS (
          |  SELECT k AS media_id, k * 10 AS page_id, 'Page ' || k AS title,
          |    'Doc about topic ' || (k % 5) || ' with  tail ' || (k % 5) AS plain
          |  FROM n
          |  UNION ALL
          |  SELECT k, k * 10 + 3, 'More ' || k,
          |    'Extra & data  page ' || (k % 8)
          |  FROM n WHERE k % 4 = 0
          |), t AS (
          |  SELECT media_id, page_id, title, plain,
          |    CAST(len(regexp_split_to_array(plain, '\s+')) AS INT) AS n_tokens
          |  FROM arts
          |), d AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY plain ORDER BY media_id, page_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY plain) AS copies
          |  FROM t
          |)
          |SELECT media_id, page_id, title, n_tokens, CAST(copies AS BIGINT) AS copies
          |FROM d WHERE rn = 1""".stripMargin
      )
    ),

    // DUMP → INTERLINK GRAPH → AUTHORITY: q_wat_graph/q_html_graph's
    // dump-side sibling — the edge list comes from WIKITEXT internal
    // links (extracted before the strip erases them), with the title
    // canonicalization the dump's own link semantics demand: fragment
    // links target their page, underscores are spaces, the initial is
    // case-insensitive, media/category links drop, a caption-embedded
    // link counts. Same |titles|²-bounded one-shuffle collapse, same
    // two integer-exact PageRank rounds, same unrolled rank CTEs.
    Q(
      "q_wiki_graph",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) =>
          XmlDump.pageXml(k * 10, 0, s"Page ${k % 5}", None,
            s"Intro [[Page ${(k + 1) % 5}]] mid [[Page ${(k + 2) % 5}|alias]] " +
              s"see [[Page_${(k + 3) % 5}#History]] also [[page ${(k + 4) % 5}]] " +
              "[[File:x.jpg|thumb|cap]][[Category:Z]] tail")
        val pages = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "xml")(mk)
          .as[(Long, String)]
          .flatMap { case (_, xml) =>
            XmlDump.pages(xml).flatMap(pg =>
              XmlDump.wikiLinks(pg.text).map(dst => (pg.title, dst)))
          }
          .toDF("src", "dst")
        graft.operators.Graph.pageRankInt(pages, "src", "dst", iters = 2)
      },
      Some {
        val edgesSql =
          """SELECT 'Page ' || CAST(n_nationkey % 5 AS VARCHAR) AS src,
            |    'Page ' || CAST((n_nationkey + j) % 5 AS VARCHAR) AS dst
            |  FROM nation, UNNEST(generate_series(1, 4)) AS v(j)""".stripMargin
        s"""WITH ${CorpusQueries.domainGraphCtes(edgesSql, "wg")},
           |${CorpusQueries.domainRankStepsSql("wg")}
           |SELECT node, CAST(rank AS BIGINT) AS rank_micro FROM wgr2""".stripMargin
      }
    ),

    // FEED discovery — the second frontier channel next to sitemaps:
    // RSS 2.0 and Atom rotating by key under ONE extractor (element-
    // text links vs rel-screened href attributes — the dialect
    // difference that actually bites), entity-decoded URLs, a torn
    // trailing item on every 3rd feed dropped by the walk. Map-only;
    // the rows feed the same canonicalize → dedup → politeness chain
    // sitemap discovery pins. Reference: north-star crawl surface.
    Q(
      "q_feed_discovery",
      (spark, dir) => {
        val mk = (k: Long) => {
          val n = (2 + k % 2).toInt
          val items = (0 until n).map { i =>
            if (k % 2 == 0)
              s"<item><title>Post $k-$i</title><link>http://d$k.example/p/$i?a=1&amp;b=2</link>" +
                s"<pubDate>Mon, 0$i Jan 2026</pubDate></item>"
            else
              s"""<entry><title>Post $k-$i</title><link rel="self" href="http://d$k.example/feed"/>""" +
                s"""<link href="http://d$k.example/p/$i?a=1&amp;b=2"/><updated>2026-01-0$i</updated></entry>"""
          }.mkString("\n")
          val torn = if (k % 3 == 0) (if (k % 2 == 0) "\n<item><title>torn" else "\n<entry><title>torn") else ""
          if (k % 2 == 0) s"""<?xml version="1.0"?><rss><channel>$items$torn</channel></rss>"""
          else s"""<?xml version="1.0"?><feed><link rel="self" href="http://d$k.example/feed"/>$items$torn</feed>"""
        }
        val out = graft.operators.Feeds.itemRows(
          Q.fixture(Q.nationKeys(spark, dir, "k"), "k", "xml")(mk)
            .select(concat(lit("d"), col("k"), lit(".example")).as("domain"), col("xml")),
          "domain", "xml")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |          UNNEST(generate_series(0, 2)) u(i) WHERE i < 2 + k % 2)
          |SELECT 'd' || k || '.example' AS domain, i AS item_idx,
          |  'http://d' || k || '.example/p/' || i || '?a=1&b=2' AS url,
          |  'Post ' || k || '-' || i AS title,
          |  CASE WHEN k % 2 = 0 THEN 'Mon, 0' || i || ' Jan 2026'
          |       ELSE '2026-01-0' || i END AS updated
          |FROM items""".stripMargin
      )
    ),

    // INCREMENTAL dump merge — tracking a published dump between full
    // exports: generation 1 re-exports page 1 with a NEWER revision id
    // (the text follows it), adds page 4, and — on every 5th key —
    // REPLAYS page 0 with an OLDER revision (the out-of-order delta):
    // the snapshot's row must survive whole and the verdict reads
    // 'stale', never a silent regression. Pages 0/2/3 otherwise carry
    // forward. One full-outer join on the page key — the dump-flavored
    // CDC apply, revision ids doing what LSNs do.
    Q(
      "q_dump_delta",
      (spark, dir) => {
        val gen0 = (k: Long) =>
          (0 until 4).map(i => XmlDump.pageXml(k * 100 + i, 0, s"P $k-$i", None, s"t$i of $k")).mkString
        val gen1 = (k: Long) =>
          XmlDump.pageXml(k * 100 + 1, 0, s"P $k-1", None, s"t1 v2 of $k",
            revId = (k * 100 + 1) * 1000 + 7) +
            XmlDump.pageXml(k * 100 + 4, 0, s"P $k-4", None, s"t4 of $k") +
            (if (k % 5 == 0)
              XmlDump.pageXml(k * 100, 0, s"P $k-0 REGRESSED", None, s"t0 stale of $k",
                revId = k * 100 * 1000) // OLDER than gen0's k*100*1000+1
            else "") +
            // every 4th key ships an ID-LESS page (page_id = -1 parse
            // degrade): it must pass through as 'unkeyed', never fan
            // out in the join
            (if (k % 4 == 1)
              s"  <page>\n    <title>NoId $k</title>\n    <ns>0</ns>\n" +
                s"    <revision>\n      <id>5</id>\n      <text>anon $k</text>\n    </revision>\n  </page>\n"
            else "")
        val keys = Q.nationKeys(spark, dir, "media_id")
        def rows(mk: Long => String) =
          XmlDump.pageRows(Q.fixture(keys, "media_id", "xml")(mk), "media_id", "xml")
            .drop("media_id", "page_idx", "ns", "redirect")
        val out = XmlDump.mergeDumps(rows(gen0), rows(gen1))
          .select(col("page_id"), col("rev_id"), col("title"), col("verdict"))
        Q.requireMaxShuffles(out, 2) // the full-outer join's two sides
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k * 100 + i AS page_id,
          |  CASE WHEN i = 1 THEN (k * 100 + 1) * 1000 + 7
          |       ELSE (k * 100 + i) * 1000 + 1 END AS rev_id,
          |  'P ' || k || '-' || i AS title,
          |  CASE WHEN i = 1 THEN 'updated' WHEN i = 4 THEN 'added'
          |       WHEN i = 0 AND k % 5 = 0 THEN 'stale'
          |       ELSE 'carried' END AS verdict
          |FROM n, UNNEST(generate_series(0, 4)) u(i)
          |UNION ALL
          |SELECT CAST(-1 AS BIGINT), CAST(5 AS BIGINT), 'NoId ' || k, 'unkeyed'
          |FROM n WHERE k % 4 = 1""".stripMargin
      )
    ),

    // FEED-DRIVEN frontier — the freshness loop: feed items (same-host
    // posts + one cross-host pointer each) → canonical candidates →
    // anti-join against what this round already fetched (every 3rd
    // key's first post is known — re-discovering a fetched URL is the
    // common case) → the per-host politeness schedule, exactly the
    // chain q_html_frontier and q_sitemap_frontier pin for their
    // channels. Exchanges: the candidate dedup, the anti-join's
    // crawled side, the host window.
    Q(
      "q_feed_frontier",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"""<?xml version="1.0"?><rss><channel>""" +
            s"<item><link>http://site${k % 5}.example/p/${k}a</link></item>" +
            s"<item><link>http://site${k % 5}.example/p/${k}b</link></item>" +
            s"<item><link>http://site${(k + 1) % 5}.example/x/$k</link></item>" +
            "</channel></rss>"
        val keys = Q.nationKeys(spark, dir, "k")
        val feeds = graft.operators.Feeds.itemRows(
          Q.fixture(keys, "k", "xml")(mk)
            .select(concat(lit("site"), col("k") % 5, lit(".example")).as("domain"), col("xml")),
          "domain", "xml")
        val crawled = keys.filter(col("k") % 3 === 0)
          .select(concat(lit("http://site"), col("k") % 5, lit(".example/p/"),
            col("k"), lit("a")).as("canon"))
        val fresh = feeds
          .select(graft.functions.GraftFunctions.urlCanon(col("url")).as("canon"))
          .distinct()
          .join(crawled, Seq("canon"), "left_anti")
          .withColumn("host", expr("parse_url(canon, 'HOST')"))
        val out = graft.operators.Frontier.schedule(
          fresh, (0 until 5).map(m => (s"site$m.example", (m + 1) * 100L)),
          defaultDelayMs = 500L, workers = 8)
        Q.requireMaxShuffles(out, 4)
        out
      },
      Some(
        s"""WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
           |lnk AS (
           |  SELECT 'http://site' || CAST(k % 5 AS VARCHAR) || '.example/p/'
           |    || CAST(k AS VARCHAR) || s AS canon
           |  FROM n, (VALUES ('a'), ('b')) v(s)
           |  UNION ALL
           |  SELECT 'http://site' || CAST((k + 1) % 5 AS VARCHAR) || '.example/x/'
           |    || CAST(k AS VARCHAR)
           |  FROM n
           |), crawled AS (
           |  SELECT 'http://site' || CAST(k % 5 AS VARCHAR) || '.example/p/'
           |    || CAST(k AS VARCHAR) || 'a' AS canon
           |  FROM n WHERE k % 3 = 0
           |), fresh AS (
           |  SELECT DISTINCT canon FROM lnk
           |  WHERE canon NOT IN (SELECT canon FROM crawled)
           |), fh AS (
           |  SELECT canon, split_part(substr(canon, 8), '/', 1) AS host FROM fresh
           |), s AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
           |    ORDER BY canon ASC) - 1 AS BIGINT) AS slot
           |  FROM fh
           |)
           |SELECT *,
           |  slot * CASE host
           |    WHEN 'site0.example' THEN 100 WHEN 'site1.example' THEN 200
           |    WHEN 'site2.example' THEN 300 WHEN 'site3.example' THEN 400
           |    ELSE 500 END AS fetch_at_ms,
           |  CAST(${CorpusQueries.polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // RANDOM ACCESS through the multistream OFFSET INDEX — the reason
    // the dump format concatenates streams at all: wanted pages map to
    // stream byte offsets via the companion index, and ONLY those
    // members inflate. The gate PROVES the selectivity: on every key
    // whose first page-batch member is not wanted, that member's bytes
    // are CORRUPTED in the fixture — a reader that touched it would
    // degrade, and the output stays oracle-exact because this one
    // never does. Map-only (index + payload ride the same row).
    Q(
      "q_dump_index",
      (spark, dir) => {
        import spark.implicits._
        val out = Q.nationKeys(spark, dir, "k")
          .as[Long]
          .flatMap { k =>
            val header = DumpDecode.bz2Member("<mediawiki>\n".getBytes("UTF-8"))
            def batch(is: Range) = DumpDecode.bz2Member(
              is.map(i => XmlDump.pageXml(k * 100 + i, 0, s"P $k-$i", None, s"t$i of $k"))
                .mkString.getBytes("UTF-8"))
            val m1 = batch(0 to 1)
            val m2 = batch(2 to 3)
            val off1 = header.length.toLong
            val off2 = off1 + m1.length
            val wanted = Set(k * 100 + k % 4, k * 100 + 2)
            // the unselected member arrives CORRUPT — selective decode
            // means nothing if the reader inflates it anyway
            val m1Shipped =
              if (k % 4 >= 2) { val c = m1.clone(); c(c.length / 2) = (c(c.length / 2) ^ 0x7F).toByte; c }
              else m1
            val payload = header ++ m1Shipped ++ m2
            val indexText = (0 to 3).map { i =>
              val off = if (i < 2) off1 else off2
              s"$off:${k * 100 + i}:P $k-$i"
            }.mkString("\n")
            val idx = DumpDecode.parseMultistreamIndex(indexText)
            val allOffs = idx.map(_._1).distinct.sorted
            idx.filter(e => wanted(e._2)).map(_._1).distinct.sorted.flatMap { off =>
              val member = DumpDecode.bz2MemberAt(payload, off)
              if (member == null) Seq.empty
              else XmlDump.pages(new String(member, "UTF-8"))
                .filter(pg => wanted(pg.page_id))
                .map(pg => (k, pg.page_id, pg.title, allOffs.indexOf(off) + 1))
            }
          }
          .toDF("media_id", "page_id", "title", "member_ord")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |w AS (
          |  SELECT k, CAST(k % 4 AS BIGINT) AS i FROM n
          |  UNION
          |  SELECT k, CAST(2 AS BIGINT) FROM n
          |)
          |SELECT k AS media_id, k * 100 + i AS page_id,
          |  'P ' || k || '-' || i AS title,
          |  CAST(1 + i // 2 AS INT) AS member_ord
          |FROM w""".stripMargin
      )
    ),

    // INDEXING DIRECTIVES — robots' page-level half: `<meta
    // name="robots">` in the HTML (attribute order free, case-free,
    // `none` = both, multiple metas UNION) and the `X-Robots-Tag`
    // header, ANDed into the two decisions a corpus pipeline makes —
    // does the text enter the corpus (noindex), do the links enter the
    // frontier (nofollow). The mask rides the same codegen'd scanner
    // as link extraction, so a meta inside a comment or script body
    // can't fake a directive. Map-only.
    Q(
      "q_html_noindex",
      (spark, dir) => {
        val mk = (k: Long) => {
          val meta = (k % 5) match {
            case 0 => ""
            case 1 => "<meta name=\"robots\" content=\"noindex\">"
            case 2 => "<meta content=\"nofollow\" name=\"robots\">" // order swap
            case 3 => "<META NAME=\"ROBOTS\" CONTENT=\"NONE\">" // none = both
            case _ => "<meta name=\"robots\" content=\"noindex\">" +
              "<meta name=\"robots\" content=\"nofollow\">" // union
          }
          val links = (0 until (2 + k % 2).toInt)
            .map(i => s"""<a href="http://s$k.example/l$i">x</a>""").mkString
          // a commented-out meta must NOT count (the scanner skips it)
          val html = s"<html><head>$meta<!-- <meta name=robots content=noindex> -->" +
            s"</head><body>$links</body></html>"
          val xr = if (k % 7 == 0) "X-Robots-Tag: noindex\r\n" else ""
          val body = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n$xr\r\n$html"
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://s$k.example/page\r\n" +
            s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
            s"\r\n$body\r\n\r\n").getBytes("UTF-8")
        }
        val ind = graft.operators.Warc.httpIndexability(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
            "media_id", "payload"))
        val mask = col("x_mask").bitwiseOR(
          graft.functions.GraftFunctions.htmlMetaRobots(col("text")))
        val nofollow = mask.bitwiseAND(2) =!= 0
        val out = ind.select(
          col("media_id"),
          (mask.bitwiseAND(1) =!= 0).as("noindex"),
          nofollow.as("nofollow"),
          when(nofollow, lit(0))
            .otherwise(size(graft.functions.GraftFunctions.htmlLinks(col("text"))))
            .as("links_followed"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |m AS (
          |  SELECT k,
          |    CASE k % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 3 END
          |      | CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS mask
          |  FROM n
          |)
          |SELECT k AS media_id,
          |  (mask & 1) <> 0 AS noindex,
          |  (mask & 2) <> 0 AS nofollow,
          |  CAST(CASE WHEN (mask & 2) <> 0 THEN 0 ELSE 2 + k % 2 END AS INT)
          |    AS links_followed
          |FROM m""".stripMargin
      )
    ),

    // MULTIMODAL sequence packing — the training-side consumer of the
    // WebDataset reader: each sample costs its image's patch count
    // (the vision-tower budget, w·h here with the tiny fixture dims)
    // plus its caption tokens plus one separator, and samples pack
    // into fixed-budget bins IN SHARD ORDER inside the per-blob walk —
    // a shard is one sequence source, so packing is map-only and needs
    // no cross-shard shuffle (the global text-side pack chain with its
    // hierarchical prefix sum stays the cross-source tool). Greedy
    // running-sum binning: a sample opens bin floor(cum_before/B).
    Q(
      "q_multimodal_pack",
      (spark, dir) => {
        import spark.implicits._
        val budget = 30L
        val mk = (k: Long) => {
          val n = (3 + k % 3).toInt
          TarShard.tar((0 until n).flatMap { i =>
            Seq(
              (f"$i%06d.bmp", "0",
                Multimodal.syntheticBmp(k * 7 + i, (3 + (k + i) % 4).toInt, (2 + (k + 2 * i) % 3).toInt)),
              (f"$i%06d.txt", "0", ("tok " * (2 + i) + "end").getBytes("US-ASCII")))
          })
        }
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            var cum = 0L
            TarShard.samples(TarShard.entries(p)).flatMap { s =>
              for {
                img <- s.parts.collectFirst { case ("bmp", d) => d }
                (w, h, _) <- Multimodal.decodeBmp(img)
                cap <- s.parts.collectFirst { case ("txt", d) => new String(d, "US-ASCII") }
              } yield {
                val tokens = cap.split("\\s+").length
                val cost = w.toLong * h + tokens + 1
                val bin = cum / budget
                cum += cost
                (id, s.key, cost, bin)
              }
            }
          }
          .toDF("media_id", "sample_key", "cost", "bin")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |items AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |          UNNEST(generate_series(0, 5)) u(i) WHERE i < 3 + k % 3),
          |c AS (
          |  SELECT k, i, lpad(CAST(i AS VARCHAR), 6, '0') AS sample_key,
          |    (3 + (k + i) % 4) * (2 + (k + 2 * i) % 3) + (3 + i) + 1 AS cost
          |  FROM items
          |), r AS (
          |  SELECT *, COALESCE(SUM(cost) OVER (PARTITION BY k ORDER BY i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM c
          |)
          |SELECT k AS media_id, sample_key, CAST(cost AS BIGINT) AS cost,
          |  CAST(cum_before // 30 AS BIGINT) AS bin
          |FROM r""".stripMargin
      )
    ),

    // THE SOURCE-UNION CAPSTONE: the thirteen ingest families this
    // engine reads — published dumps (bz2 XML → wikitext strip), crawl
    // archives (WARC → HTTP → text), PDFs (xref → content streams →
    // text), DOCX documents (zip → word/document.xml → paragraphs),
    // legacy Word binaries (CFB → FIB → piece table), PPTX decks
    // (zip → slides → DrawingML bodies), legacy PowerPoint (CFB →
    // text atoms), legacy Excel grids (CFB → BIFF8 records), EPUB
    // books (zip → OPF spine → chapters), arXiv LaTeX (tar.gz → macro
    // strip), Avro containers (blocks → string records), Outlook mail
    // (CFB tree → body property streams), and dataset shards (tar →
    // samples) — land in ONE corpus frame, deduped
    // exactly ACROSS sources (texts collide across families by
    // construction; the canonical-source rank breaks ties: dump >
    // crawl > pdf > docx > doc > pptx > ppt > xls > epub > latex >
    // avro > msg > shard) with per-source admission accounting. Two shuffles
    // total: the text-keyed dedup window and the per-source rollup;
    // every reader upstream is the map-only walk its own gate already
    // pins.
    Q(
      "q_corpus_union",
      (spark, dir) => {
        import spark.implicits._
        val keys = Q.nationKeys(spark, dir, "media_id")

        val dumpXml = (k: Long) => DumpDecode.bz2Member(
          XmlDump.pageXml(k * 10, 0, s"D $k", None,
            if (k % 2 == 0) s"common ${k % 4}" else s"'''dump''' only $k").getBytes("UTF-8"))
        val dump = Q.fixture(keys, "media_id", "payload")(dumpXml)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            DumpDecode.bz2Members(p)
              .flatMap(m => XmlDump.pages(new String(m, "UTF-8")))
              .map(pg => (id, XmlDump.stripWikitext(pg.text)))
          }
          .toDF("media_id", "text")
          .withColumn("source", lit("dump"))

        val warcMk = (k: Long) => {
          val payload = if (k % 5 == 0) s"common ${k % 4}" else s"crawl only $k"
          val body = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n" + payload
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://c$k.example/p\r\n" +
            s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
            s"\r\n$body\r\n\r\n").getBytes("UTF-8")
        }
        val crawl = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(keys, "media_id", "payload")(warcMk), "media_id", "payload"))
          .filter(col("status") === 200)
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("crawl"))

        val pdfMk = (k: Long) => graft.operators.Pdf.pdf(Seq(graft.operators.Pdf.Page(
          graft.operators.Pdf.contentOps(Seq(
            if (k % 7 == 0) s"common ${k % 4}" else s"pdf only $k")))))
        val pdfSrc = graft.operators.Pdf.textRows(
          Q.fixture(keys, "media_id", "payload")(pdfMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("pdf"))

        val docxMk = (k: Long) => graft.operators.Docx.docx(Seq(Seq(
          if (k % 13 == 0) s"common ${k % 4}" else s"docx only $k")))
        val docxSrc = graft.operators.Docx.textRows(
          Q.fixture(keys, "media_id", "payload")(docxMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("docx"))

        val docMk = (k: Long) => graft.operators.Doc.doc(Seq(
          if (k % 23 == 0) s"common ${k % 4}" else s"doc only $k"))
        val docSrc = graft.operators.Doc.textRows(
          Q.fixture(keys, "media_id", "payload")(docMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("doc"))

        val pptxMk = (k: Long) => graft.operators.Pptx.pptx(Seq(Seq(
          if (k % 19 == 0) s"common ${k % 4}" else s"pptx only $k")))
        val pptxSrc = graft.operators.Pptx.textRows(
          Q.fixture(keys, "media_id", "payload")(pptxMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("pptx"))

        val pptMk = (k: Long) => graft.operators.Ppt.ppt(Seq(Seq(
          if (k % 29 == 0) s"common ${k % 4}" else s"ppt only $k")))
        val pptSrc = graft.operators.Ppt.textRows(
          Q.fixture(keys, "media_id", "payload")(pptMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("ppt"))

        val xlsMk = (k: Long) => graft.operators.Xls.xls(Seq((1, Seq(
          ("s", if (k % 31 == 0) s"common ${k % 4}" else s"xls only $k")))))
        val xlsSrc = graft.operators.Xls.textRows(
          Q.fixture(keys, "media_id", "payload")(xlsMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("xls"))

        val msgMk = (k: Long) => graft.operators.Msg.msg(null, s"s$k",
          if (k % 37 == 0) s"common ${k % 4}" else s"msg only $k", Seq("r"))
        val msgSrc = graft.operators.Msg.textRows(
          Q.fixture(keys, "media_id", "payload")(msgMk), "media_id", "payload")
          .filter(col("stage") === "ok")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("msg"))

        val epubMk = (k: Long) => graft.operators.Epub.epub(Seq(
          ("c0.xhtml", if (k % 9 == 0) s"common ${k % 4}" else s"epub only $k")))
        val epubSrc = graft.operators.Epub.chapterRows(
          Q.fixture(keys, "media_id", "payload")(epubMk), "media_id", "payload")
          .select(col("media_id"), col("xhtml").as("text")) // fixture chapters are bare text
          .withColumn("source", lit("epub"))

        val latexMk = (k: Long) => graft.operators.CompressedMeta.gzipMember(
          graft.operators.TarShard.tar(Seq((s"p$k/main.tex", "0",
            (if (k % 17 == 0) s"common ${k % 4}" else s"latex only $k").getBytes("UTF-8")))))
        val latexSrc = graft.operators.Latex.texRows(
          Q.fixture(keys, "media_id", "payload")(latexMk), "media_id", "payload")
          .select(col("media_id"), col("text"))
          .withColumn("source", lit("latex"))

        val avroMk = (k: Long) => graft.operators.Avro.ocf(
          """{"type":"record","name":"D","fields":[{"name":"text","type":"string"}]}""",
          Seq(Seq(graft.operators.Avro.AVStr(
            if (k % 11 == 0) s"common ${k % 4}" else s"avro only $k"))), seed = k)
        val avroSrc = graft.operators.Avro.recordRows(
          Q.fixture(keys, "media_id", "payload")(avroMk), "media_id", "payload")
          .filter(col("field") === "text")
          .select(col("media_id"), col("value").as("text"))
          .withColumn("source", lit("avro"))

        val tarMk = (k: Long) => TarShard.tar(Seq((f"$k%06d.txt", "0",
          (if (k % 3 == 0) s"common ${k % 4}" else s"shard only $k").getBytes("UTF-8"))))
        val shard = TarShard.sampleRows(
          Q.fixture(keys, "media_id", "payload")(tarMk), "media_id", "payload")
          .filter(col("ext") === "txt")
          .select(col("media_id"), col("data").cast("string").as("text"))
          .withColumn("source", lit("shard"))

        val all = dump.unionByName(crawl).unionByName(pdfSrc)
          .unionByName(docxSrc).unionByName(docSrc).unionByName(pptxSrc)
          .unionByName(pptSrc).unionByName(xlsSrc)
          .unionByName(epubSrc).unionByName(latexSrc)
          .unionByName(avroSrc).unionByName(msgSrc).unionByName(shard)
          .withColumn("rank",
            when(col("source") === "dump", 0)
              .when(col("source") === "crawl", 1)
              .when(col("source") === "pdf", 2)
              .when(col("source") === "docx", 3)
              .when(col("source") === "doc", 4)
              .when(col("source") === "pptx", 5)
              .when(col("source") === "ppt", 6)
              .when(col("source") === "xls", 7)
              .when(col("source") === "epub", 8)
              .when(col("source") === "latex", 9)
              .when(col("source") === "avro", 10)
              .when(col("source") === "msg", 11).otherwise(12))
        val byText = Window.partitionBy(col("text"))
          .orderBy(col("rank"), col("media_id"))
        val out = all
          .withColumn("rn", row_number().over(byText))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("docs_in"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("docs_kept"))
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |rows0 AS (
          |  SELECT 'dump' AS source, 0 AS rank, k,
          |    CASE WHEN k % 2 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'dump only ' || k END AS text
          |  FROM n
          |  UNION ALL
          |  SELECT 'crawl', 1, k,
          |    CASE WHEN k % 5 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'crawl only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'pdf', 2, k,
          |    CASE WHEN k % 7 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'pdf only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'docx', 3, k,
          |    CASE WHEN k % 13 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'docx only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'doc', 4, k,
          |    CASE WHEN k % 23 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'doc only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'pptx', 5, k,
          |    CASE WHEN k % 19 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'pptx only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'ppt', 6, k,
          |    CASE WHEN k % 29 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'ppt only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'xls', 7, k,
          |    CASE WHEN k % 31 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'xls only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'epub', 8, k,
          |    CASE WHEN k % 9 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'epub only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'latex', 9, k,
          |    CASE WHEN k % 17 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'latex only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'avro', 10, k,
          |    CASE WHEN k % 11 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'avro only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'msg', 11, k,
          |    CASE WHEN k % 37 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'msg only ' || k END
          |  FROM n
          |  UNION ALL
          |  SELECT 'shard', 12, k,
          |    CASE WHEN k % 3 = 0 THEN 'common ' || (k % 4)
          |         ELSE 'shard only ' || k END
          |  FROM n
          |), r AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY rank, k) AS rn
          |  FROM rows0
          |)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_in,
          |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept
          |FROM r GROUP BY source""".stripMargin
      )
    ),

    // WARC REVISIT resolution — cross-crawl dedup as the archive
    // actually encodes it (ISO 28500 identical-payload-digest, what
    // Common Crawl ships): round-2 `revisit` records carry only the
    // payload digest; their TEXT lives in round-1's response. The
    // resolver joins revisits to the first capture sharing the digest;
    // a revisit whose digest was never captured keeps NULL resolved
    // columns (countable, not silently dropped). Each blob carries
    // both rounds, parity-keyed so both resolution multiplicities and
    // the unresolvable arm sit under the oracle.
    Q(
      "q_warc_revisit",
      (spark, dir) => {
        val mk = (k: Long) => {
          def rec(wType: String, uri: String, digest: String, refers: String, body: String) = {
            val d = if (digest == null) "" else s"WARC-Payload-Digest: $digest\r\n"
            val r = if (refers == null) "" else s"WARC-Refers-To-Target-URI: $refers\r\n"
            s"WARC/1.0\r\nWARC-Type: $wType\r\nWARC-Target-URI: $uri\r\n$d$r" +
              s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body\r\n\r\n"
          }
          val round1 = (0 until 3).map(i =>
            rec("response", s"http://r$k.example/p/$i", s"sha1:B$k-$i", null, s"orig $k $i")).mkString
          val round2 = (0 until 3).filter(i => (k + i) % 2 == 0).map(i =>
            rec("revisit", s"http://r$k.example/p/$i?v=2", s"sha1:B$k-$i",
              s"http://r$k.example/p/$i", "")).mkString +
            rec("revisit", s"http://r$k.example/gone", s"sha1:missing$k", null, "") +
            // DIGEST-LESS revisit (every 3rd key): countable NULLs, not
            // a silent drop
            (if (k % 3 == 0) rec("revisit", s"http://r$k.example/nodigest", null, null, "") else "")
          (round1 + round2).getBytes("UTF-8")
        }
        val out = graft.operators.Warc.resolveRevisits(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
            "media_id", "payload"))
        Q.requireMaxShuffles(out, 3)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |res AS (
          |  SELECT k, CAST(i AS INT) AS i,
          |    CAST(CASE WHEN k % 2 = 0 THEN 3 + i // 2 ELSE 3 END AS INT) AS rec_idx
          |  FROM n, UNNEST(generate_series(0, 2)) u(i)
          |  WHERE (k + i) % 2 = 0
          |)
          |SELECT k AS media_id, rec_idx,
          |  'http://r' || k || '.example/p/' || i || '?v=2' AS target_uri,
          |  'sha1:B' || k || '-' || i AS payload_digest,
          |  'http://r' || k || '.example/p/' || i AS refers_to_uri,
          |  'http://r' || k || '.example/p/' || i AS resolved_from,
          |  'orig ' || k || ' ' || i AS resolved_body
          |FROM res
          |UNION ALL
          |SELECT k, CAST(CASE WHEN k % 2 = 0 THEN 5 ELSE 4 END AS INT),
          |  'http://r' || k || '.example/gone', 'sha1:missing' || k,
          |  NULL, NULL, NULL
          |FROM n
          |UNION ALL
          |SELECT k, CAST(CASE WHEN k % 2 = 0 THEN 6 ELSE 5 END AS INT),
          |  'http://r' || k || '.example/nodigest', NULL, NULL, NULL, NULL
          |FROM n WHERE k % 3 = 0""".stripMargin
      )
    ),

    // AVRO object-container ingest — the remaining mainstream dataset
    // container next to parquet/tar/zip: sync-delimited blocks of
    // binary records under a JSON schema, hand-walked in the scalar-
    // record subset (certified against the Avro reference
    // implementation both directions in AvroSpec). Arms: codec
    // rotating null/deflate by parity with ONE oracle (the codec is
    // invisible to the record layer), and every 5th key ships its
    // FINAL block with a corrupt sync marker — that block drops
    // whole (all-or-nothing: a half-decoded block would shift every
    // later field) and the completed-block prefix stays oracle-exact.
    // Map-only.
    Q(
      "q_avro_records",
      (spark, dir) => {
        val schema =
          """{"type":"record","name":"R","fields":[
            |{"name":"id","type":"long"},{"name":"name","type":"string"},
            |{"name":"ok","type":"boolean"},{"name":"tag","type":"bytes"}]}""".stripMargin
        val mk = (k: Long) => {
          val n = (3 + k % 3).toInt
          val recs = (0 until n).map(i => Seq(
            graft.operators.Avro.AVLong(k * 100 + i),
            graft.operators.Avro.AVStr(s"n $k $i"),
            graft.operators.Avro.AVBool((k + i) % 2 == 0),
            graft.operators.Avro.AVBytes(Array(i.toByte, (k % 7).toByte))))
          val blob = graft.operators.Avro.ocf(schema, recs,
            codec = if (k % 2 == 0) "deflate" else "null", blockSize = 2, seed = k)
          if (k % 5 == 0) { // corrupt the final block's sync
            val c = blob.clone()
            c(c.length - 3) = (c(c.length - 3) ^ 0x55).toByte
            c
          } else blob
        }
        val out = graft.operators.Avro.recordRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |kept AS (
          |  SELECT k, CASE WHEN k % 5 = 0
          |    THEN CASE CAST(k % 3 AS INT) WHEN 2 THEN 4 ELSE 2 END
          |    ELSE CAST(3 + k % 3 AS INT) END AS m
          |  FROM n
          |), r AS (
          |  SELECT k, CAST(i AS INT) AS i FROM kept,
          |  UNNEST(generate_series(0, 4)) u(i) WHERE i < m
          |)
          |SELECT k AS media_id, i AS rec_idx, 'id' AS field,
          |  CAST(k * 100 + i AS VARCHAR) AS value FROM r
          |UNION ALL
          |SELECT k, i, 'name', 'n ' || k || ' ' || i FROM r
          |UNION ALL
          |SELECT k, i, 'ok',
          |  CASE WHEN (k + i) % 2 = 0 THEN 'true' ELSE 'false' END FROM r
          |UNION ALL
          |SELECT k, i, 'tag', printf('%02x%02x', i, CAST(k % 7 AS INT)) FROM r""".stripMargin
      )
    ),

    // The Avro degrade LEDGER: one row per document with its stage —
    // ok / unknown codec / out-of-subset schema (a union field: the
    // subset boundary is the whole-document degrade, never a guessed
    // partial decode) / junk bytes — all countable. Map-only.
    Q(
      "q_avro_stages",
      (spark, dir) => {
        val okSchema =
          """{"type":"record","name":"R","fields":[{"name":"id","type":"long"}]}"""
        val unionSchema =
          """{"type":"record","name":"R","fields":[{"name":"u","type":["null","string"]}]}"""
        val mk = (k: Long) => (k % 4) match {
          case 0 => graft.operators.Avro.ocf(okSchema,
            (0 until 3).map(i => Seq(graft.operators.Avro.AVLong(k + i))), seed = k)
          case 1 => graft.operators.Avro.ocf(okSchema,
            (0 until 3).map(i => Seq(graft.operators.Avro.AVLong(i.toLong))),
            codec = "snappy", seed = k)
          case 2 => graft.operators.Avro.ocf(unionSchema, Seq.empty, seed = k)
          case _ => s"junk $k".getBytes("UTF-8")
        }
        val out = graft.operators.Avro.docRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT) WHEN 0 THEN 'ok' WHEN 1 THEN 'codec'
          |       WHEN 2 THEN 'schema' ELSE 'parse' END AS stage,
          |  CAST(CASE WHEN n_nationkey % 4 = 0 THEN 3 ELSE 0 END AS INT) AS n_records
          |FROM nation""".stripMargin
      )
    ),

    // EPUB ingest — the books source, as a pure COMPOSITION of shipped
    // layers: zip walk → container.xml → OPF manifest/spine (reading
    // order is the SPINE's, not the archive's — the fixture stores
    // chapters in archive order but the gate's rows follow itemrefs) →
    // XHTML chapters → the same HTML strip and token count every web
    // page takes. Every 4th key spines a chapter whose FILE is absent:
    // its row survives with NULLs (a torn book loses chapters,
    // countable, never silently reordered). Map-only.
    Q(
      "q_epub_text",
      (spark, dir) => {
        val mk = (k: Long) => {
          val n = (2 + k % 2).toInt
          val chapters = (0 until n).map(i =>
            (s"ch$i.xhtml",
              s"<html><body><h1>Ch $i</h1><p>prose $k $i words here</p></body></html>"))
          graft.operators.Epub.epub(chapters,
            missing = if (k % 4 == 0) Set("ch1.xhtml") else Set.empty)
        }
        val out = graft.operators.Epub.chapterRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
          .select(col("media_id"), col("chapter_idx"), col("href"),
            TextAnalysis.stripHtml(col("xhtml")).as("text"),
            TextAnalysis.tokenCount(TextAnalysis.stripHtml(col("xhtml"))).as("n_tokens"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |ch AS (SELECT k, CAST(i AS INT) AS i FROM n,
          |       UNNEST(generate_series(0, 2)) u(i) WHERE i < 2 + k % 2)
          |SELECT k AS media_id, i AS chapter_idx, 'ch' || i || '.xhtml' AS href,
          |  CASE WHEN k % 4 = 0 AND i = 1 THEN NULL
          |       ELSE 'Ch ' || i || ' prose ' || k || ' ' || i || ' words here' END AS text,
          |  CASE WHEN k % 4 = 0 AND i = 1 THEN NULL ELSE CAST(7 AS INT) END AS n_tokens
          |FROM ch""".stripMargin
      )
    ),

    // arXiv/LaTeX ingest — papers corpora ship as tar.gz of .tex: the
    // shipped tar walk + auto-decompress feed the BOUNDED macro strip
    // (the stripWikitext discipline): comments drop, math becomes the
    // visible counted [MATH] placeholder, \section/\title keep their
    // text on own lines, \cite/\ref are COUNTABLE drops, floats drop
    // whole (every 3rd key plants a figure env whose caption must NOT
    // surface — the oracle is identical across that arm, which is the
    // proof), .bib members filter out, junk payloads (every 5th key)
    // yield no rows. Map-only.
    Q(
      "q_latex_text",
      (spark, dir) => {
        val mk = (k: Long) => {
          if (k % 5 == 0) s"junk $k".getBytes("UTF-8")
          else {
            val tex = s"\\documentclass[11pt]{article}\n" +
              s"\\title{Paper $k}\n% secret comment $k\n" +
              s"\\section{Intro $k}\n" +
              s"We \\emph{show} $$x_$k$$ holds~\\cite{r$k} here.\n" +
              (if (k % 3 == 0) "\\begin{figure}[h]hidden caption\\end{figure}\n" else "") +
              s"\\begin{equation}e_$k = 1\\end{equation}\nEnd $k \\ref{a$k}."
            graft.operators.CompressedMeta.gzipMember(graft.operators.TarShard.tar(Seq(
              (s"p$k/main.tex", "0", tex.getBytes("UTF-8")),
              (s"p$k/refs.bib", "0", s"@article{r$k}".getBytes("UTF-8")))))
          }
        }
        val out = graft.operators.Latex.texRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id, CAST(0 AS INT) AS tex_idx,
          |  'p' || k || '/main.tex' AS name,
          |  'Paper ' || k || chr(10) || 'Intro ' || k || chr(10) ||
          |  'We show [MATH] holds here.' || chr(10) || '[MATH]' || chr(10) ||
          |  'End ' || k || ' .' AS text,
          |  CAST(2 AS INT) AS n_math, CAST(2 AS INT) AS n_cites
          |FROM n WHERE k % 5 <> 0""".stripMargin
      )
    ),

    // DOCX ingest — the last mainstream prose source (reports, theses,
    // gray literature), as a pure COMPOSITION of shipped layers: the
    // zip walk finds `word/document.xml`, the paragraph walk joins
    // `<w:t>` runs with `<w:tab/>`/`<w:br/>` as explicit whitespace;
    // the fixture plants a header PART whose text must never surface.
    // Arms per k%4: two ok shapes (even keys carry an extra EMPTY
    // paragraph — blank lines are prose too), an ENCRYPTED package
    // (CFB signature — classified, never guessed at), and junk bytes.
    // Map-only.
    Q(
      "q_docx_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 2 => graft.operators.Cfb.encryptedOoxmlFixture(k)
          case 3 => s"junk $k".getBytes("UTF-8")
          case _ => graft.operators.Docx.docx(
            Seq(Seq("Doc ", s"$k intro"), Seq(s"a\tb $k")) ++
              (if (k % 2 == 0) Seq(Seq.empty) else Seq.empty))
        }
        val out = graft.operators.Docx.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 0 WHEN 3 THEN 0
          |    ELSE 2 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_paragraphs,
          |  CASE WHEN n_nationkey % 4 IN (2, 3) THEN NULL
          |    ELSE 'Doc ' || n_nationkey || ' intro' || chr(10) ||
          |      'a' || chr(9) || 'b ' || n_nationkey ||
          |      CASE WHEN n_nationkey % 2 = 0 THEN chr(10) ELSE '' END
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // ODT ingest — the OpenDocument office format: text NODES inside
    // text:p/text:h (ODF keeps prose in element content, unlike
    // OOXML's w:t runs), footnote subtrees excluded in-line (the
    // fixture always plants one with poison text plus a 'tail end'
    // paragraph around it — its survival in split form IS the
    // exclusion proof), member-wise encryption detected from the
    // manifest declaration, never decoded at. Arms per k%4: two ok
    // shapes, encrypted, junk. Map-only.
    Q(
      "q_odt_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 2 => graft.operators.Odt.odt(Seq(s"secret $k"), encrypted = true)
          case 3 => s"junk odt $k".getBytes("UTF-8")
          case _ => graft.operators.Odt.odt(
            Seq(s"Doc $k body") ++
              (if (k % 2 == 0) Seq(s"second $k") else Seq.empty))
        }
        val out = graft.operators.Odt.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 0 WHEN 3 THEN 0
          |    ELSE 2 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_paragraphs,
          |  CASE WHEN n_nationkey % 4 IN (2, 3) THEN NULL
          |    ELSE 'Doc ' || n_nationkey || ' body' ||
          |      CASE WHEN n_nationkey % 2 = 0
          |        THEN chr(10) || 'second ' || n_nationkey ELSE '' END ||
          |      chr(10) || 'tail end'
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // PPTX ingest — slide decks as a gray-literature source: the SAME
    // shared OOXML paragraph scanner as DOCX over DrawingML bodies
    // (a:p/a:t/a:br), slides ordered by PART NUMBER (the fixture
    // stores them in reverse archive order — matching proves the sort),
    // speaker notes excluded by part family. Arms per k%4: two ok
    // shapes (even keys carry a second slide), encrypted (CFB), junk.
    // Map-only.
    Q(
      "q_pptx_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 2 => graft.operators.Cfb.encryptedOoxmlFixture(k)
          case 3 => s"junk deck $k".getBytes("UTF-8")
          case _ => graft.operators.Pptx.pptx(
            Seq(Seq(s"Deck $k", s"point $k")) ++
              (if (k % 2 == 0) Seq(Seq(s"End $k")) else Seq.empty))
        }
        val out = graft.operators.Pptx.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 0 WHEN 3 THEN 0
          |    ELSE 1 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_slides,
          |  CASE WHEN n_nationkey % 4 IN (2, 3) THEN NULL
          |    ELSE 'Deck ' || n_nationkey || chr(10) || 'point ' || n_nationkey ||
          |      CASE WHEN n_nationkey % 2 = 0
          |        THEN chr(10) || 'End ' || n_nationkey ELSE '' END
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // OFFICE TRIAGE — the media-triage pattern on documents: a mixed
    // stream of ALL THIRTEEN routed kinds — docx / pptx / grid xlsx /
    // rtf / the three ODF subtypes discriminated on the mandatory
    // mimetype member (odt text, ods spreadsheet, odp presentation) /
    // the three legacy CFB binaries (Word piece table, Excel BIFF8
    // grid, PowerPoint text atoms) / Outlook .msg (path-qualified
    // property streams) / a REAL encrypted-OOXML shell / junk —
    // routes by CONTENT and extracts on the same container walk. One
    // scan, route before decode, map-only; the oracle re-derives
    // kind, units and text per arm.
    Q(
      "q_office_triage",
      (spark, dir) => {
        val out = graft.operators.Office.routedText(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(officeGrid),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  CASE CAST(k % 13 AS INT) WHEN 0 THEN 'docx' WHEN 1 THEN 'pptx'
          |    WHEN 2 THEN 'odt' WHEN 3 THEN 'rtf' WHEN 4 THEN 'xlsx'
          |    WHEN 5 THEN 'encrypted' WHEN 6 THEN 'unknown'
          |    WHEN 7 THEN 'doc' WHEN 8 THEN 'ods' WHEN 9 THEN 'odp'
          |    WHEN 10 THEN 'ppt' WHEN 11 THEN 'xls' ELSE 'msg' END AS kind,
          |  CAST(CASE CAST(k % 13 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 1
          |    WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 3
          |    WHEN 7 THEN 2 WHEN 8 THEN 2 WHEN 9 THEN 1
          |    WHEN 10 THEN 2 WHEN 11 THEN 2 WHEN 12 THEN 2
          |    ELSE 0 END AS INT) AS n_units,
          |  CASE CAST(k % 13 AS INT)
          |    WHEN 0 THEN 'word doc ' || k
          |    WHEN 1 THEN 'slide ' || k
          |    WHEN 2 THEN 'odt doc ' || k || chr(10) || 'tail end'
          |    WHEN 3 THEN 'legacy ' || k || chr(10) || 'tail ' || k
          |    WHEN 4 THEN 'cell ' || k || chr(9) || k || chr(10) || 'note ' || k
          |    WHEN 7 THEN 'legacy word ' || k || chr(10) || 'body ' || k
          |    WHEN 8 THEN 'sheet cell ' || k || chr(10) || '2'
          |    WHEN 9 THEN 'deck ' || k
          |    WHEN 10 THEN 'old deck ' || k || chr(10) || 'pt ' || k
          |    WHEN 11 THEN 'sheet97 ' || k || chr(9) || '7'
          |    WHEN 12 THEN 'Re: topic ' || k || chr(10) || 'hello body ' || k
          |    ELSE NULL END AS text
          |FROM n""".stripMargin
      )
    ),

    // OFFICE PIPELINE — the triage COMPOSED into curation: the mixed
    // stream routes (one map-only scan), extracted text feeds the
    // token counter, a minimum-length screen decides admission (the
    // two-token pptx AND odp arms REJECT at the 3-token floor while
    // the xls arm sits exactly ON it — the screen provably decides in
    // both directions), and the per-kind rollup pays the pipeline's
    // ONE shuffle. The fixture is q_office_triage's k%13 grid
    // ([[officeGrid]]), so the routing the triage pins and the
    // accounting this gate pins can never drift; the oracle re-derives docs/admitted/
    // token totals per kind. Round 20: the stream rides corpusRows,
    // so the msg arm's docx ATTACHMENT joins the admission rollup on
    // the same container walk (2 tokens — the screen rejects it,
    // proving attachments face the same gate as documents).
    Q(
      "q_office_pipeline",
      (spark, dir) => {
        val routed = graft.operators.Office.corpusRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(officeGrid),
          "media_id", "payload")
        val out = routed
          .withColumn("n_tokens",
            coalesce(TextAnalysis.tokenCount(col("text")), lit(0)))
          .withColumn("admitted", col("text").isNotNull && col("n_tokens") >= 3)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("docs"),
            sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"))
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |r AS (
          |  SELECT k,
          |    CASE CAST(k % 13 AS INT) WHEN 0 THEN 'docx' WHEN 1 THEN 'pptx'
          |      WHEN 2 THEN 'odt' WHEN 3 THEN 'rtf' WHEN 4 THEN 'xlsx'
          |      WHEN 5 THEN 'encrypted' WHEN 6 THEN 'unknown'
          |      WHEN 7 THEN 'doc' WHEN 8 THEN 'ods' WHEN 9 THEN 'odp'
          |      WHEN 10 THEN 'ppt' WHEN 11 THEN 'xls' ELSE 'msg' END AS kind,
          |    CASE CAST(k % 13 AS INT) WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 5
          |      WHEN 3 THEN 4 WHEN 4 THEN 5 WHEN 7 THEN 5
          |      WHEN 8 THEN 4 WHEN 9 THEN 2 WHEN 10 THEN 5 WHEN 11 THEN 3
          |      WHEN 12 THEN 6 ELSE 0 END AS n_tokens
          |  FROM n
          |  UNION ALL
          |  -- the msg arm's docx ATTACHMENT: routed by corpusRows on
          |  -- the same container walk, 2 tokens -> the screen rejects
          |  SELECT k, 'docx', 2 FROM n WHERE k % 13 = 12)
          |SELECT kind, CAST(COUNT(*) AS BIGINT) AS docs,
          |  CAST(SUM(CASE WHEN n_tokens >= 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS admitted_docs,
          |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          |FROM r GROUP BY kind""".stripMargin
      )
    ),

    // XLSX ingest — spreadsheet prose lives centralized in the
    // shared-strings table (`<si>` items of `<t>` runs, rich runs
    // concatenating — the SAME walk as DOCX with si/t spellings).
    // Arms per k%4: plain + rich-run strings (0/1 — odd indexes in
    // the fixture ship as split rich runs), a numbers-only workbook
    // (ok with ZERO strings — absence of the part is not a degrade)
    // every 4th key, junk. Map-only.
    Q(
      "q_xlsx_strings",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 3 => s"junk sheet $k".getBytes("UTF-8")
          case 0 => graft.operators.Xlsx.xlsx(Seq.empty, withSharedStrings = false)
          case _ => graft.operators.Xlsx.xlsx(
            Seq(s"Header $k", s"quarterly note $k", s"total $k"))
        }
        val out = graft.operators.Xlsx.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 4 = 3 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE WHEN n_nationkey % 4 IN (1, 2) THEN 3 ELSE 0 END AS INT)
          |    AS n_strings,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 3 THEN NULL
          |    WHEN 0 THEN ''
          |    ELSE 'Header ' || n_nationkey || chr(10) ||
          |      'quarterly note ' || n_nationkey || chr(10) ||
          |      'total ' || n_nationkey
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // XLSX SHEET GRID — the text the string-table view misses whole:
    // inline-string cells (streaming writers), number values, and ROW
    // ORDER. The fixture stores rows in REVERSE with explicit A1
    // references (r attributes are authoritative) and mixes all three
    // cell forms; the reader emits row-major (row, col) regardless of
    // storage order. Junk payloads emit nothing (their countable stage
    // rides Xlsx.textRows). Map-only.
    Q(
      "q_xlsx_cells",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 2 => s"junk grid $k".getBytes("UTF-8")
          case _ => graft.operators.Xlsx.xlsxGrid(Seq(
            (1, Seq(("s", s"Name $k"), ("s", "Qty"))),
            (2, Seq(("is", s"widget $k"), ("n", s"${k * 2}"))),
            (3, Seq(("n", "3.5"), ("s", s"Name $k")))))
        }
        val out = graft.operators.Xlsx.cellRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
          |           WHERE n_nationkey % 3 < 2),
          |c(r, c, v_tpl) AS (VALUES
          |  (1, 1, 'Name #'), (1, 2, 'Qty'),
          |  (2, 1, 'widget #'), (2, 2, '2#'),
          |  (3, 1, '3.5'), (3, 2, 'Name #'))
          |SELECT n.k AS media_id, CAST(1 AS INT) AS sheet_no,
          |  CAST(c.r AS INT) AS row_no, CAST(c.c AS INT) AS col_no,
          |  CASE c.v_tpl
          |    WHEN 'Name #' THEN 'Name ' || n.k
          |    WHEN 'widget #' THEN 'widget ' || n.k
          |    WHEN '2#' THEN CAST(n.k * 2 AS VARCHAR)
          |    ELSE c.v_tpl END AS value
          |FROM n, c""".stripMargin
      )
    ),

    // XLSX DATE RENDERING — the styles surface: every real workbook
    // has date columns, and their raw serials (45123) are misleading
    // corpus text. cellXfs numFmtId + custom numFmts codes decide the
    // class (builtin 14-17 date / 18-21 time / 22 both; custom via the
    // y/d/h/s token scan), and date serials render ISO against the
    // 1900 epoch WITH Excel's leap bug honored: serial 59 is
    // 1900-02-28, 61 is 1900-03-01, and the PHANTOM 60 (the
    // nonexistent 1900-02-29) keeps its raw form, countable. The 1904
    // flag swaps the epoch flat. The oracle re-derives every date via
    // DuckDB's own proleptic DATE arithmetic, never hardcoding. Arms
    // per k%2: a 1900 workbook (builtin+custom+time+datetime+raw+
    // phantom), a 1904 workbook. Map-only.
    Q(
      "q_xlsx_dates",
      (spark, dir) => {
        val mk = (k: Long) => (k % 2) match {
          case 0 => graft.operators.Xlsx.xlsxGrid(Seq(
            (1, Seq(("s", "Date"), ("f14", s"${40000 + k}"), ("f164", s"${40100 + k}"))),
            (2, Seq(("f20", "0.5"), ("f22", s"${40000 + k}.75"), ("n", s"${40000 + k}"))),
            (3, Seq(("f14", "60"), ("f14", "59"), ("f14", "61")))),
            customFmts = Seq((164, "dd/mm/yyyy")))
          case _ => graft.operators.Xlsx.xlsxGrid(Seq(
            (1, Seq(("f14", s"${30000 + k}"), ("n", "7.5")))),
            date1904 = true)
        }
        val out = graft.operators.Xlsx.cellRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |e AS (SELECT k, CAST(DATE '1899-12-30' + CAST(40000 + k AS INT)
          |        AS VARCHAR) AS d0,
          |      CAST(DATE '1899-12-30' + CAST(40100 + k AS INT) AS VARCHAR) AS d1
          |      FROM n WHERE k % 2 = 0),
          |rows0 AS (
          |  SELECT k, 1 AS r, 1 AS c, 'Date' AS v FROM e
          |  UNION ALL SELECT k, 1, 2, d0 FROM e
          |  UNION ALL SELECT k, 1, 3, d1 FROM e
          |  UNION ALL SELECT k, 2, 1, '12:00:00' FROM e
          |  UNION ALL SELECT k, 2, 2, d0 || ' 18:00:00' FROM e
          |  UNION ALL SELECT k, 2, 3, CAST(40000 + k AS VARCHAR) FROM e
          |  UNION ALL SELECT k, 3, 1, '60' FROM e
          |  UNION ALL SELECT k, 3, 2,
          |    CAST(DATE '1899-12-31' + 59 AS VARCHAR) FROM e
          |  UNION ALL SELECT k, 3, 3,
          |    CAST(DATE '1899-12-30' + 61 AS VARCHAR) FROM e
          |  UNION ALL SELECT k, 1, 1,
          |    CAST(DATE '1904-01-01' + CAST(30000 + k AS INT) AS VARCHAR)
          |    FROM n WHERE k % 2 = 1
          |  UNION ALL SELECT k, 1, 2, '7.5' FROM n WHERE k % 2 = 1)
          |SELECT k AS media_id, CAST(1 AS INT) AS sheet_no,
          |  CAST(r AS INT) AS row_no, CAST(c AS INT) AS col_no, v AS value
          |FROM rows0""".stripMargin
      )
    ),

    // XLS DATE RENDERING — the legacy grid agrees with the XLSX one
    // on what a date looks like: XF records carry ifmt (offset 2),
    // Format records the custom codes, Date1904 the epoch, and every
    // numeric cell family (Number, RK, the per-cell ixfe inside a
    // MulRk run, formula cached results) renders through the SAME
    // classifier. Arm shapes mirror q_xlsx_dates; the third 1900 row
    // is a STYLED MulRk run (phantom 60 raw inside it), and the 1904
    // arm packs a date and a raw cell into one MulRk. Map-only.
    Q(
      "q_xls_dates",
      (spark, dir) => {
        val mk = (k: Long) => (k % 2) match {
          case 0 => graft.operators.Xls.xls(Seq(
            (1, Seq(("s", s"Dates $k"), ("f14", s"${40000 + k}"))),
            (2, Seq(("f20", "0.5"), ("f22", s"${40000 + k}.75"), ("f164", s"${40100 + k}"))),
            (3, Seq(("f14", "60"), ("f14", "7"), ("f14", "61")))),
            customFmts = Seq((164, "dd/mm/yyyy")))
          case _ => graft.operators.Xls.xls(
            Seq((1, Seq(("f14", s"${30000 + k}"), ("n", "9")))),
            date1904 = true)
        }
        val out = graft.operators.Xls.cellRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |e AS (SELECT k, CAST(DATE '1899-12-30' + CAST(40000 + k AS INT)
          |        AS VARCHAR) AS d0,
          |      CAST(DATE '1899-12-30' + CAST(40100 + k AS INT) AS VARCHAR) AS d1
          |      FROM n WHERE k % 2 = 0),
          |rows0 AS (
          |  SELECT k, 1 AS r, 1 AS c, 'Dates ' || k AS v FROM e
          |  UNION ALL SELECT k, 1, 2, d0 FROM e
          |  UNION ALL SELECT k, 2, 1, '12:00:00' FROM e
          |  UNION ALL SELECT k, 2, 2, d0 || ' 18:00:00' FROM e
          |  UNION ALL SELECT k, 2, 3, d1 FROM e
          |  UNION ALL SELECT k, 3, 1, '60' FROM e
          |  UNION ALL SELECT k, 3, 2,
          |    CAST(DATE '1899-12-31' + 7 AS VARCHAR) FROM e
          |  UNION ALL SELECT k, 3, 3,
          |    CAST(DATE '1899-12-30' + 61 AS VARCHAR) FROM e
          |  UNION ALL SELECT k, 1, 1,
          |    CAST(DATE '1904-01-01' + CAST(30000 + k AS INT) AS VARCHAR)
          |    FROM n WHERE k % 2 = 1
          |  UNION ALL SELECT k, 1, 2, '9' FROM n WHERE k % 2 = 1)
          |SELECT k AS media_id, CAST(1 AS INT) AS sheet_no,
          |  CAST(r AS INT) AS row_no, CAST(c AS INT) AS col_no, v AS value
          |FROM rows0""".stripMargin
      )
    ),

    // BIFF5 .xls — the pre-unicode Excel 5/95 form: a `Book` stream
    // whose BOF says 0x0500, 8-bit Labels with NO flags byte decoded
    // in the CODEPAGE record's encoding (cp1252 and cp1251 arms prove
    // the codepage actually drives the decode), RK/Number sharing the
    // BIFF8 layouts. The `biff` degrade is now reserved for pre-BIFF5
    // only (a BIFF2 BOF arm pins it). Arms per k%3: cp1252 workbook,
    // cp1251 Cyrillic workbook, a BIFF2 Book (degrade). Map-only.
    Q(
      "q_xls_biff5",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 0 => graft.operators.Xls.xls(Seq(
            (1, Seq(("l", s"alte tabelle $k"), ("n", s"$k"))),
            (2, Seq(("l", "café"), ("n", "2.5")))),
            biff5 = true)
          case 1 => graft.operators.Xls.xls(Seq(
            (1, Seq(("l", s"привет $k"), ("n", "7")))),
            biff5 = true, codepage = 1251)
          case _ => graft.operators.Cfb.cfb(Seq(("Book",
            Array[Byte](0x09, 0x00, 0x04, 0x00, 0x00, 0x00, 0x10, 0x00))))
        }
        val out = graft.operators.Xls.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 3 = 2 THEN 'biff' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 0 END AS INT) AS n_cells,
          |  CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 'alte tabelle ' || n_nationkey || chr(9) ||
          |      n_nationkey || chr(10) || 'café' || chr(9) || '2.5'
          |    WHEN 1 THEN 'привет ' || n_nationkey || chr(9) || '7'
          |    ELSE NULL END AS text
          |FROM nation""".stripMargin
      )
    ),

    // LEGACY .doc (Word 97–2003) — the [MS-CFB] sector walk + the
    // [MS-DOC] FIB and PIECE TABLE, the round-18 verdict's top ask:
    // until now every CFB container binned as 'encrypted', though the
    // unencrypted Word binaries dominate that bin in real dumps. The
    // fixture splits its text into an 8-bit cp1252 piece AND a
    // UTF-16LE piece (the piece machinery, not a flat read), plants a
    // poison footnote range past ccpText (the main-range clip), and
    // keeps true encryption (fEncrypted) degrading unread. Arms per
    // k%4: two ok shapes, encrypted, junk-CFB. Map-only.
    Q(
      "q_doc_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 2 => graft.operators.Doc.doc(Seq(s"secret $k"), encrypted = true)
          case 3 => graft.operators.Docx.encryptedFixture(k) // junk OLE
          case _ => graft.operators.Doc.doc(
            Seq(s"Legacy doc $k", s"body\ttext $k") ++
              (if (k % 2 == 0) Seq(s"third $k") else Seq.empty))
        }
        val out = graft.operators.Doc.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'cfb' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 0 WHEN 3 THEN 0
          |    ELSE 2 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_paragraphs,
          |  CASE WHEN n_nationkey % 4 IN (2, 3) THEN NULL
          |    ELSE 'Legacy doc ' || n_nationkey || chr(10) ||
          |      'body' || chr(9) || 'text ' || n_nationkey ||
          |      CASE WHEN n_nationkey % 2 = 0
          |        THEN chr(10) || 'third ' || n_nationkey ELSE '' END
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // ODP ingest — OpenDocument presentations: the same text:p grammar
    // as ODT inside draw pages, with the presentation:notes subtree
    // (speaker notes) excluded in-line, the PPTX notes exclusion in
    // ODF form. Arms per k%3: two ok shapes (even keys carry a second
    // slide), junk. Map-only.
    Q(
      "q_odp_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 2 => s"junk deck $k".getBytes("UTF-8")
          case _ => graft.operators.Odt.odp(
            Seq(Seq(s"Deck $k", s"point $k")) ++
              (if (k % 2 == 0) Seq(Seq(s"End $k")) else Seq.empty))
        }
        val out = graft.operators.Odt.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 3 = 2 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE WHEN n_nationkey % 3 = 2 THEN 0
          |    ELSE 2 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_paragraphs,
          |  CASE WHEN n_nationkey % 3 = 2 THEN NULL
          |    ELSE 'Deck ' || n_nationkey || chr(10) || 'point ' || n_nationkey ||
          |      CASE WHEN n_nationkey % 2 = 0
          |        THEN chr(10) || 'End ' || n_nationkey ELSE '' END
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // ODS ingest — OpenDocument spreadsheets: ODF keeps every cell's
    // display text in a text:p, so the shared walk reads the grid
    // row-major; the mimetype member (not content.xml presence) is
    // what routes it as a spreadsheet. Arms per k%3: 2x2 grid, 1-row
    // grid, junk. Map-only.
    Q(
      "q_ods_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 2 => s"junk sheet $k".getBytes("UTF-8")
          case 1 => graft.operators.Odt.ods(Seq(Seq(s"only $k", "1")))
          case _ => graft.operators.Odt.ods(Seq(
            Seq(s"Name $k", "Qty"), Seq(s"widget $k", s"${k * 2}")))
        }
        val out = graft.operators.Odt.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 3 = 2 THEN 'zip' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 2 THEN 0 WHEN 1 THEN 2 ELSE 4 END AS INT) AS n_paragraphs,
          |  CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 2 THEN NULL
          |    WHEN 1 THEN 'only ' || n_nationkey || chr(10) || '1'
          |    ELSE 'Name ' || n_nationkey || chr(10) || 'Qty' || chr(10) ||
          |      'widget ' || n_nationkey || chr(10) ||
          |      CAST(n_nationkey * 2 AS VARCHAR)
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // LEGACY .ppt (PowerPoint 97) — the record-atom walk over the
    // PowerPoint Document stream: TextBytesAtom (cp1252) and
    // TextCharsAtom (UTF-16LE) bodies alternate in the fixture so both
    // decoders prove out; Notes-container text (speaker notes) never
    // surfaces; a DocumentEncryptionAtom keeps the honest degrade.
    // Arms per k%4: two ok shapes, encrypted, junk-CFB. Map-only.
    Q(
      "q_ppt_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 2 => graft.operators.Ppt.ppt(Seq(Seq(s"locked $k")), encrypted = true)
          case 3 => graft.operators.Docx.encryptedFixture(k) // junk OLE
          case _ => graft.operators.Ppt.ppt(
            Seq(Seq(s"Deck $k", s"point $k")) ++
              (if (k % 2 == 0) Seq(Seq(s"End $k")) else Seq.empty))
        }
        val out = graft.operators.Ppt.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'cfb' ELSE 'ok' END AS stage,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN 0 WHEN 3 THEN 0
          |    ELSE 2 + CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END
          |  END AS INT) AS n_paragraphs,
          |  CASE WHEN n_nationkey % 4 IN (2, 3) THEN NULL
          |    ELSE 'Deck ' || n_nationkey || chr(10) || 'point ' || n_nationkey ||
          |      CASE WHEN n_nationkey % 2 = 0
          |        THEN chr(10) || 'End ' || n_nationkey ELSE '' END
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // LEGACY .xls (Excel 97 BIFF8) — the record walk over the Workbook
    // stream: the SST shared-string table (spilled into a CONTINUE
    // mid-string with the re-stated compression flag on every third
    // key — the format's hard rule), LabelSst references, inline
    // Labels, RK-packed integers and full IEEE Numbers, rows STORED
    // in reverse and emitted row-major (the grid discipline shared
    // with q_xlsx_cells). Junk emits nothing. Map-only.
    Q(
      "q_xls_cells",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 2 => s"junk workbook $k".getBytes("UTF-8")
          case m => graft.operators.Xls.xls(Seq(
            (1, Seq(("s", s"Name $k"), ("s", "Qty"))),
            (2, Seq(("l", s"widget $k"), ("n", s"${k * 2}"))),
            (3, Seq(("n", "3.5"), ("s", s"Name $k"))),
            // all-small-int row: ships as ONE MulRk run record
            (4, Seq(("n", "1"), ("n", s"${k + 10}"), ("n", "-3"))),
            // formula cells: cached string + cached numeric results
            (5, Seq(("fs", s"calc $k"), ("f", "2.5")))),
            split = m == 0)
        }
        val out = graft.operators.Xls.cellRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
          |           WHERE n_nationkey % 3 < 2),
          |c(r, c, v_tpl) AS (VALUES
          |  (1, 1, 'Name #'), (1, 2, 'Qty'),
          |  (2, 1, 'widget #'), (2, 2, '2#'),
          |  (3, 1, '3.5'), (3, 2, 'Name #'),
          |  (4, 1, '1'), (4, 2, 'k10#'), (4, 3, '-3'),
          |  (5, 1, 'calc #'), (5, 2, '2.5'))
          |SELECT n.k AS media_id, CAST(1 AS INT) AS sheet_no,
          |  CAST(c.r AS INT) AS row_no, CAST(c.c AS INT) AS col_no,
          |  CASE c.v_tpl
          |    WHEN 'Name #' THEN 'Name ' || n.k
          |    WHEN 'widget #' THEN 'widget ' || n.k
          |    WHEN '2#' THEN CAST(n.k * 2 AS VARCHAR)
          |    WHEN 'k10#' THEN CAST(n.k + 10 AS VARCHAR)
          |    WHEN 'calc #' THEN 'calc ' || n.k
          |    ELSE c.v_tpl END AS value
          |FROM n, c""".stripMargin
      )
    ),

    // OUTLOOK .msg — mail dumps in their native container: property
    // streams by tag (subject 0037, sender 0C1A, body 1000; UTF-16
    // spelling), the COMPRESSED-RTF body fallback ([MS-OXRTFCP] LZFu
    // with a reference into the published init dictionary, fed through
    // the shipped RTF stripper), recipient/attachment SUB-STORAGE
    // census, and the tree-namespace proof: every recipient storage
    // carries a POISON body-tagged stream that must never shadow the
    // message body — only a path-qualified directory walk keeps them
    // apart. Arms per k%5: recipients+attachment, recipient-less,
    // encrypted shell, junk-CFB, compressed-RTF body. Map-only.
    Q(
      "q_msg_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 5) match {
          case 2 => graft.operators.Cfb.encryptedOoxmlFixture(k)
          case 3 => graft.operators.Docx.encryptedFixture(k) // junk OLE
          case 4 => graft.operators.Msg.msg(s"Memo $k", s"rita $k", null,
            Seq.empty,
            rtfBody = s"{\\rtf1\\ansi compressed note $k\\par tail $k}")
          case 1 => graft.operators.Msg.msg(s"FYI $k", s"carol $k",
            s"short note $k", Seq.empty)
          case _ => graft.operators.Msg.msg(s"Re: topic $k", s"sender $k",
            s"hello body $k\nsecond line $k", Seq("alice", "bob"),
            attachments = 1)
        }
        val out = graft.operators.Msg.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 2 THEN 'encrypted' WHEN 3 THEN 'cfb' ELSE 'ok' END AS stage,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'Re: topic ' || n_nationkey
          |    WHEN 1 THEN 'FYI ' || n_nationkey
          |    WHEN 4 THEN 'Memo ' || n_nationkey ELSE NULL END AS subject,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'sender ' || n_nationkey
          |    WHEN 1 THEN 'carol ' || n_nationkey
          |    WHEN 4 THEN 'rita ' || n_nationkey ELSE NULL END AS sender,
          |  CAST(CASE WHEN n_nationkey % 5 = 0 THEN 2 ELSE 0 END AS INT)
          |    AS n_recipients,
          |  CAST(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS n_attachments,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'Re: topic ' || n_nationkey || chr(10) ||
          |      'hello body ' || n_nationkey || chr(10) ||
          |      'second line ' || n_nationkey
          |    WHEN 1 THEN 'FYI ' || n_nationkey || chr(10) ||
          |      'short note ' || n_nationkey
          |    WHEN 4 THEN 'Memo ' || n_nationkey || chr(10) ||
          |      'compressed note ' || n_nationkey || chr(10) ||
          |      'tail ' || n_nationkey
          |    ELSE NULL END AS text
          |FROM nation""".stripMargin
      )
    ),

    // OUTLOOK .msg BODY PRECEDENCE — the spec-blessed resolution
    // chain pinned end to end: plain text (1000) → PR_HTML (1013,
    // through the shipped HTML stripper) → compressed RTF (1009,
    // LZFu + the RTF stripper). Arms per k%4: all three present
    // (plain wins), html+rtf (html wins — the modern HTML-only mail
    // case the old chain returned NULL for), rtf only (the floor),
    // and a markup-only HTML that strips EMPTY next to an rtf (falls
    // through — empty markup never shadows a real body). Map-only.
    Q(
      "q_msg_html",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 0 => graft.operators.Msg.msg(s"H $k", s"s $k", s"plain wins $k",
            Seq.empty,
            htmlBody = s"<html><body><p>HTML MUST NOT WIN $k</p></body></html>",
            rtfBody = s"{\\rtf1\\ansi RTF MUST NOT WIN $k}")
          case 1 => graft.operators.Msg.msg(s"H $k", s"s $k", null, Seq.empty,
            htmlBody =
              s"<html><body><p>mail body $k</p><p>second $k</p></body></html>",
            rtfBody = s"{\\rtf1\\ansi RTF MUST NOT WIN $k}")
          case 2 => graft.operators.Msg.msg(s"H $k", s"s $k", null, Seq.empty,
            rtfBody = s"{\\rtf1\\ansi rtf floor $k}")
          case _ => graft.operators.Msg.msg(s"H $k", s"s $k", null, Seq.empty,
            htmlBody = "<html><body><div><img src=\"x.png\"/></div></body></html>",
            rtfBody = s"{\\rtf1\\ansi past empty html $k}")
        }
        val out = graft.operators.Msg.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  'ok' AS stage,
          |  'H ' || n_nationkey AS subject,
          |  's ' || n_nationkey AS sender,
          |  CAST(0 AS INT) AS n_recipients,
          |  CAST(0 AS INT) AS n_attachments,
          |  'H ' || n_nationkey || chr(10) ||
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 'plain wins ' || n_nationkey
          |    WHEN 1 THEN 'mail body ' || n_nationkey || chr(10) ||
          |      'second ' || n_nationkey
          |    WHEN 2 THEN 'rtf floor ' || n_nationkey
          |    ELSE 'past empty html ' || n_nationkey
          |  END AS text
          |FROM nation""".stripMargin
      )
    ),

    // OUTLOOK .msg ATTACHMENT PAYLOADS — the census converted to
    // yield: each `__attach_version1.0_#N` storage opens
    // (PR_ATTACH_LONG_FILENAME + PR_ATTACH_DATA_BIN) and its bytes
    // route through the SAME thirteen-kind triage the documents use,
    // ONE bounded recursion level deep — an attached docx/pdf yields
    // its text, an EMBEDDED sub-message (the 3701000D sub-storage
    // form) surfaces subject+body but its own attachments only count
    // (the recursion floor), an opaque payload stays countable
    // `unknown`. In a real mail dump most durable content is in the
    // attachments, not the bodies. Arms per k%3: junk+docx+pdf
    // attachments, an embedded message, a junk non-msg (emits
    // nothing). Map-only — message parse and every attachment route
    // ride one task.
    Q(
      "q_msg_attachments",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 0 => graft.operators.Msg.msg(s"Re: docs $k", s"s $k", s"see files $k",
            Seq("alice"), attachments = 1,
            attachFiles = Seq(
              (s"att$k.docx", graft.operators.Docx.docx(
                Seq(Seq(s"attached report $k"), Seq(s"body $k")))),
              (s"att$k.pdf", graft.operators.Pdf.pdf(Seq(graft.operators.Pdf.Page(
                graft.operators.Pdf.contentOps(Seq(s"pdf note $k"))))))))
          case 1 => graft.operators.Msg.msg(s"Fwd $k", s"s $k", s"fyi $k",
            Seq.empty,
            attachMsg = Some((s"nested subj $k", s"nested body $k")))
          case _ => s"not a message $k".getBytes("UTF-8")
        }
        val out = graft.operators.Office.attachmentRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id, CAST(0 AS INT) AS attach_no,
          |  NULL AS filename, 'unknown' AS kind, CAST(0 AS INT) AS n_units,
          |  NULL AS text
          |FROM n WHERE k % 3 = 0
          |UNION ALL
          |SELECT k, CAST(1 AS INT), 'att' || k || '.docx', 'docx',
          |  CAST(2 AS INT),
          |  'attached report ' || k || chr(10) || 'body ' || k
          |FROM n WHERE k % 3 = 0
          |UNION ALL
          |SELECT k, CAST(2 AS INT), 'att' || k || '.pdf', 'pdf',
          |  CAST(1 AS INT), 'pdf note ' || k
          |FROM n WHERE k % 3 = 0
          |UNION ALL
          |SELECT k, CAST(0 AS INT), 'nested subj ' || k, 'msg',
          |  CAST(0 AS INT),
          |  'nested subj ' || k || chr(10) || 'nested body ' || k
          |FROM n WHERE k % 3 = 1""".stripMargin
      )
    ),

    // RTF ingest — the legacy document format: control-word strip
    // under the office-family contract. Arms per k%3: a styled body
    // whose typographic words, cp1252 hex escape and \uc0\uN unicode
    // all land in the prose (0), a document whose fonttbl/info
    // destinations carry poison that must never surface (1), and junk
    // (→ parse, countable) (2). Map-only.
    Q(
      "q_rtf_text",
      (spark, dir) => {
        val mk = (k: Long) => (k % 3) match {
          case 0 =>
            (s"{\\rtf1\\ansi{\\b Title $k}\\par body $k \\emdash\\'e9 x\\uc0\\u960 .}")
              .getBytes("ISO-8859-1")
          case 1 =>
            (s"{\\rtf1\\ansi{\\fonttbl{\\f0 POISON FONT;}}{\\info{\\title POISON $k}}" +
              s"plain $k\\par tail $k}").getBytes("ISO-8859-1")
          case _ => s"junk rtf $k".getBytes("UTF-8")
        }
        val out = graft.operators.Rtf.textRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 3 = 2 THEN 'parse' ELSE 'ok' END AS stage,
          |  CAST(CASE WHEN n_nationkey % 3 = 2 THEN 0 ELSE 2 END AS INT) AS n_paragraphs,
          |  CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 'Title ' || n_nationkey || chr(10) ||
          |      'body ' || n_nationkey || ' —é xπ.'
          |    WHEN 1 THEN 'plain ' || n_nationkey || chr(10) || 'tail ' || n_nationkey
          |    ELSE NULL END AS text
          |FROM nation""".stripMargin
      )
    ),

    // CDXJ index ingest — how a 100 TB crawl is actually consumed:
    // the published per-crawl index (SURT key, timestamp, JSON with
    // filename/offset/length) parses line-wise with countable
    // degrades — a junk line drops, a capture without offsets keeps
    // -1 so the audit can count unplannable records. Map-only.
    Q(
      "q_cdx_index",
      (spark, dir) => {
        val mk = (k: Long) => (cdxCaptures(k) ++ Seq(
          cdxLine(k, 3, """, "offset": "50000", "length": "800", "status": "404", "mime": "text/html""""),
          cdxLine(k, 4, """, "offset": "60000", "length": "800", "status": "200", "mime": "image/png""""),
          s"garbage line $k with no json",
          cdxLine(k, 5, ""))).mkString("\n")
        val out = graft.operators.Cdx.indexRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "text")(mk),
          "media_id", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |c AS (
          |  SELECT k, CAST(i AS INT) AS i,
          |    CAST(i * 1000 AS BIGINT) AS off, CAST(800 AS BIGINT) AS len,
          |    200 AS status, 'text/html' AS mime
          |  FROM n, UNNEST(generate_series(0, 2)) u(i)
          |  UNION ALL SELECT k, 3, 50000, 800, 404, 'text/html' FROM n
          |  UNION ALL SELECT k, 4, 60000, 800, 200, 'image/png' FROM n
          |  UNION ALL SELECT k, 5, -1, -1, -1, NULL FROM n
          |)
          |SELECT k AS media_id, 'com,site' || k || ')/p' || i AS surt_key,
          |  '2026010' || i AS ts, 'http://site' || k || '.com/p' || i AS url,
          |  'crawl-' || k || '.warc.gz' AS filename,
          |  off AS "offset", len AS "length", CAST(status AS INT) AS status, mime
          |FROM c""".stripMargin
      )
    ),

    // The SELECTIVE-FETCH PLAN — the index's whole point: wanted
    // captures (200 + text/html; the 404, the image and the
    // offset-less capture are all EXCLUDED) collapse into per-file
    // merged byte ranges (gap ≤ mergeGap: over-reading a small gap
    // beats another round trip — the batching every serious consumer
    // of the public crawl implements). Two clusters per file prove
    // the merge boundary; ONE shuffle (the per-file window).
    Q(
      "q_cdx_plan",
      (spark, dir) => {
        val mk = (k: Long) => {
          def line(i: Int, off: Long, status: Int, mime: String) =
            s"""com,site$k)/p$i 2026010$i {"url": "http://site$k.com/p$i", """ +
              s""""filename": "crawl-$k.warc.gz", "offset": "$off", "length": "800", """ +
              s""""status": "$status", "mime": "$mime"}"""
          ((0 until 3).map(i => line(i, i * 1000L, 200, "text/html")) ++
            (3 until 6).map(i => line(i, 100000L + (i - 3) * 1000L, 200, "text/html")) ++
            Seq(
              line(6, 50000L, 404, "text/html"),
              line(7, 60000L, 200, "image/png"))).mkString("\n")
        }
        val idx = graft.operators.Cdx.indexRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "text")(mk),
          "media_id", "text")
        val out = graft.operators.Cdx.fetchPlan(
          idx.filter(col("status") === 200 && col("mime") === "text/html"),
          mergeGap = 4096L)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT 'crawl-' || k || '.warc.gz' AS filename,
          |  CAST(0 AS BIGINT) AS range_start, CAST(2800 AS BIGINT) AS range_len,
          |  CAST(3 AS BIGINT) AS n_records
          |FROM n
          |UNION ALL
          |SELECT 'crawl-' || k || '.warc.gz', CAST(100000 AS BIGINT),
          |  CAST(2800 AS BIGINT), CAST(3 AS BIGINT)
          |FROM n""".stripMargin
      )
    ),

    // INDEX LOOKUP — the consumption pattern the CDX family exists
    // for: wanted URLs join the index on SURT keys through the NATIVE
    // `graft_surt` expression (no ScalaUDF — PlanShapeSpec pins it),
    // so any spelling the public canonicalization reaches finds its
    // captures: a www + default-port spelling, an UPPERCASE path
    // (whole-key lowercasing), and a jsessionid-carrying spelling all
    // land; an ftp URL (NULL key) and an unindexed host match
    // nothing. The wanted side broadcasts — at 100 TB the index is
    // the big side and never moves. Zero shuffles.
    Q(
      "q_cdx_lookup",
      (spark, dir) => {
        val mk = (k: Long) => cdxCaptures(k).mkString("\n")
        val idx = graft.operators.Cdx.indexRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "text")(mk),
          "media_id", "text")
        val wanted = Q.nationKeys(spark, dir, "k")
          .select(explode(array(
            concat(lit("http://www.site"), col("k"), lit(".com/p0")),
            concat(lit("HTTP://SITE"), col("k"), lit(".COM:80/P1")),
            concat(lit("http://site"), col("k"), lit(".com/p1?jsessionid=ABC")),
            concat(lit("ftp://site"), col("k"), lit(".com/p0")),
            concat(lit("http://other"), col("k"), lit(".example/zz"))))
            .as("url_wanted"))
        val out = graft.operators.Cdx.lookup(broadcast(wanted), "url_wanted", idx)
          .select(col("media_id"), col("url_wanted"), col("surt_key"),
            col("offset"), col("status"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |w AS (
          |  SELECT k, 'http://www.site' || k || '.com/p0' AS url_wanted, 0 AS cap FROM n
          |  UNION ALL
          |  SELECT k, 'HTTP://SITE' || k || '.COM:80/P1', 1 FROM n
          |  UNION ALL
          |  SELECT k, 'http://site' || k || '.com/p1?jsessionid=ABC', 1 FROM n
          |)
          |SELECT k AS media_id, url_wanted,
          |  'com,site' || k || ')/p' || cap AS surt_key,
          |  CAST(cap * 1000 AS BIGINT) AS "offset", 200 AS status
          |FROM w""".stripMargin
      )
    ),

    // SELECTIVE FETCH, PROVED: the index → plan → range-read → parse
    // loop closed end to end, with every UNWANTED record's bytes
    // CORRUPTED in the archive — q_dump_index's discipline on the
    // WARC side: a reader that touched anything outside the planned
    // ranges would degrade, and the output stays oracle-exact because
    // this one never does. Exchanges: the plan's window + rollup and
    // the broadcast of the (bounded) blob frame to its ranges.
    Q(
      "q_cdx_fetch",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val out = new java.io.ByteArrayOutputStream()
          val entries = Vector.newBuilder[(Int, Long, Long, Int)]
          (0 until 6).foreach { i =>
            val status = if (i % 2 == 0) 200 else 404
            val body = s"HTTP/1.1 $status X\r\nContent-Type: text/html; charset=utf-8\r\n\r\ntext $k $i"
            val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://s$k.example/p$i\r\n" +
              s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body\r\n\r\n")
              .getBytes("UTF-8")
            entries += ((i, out.size().toLong, rec.length.toLong, status))
            out.write(rec, 0, rec.length)
          }
          val es = entries.result()
          val blob = out.toByteArray
          es.filter(_._4 != 200).foreach { case (_, off, len, _) =>
            val mid = (off + len / 2).toInt
            blob(mid) = (blob(mid) ^ 0x7F).toByte
          }
          val idxText = es.map { case (i, off, len, status) =>
            s"""com,s$k)/p$i 2026010$i {"url": "http://s$k.example/p$i", """ +
              s""""filename": "crawl-$k.warc.gz", "offset": "$off", "length": "$len", """ +
              s""""status": "$status", "mime": "text/html"}"""
          }.mkString("\n")
          (blob, idxText)
        }
        val base = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "fx")(mk)
          .select(col("media_id"), col("fx._1").as("payload"), col("fx._2").as("idx_text"))
        val idx = graft.operators.Cdx.indexRows(
          base.select("media_id", "idx_text"), "media_id", "idx_text")
        val plan = graft.operators.Cdx.fetchPlan(
          idx.filter(col("status") === 200), mergeGap = 0L)
          .withColumn("media_id",
            regexp_extract(col("filename"), "crawl-(\\d+)", 1).cast("long"))
        val out = plan
          .join(broadcast(base.select(col("media_id"), col("payload"))), Seq("media_id"))
          .select(col("media_id"), col("range_start"), col("range_len"), col("payload"))
          .as[(Long, Long, Long, Array[Byte])]
          .flatMap { case (id, start, len, payload) =>
            val slice = java.util.Arrays.copyOfRange(payload, start.toInt, (start + len).toInt)
            graft.operators.Warc.parseWarc(id, slice).map(r => (id, r.target_uri))
          }
          .toDF("media_id", "target_uri")
        Q.requireMaxShuffles(out, 3)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  'http://s' || n_nationkey || '.example/p' || i AS target_uri
          |FROM nation, (VALUES (0), (2), (4)) v(i)""".stripMargin
      )
    ),

    // MBOX/email ingest — mailing-list archives as a corpus source:
    // From_-separated RFC 5322 messages whose subjects carry RFC 2047
    // encoded-words and whose bodies arrive quoted-printable / base64
    // in any declared charset — decoded through the SAME strict
    // charset layer as web text. Arms per archive: plain ascii, a
    // QP latin-1 body under a Q-encoded subject, a base64 UTF-8 CJK
    // body under a B-encoded subject, a multipart whose FIRST
    // text/plain wins over the html part, and (every 5th key) an
    // html-only message whose text stays a countable NULL. Map-only.
    Q(
      "q_mbox_messages",
      (spark, dir) => {
        val mk = (k: Long) => {
          def m(i: Int, headers: String, body: String) =
            s"From a$k@x.example Thu Jan  1 00:00:00 2026\n" +
              s"From: A$k <a$k@x.example>\nMessage-ID: <m$k-$i@x>\n$headers\n\n$body\n"
          val b64 = java.util.Base64.getEncoder.encodeToString(s"日本 $k".getBytes("UTF-8"))
          val sb64 = java.util.Base64.getEncoder.encodeToString(s"題 $k".getBytes("UTF-8"))
          m(0, s"Subject: Plain $k\nContent-Type: text/plain; charset=us-ascii",
            s"body $k") +
            m(1, s"Subject: =?iso-8859-1?Q?caf=E9_$k?=\n" +
              "Content-Type: text/plain; charset=iso-8859-1\n" +
              "Content-Transfer-Encoding: quoted-printable",
              s"r=E9sum=E9 $k") +
            m(2, s"Subject: =?utf-8?B?$sb64?=\n" +
              "Content-Type: text/plain; charset=utf-8\n" +
              "Content-Transfer-Encoding: base64", b64) +
            m(3, s"Subject: Multi $k\nContent-Type: multipart/alternative; boundary=BB",
              "--BB\nContent-Type: text/html\n\n<p>html</p>\n" +
                s"--BB\nContent-Type: text/plain; charset=us-ascii\n\nplain $k\n--BB--") +
            (if (k % 5 == 0)
              m(4, s"Subject: HtmlOnly $k\nContent-Type: text/html; charset=utf-8",
                s"<p>only html $k</p>")
            else "")
        }
        val out = graft.operators.Mbox.messageRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "mbox")(mk),
          "media_id", "mbox")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |m AS (
          |  SELECT k, 0 AS i, 'Plain ' || k AS subject, 'body ' || k AS text FROM n
          |  UNION ALL
          |  SELECT k, 1, 'café ' || k, 'résumé ' || k FROM n
          |  UNION ALL
          |  SELECT k, 2, '題 ' || k, '日本 ' || k FROM n
          |  UNION ALL
          |  SELECT k, 3, 'Multi ' || k, 'plain ' || k || chr(10) FROM n
          |  UNION ALL
          |  SELECT k, 4, 'HtmlOnly ' || k, NULL FROM n WHERE k % 5 = 0
          |)
          |SELECT k AS media_id, CAST(i AS INT) AS msg_idx,
          |  'A' || k || ' <a' || k || '@x.example>' AS "from",
          |  subject,
          |  CAST(NULL AS VARCHAR) AS "date",
          |  '<m' || k || '-' || i || '@x>' AS message_id,
          |  text
          |FROM m""".stripMargin
      )
    ),

    // NOTEBOOK ingest — the .ipynb share of real code corpora: cells
    // extract with their type, JOINED source (the format stores one
    // string or a list of lines — both arms here), and the output
    // COUNT (outputs are the classic notebook bloat: counted as
    // signal, never admitted as text). Map-only on the executor-side
    // lenient JSON.
    Q(
      "q_notebook_cells",
      (spark, dir) => {
        val mk = (k: Long) => {
          val outs = (0 until (k % 3).toInt)
            .map(_ => """{"output_type": "stream"}""").mkString(",")
          val lang = if (k % 2 == 0) "python" else "scala"
          s"""{"nbformat": 4, "metadata": {"language_info": {"name": "$lang"}},""" +
            """ "cells": [""" +
            s"""{"cell_type": "markdown", "source": ["# Nb $k\\n", "prose $k"]},""" +
            s"""{"cell_type": "code", "source": "print($k)", "outputs": [$outs]}""" +
            (if (k % 4 == 0) s""",{"cell_type": "raw", "source": "r $k"}""" else "") +
            "]}"
        }
        val out = graft.operators.Notebook.cellRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "json")(mk),
          "media_id", "json")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id, CAST(0 AS INT) AS cell_idx, 'markdown' AS cell_type,
          |  '# Nb ' || k || chr(10) || 'prose ' || k AS source,
          |  CAST(0 AS INT) AS n_outputs
          |FROM n
          |UNION ALL
          |SELECT k, CAST(1 AS INT), 'code', 'print(' || k || ')', CAST(k % 3 AS INT)
          |FROM n
          |UNION ALL
          |SELECT k, CAST(2 AS INT), 'raw', 'r ' || k, CAST(0 AS INT)
          |FROM n WHERE k % 4 = 0""".stripMargin
      )
    ),

    // The notebook degrade LEDGER: ok / junk JSON ('parse') / the
    // 2015 worksheets layout ('format' — guessing the old shape would
    // silently mis-join sources; note the LANGUAGE still extracts
    // from metadata, countable per-language even for degraded docs) /
    // a cell-less v4 ('format'). Map-only.
    Q(
      "q_notebook_stages",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 0 =>
            s"""{"nbformat": 4, "metadata": {"kernelspec": {"language": "python"}},""" +
              s""" "cells": [{"cell_type": "code", "source": "x = $k"},""" +
              s"""{"cell_type": "markdown", "source": "m $k"}]}"""
          case 1 => s"junk $k"
          case 2 =>
            s"""{"nbformat": 3, "metadata": {"language_info": {"name": "r"}},""" +
              """ "worksheets": [{"cells": []}]}"""
          case _ => s"""{"nbformat": 4, "metadata": {}}"""
        }
        val out = graft.operators.Notebook.docRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "json")(mk),
          "media_id", "json")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT) WHEN 0 THEN 'ok' WHEN 1 THEN 'parse'
          |       ELSE 'format' END AS stage,
          |  CASE CAST(n_nationkey % 4 AS INT) WHEN 0 THEN 'python' WHEN 2 THEN 'r'
          |       ELSE NULL END AS language,
          |  CAST(CASE WHEN n_nationkey % 4 = 0 THEN 2 ELSE 0 END AS INT) AS n_cells
          |FROM nation""".stripMargin
      )
    ),

    // LICENSE detection — the code-corpus admission gate: SPDX tags
    // (the author's machine-readable declaration, tier 'spdx') beat
    // classic header phrases (tier 'header', family labels), both
    // EXACT so no mis-ID can launder a restrictive license into the
    // permissive bucket. Arms: line/block/hash/HTML comment tags, an
    // expression tag, a conflict arm (tag beats phrase), four phrase
    // families across comment styles with line wraps, a no-license
    // arm, and a tag buried past the bounded scan window (headers
    // live at the top of files; an unbounded scan is a CPU bomb).
    // Map-only.
    Q(
      "q_license_detect",
      (spark, dir) => {
        val mk = (k: Long) => (k % 9) match {
          case 0 => s"// SPDX-License-Identifier: MIT\ndef f$k(): pass"
          case 1 => s"/* SPDX-License-Identifier: Apache-2.0 */\nint main$k;"
          case 2 => "// SPDX-License-Identifier: BSD-3-Clause\n" +
            s"// Permission is hereby granted, free of charge $k"
          case 3 => s"# SPDX-License-Identifier: (MIT OR GPL-2.0-only)\nx = $k"
          case 4 => s" * Permission is hereby granted, free of\n * charge, to person $k"
          case 5 => s"""# Licensed under the Apache License, Version 2.0 (the "License") $k"""
          case 6 => s"// Redistribution and use in source and binary forms $k"
          case 7 => s"This program is free software: GNU General Public License v3 $k"
          case _ => "plain code $k\n" + "pad\n" * 2000 + "// SPDX-License-Identifier: MIT"
        }
        val out = graft.operators.License.licenseRows(
          Q.fixture(Q.nationKeys(spark, dir, "doc_id"), "doc_id", "text")(mk),
          "doc_id", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS doc_id,
          |  CASE CAST(n_nationkey % 9 AS INT)
          |    WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
          |    WHEN 2 THEN 'BSD-3-Clause' WHEN 3 THEN '(MIT OR GPL-2.0-only)'
          |    WHEN 4 THEN 'MIT' WHEN 5 THEN 'Apache-2.0'
          |    WHEN 6 THEN 'BSD' WHEN 7 THEN 'GPL' ELSE NULL END AS license,
          |  CASE WHEN n_nationkey % 9 <= 3 THEN 'spdx'
          |       WHEN n_nationkey % 9 <= 7 THEN 'header'
          |       ELSE 'none' END AS tier
          |FROM nation""".stripMargin
      )
    ),

    // License MIXTURE accounting — detection feeding the existing
    // source-cap machinery: per-license doc caps (at most 3 per
    // license, unbiased id-hash order) exactly like the web-curation
    // domain cap, with 'none' its own countable bucket. One shuffle
    // (the cap window).
    Q(
      "q_license_mix",
      (spark, dir) => {
        val mk = (k: Long) => (k % 4) match {
          case 0 => s"// SPDX-License-Identifier: MIT\ncode $k"
          case 1 => s"# Licensed under the Apache License, Version 2.0 $k"
          case 2 => s"GNU General Public License applies $k"
          case _ => s"no license here $k"
        }
        val lic = graft.operators.License.licenseRows(
          Q.fixture(Q.nationKeys(spark, dir, "doc_id"), "doc_id", "text")(mk),
          "doc_id", "text")
          .withColumn("license", coalesce(col("license"), lit("none")))
        val out = graft.operators.Sampling.capPerGroup(lic, "license", "doc_id", n = 3)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some {
        import graft.operators.Sampling
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH lic AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS doc_id,
           |    CASE CAST(n_nationkey % 4 AS INT)
           |      WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
           |      WHEN 2 THEN 'GPL' ELSE 'none' END AS license,
           |    CASE CAST(n_nationkey % 4 AS INT)
           |      WHEN 0 THEN 'spdx' WHEN 3 THEN 'none' ELSE 'header' END AS tier
           |  FROM nation
           |)
           |SELECT doc_id, license, tier FROM (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY license
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM lic) t
           |WHERE rn <= 3""".stripMargin
      }
    ),

    // MAIN-CONTENT extraction — the Boilerpipe-class block model the
    // quality screens need BEFORE they run: nav/footer/title chrome
    // and link farms provably drop while article prose survives, under
    // deterministic INTEGER thresholds the oracle re-derives literally
    // (word floor 8, link density 3·link_chars ≤ chars). Arms per page:
    // the title/nav/footer chrome (short), two content paragraphs (one
    // carrying a small in-prose link — presence alone must not kill
    // it), and an 8-anchor link farm that is LONG but link-dense.
    // Map-only on the shared hardened scanner.
    Q(
      "q_main_content",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"<html><head><title>Site $k</title></head><body>" +
            s"""<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact $k</a></nav>""" +
            s"<article><p>${"alpha " * (8 + (k % 3)).toInt}end $k</p>" +
            s"""<p>${"beta " * 8}<a href="/x">link $k</a> tail</p></article>""" +
            s"""<aside>${(0 until 8).map(i => s"""<a href="/$i">ad$i promo $k</a>""").mkString(" ")}</aside>""" +
            s"<footer>Copyright $k</footer></body></html>"
        val out = graft.operators.Html.blockRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "html")(mk),
          "media_id", "html")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |b AS (
          |  SELECT k, 0 AS block_idx, 'Site ' || k AS text, '' AS ltext FROM n
          |  UNION ALL
          |  SELECT k, 1, 'Home About Contact ' || k, 'HomeAboutContact ' || k FROM n
          |  UNION ALL
          |  SELECT k, 2, repeat('alpha ', CAST(8 + k % 3 AS INT)) || 'end ' || k, '' FROM n
          |  UNION ALL
          |  SELECT k, 3, repeat('beta ', 8) || 'link ' || k || ' tail', 'link ' || k FROM n
          |  UNION ALL
          |  SELECT k, 4,
          |    (SELECT string_agg('ad' || i || ' promo ' || k, ' ' ORDER BY i)
          |       FROM UNNEST(generate_series(0, 7)) u(i)),
          |    (SELECT string_agg('ad' || i || ' promo ' || k, '' ORDER BY i)
          |       FROM UNNEST(generate_series(0, 7)) u(i))
          |  FROM n
          |  UNION ALL
          |  SELECT k, 5, 'Copyright ' || k, '' FROM n
          |)
          |SELECT k AS media_id, CAST(block_idx AS INT) AS block_idx,
          |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
          |  CAST(length(text) AS INT) AS n_chars,
          |  CAST(length(ltext) AS INT) AS n_link_chars,
          |  len(string_split(text, ' ')) >= 8 AND 3 * length(ltext) <= length(text)
          |    AS is_content,
          |  text
          |FROM b""".stripMargin
      )
    ),

    // Main content COMPOSED into the ingest: WARC → HTTP/charset text
    // layer → block segmentation → content-only text → token count —
    // the stage order a web corpus needs (chrome cut BEFORE quality
    // screens see the text, so boilerplate can't pad quality numbers).
    // Map-only end to end.
    Q(
      "q_main_pipeline",
      (spark, dir) => {
        val mk = (k: Long) => {
          val html = s"<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About $k</a></nav>" +
            s"<p>${"alpha " * (8 + (k % 3)).toInt}end $k</p>" +
            s"""<p>${"beta " * 8}<a href="/x">link $k</a> tail</p>""" +
            s"<footer>Copyright $k</footer></body></html>"
          val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://m$k.example/p\r\n" +
            s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
            s"\r\n$body\r\n\r\n").getBytes("UTF-8")
        }
        val main = udf((h: String) => graft.operators.Html.mainContent(h))
        val out = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
            "media_id", "payload"))
          .filter(col("status") === 200)
          .withColumn("main_text", main(col("text")))
          .select(col("media_id"), col("main_text"),
            TextAnalysis.tokenCount(col("main_text")).as("n_tokens"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  repeat('alpha ', CAST(8 + k % 3 AS INT)) || 'end ' || k || chr(10)
          |    || repeat('beta ', 8) || 'link ' || k || ' tail' AS main_text,
          |  CAST(21 + k % 3 AS INT) AS n_tokens
          |FROM n""".stripMargin
      )
    ),

    // HTML → MARKDOWN, structure-preserving — what modern LLM
    // pipelines feed instead of flat prose. One arm per structure the
    // converter emits: heading level, inline emphasis, unordered +
    // ordered lists with their markers, blockquote prefixes, a
    // verbatim code fence, a piped table with its header separator,
    // and an inline link. Deterministic rules (no reflowing), so the
    // oracle re-derives the full markdown string literally. Map-only
    // on the shared hardened scanner.
    Q(
      "q_html_markdown",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"<html><head><title>Chrome $k</title></head><body>" +
            s"<h1>Title $k</h1>" +
            s"<p>intro <b>bold</b> $k</p>" +
            s"<ul><li>item one $k</li><li>item two</li></ul>" +
            s"<ol><li>first</li></ol>" +
            s"<blockquote><p>quoted $k</p></blockquote>" +
            s"<pre>code($k)</pre>" +
            s"<table><tr><th>A</th><th>B</th></tr><tr><td>x $k</td><td>1</td></tr></table>" +
            s"""<p>see <a href="http://x$k.example/">link $k</a> end</p>""" +
            "</body></html>"
        val out = graft.operators.Html.markdownRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "html")(mk),
          "media_id", "html")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  '# Title ' || n_nationkey || chr(10) ||
          |  'intro **bold** ' || n_nationkey || chr(10) ||
          |  '- item one ' || n_nationkey || chr(10) ||
          |  '- item two' || chr(10) ||
          |  '1. first' || chr(10) ||
          |  '> quoted ' || n_nationkey || chr(10) ||
          |  '```' || chr(10) || 'code(' || n_nationkey || ')' || chr(10) || '```' || chr(10) ||
          |  '| A | B |' || chr(10) || '| --- | --- |' || chr(10) ||
          |  '| x ' || n_nationkey || ' | 1 |' || chr(10) ||
          |  'see [link ' || n_nationkey || '](http://x' || n_nationkey || '.example/) end'
          |  AS markdown
          |FROM nation""".stripMargin
      )
    ),

    // MARKDOWN SECTION CHUNKING — the RAG unit: the converter's output
    // splits at heading lines into sections carrying their full
    // heading-path breadcrumb (H1 > H2 > …), the standalone context a
    // retrieval chunk needs. Arms: a preamble-less doc whose first
    // heading opens the path, level pops on the way back up, a
    // body-less heading extending the NEXT section's path, and an
    // even-key extra section. Map-only end to end (convert + split in
    // one pass chain).
    Q(
      "q_markdown_sections",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"<h1>Guide $k</h1><p>welcome $k</p>" +
            s"<h2>Setup</h2><p>step $k</p>" +
            s"<h3>Deep</h3><p>detail $k</p>" +
            s"<h2>Use</h2>" + // body-less: extends the next path
            s"<h3>Run</h3><p>go $k</p>" +
            (if (k % 2 == 0) s"<h1>Extra</h1><p>more $k</p>" else "")
        val out = graft.operators.Html.markdownSectionRows(
          graft.operators.Html.markdownRows(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "html")(mk),
            "media_id", "html"),
          "media_id", "markdown")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |s AS (
          |  SELECT k, 0 AS i, 'Guide ' || k AS path, 'welcome ' || k AS text FROM n
          |  UNION ALL
          |  SELECT k, 1, 'Guide ' || k || ' > Setup', 'step ' || k FROM n
          |  UNION ALL
          |  SELECT k, 2, 'Guide ' || k || ' > Setup > Deep', 'detail ' || k FROM n
          |  UNION ALL
          |  SELECT k, 3, 'Guide ' || k || ' > Use > Run', 'go ' || k FROM n
          |  UNION ALL
          |  SELECT k, 4, 'Extra', 'more ' || k FROM n WHERE k % 2 = 0
          |)
          |SELECT k AS media_id, CAST(i AS INT) AS section_idx, path, text
          |FROM s""".stripMargin
      )
    ),

    // BUDGETED SECTION CHUNKING — the retrieval-unit packer: body
    // lines group into ATOMIC units (a whole pipe table, a whole code
    // fence, a plain line) and a section flushes before a unit that
    // would cross the token budget; an oversize unit (the planted
    // 11-token table against the 6-token budget, here) becomes its own
    // section, countable by its emitted n_tokens — a table or fence is
    // NEVER split mid-unit, and a fenced '# x' line is code, not a
    // heading. Continuations keep their breadcrumb path. Map-only.
    Q(
      "q_sections_budget",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"# Guide $k\n" +
            "alpha beta gamma\ndelta epsilon\n" +
            s"| h1 | h2 |\n| a $k | b |\n" +
            "omega psi\n" +
            s"## Fence $k\n" +
            s"```\nx y z $k\n```\npost fence"
        val out = graft.operators.Html.markdownSectionRows(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "markdown")(mk),
          "media_id", "markdown", maxTokens = 6)
          .select(col("media_id"), col("section_idx"), col("path"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"), col("text"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |s AS (
          |  SELECT k, 0 AS i, 'Guide ' || k AS path, 5 AS t,
          |    'alpha beta gamma' || chr(10) || 'delta epsilon' AS text FROM n
          |  UNION ALL
          |  SELECT k, 1, 'Guide ' || k, 11,
          |    '| h1 | h2 |' || chr(10) || '| a ' || k || ' | b |' FROM n
          |  UNION ALL
          |  SELECT k, 2, 'Guide ' || k, 2, 'omega psi' FROM n
          |  UNION ALL
          |  SELECT k, 3, 'Guide ' || k || ' > Fence ' || k, 6,
          |    '```' || chr(10) || 'x y z ' || k || chr(10) || '```' FROM n
          |  UNION ALL
          |  SELECT k, 4, 'Guide ' || k || ' > Fence ' || k, 2, 'post fence' FROM n
          |)
          |SELECT k AS media_id, CAST(i AS INT) AS section_idx, path,
          |  CAST(t AS INT) AS n_tokens, text
          |FROM s""".stripMargin
      )
    ),

    // Main-content pipeline, MARKDOWN edition — the same WARC → HTTP/
    // charset → chrome-cut chain as q_main_pipeline, but the tokenizer
    // now feeds on STRUCTURE-PRESERVING markdown (content mode: the
    // integer thresholds compose with the structure — the nav's link
    // list and the two-word footer drop, the heading keeps its level).
    // Map-only end to end.
    Q(
      "q_markdown_pipeline",
      (spark, dir) => {
        val mk = (k: Long) => {
          val html = s"<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About $k</a></nav>" +
            s"<h1>Title $k</h1>" +
            s"<p>${"alpha " * (8 + (k % 3)).toInt}end $k</p>" +
            s"""<p>${"beta " * 8}<a href="/x">link $k</a> tail</p>""" +
            s"<footer>Copyright $k</footer></body></html>"
          val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://m$k.example/p\r\n" +
            s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
            s"\r\n$body\r\n\r\n").getBytes("UTF-8")
        }
        val md = udf((h: String) => graft.operators.Html.markdown(h, minWords = 8))
        val out = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
            "media_id", "payload"))
          .filter(col("status") === 200)
          .withColumn("markdown", md(col("text")))
          .select(col("media_id"), col("markdown"),
            TextAnalysis.tokenCount(col("markdown")).as("n_tokens"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  '# Title ' || k || chr(10) ||
          |  repeat('alpha ', CAST(8 + k % 3 AS INT)) || 'end ' || k || chr(10) ||
          |  repeat('beta ', 8) || '[link ' || k || '](/x) tail' AS markdown,
          |  CAST(24 + k % 3 AS INT) AS n_tokens
          |FROM n""".stripMargin
      )
    ),

    // THE RAG CHUNKING PIPELINE — crawl bytes to retrieval units in
    // one map-only chain: WARC → HTTP/charset text → content-mode
    // markdown (the nav chrome drops, the headings keep their levels)
    // → heading-path sections → per-section token counts. What a
    // retrieval corpus actually ingests, with the breadcrumb context
    // each chunk needs to stand alone.
    Q(
      "q_sections_pipeline",
      (spark, dir) => {
        val mk = (k: Long) => {
          val html = s"<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
            s"<h1>Guide $k</h1><p>${"alpha " * 8}intro $k</p>" +
            s"<h2>Setup</h2><p>${"beta " * 8}step $k</p>" +
            "<footer>(c)</footer></body></html>"
          val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + html
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://s$k.example/g\r\n" +
            s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
            s"\r\n$body\r\n\r\n").getBytes("UTF-8")
        }
        val md = udf((h: String) => graft.operators.Html.markdown(h, minWords = 8))
        val pages = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
            "media_id", "payload"))
          .filter(col("status") === 200)
          .withColumn("markdown", md(col("text")))
        val out = graft.operators.Html.markdownSectionRows(
          pages, "media_id", "markdown")
          .select(col("media_id"), col("section_idx"), col("path"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"), col("text"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |s AS (
          |  SELECT k, 0 AS i, 'Guide ' || k AS path,
          |    repeat('alpha ', 8) || 'intro ' || k AS text, 10 AS t FROM n
          |  UNION ALL
          |  SELECT k, 1, 'Guide ' || k || ' > Setup',
          |    repeat('beta ', 8) || 'step ' || k, 10 FROM n
          |)
          |SELECT k AS media_id, CAST(i AS INT) AS section_idx, path,
          |  CAST(t AS INT) AS n_tokens, text
          |FROM s""".stripMargin
      )
    ),

    // ANCHOR-TEXT extraction — the label the web gives a page, the
    // signal retrieval corpora and query-document pairs are built
    // from: `<a href>` pairs with the anchor's VISIBLE text (nested
    // markup stripped, entities decoded, whitespace collapsed),
    // base-resolved like the link graph. Arms: plain, uppercase tag,
    // nested markup, empty text (image link — href still carries graph
    // signal), href-less and fragment-only anchors skipped. Map-only.
    Q(
      "q_html_anchors",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"""<html><head><base href="http://h$k.example/d/"></head><body>""" +
            s"""<a href="p1">plain $k</a>""" +
            s"""<A HREF="http://x$k.example/abs">nested <b>bold</b>  $k</A>""" +
            s"""<a href="p2"><img src="i.png"></a>""" +
            s"""<a name="n">skip me</a><a href="#frag">skip too</a>""" +
            s"""<a href="p3">A &amp; B $k</a></body></html>"""
        val pages = Q.fixture(Q.nationKeys(spark, dir, "media_id")
          .withColumn("page_url", concat(lit("http://h"), col("media_id"),
            lit(".example/index.html"))), "media_id", "html")(mk)
        val out = graft.operators.Html.anchors(pages, "page_url", "html")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS media_id,
          |  'http://h' || k || '.example/index.html' AS page_url,
          |  'http://h' || k || '.example/d/p1' AS href, 'plain ' || k AS anchor
          |FROM n
          |UNION ALL
          |SELECT k, 'http://h' || k || '.example/index.html',
          |  'http://x' || k || '.example/abs', 'nested bold ' || k
          |FROM n
          |UNION ALL
          |SELECT k, 'http://h' || k || '.example/index.html',
          |  'http://h' || k || '.example/d/p2', ''
          |FROM n
          |UNION ALL
          |SELECT k, 'http://h' || k || '.example/index.html',
          |  'http://h' || k || '.example/d/p3', 'A & B ' || k
          |FROM n""".stripMargin
      )
    ),

    // The ANCHOR-TEXT CORPUS: per-target aggregation of what the web
    // CALLS each page — the document expansion retrieval systems index
    // next to body text. Targets collide across pages by construction
    // (every page k links the shared hub under one of three labels
    // keyed k%3, plus its own page under a unique label): per target,
    // the incoming-anchor count, distinct label count, and the TOP
    // label (most frequent, ties lexicographic — deterministic under
    // the oracle). Empty labels (image links) are dropped HERE — they
    // carry graph signal, not text. Two shuffles: the (href, anchor)
    // rollup and the per-href top-label window.
    Q(
      "q_anchor_corpus",
      (spark, dir) => {
        val mk = (k: Long) =>
          s"""<html><body><a href="http://hub.example/">${Seq("the hub", "hub site", "the hub")((k % 3).toInt)}</a>""" +
            s"""<a href="http://p$k.example/">page $k label</a>""" +
            s"""<a href="http://hub.example/"><img src="i.png"></a></body></html>"""
        val pages = Q.fixture(Q.nationKeys(spark, dir, "media_id")
          .withColumn("page_url", concat(lit("http://h"), col("media_id"), lit(".example/"))),
          "media_id", "html")(mk)
        val anchors = graft.operators.Html.anchors(pages, "page_url", "html")
          .filter(col("anchor") =!= "")
        val byLabel = anchors.groupBy(col("href"), col("anchor"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("href"))
          .orderBy(col("n").desc, col("anchor").asc)
        val out = byLabel
          .withColumn("rn", row_number().over(w))
          .withColumn("n_anchors", sum(col("n")).over(Window.partitionBy(col("href"))))
          .withColumn("n_labels", count(lit(1)).over(Window.partitionBy(col("href"))))
          .where(col("rn") === 1)
          .select(col("href"), col("n_anchors"), col("n_labels"),
            col("anchor").as("top_label"))
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
          |a AS (
          |  SELECT 'http://hub.example/' AS href,
          |    CASE k % 3 WHEN 1 THEN 'hub site' ELSE 'the hub' END AS anchor
          |  FROM n
          |  UNION ALL
          |  SELECT 'http://p' || k || '.example/', 'page ' || k || ' label' FROM n
          |), g AS (
          |  SELECT href, anchor, COUNT(*) AS cnt FROM a GROUP BY href, anchor
          |), r AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY href
          |      ORDER BY cnt DESC, anchor ASC) AS rn,
          |    SUM(cnt) OVER (PARTITION BY href) AS n_anchors,
          |    COUNT(*) OVER (PARTITION BY href) AS n_labels
          |  FROM g
          |)
          |SELECT href, CAST(n_anchors AS BIGINT) AS n_anchors,
          |  CAST(n_labels AS BIGINT) AS n_labels, anchor AS top_label
          |FROM r WHERE rn = 1""".stripMargin
      )
    )
  )
}
