package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

/** Avro object-container ingest — the remaining mainstream dataset
  * container next to parquet/ORC/tar/zip: the published OCF layout
  * (Avro 1.11 spec) is magic `Obj\x01`, a metadata map carrying
  * `avro.schema` (JSON) and `avro.codec`, a 16-byte sync marker, then
  * sync-delimited data blocks of binary-encoded records. Hand-rolled
  * and LENIENT under the family's untrusted-input contract
  * ([[TarShard]]/[[ZipShard]]/[[DumpDecode]]):
  *
  *   - the SCALAR-RECORD schema subset: a top-level `record` whose
  *     fields are `long`/`int`/`string`/`bytes`/`boolean`/`double`/
  *     `float`/`null` — the shapes tabular training metadata actually
  *     ships. Anything else (unions, arrays, maps, nested records,
  *     enums, fixed) degrades the whole document to the visible
  *     `schema` stage — decoding a guessed subset would silently
  *     misalign every later field;
  *   - codecs `null` and `deflate` (RAW deflate per spec, inflated
  *     under a bomb cap); other codecs → `codec`;
  *   - a sync-marker mismatch or a torn block keeps the COMPLETED
  *     block prefix (a block is all-or-nothing — a half-decoded block
  *     would emit records with shifted fields); junk magic/header →
  *     `parse`. Record and byte budgets bound hostile counts.
  *
  * Values surface as canonical strings (longs decimal, booleans
  * true/false, bytes lowercase hex) so one output shape serves any
  * schema in the subset — the typed projection is the consumer's cast,
  * exactly like the CSV-ish sources. Map-only over (media_id, payload)
  * rows. Reference scope: the reference ingests line JSON only
  * (`App.java:136-162`); container ingest is north-star surface.
  */
object Avro {

  import LenientJson.{JArr, JObj, JParse, JStr}

  private val ScalarTypes =
    Set("long", "int", "string", "bytes", "boolean", "double", "float", "null")

  /** (field name, scalar type) list of a subset schema, or null when
    * the schema is outside the scalar-record subset.
    */
  private[operators] def parseSchema(json: String): Seq[(String, String)] =
    try {
      val p = new JParse(json)
      p.value(0) match {
        case JObj(m) if m.get("type").contains(JStr("record")) =>
          m.get("fields") match {
            case Some(JArr(fs)) =>
              val out = fs.map {
                case JObj(f) =>
                  (f.get("name"), f.get("type")) match {
                    case (Some(JStr(n)), Some(JStr(t))) if ScalarTypes(t) => (n, t)
                    case _ => return null // union/array/nested/enum → out of subset
                  }
                case _ => return null
              }
              if (out.map(_._1).distinct.length != out.length) null else out
            case _ => null
          }
        case _ => null
      }
    } catch { case scala.util.control.NonFatal(_) => null }

  // ---- binary decode ----

  /** Zigzag varint (Avro long). Throws on torn input; bounded at 10
    * bytes by construction.
    */
  private final class Cur(val b: Array[Byte], var i: Int) {
    def varLong(): Long = {
      var shift = 0
      var acc = 0L
      var going = true
      while (going) {
        if (i >= b.length || shift > 63) throw new IllegalArgumentException("torn varint")
        val v = b(i) & 0xFF
        i += 1
        acc |= (v & 0x7FL) << shift
        shift += 7
        going = (v & 0x80) != 0
      }
      (acc >>> 1) ^ -(acc & 1) // zigzag
    }
    def take(n: Long): Array[Byte] = {
      if (n < 0 || i + n > b.length) throw new IllegalArgumentException("torn bytes")
      val out = java.util.Arrays.copyOfRange(b, i, i + n.toInt)
      i += n.toInt
      out
    }
  }

  private def hex(bs: Array[Byte]): String =
    bs.map(x => f"${x & 0xFF}%02x").mkString

  /** One record's fields → canonical strings, in schema order. */
  private def decodeRecord(c: Cur, fields: Seq[(String, String)]): Seq[String] =
    fields.map { case (_, t) =>
      t match {
        case "long" | "int" => c.varLong().toString
        case "string" => new String(c.take(c.varLong()), StandardCharsets.UTF_8)
        case "bytes" => hex(c.take(c.varLong()))
        case "boolean" =>
          val v = c.take(1)(0)
          if (v == 1) "true" else if (v == 0) "false"
          else throw new IllegalArgumentException("junk boolean")
        case "double" =>
          java.lang.Double.longBitsToDouble(Bytes.le64(c.take(8), 0)).toString
        case "float" =>
          java.lang.Float.intBitsToFloat(Bytes.le32(c.take(4), 0).toInt).toString
        case "null" => ""
        case other => throw new IllegalArgumentException(s"type $other")
      }
    }

  /** Raw-deflate inflate (the Avro `deflate` codec is zlib-header-less
    * per spec), bomb-capped, all-or-null.
    */
  private def inflateRaw(data: Array[Byte], maxOut: Long): Array[Byte] = {
    val inflated = Bytes.inflate(data, 0, data.length, raw = true, maxOut)
    if (inflated == null) null else inflated._1
  }

  /** One container's read: `stage` is `ok` or the degrade
    * (`parse` | `schema` | `codec`), `fields` the schema's (name,
    * type) pairs, `records` the decoded rows as canonical strings —
    * the completed-BLOCK prefix when a sync mismatch or torn block
    * cuts the walk.
    */
  final case class AvroResult(stage: String, fields: Seq[(String, String)],
      records: Seq[Seq[String]])

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  def read(bytes: Array[Byte], maxRecords: Int = 1 << 20,
      maxBlockOut: Long = Bytes.MaxOut): AvroResult = {
    try {
      if (bytes == null || bytes.length < 4 ||
        bytes(0) != Magic(0) || bytes(1) != Magic(1) ||
        bytes(2) != Magic(2) || bytes(3) != Magic(3))
        return AvroResult("parse", Seq.empty, Seq.empty)
      val c = new Cur(bytes, 4)
      // file metadata map: count-prefixed runs (negative count carries
      // a byte size first), terminated by 0
      var schemaJson: String = null
      var codec = "null"
      var going = true
      while (going) {
        var cnt = c.varLong()
        if (cnt == 0) going = false
        else {
          if (cnt < 0) { c.varLong(); cnt = -cnt } // block byte-size: skip
          if (cnt > (1 << 16)) throw new IllegalArgumentException("meta bomb")
          var j = 0L
          while (j < cnt) {
            val k = new String(c.take(c.varLong()), StandardCharsets.UTF_8)
            val v = c.take(c.varLong())
            if (k == "avro.schema") schemaJson = new String(v, StandardCharsets.UTF_8)
            if (k == "avro.codec") codec = new String(v, StandardCharsets.UTF_8)
            j += 1
          }
        }
      }
      val sync = c.take(16)
      if (schemaJson == null) return AvroResult("parse", Seq.empty, Seq.empty)
      val fields = parseSchema(schemaJson)
      if (fields == null) return AvroResult("schema", Seq.empty, Seq.empty)
      if (codec != "null" && codec != "deflate")
        return AvroResult("codec", fields, Seq.empty)

      val out = Vector.newBuilder[Seq[String]]
      var n = 0
      var done = false
      while (!done && c.i < bytes.length && n < maxRecords) {
        // a block is ALL-OR-NOTHING: decode into a staging buffer and
        // only commit when its sync marker matches
        try {
          val cnt = c.varLong()
          val size = c.varLong()
          if (cnt < 0 || cnt > maxRecords || size < 0) done = true
          else {
            val raw = c.take(size)
            val syncGot = c.take(16)
            if (!java.util.Arrays.equals(syncGot, sync)) done = true // torn/corrupt: stop
            else {
              val payload =
                if (codec == "deflate") inflateRaw(raw, maxBlockOut) else raw
              if (payload == null) done = true
              else {
                val bc = new Cur(payload, 0)
                val staged = Vector.newBuilder[Seq[String]]
                var j = 0L
                while (j < cnt) { staged += decodeRecord(bc, fields); j += 1 }
                if (bc.i != payload.length) done = true // trailing junk: refuse the block
                else {
                  val rs = staged.result()
                  out ++= rs
                  n += rs.length
                }
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => done = true }
      }
      AvroResult("ok", fields, out.result())
    } catch {
      case scala.util.control.NonFatal(_) => AvroResult("parse", Seq.empty, Seq.empty)
    }
  }

  /** One row per (record, field): (media_id, rec_idx, field, value).
    * Degraded documents emit nothing here — [[docRows]] carries their
    * countable stage. Map-only.
    */
  def recordRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        val r = read(b)
        r.records.zipWithIndex.flatMap { case (rec, i) =>
          r.fields.zip(rec).map { case ((name, _), v) => (id, i, name, v) }
        }
      }
      .toDF(idCol, "rec_idx", "field", "value")
  }

  /** One row per document: (media_id, stage, n_records). Map-only. */
  def docRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val r = read(b)
        (id, r.stage, r.records.length)
      }
      .toDF(idCol, "stage", "n_records")
  }

  // ---- fixture writer (tests + gates only) ----

  /** One typed fixture value. */
  sealed trait AV
  final case class AVLong(v: Long) extends AV
  final case class AVStr(v: String) extends AV
  final case class AVBool(v: Boolean) extends AV
  final case class AVBytes(v: Array[Byte]) extends AV
  final case class AVDouble(v: Double) extends AV

  private def writeVarLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63) // zigzag
    var going = true
    while (going) {
      val b = (z & 0x7F).toInt
      z >>>= 7
      if (z == 0) { out.write(b); going = false }
      else out.write(b | 0x80)
    }
  }

  private def writeVal(out: ByteArrayOutputStream, v: AV): Unit = v match {
    case AVLong(x) => writeVarLong(out, x)
    case AVStr(s) =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
    case AVBool(b) => out.write(if (b) 1 else 0)
    case AVBytes(b) => writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
    case AVDouble(d) =>
      val bb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d)
      out.write(bb.array(), 0, 8)
  }

  /** Deterministic OCF writer: records split into blocks of
    * `blockSize`, codec `null` or `deflate`, sync marker derived from
    * `seed`.
    */
  def ocf(schemaJson: String, records: Seq[Seq[AV]], codec: String = "null",
      blockSize: Int = 2, seed: Long = 7L): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    writeVarLong(out, 2L)
    def kv(k: String, v: Array[Byte]): Unit = {
      val kb = k.getBytes(StandardCharsets.UTF_8)
      writeVarLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
      writeVarLong(out, v.length.toLong); out.write(v, 0, v.length)
    }
    kv("avro.schema", schemaJson.getBytes(StandardCharsets.UTF_8))
    kv("avro.codec", codec.getBytes(StandardCharsets.UTF_8))
    writeVarLong(out, 0L)
    val sync = Array.tabulate[Byte](16)(i => ((seed * 31 + i * 7) & 0xFF).toByte)
    out.write(sync, 0, 16)
    records.grouped(math.max(1, blockSize)).foreach { block =>
      val payload = new ByteArrayOutputStream()
      block.foreach(_.foreach(writeVal(payload, _)))
      val data0 = payload.toByteArray
      val data =
        if (codec == "deflate") {
          val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data0); d.finish()
          val bo = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
          d.end()
          bo.toByteArray
        } else data0
      writeVarLong(out, block.length.toLong)
      writeVarLong(out, data.length.toLong)
      out.write(data, 0, data.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }
}
