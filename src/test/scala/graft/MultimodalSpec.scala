package graft

import graft.operators.Multimodal

/** Multimodal plumbing: schema, determinism, format sniff, frame
  * sampling — plus the REAL pure-JVM PPM
  * decoder (golden-raster parse, integer moments, dHash halves,
  * corrupt-payload fallback). The fake-feature generator remains only
  * for the embedding-plumbing contract a heavier codec drops into.
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private val jpegHeader = Array(0xFF, 0xD8, 0x01, 0x02).map(_.toByte)
  private val pngHeader = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt).map(_.toByte)

  test("extractFeatures: schema, format sniff, determinism") {
    val df = Seq(
      (1L, jpegHeader),
      (2L, pngHeader),
      (3L, Array[Byte](0, 1, 2))
    ).toDF("media_id", "payload")

    val out = Multimodal.extractFeatures(df, "media_id", "payload")
    assert(out.columns.toSeq ==
      Seq("media_id", "n_bytes", "format", "width", "height", "features"))

    val rows = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(rows(1L).getAs[String]("format") == "jpeg")
    assert(rows(2L).getAs[String]("format") == "png")
    assert(rows(3L).getAs[String]("format") == "unknown")
    def feats(r: org.apache.spark.sql.Row): Seq[Float] =
      r.getAs[scala.collection.Seq[Float]]("features").toSeq
    assert(rows(1L).getAs[Long]("n_bytes") == 4L)
    assert(rows.values.forall(feats(_).length == 8))

    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(df, "media_id", "payload")
      .collect().map(r => r.getAs[Long]("media_id") -> feats(r)).toMap
    rows.foreach { case (id, r) => assert(feats(r) == again(id)) }
  }

  test("decode stub bounds: width/height positive and within range") {
    val f = Multimodal.decodeStub(Multimodal.MediaBlob(7L, pngHeader))
    assert(f.width >= 1 && f.width <= 1920)
    assert(f.height >= 1 && f.height <= 1080)
    assert(f.features.forall(v => v >= 0.0f && v < 1.0f))
  }

  test("sampleFrames emits n rows per payload with frame indices") {
    val df = Seq((1L, "somebinarypayloadbytesgohere".getBytes)).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(df, "media_id", "payload", nFrames = 4).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getAs[Int]("frame_no")).toSeq == Seq(0, 1, 2, 3))
  }

  test("decodePpm: golden 2x2 image parses to the exact raster") {
    // hand-built P6: dims 2x2, raster = 12 known bytes (incl. a comment
    // line and >1 whitespace runs — PPM's header grammar)
    val raster = Array(
      10, 20, 30,   40, 50, 60,
      70, 80, 90,   200, 250, 255).map(_.toByte)
    val header = "P6\n# a comment\n 2\t2\n255\n".getBytes("US-ASCII")
    val Some((w, h, px)) = Multimodal.decodePpm(header ++ raster)
    assert(w == 2 && h == 2)
    assert(px.toSeq == raster.toSeq)
  }

  test("imageStats: moments and dHash halves on the golden image") {
    val raster = Array(
      10, 20, 30,   40, 50, 60,
      70, 80, 90,   200, 250, 255).map(_.toByte)
    val bytes = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ raster
    val s = Multimodal.imageStats(5L, bytes)
    assert(s.format == "ppm" && s.width == 2 && s.height == 2 && s.n_pixels == 4L)
    assert((s.sum_r, s.sum_g, s.sum_b) == ((10 + 40 + 70 + 200L, 20 + 50 + 80 + 250L, 30 + 60 + 90 + 255L)))
    assert(s.ssq_r == 100 + 1600 + 4900 + 40000L)
    // gray: (0,0)=20 (1,0)=50 (0,1)=80 (1,1)=235; every right neighbor
    // brighter -> for each gy, all gx bits set where sampled columns
    // differ; the halves stay consistent with a direct recompute
    def gray(x: Int, y: Int) = Seq(0, 1, 2).map(c => raster((y * 2 + x) * 3 + c) & 0xFF).sum / 3
    var lo = 0L; var hi = 0L
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val sy = gy * 2 / 8
      if (gray((gx + 1) * 2 / 9, sy) > gray(gx * 2 / 9, sy)) {
        val j = gy * 8 + gx
        if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
      }
    }
    assert((s.dhash_lo, s.dhash_hi) == ((lo, hi)))
  }

  test("syntheticPpm round-trips through the decoder (encoder/decoder identity)") {
    val bytes = Multimodal.syntheticPpm(seed = 3L, w = 8, h = 6)
    val Some((w, h, px)) = Multimodal.decodePpm(bytes)
    assert(w == 8 && h == 6)
    assert(px.zipWithIndex.forall { case (b, m) => (b & 0xFF) == (3 * 31 + m) % 256 })
  }

  test("decodeJpeg: synthetic 4:2:0 baseline JPEG decodes to the closed-form raster") {
    // the full pipeline — marker walk, canonical Huffman, DC DPCM, AC
    // run-length at zigzag 10, dequant, IDCT, 4:2:0 upsample, BT.601
    // convert — must reproduce 128 + D_b + A_b*s(y) exactly per pixel
    for (seed <- Seq(0L, 1L, 7L, 24L, 119L)) {
      val bytes = Multimodal.syntheticJpeg(seed)
      val Some((w, h, px)) = Multimodal.decodeJpeg(bytes)
      assert(w == 16 && h == 16, s"seed=$seed dims ${w}x$h")
      for (y <- 0 until 16; x <- 0 until 16) {
        val b = (y / 8) * 2 + (x / 8)
        val d = ((seed * 31 + 7 * b) % 120 - 60).toInt
        val a = ((seed + b) % 16 - 8).toInt
        val s = if ((y % 8) % 4 == 0 || (y % 8) % 4 == 3) 1 else -1
        val v = 128 + d + a * s
        val o = (y * 16 + x) * 3
        assert((px(o) & 0xFF) == v && (px(o + 1) & 0xFF) == v && (px(o + 2) & 0xFF) == v,
          s"seed=$seed ($x,$y): got ${px(o) & 0xFF}/${px(o + 1) & 0xFF}/${px(o + 2) & 0xFF}, want $v")
      }
    }
  }

  test("decodeJpeg: malformed/unsupported payloads return None, never throw") {
    assert(Multimodal.decodeJpeg(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeJpeg(jpegHeader).isEmpty) // bare SOI, no SOF/SOS
    val good = Multimodal.syntheticJpeg(3L)
    assert(Multimodal.decodeJpeg(good).isDefined)
    assert(Multimodal.decodeJpeg(good.take(40)).isEmpty) // truncated in headers
    // progressive DCT (SOF2) is out of scope: reject, don't misdecode
    val prog = good.clone()
    val i = prog.indices.dropRight(1)
      .find(j => (prog(j) & 0xFF) == 0xFF && (prog(j + 1) & 0xFF) == 0xC0).get
    prog(i + 1) = 0xC2.toByte
    assert(Multimodal.decodeJpeg(prog).isEmpty)
    // imageStats degrades structurally-valid-prefix JPEGs to the sniff
    assert(Multimodal.imageStats(9L, prog).format == "jpeg")
    assert(Multimodal.imageStats(9L, prog).n_pixels == 0L)
    // a scan truncated mid-entropy-data must terminate (zero-padding
    // holds bp AT the marker, never consuming the marker id as bits)
    val cut = Multimodal.decodeJpeg(good.dropRight(4))
    assert(cut.isEmpty || cut.get._1 == 16)
    // a stream whose components reference an undefined DQT must return
    // None, not silently dequantize against a zero table (which would
    // "decode" to a flat-128 raster — wrong-but-plausible stats)
    val dqtLen = 2 + 2 + 1 + 64 // marker + len + pq/tq + 64 8-bit entries
    val noDqt = good.take(2) ++ good.drop(2 + dqtLen)
    assert((noDqt(2) & 0xFF) == 0xFF && (noDqt(3) & 0xFF) == 0xC0) // SOF0 next
    assert(Multimodal.decodeJpeg(noDqt).isEmpty)
  }

  test("codec fuzz: every decoder degrades (never throws) on adversarial byte streams") {
    // decoders run on UNTRUSTED crawl data; the degrade contract must
    // hold for arbitrary bytes, not just truncations of valid fixtures.
    // Deterministic xorshift stream: reproducible, no Random.
    var s = 0x9E3779B97F4A7C15L
    def nextByte(): Byte = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s & 0xFF).toByte
    }
    def arr(n: Int): Array[Byte] = Array.fill(n)(nextByte())
    val magics = Seq(
      Array[Byte](), "GIF89a".getBytes, "fLaC".getBytes, "RIFF".getBytes,
      Array(0xFF, 0xD8).map(_.toByte), Array(0x89, 'P', 'N', 'G').map(_.toByte),
      Array(31, -117, 8, 0).map(_.toByte), "P6\n".getBytes, "BM".getBytes,
      Array[Byte]('I', 'I', 42, 0), Array[Byte]('M', 'M', 0, 42))
    for (n <- Seq(0, 1, 7, 64, 513, 4096); m <- magics; _ <- 1 to 4) {
      val payload = m ++ arr(n)
      // each must return cleanly — None/null/sniffed stats — not throw
      Multimodal.decodeGif(payload)
      Multimodal.decodeFlac(payload)
      Multimodal.decodeJpeg(payload)
      Multimodal.decodePng(payload)
      Multimodal.decodePpm(payload)
      Multimodal.decodeBmp(payload)
      Multimodal.decodeWav(payload)
      Multimodal.decodeWavIma(payload)
      Multimodal.decodeWavG711(payload)
      Multimodal.decodeTiff(payload)
      graft.functions.GraftMath.gunzipUtf8(payload)
      Multimodal.imageStats(1L, payload)
      Multimodal.audioStats(1L, payload)
    }
    // and bit-flip corruption of VALID fixtures at every position band
    val fixtures = Seq(
      Multimodal.syntheticGif(3L, 16, 16),
      Multimodal.syntheticFlac(4L),
      Multimodal.syntheticJpeg(5L),
      Multimodal.syntheticPng(6L, 8, 6),
      Multimodal.syntheticTiff(7L, 8, 6, true, true, true),
      Multimodal.syntheticWavG711(8L, 7, 2, 24),
      Multimodal.syntheticGzipText("corrupt me please, repeatedly"))
    for (f <- fixtures; pos <- 0 until f.length by math.max(1, f.length / 50)) {
      val mut = f.clone()
      mut(pos) = (mut(pos) ^ (1 + (pos % 7))).toByte
      Multimodal.imageStats(1L, mut)
      Multimodal.audioStats(1L, mut)
      graft.functions.GraftMath.gunzipUtf8(mut)
    }
  }

  test("decodeGif: LZW round trip matches the closed-form raster; ImageIO agrees") {
    for (seed <- Seq(0L, 1L, 7L, 24L); (w, h) <- Seq((16, 16), (32, 32), (13, 9))) {
      val bytes = Multimodal.syntheticGif(seed, w, h)
      val got = Multimodal.decodeGif(bytes)
      assert(got.isDefined, s"seed=$seed ${w}x$h failed to decode")
      val Some((gw, gh, px)) = got
      assert(gw == w && gh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val idx = ((seed * 31 + y.toLong * w + x.toLong * 7) % 128).toInt
        val o = (y * w + x) * 3
        assert((px(o) & 0xFF) == (idx * 37) % 256 &&
          (px(o + 1) & 0xFF) == (idx * 59) % 256 &&
          (px(o + 2) & 0xFF) == (idx * 83) % 256,
          s"seed=$seed ${w}x$h pixel ($x,$y)")
      }
      // external conformance: the JDK's own GIF reader must agree on
      // every pixel — pins the LZW width timing to the real ecosystem,
      // not just to this codec pair's self-consistency. The reader is
      // always registered, so a null read can only mean the fixture
      // bytes are malformed — exactly what this block exists to catch
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected the seed=$seed ${w}x$h fixture outright")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        assert(((rgb >> 16) & 0xFF) == (px(o) & 0xFF) &&
          ((rgb >> 8) & 0xFF) == (px(o + 1) & 0xFF) &&
          (rgb & 0xFF) == (px(o + 2) & 0xFF),
          s"ImageIO disagrees at seed=$seed ${w}x$h ($x,$y)")
      }
    }
  }

  test("decodeGif: interlaced four-pass rows land in the right place; corruption -> None") {
    val bytes = Multimodal.syntheticGif(5L, 16, 16, interlaced = true)
    val Some((_, _, px)) = Multimodal.decodeGif(bytes)
    for (y <- 0 until 16; x <- 0 until 16) {
      val idx = ((5L * 31 + y * 16 + x * 7) % 128).toInt
      val o = (y * 16 + x) * 3
      assert((px(o) & 0xFF) == (idx * 37) % 256, s"interlaced pixel ($x,$y)")
    }
    val good = Multimodal.syntheticGif(3L, 16, 16)
    assert(Multimodal.decodeGif("GIX87a".getBytes ++ good.drop(6)).isEmpty)
    assert(Multimodal.decodeGif(good.take(30)).isEmpty)   // truncated in palette
    assert(Multimodal.decodeGif(good.dropRight(6)).isEmpty) // truncated mid-LZW
    assert(Multimodal.decodeGif(Array[Byte]()).isEmpty)
    // imageStats tags the format
    assert(Multimodal.imageStats(1L, good).format == "gif")
    assert(Multimodal.imageStats(1L, good).n_pixels == 256L)
  }

  test("decodeGif: offset/sub-screen frames and over-long LZW streams degrade to None") {
    val good = Multimodal.syntheticGif(3L, 16, 16)
    assert(Multimodal.decodeGif(good).isDefined)
    // the image descriptor sits right after the 128-entry global palette
    val desc = 6 + 4 + 3 + 3 * 128
    assert((good(desc) & 0xFF) == 0x2C)
    val offsetLeft = good.clone(); offsetLeft(desc + 1) = 1 // left = 1
    assert(Multimodal.decodeGif(offsetLeft).isEmpty,
      "a left-offset frame needs screen composition — must degrade, not mis-frame")
    val offsetTop = good.clone(); offsetTop(desc + 3) = 2 // top = 2
    assert(Multimodal.decodeGif(offsetTop).isEmpty)
    val subScreen = good.clone(); subScreen(6) = 17 // logical screen w != frame w
    assert(Multimodal.decodeGif(subScreen).isEmpty,
      "a sub-screen frame needs background composition — must degrade")

    // hand-built 2x1 GIF whose LZW stream expands to THREE pixels:
    // clear, 0, then the KwKwK code 6 (= "00") — the second emit
    // crosses the raster boundary mid-expansion, which must be a
    // malformation like any other, not a silent prefix decode
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    le16(2); le16(1)
    bos.write(0x81); bos.write(0); bos.write(0) // 4-entry global palette
    for (i <- 0 until 4) { bos.write(i); bos.write(i); bos.write(i) }
    bos.write(0x2C); le16(0); le16(0); le16(2); le16(1); bos.write(0)
    bos.write(2) // min code size -> clear=4, eoi=5, width 3
    bos.write(2); bos.write(0x84); bos.write(0x0B); bos.write(0) // codes 4,0,6,(5)
    bos.write(0x3B)
    assert(Multimodal.decodeGif(bos.toByteArray).isEmpty,
      "over-long LZW expansion must degrade to None")
  }

  test("decodeFlac: fixed and LPC subframes reconstruct the exact closed-form samples") {
    for (seed <- Seq(0L, 1L, 2L, 7L, 24L)) { // both parities = both predictor families
      val bytes = Multimodal.syntheticFlac(seed)
      val Some((ch, rate, pcm)) = Multimodal.decodeFlac(bytes)
      assert(ch == 1 && rate == 8000 && pcm.length == 64, s"seed=$seed")
      for (i <- 0 until 64) {
        val want = ((seed * 31 + i * 17) % 128 - 64 + (i % 5) * 9).toInt
        assert(pcm(i) == want, s"seed=$seed sample $i: got ${pcm(i)}, want $want")
      }
    }
  }

  test("decodeFlac: corruption anywhere (magic, header CRC, frame CRC, truncation) degrades to None") {
    val good = Multimodal.syntheticFlac(5L)
    assert(Multimodal.decodeFlac(good).isDefined)
    assert(Multimodal.decodeFlac(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeFlac("fLaX".getBytes ++ good.drop(4)).isEmpty)
    assert(Multimodal.decodeFlac(good.take(50)).isEmpty) // truncated mid-frame
    // flip one bit in the entropy-coded body: the frame CRC-16 must catch it
    val flipped = good.clone()
    flipped(good.length - 10) = (flipped(good.length - 10) ^ 0x10).toByte
    assert(Multimodal.decodeFlac(flipped).isEmpty)
    // corrupt the frame-header CRC byte itself
    val hdrBad = good.clone()
    val frameOff = 4 + 4 + 34 // magic + block header + STREAMINFO
    hdrBad(frameOff + 6) = (hdrBad(frameOff + 6) ^ 0x01).toByte
    assert(Multimodal.decodeFlac(hdrBad).isEmpty)
    // audioStats: real decode tags "flac" with real stats; a corrupt
    // payload with the magic keeps the sniff label and zeroed stats
    assert(Multimodal.audioStats(1L, good).format == "flac")
    assert(Multimodal.audioStats(1L, good).n_frames == 64L)
    assert(Multimodal.audioStats(1L, flipped).format == "flac")
    assert(Multimodal.audioStats(1L, flipped).n_frames == 0L)
  }

  test("decodeImagesResized: non-positive factor fails fast on the driver") {
    val df = Seq((1L, Multimodal.syntheticPpm(1L, 4, 4))).toDF("media_id", "payload")
    intercept[IllegalArgumentException] {
      Multimodal.decodeImagesResized(df, "media_id", "payload", 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeImagesResized(df, "media_id", "payload", -2)
    }
  }

  test("decodePng: synthetic RGB PNG with all five filters round-trips exactly") {
    for ((w, h) <- Seq((8, 6), (5, 7), (1, 1), (16, 5))) {
      val bytes = Multimodal.syntheticPng(seed = 11L, w, h)
      val Some((dw, dh, px)) = Multimodal.decodePng(bytes)
      assert(dw == w && dh == h)
      assert(px.zipWithIndex.forall { case (b, m) => (b & 0xFF) == (11 * 31 + m) % 256 },
        s"${w}x$h raster mismatch")
    }
    // and through the shared dispatcher with the right format tag
    val s = Multimodal.imageStats(4L, Multimodal.syntheticPng(4L, 8, 6))
    assert(s.format == "png" && s.width == 8 && s.height == 6)
    // same formula as the PPM fixture -> identical stats across formats
    val p = Multimodal.imageStats(4L, Multimodal.syntheticPpm(4L, 8, 6))
    assert((s.sum_r, s.sum_g, s.sum_b, s.ssq_r, s.dhash_lo, s.dhash_hi) ==
      ((p.sum_r, p.sum_g, p.sum_b, p.ssq_r, p.dhash_lo, p.dhash_hi)))
  }

  test("decodePng: grayscale, palette and alpha color types; malformed returns None") {
    // hand-build a 2x1 gray (type 0) image: pixels 10, 200, filter None
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(t: String, d: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(t.getBytes("US-ASCII")); crc.update(d)
      be32(d.length) ++ t.getBytes("US-ASCII") ++ d ++ be32(crc.getValue.toInt)
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val df = new java.util.zip.Deflater(); df.setInput(raw); df.finish()
      val buf = new java.io.ByteArrayOutputStream(); val tmp = new Array[Byte](256)
      while (!df.finished()) buf.write(tmp, 0, df.deflate(tmp))
      df.end(); buf.toByteArray
    }
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def png(colorType: Int, raw: Array[Byte], plte: Option[Array[Byte]] = None) = {
      val ihdr = be32(2) ++ be32(1) ++ Array[Byte](8, colorType.toByte, 0, 0, 0)
      sig ++ chunk("IHDR", ihdr) ++ plte.map(chunk("PLTE", _)).getOrElse(Array.emptyByteArray) ++
        chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.emptyByteArray)
    }
    val Some((_, _, gray)) = Multimodal.decodePng(png(0, Array[Byte](0, 10, 200.toByte)))
    assert(gray.map(_ & 0xFF).toSeq == Seq(10, 10, 10, 200, 200, 200))
    val Some((_, _, pal)) = Multimodal.decodePng(png(3, Array[Byte](0, 1, 0),
      plte = Some(Array[Byte](9, 8, 7, 60, 70, 80.toByte))))
    assert(pal.map(_ & 0xFF).toSeq == Seq(60, 70, 80, 9, 8, 7))
    val Some((_, _, ga)) = Multimodal.decodePng(png(4, Array[Byte](0, 5, 99.toByte, 6, 99.toByte)))
    assert(ga.map(_ & 0xFF).toSeq == Seq(5, 5, 5, 6, 6, 6)) // alpha dropped
    val Some((_, _, rgba)) = Multimodal.decodePng(
      png(6, Array[Byte](0, 1, 2, 3, 99.toByte, 4, 5, 6, 99.toByte)))
    assert(rgba.map(_ & 0xFF).toSeq == Seq(1, 2, 3, 4, 5, 6))
    // malformed: bad signature, truncated IDAT, interlaced flag
    assert(Multimodal.decodePng(Array[Byte](1, 2, 3)).isEmpty)
    val good = Multimodal.syntheticPng(1L, 4, 4)
    assert(Multimodal.decodePng(good.dropRight(30)).isEmpty)
    // a zlib stream demanding a preset dictionary (FDICT flag, valid
    // header checksum 0x78 0x20) must return None, not busy-loop the
    // inflate call forever
    val fdictPng = sig ++ chunk("IHDR", be32(2) ++ be32(1) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](0x78, 0x20, 0, 0, 0, 1)) ++
      chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(fdictPng).isEmpty)
    val inter = sig ++ chunk("IHDR", be32(2) ++ be32(1) ++ Array[Byte](8, 2, 0, 0, 1)) ++
      chunk("IDAT", deflate(new Array[Byte](7))) ++ chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(inter).isEmpty)
  }

  test("imageStats: corrupt payloads degrade to the sniffing fallback, never throw") {
    val truncated = "P6\n100 100\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(Multimodal.imageStats(1L, truncated).format == "unknown")
    assert(Multimodal.imageStats(2L, jpegHeader).format == "jpeg")
    assert(Multimodal.imageStats(3L, Array[Byte]()).format == "unknown")
    val wideMaxval = "P6\n2 2\n65535\n".getBytes("US-ASCII") ++ Array.fill[Byte](24)(0)
    assert(Multimodal.imageStats(4L, wideMaxval).format == "unknown")
  }

  test("decodeImages: distributed decode matches the local function per row") {
    val df = (0L until 10L).map(k => (k, Multimodal.syntheticPpm(k, 8, 6)))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeImages(df, "media_id", "payload")
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Long]("sum_r"), r.getAs[Long]("dhash_lo"), r.getAs[Long]("dhash_hi"))))
      .toMap
    (0L until 10L).foreach { k =>
      val local = Multimodal.imageStats(k, Multimodal.syntheticPpm(k, 8, 6))
      assert(got(k) == ((local.sum_r, local.dhash_lo, local.dhash_hi)))
    }
  }

  test("decodeBmp normalizes bottom-up rows, BGR order and padding to PPM's raster") {
    // same logical pixel formula, two encodings → identical stats
    (0L until 6L).foreach { k =>
      val viaPpm = Multimodal.imageStats(k, Multimodal.syntheticPpm(k, 6, 5))
      val viaBmp = Multimodal.imageStats(k, Multimodal.syntheticBmp(k, 6, 5))
      assert(viaBmp.format == "bmp" && viaPpm.format == "ppm")
      assert(viaBmp.copy(format = "ppm") == viaPpm)
    }
    // exact raster identity, not just aggregate equality
    val Some((w, h, pxB)) = Multimodal.decodeBmp(Multimodal.syntheticBmp(3L, 6, 5))
    val Some((_, _, pxP)) = Multimodal.decodePpm(Multimodal.syntheticPpm(3L, 6, 5))
    assert(w == 6 && h == 5 && pxB.sameElements(pxP))
  }

  test("decodeBmp: top-down (negative height) BMPs decode to the same raster") {
    val bup = Multimodal.syntheticBmp(7L, 6, 5)
    // flip to top-down: negate the height field and reverse row order
    val tdown = bup.clone()
    val neg = -5
    tdown(22) = (neg & 0xFF).toByte; tdown(23) = ((neg >> 8) & 0xFF).toByte
    tdown(24) = ((neg >> 16) & 0xFF).toByte; tdown(25) = ((neg >> 24) & 0xFF).toByte
    val stride = 20
    for (y <- 0 until 5; b <- 0 until stride)
      tdown(54 + y * stride + b) = bup(54 + (4 - y) * stride + b)
    val Some((_, _, a)) = Multimodal.decodeBmp(bup)
    val Some((_, _, c)) = Multimodal.decodeBmp(tdown)
    assert(a.sameElements(c))
  }

  test("decodeBmp: malformed payloads return None (wrong magic, depth, truncation)") {
    val good = Multimodal.syntheticBmp(1L, 6, 5)
    assert(Multimodal.decodeBmp("notabmp".getBytes).isEmpty)
    val wrongDepth = good.clone(); wrongDepth(28) = 32.toByte
    assert(Multimodal.decodeBmp(wrongDepth).isEmpty)
    assert(Multimodal.decodeBmp(java.util.Arrays.copyOf(good, good.length - 4)).isEmpty)
    // the stats path degrades to the sniff, never throws
    assert(Multimodal.imageStats(1L, wrongDepth).format == "unknown")
  }

  test("decodeWav: golden mono clip parses to the exact samples") {
    // 3 frames, 1 channel, hand-built: samples 100, -2, 32767
    val pcm = Seq(100, -2, 32767)
    val wav = Multimodal.syntheticWav(0L, 1, 8000, 3).clone()
    pcm.zipWithIndex.foreach { case (v, i) =>
      wav(44 + i * 2) = (v & 0xFF).toByte
      wav(44 + i * 2 + 1) = ((v >> 8) & 0xFF).toByte
    }
    val Some((ch, rate, samples)) = Multimodal.decodeWav(wav)
    assert(ch == 1 && rate == 8000)
    assert(samples.toSeq == pcm.map(_.toShort))
  }

  test("syntheticWav round-trips through the decoder; stats match a scalar fold") {
    for (channels <- Seq(1, 2)) {
      val bytes = Multimodal.syntheticWav(5L, channels, 8000, 96)
      val Some((ch, rate, pcm)) = Multimodal.decodeWav(bytes)
      assert(ch == channels && rate == 8000 && pcm.length == 96 * channels)
      // closed form: interleaved sample i = ((5*31 + i)*97) mod 2^16, signed
      pcm.zipWithIndex.foreach { case (s, i) =>
        assert(s == (((5L * 31 + i) * 97) % 65536).toShort)
      }
      val st = Multimodal.audioStats(9L, bytes)
      assert(st.format == "wav" && st.n_channels == channels &&
        st.n_frames == 96L && st.dur_ms == 12L)
      val c0 = (0 until 96).map(t => pcm(t * ch).toLong)
      assert(st.sum_c0 == c0.sum && st.ssq_c0 == c0.map(v => v * v).sum)
      assert(st.zc_c0 == c0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
      if (channels == 2) {
        val c1 = (0 until 96).map(t => pcm(t * ch + 1).toLong)
        assert(st.sum_c1 == c1.sum && st.zc_c1 ==
          c1.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
      } else assert(st.sum_c1 == 0L && st.ssq_c1 == 0L && st.zc_c1 == 0L)
    }
  }

  test("decodeWav: malformed payloads return None; stats degrade to the sniff") {
    val good = Multimodal.syntheticWav(1L, 1, 8000, 4)
    assert(Multimodal.decodeWav("RIFFnotawave".getBytes).isEmpty)
    val nonPcm = good.clone(); nonPcm(20) = 3 // IEEE float format code
    assert(Multimodal.decodeWav(nonPcm).isEmpty)
    val depth24 = good.clone(); depth24(34) = 24 // unsupported depth
    assert(Multimodal.decodeWav(depth24).isEmpty)
    assert(Multimodal.decodeWav(java.util.Arrays.copyOf(good, 30)).isEmpty)
    // chunk size past the buffer must not read out of bounds
    val overLong = good.clone(); overLong(40) = 127
    assert(Multimodal.decodeWav(overLong).isEmpty)
    assert(Multimodal.audioStats(1L, "ID3andjunk".getBytes).format == "mp3")
    assert(Multimodal.audioStats(1L, nonPcm).format == "unknown")
  }

  test("decodeWav: 8-bit unsigned PCM normalizes into the 16-bit signed space") {
    // hand-build an 8-bit mono WAV: samples 0, 128, 255
    val base = Multimodal.syntheticWav(0L, 1, 8000, 3)
    val wav = java.util.Arrays.copyOf(base, 44 + 3) // 3 one-byte samples
    wav(34) = 8 // bitsPerSample
    // data chunk size + RIFF size shrink to the 8-bit payload
    wav(40) = 3; wav(41) = 0; wav(42) = 0; wav(43) = 0
    val riffSz = 36 + 3
    wav(4) = (riffSz & 0xFF).toByte; wav(5) = ((riffSz >> 8) & 0xFF).toByte
    wav(6) = 0; wav(7) = 0
    wav(44) = 0; wav(45) = 128.toByte; wav(46) = 255.toByte
    val Some((ch, rate, samples)) = Multimodal.decodeWav(wav)
    assert(ch == 1 && rate == 8000)
    assert(samples.toSeq == Seq((-128 * 256).toShort, 0.toShort, (127 * 256).toShort))
    // stats flow through the same 16-bit domain
    val st = Multimodal.audioStats(3L, wav)
    assert(st.n_frames == 3L && st.sum_c0 == -128L * 256 + 0 + 127 * 256)
  }

  test("downsampleBox and resizeNearest: hand-checked rasters; resized stats pipeline") {
    // 2x2 -> 1x1 box average: floor of the per-channel mean
    val px = Array(
      10, 20, 30,   14, 24, 34,
      11, 21, 31,   13, 23, 33).map(_.toByte)
    val (rw, rh, r) = Multimodal.downsampleBox(px, 2, 2, 2)
    assert(rw == 1 && rh == 1)
    assert(r.map(_ & 0xFF).toSeq == Seq(12, 22, 32))
    // nearest: identity at same dims; 2x upscale replicates pixels
    assert(Multimodal.resizeNearest(px, 2, 2, 2, 2).toSeq == px.toSeq)
    val up = Multimodal.resizeNearest(Array[Byte](1, 2, 3), 1, 1, 2, 2)
    assert(up.toSeq == Seq[Byte](1, 2, 3, 1, 2, 3, 1, 2, 3, 1, 2, 3))
    // distributed resize stage: factor-2 PPM stats equal a local
    // decode + downsample + rasterStats
    import spark.implicits._
    val bytes = Multimodal.syntheticPpm(7L, 8, 6)
    val viaDf = Multimodal.decodeImagesResized(
      Seq((7L, bytes)).toDF("media_id", "payload"), "media_id", "payload", 2)
      .as[Multimodal.ImageStats].head()
    val Some((fmt, w, h, raster)) = Multimodal.decodeImageBytes(bytes)
    val (dw, dh, dpx) = Multimodal.downsampleBox(raster, w, h, 2)
    assert(viaDf == Multimodal.rasterStats(7L, fmt, dw, dh, dpx))
    assert(viaDf.width == 4 && viaDf.height == 3)
    // non-divisible dims degrade to zero stats but KEEP the decoded
    // format tag (per-format degrade metrics stay attributable)
    val odd = Multimodal.decodeImagesResized(
      Seq((1L, Multimodal.syntheticPpm(1L, 5, 5))).toDF("media_id", "payload"),
      "media_id", "payload", 2).as[Multimodal.ImageStats].head()
    assert(odd.n_pixels == 0L && odd.format == "ppm")
  }

  test("decodeWavIma: hand-walked IMA state machine matches; dispatcher tags wav_ima") {
    // seed 0: pred0 = -128, idx0 = 0, nibbles 0,1,2,... — first steps
    // walked by hand through the public step/index tables
    val bytes = Multimodal.syntheticWavIma(0L)
    val Some((ch, rate, pcm)) = Multimodal.decodeWavIma(bytes)
    assert(ch == 1 && rate == 8000 && pcm.length == 65)
    assert(pcm.take(10).map(_.toInt).toSeq ==
      Seq(-128, -128, -127, -124, -120, -113, -101, -81, -40, -46))
    val s = Multimodal.audioStats(3L, Multimodal.syntheticWavIma(3L))
    assert(s.format == "wav_ima" && s.n_channels == 1 && s.n_frames == 65L)
    assert(s.dur_ms == 65L * 1000 / 8000)
    // PCM payloads keep their own tag; garbage keeps the sniff
    assert(Multimodal.audioStats(1L, Multimodal.syntheticWav(1L, 1, 8000, 16)).format == "wav")
    assert(Multimodal.decodeWavIma(Multimodal.syntheticWav(1L, 1, 8000, 16)).isEmpty)
    assert(Multimodal.decodeWavIma(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("decodeTiff: both endians, gray/RGB, PackBits/uncompressed; ImageIO conformance; degrade") {
    // all four variant corners round-trip to the closed-form raster
    for {
      gray <- Seq(false, true)
      pb <- Seq(false, true)
      be <- Seq(false, true)
    } {
      val bytes = Multimodal.syntheticTiff(5L, 8, 6, gray, pb, be)
      val Some((w, h, px)) = Multimodal.decodeTiff(bytes)
      assert(w == 8 && h == 6, s"gray=$gray pb=$pb be=$be")
      for (i <- 0 until 8 * 6 * 3) {
        val want =
          if (gray) ((5 * 31 + ((i / 3) / 4) * 4) % 256).toByte
          else ((5 * 31 + i) % 256).toByte
        assert(px(i) == want, s"px($i) gray=$gray pb=$pb be=$be")
      }
      // external conformance: the JDK's own ImageIO TIFF reader sees
      // the SAME pixels (asserted non-null — a silent skip would
      // vacuously pass)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, "ImageIO must read the fixture")
      for (y <- 0 until 6; x <- 0 until 8) {
        val o = (y * 8 + x) * 3
        if (gray) {
          // getRGB would push gray samples through ICC gray->sRGB
          // color management; the RAW raster sample is the spec target
          assert(img.getRaster.getSample(x, y, 0) == (px(o) & 0xFF),
            s"ImageIO sample ($x,$y) pb=$pb be=$be")
        } else {
          val rgb = img.getRGB(x, y)
          assert(((rgb >> 16) & 0xFF) == (px(o) & 0xFF) &&
            ((rgb >> 8) & 0xFF) == (px(o + 1) & 0xFF) &&
            (rgb & 0xFF) == (px(o + 2) & 0xFF),
            s"ImageIO pixel ($x,$y) pb=$pb be=$be")
        }
      }
    }
    // dispatcher labels tiff; stats flow through the shared raster path
    val s = Multimodal.imageStats(7L, Multimodal.syntheticTiff(7L, 8, 6, false, false, false))
    assert(s.format == "tiff" && s.width == 8 && s.n_pixels == 48L)
    // the -128 no-op skip (kept out of fixtures for ImageIO interop)
    // is pinned at the unit level: [0x80, literal-2, a, b] -> a, b
    val noop = Array[Byte](0x80.toByte, 1, 10, 20)
    val dst = new Array[Byte](2)
    assert(Multimodal.unpackBitsForTest(noop, 0, 4, dst, 0, 2) && dst.toSeq == Seq[Byte](10, 20))
    // degrade: bad magic, wrong version, truncated IFD, truncated
    // strip, over-long PackBits, unsupported depth
    val good = Multimodal.syntheticTiff(3L, 8, 6, false, true, false)
    assert(Multimodal.decodeTiff("II+ rest".getBytes("US-ASCII")).isEmpty)
    val badMagic = good.clone(); badMagic(2) = 43
    assert(Multimodal.decodeTiff(badMagic).isEmpty)
    assert(Multimodal.decodeTiff(java.util.Arrays.copyOf(good, 9)).isEmpty)
    assert(Multimodal.decodeTiff(java.util.Arrays.copyOf(good, 60)).isEmpty)
    // truncated-strip corpus sniff keeps the tiff label with zero stats
    assert(Multimodal.imageStats(1L, java.util.Arrays.copyOf(good, 60)).format == "tiff")
    // planar layout (tag 284 = 2) must degrade, not decode a scrambled
    // interleave: rewrite the LE fixture's compression entry (index 3,
    // tag 259) into PlanarConfiguration = 2
    val rgbLe = Multimodal.syntheticTiff(3L, 8, 6, false, false, false)
    assert(Multimodal.decodeTiff(rgbLe).isDefined)
    val planar = rgbLe.clone()
    val ifd = (planar(4) & 0xFF) | ((planar(5) & 0xFF) << 8) |
      ((planar(6) & 0xFF) << 16) | ((planar(7) & 0xFF) << 24)
    val e3 = ifd + 2 + 12 * 3
    assert(((planar(e3) & 0xFF) | ((planar(e3 + 1) & 0xFF) << 8)) == 259)
    planar(e3) = (284 & 0xFF).toByte; planar(e3 + 1) = (284 >> 8).toByte
    planar(e3 + 8) = 2
    assert(Multimodal.decodeTiff(planar).isEmpty,
      "planar TIFF must degrade to None")
    // adversarial: bit flips never throw (the fuzz spec covers more)
    for (pos <- 0 until math.min(good.length, 64)) {
      val mut = good.clone(); mut(pos) = (mut(pos) ^ 0x41).toByte
      Multimodal.decodeTiff(mut): Unit
    }
  }

  test("G.711 expanders: spec anchor codes; WAV round trip; degrade") {
    // μ-law anchors from the G.711 segment table: 0xFF/0x7F are ±0,
    // 0x80 is the positive max 32124, 0x00 the negative max -32124
    assert(Multimodal.ulawExpand(0xFF) == 0)
    assert(Multimodal.ulawExpand(0x7F) == 0)
    assert(Multimodal.ulawExpand(0x80) == 32124)
    assert(Multimodal.ulawExpand(0x00) == -32124)
    // A-law anchors: 0xD5/0x55 are ±8 (the smallest magnitudes), 0xAA
    // the positive max 32256, 0x2A the negative max -32256
    assert(Multimodal.alawExpand(0xD5) == 8)
    assert(Multimodal.alawExpand(0x55) == -8)
    assert(Multimodal.alawExpand(0xAA) == 32256)
    assert(Multimodal.alawExpand(0x2A) == -32256)
    // every 8-bit code expands inside the 16-bit domain, and each law
    // is injective on magnitude ladders (256 distinct outputs)
    assert((0 to 255).map(Multimodal.ulawExpand).forall(s => s >= -32768 && s <= 32767))
    assert((0 to 255).map(Multimodal.alawExpand).distinct.size == 256)

    // stereo A-law round trip: de-interleave matches the formula
    val st = Multimodal.syntheticWavG711(5L, 6, 2, 12)
    val Some(("wav_alaw", (ch, rate, pcm))) = Multimodal.decodeWavG711(st)
    assert(ch == 2 && rate == 8000 && pcm.length == 24)
    for (i <- 0 until 24)
      assert(pcm(i) == Multimodal.alawExpand(((5 * 31 + i * 7) % 256).toInt).toShort)
    // mono μ-law through the dispatcher keeps its tag and layout
    val s = Multimodal.audioStats(4L, Multimodal.syntheticWavG711(4L, 7, 1, 96))
    assert(s.format == "wav_ulaw" && s.n_channels == 1 && s.n_frames == 96L)
    // PCM and ADPCM payloads never match; garbage and truncation degrade
    assert(Multimodal.decodeWavG711(Multimodal.syntheticWav(1L, 1, 8000, 16)).isEmpty)
    assert(Multimodal.decodeWavG711(Multimodal.syntheticWavIma(1L)).isEmpty)
    assert(Multimodal.decodeWavG711(java.util.Arrays.copyOf(st, 30)).isEmpty)
  }

  test("decodeAviMjpeg: RIFF walk + per-frame JPEG decode; truncation yields None") {
    val bytes = Multimodal.syntheticAviMjpeg(2L, 3)
    val Some((w, h, frames)) = Multimodal.decodeAviMjpeg(bytes)
    assert(w == 16 && h == 16 && frames.size == 3)
    // container frame f must decode to exactly syntheticJpeg(2*7+f)
    for (f <- 0 until 3) {
      val Some((_, _, ref)) = Multimodal.decodeJpeg(Multimodal.syntheticJpeg(2L * 7 + f))
      assert(frames(f).toSeq == ref.toSeq, s"frame $f diverges from the direct decode")
    }
    assert(Multimodal.decodeAviMjpeg(Array[Byte](1, 2, 3)).isEmpty)
    // truncation inside movi: the LIST size check fails before any
    // frame is collected -> zero frames -> None (corrupt-media signal)
    assert(Multimodal.decodeAviMjpeg(bytes.dropRight(40)).isEmpty)
    val stats = Multimodal.mjpegFrameStats(2L, bytes)
    assert(stats.size == 3 && stats.forall(s => s.width == 16 && s.n_frames == 3))
    assert(stats.map(_.frame_no) == Seq(0, 1, 2))
  }

  test("decodeY4m: golden C444 stream parses header, frames and planes exactly") {
    val bytes = Multimodal.syntheticY4m(2L, 6, 4, 3)
    val Some((w, h, fn, fd, cs, frames)) = Multimodal.decodeY4m(bytes)
    assert(w == 6 && h == 4 && fn == 25 && fd == 1 && cs == "444")
    assert(frames.length == 3 && frames.forall(_.length == 3 * 24))
    // closed form: plane sample (f, p, m) = (2*31 + f*97 + p*53 + m) mod 256
    for (f <- 0 until 3; p <- 0 until 3; m <- 0 until 24)
      assert((frames(f)(p * 24 + m) & 0xFF) == ((2 * 31 + f * 97 + p * 53 + m) % 256))
  }

  test("decodeY4m: C420 plane sizes; malformed streams return None") {
    // hand-build a 1-frame C420 2x2 stream: 4 luma + 1 U + 1 V bytes
    val head = "YUV4MPEG2 W2 H2 F30:1 C420\nFRAME\n".getBytes("US-ASCII")
    val y4m = head ++ Array[Byte](10, 20, 30, 40, 50, 60)
    val Some((w, h, fn, _, cs, frames)) = Multimodal.decodeY4m(y4m)
    assert(w == 2 && h == 2 && fn == 30 && cs == "420" && frames.head.length == 6)
    val st = Multimodal.videoFrameStats(1L, y4m)
    assert(st.length == 1 && st.head.sum_y == 100L && st.head.sum_u == 50L && st.head.sum_v == 60L)
    // odd dims under 420 are invalid; unknown colorspace too; truncation too
    assert(Multimodal.decodeY4m("YUV4MPEG2 W3 H2 C420\nFRAME\n123456".getBytes).isEmpty)
    assert(Multimodal.decodeY4m("YUV4MPEG2 W2 H2 C999\nFRAME\n123456".getBytes).isEmpty)
    assert(Multimodal.decodeY4m(java.util.Arrays.copyOf(y4m, y4m.length - 2)).isEmpty)
    assert(Multimodal.videoFrameStats(1L, "notavideo".getBytes).isEmpty)
  }

  test("decodeAudio: distributed decode matches the local function per row") {
    val df = Seq(
      (0L, Multimodal.syntheticWav(0L, 1, 8000, 96)),
      (1L, Multimodal.syntheticWav(1L, 2, 8000, 96)),
      (2L, "ID3garbage".getBytes)
    ).toDF("media_id", "payload")
    val rows = Multimodal.decodeAudio(df, "media_id", "payload")
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(rows(0L).getAs[String]("format") == "wav")
    assert(rows(1L).getAs[Int]("n_channels") == 2)
    assert(rows(2L).getAs[String]("format") == "mp3" && rows(2L).getAs[Long]("n_frames") == 0L)
    val local = Multimodal.audioStats(1L, Multimodal.syntheticWav(1L, 2, 8000, 96))
    assert(rows(1L).getAs[Long]("ssq_c1") == local.ssq_c1)
  }

  test("decodeWavMs: hand-walked two-tap prediction, adaptation, header sample order") {
    // seed 0: predictor pair 0 (c1=256, c2=0), delta 16, s1=s2=-128,
    // nibbles 0,1,2,... -> hand-walked first samples
    val Some((ch, rate, pcm)) = Multimodal.decodeWavMs(Multimodal.syntheticWavMs(0)): @unchecked
    assert(ch == 1 && rate == 8000 && pcm.length == 66)
    assert(pcm.take(8).toSeq == Seq[Short](-128, -128, -128, -112, -80, -32, 32, 127))
    // all seven predictor pairs decode without throwing and keep the
    // 66-sample block shape
    for (s <- 0L until 7L) {
      val Some((_, _, p)) = Multimodal.decodeWavMs(Multimodal.syntheticWavMs(s)): @unchecked
      assert(p.length == 66, s"seed $s")
    }
  }

  test("decodeWavMs: stereo field interleave and per-channel state; malformed degrade") {
    // hand-built stereo block: headers (pred 0 / pred 2), deltas 16/20,
    // s1 100/200, s2 -5/-6, one nibble byte 0x1F (ch0 nib 1, ch1 nib 15)
    val b = new Array[Byte](12 + 8 + 18 + 8 + 16)
    def p32(o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
      b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >>> 24).toByte
    }
    def p16(o: Int, v: Int): Unit = { b(o) = v.toByte; b(o + 1) = (v >> 8).toByte }
    def ptag(o: Int, s: String): Unit =
      s.zipWithIndex.foreach { case (c, j) => b(o + j) = c.toByte }
    ptag(0, "RIFF"); p32(4, b.length - 8); ptag(8, "WAVE")
    ptag(12, "fmt "); p32(16, 18)
    p16(20, 2); p16(22, 2); p32(24, 8000); p32(28, 8000)
    p16(32, 16); p16(34, 4); p16(36, 0)
    ptag(38, "data"); p32(42, 16)
    val base = 46
    b(base) = 0; b(base + 1) = 2 // predictors per channel
    p16(base + 2, 16); p16(base + 4, 20) // deltas
    p16(base + 6, 100); p16(base + 8, 200) // iSamp1
    p16(base + 10, -5 & 0xFFFF); p16(base + 12, -6 & 0xFFFF) // iSamp2
    b(base + 14) = 0x1F.toByte; b(base + 15) = 0
    val Some((ch, _, pcm)) = Multimodal.decodeWavMs(b): @unchecked
    // ch0: pred=(100*256)/256=100, +16*1 = 116; ch1: pair 2 is (0,0) so
    // pred=0, +20*(-1) = -20; header samples lead OLDER first
    assert(ch == 2)
    assert(pcm.take(6).toSeq == Seq[Short](-5, -6, 100, 200, 116, -20))
    // malformed: predictor index 7 / non-positive delta degrade to None
    val bad1 = b.clone(); bad1(base) = 7
    assert(Multimodal.decodeWavMs(bad1).isEmpty)
    val bad3 = b.clone()
    bad3(base + 2) = 0; bad3(base + 3) = 0
    assert(Multimodal.decodeWavMs(bad3).isEmpty)
  }

  test("decodeWebp: VP8L literals round-trip the closed-form raster (both transforms)") {
    val px = Array.tabulate(8 * 6 * 3)(m => ((5 * 31 + m) % 256).toByte)
    val plain = Multimodal.decodeWebp(Multimodal.webpVp8l(8, 6, px))
    assert(plain.contains((8, 6, px)) ||
      (plain.get._1 == 8 && plain.get._2 == 6 && plain.get._3.sameElements(px)))
    // SUBTRACT_GREEN stores r-g/b-g; the inverse must reconstruct exactly
    val sg = Multimodal.decodeWebp(Multimodal.webpVp8l(8, 6, px, subtractGreen = true))
    assert(sg.isDefined && sg.get._3.sameElements(px))
    // the family fixture carries the shared formula
    val syn = Multimodal.decodeWebp(Multimodal.syntheticWebp(7L, 8, 6))
    assert(syn.isDefined && syn.get._3.sameElements(
      Array.tabulate(8 * 6 * 3)(m => ((7L * 31 + m) % 256).toByte)))
  }

  test("decodeWebp: LZ77 row backrefs, plain and plane-code distances, color cache") {
    // rows 1..3 repeat row 0: three backrefs behind one literal row
    val w = 5; val h = 4
    val row = Array.tabulate(w * 3)(m => ((m * 37 + 11) % 256).toByte)
    val px = Array.tabulate(w * h * 3)(m => row(m % (w * 3)))
    val plainD = Multimodal.decodeWebp(Multimodal.webpVp8l(w, h, px, lz77Rows = true))
    assert(plainD.isDefined && plainD.get._3.sameElements(px))
    // the close-neighborhood plane code (0,1) encodes the same stream
    val planeD = Multimodal.decodeWebp(Multimodal.webpVp8l(w, h, px,
      lz77Rows = true, plainDistance = false))
    assert(planeD.isDefined && planeD.get._3.sameElements(px))
    // color cache: a two-color checkerboard hits the cache on every
    // repeat; the stream must decode identically with and without
    val cb = Array.tabulate(6 * 6 * 3) { m =>
      val p = m / 3
      (if ((p % 6 + p / 6) % 2 == 0) 40 else 200).toByte
    }
    val cached = Multimodal.decodeWebp(Multimodal.webpVp8l(6, 6, cb, cacheBits = 4))
    assert(cached.isDefined && cached.get._3.sameElements(cb))
    val cachedSg = Multimodal.decodeWebp(
      Multimodal.webpVp8l(6, 6, cb, cacheBits = 4, subtractGreen = true, lz77Rows = true))
    assert(cachedSg.isDefined && cachedSg.get._3.sameElements(cb))
  }

  test("decodeWebp: simple-code channels, single-color image, tiny dims") {
    // constant image: every channel is a 1-symbol simple code
    val flat = Array.fill(3 * 2 * 3)(123.toByte)
    assert(Multimodal.decodeWebp(Multimodal.webpVp8l(3, 2, flat)).get._3.sameElements(flat))
    // two-value channels: 2-symbol simple codes, 1 bit per channel use
    val duo = Array.tabulate(4 * 1 * 3)(m => (if ((m / 3) % 2 == 0) 10 else 250).toByte)
    assert(Multimodal.decodeWebp(Multimodal.webpVp8l(4, 1, duo)).get._3.sameElements(duo))
    // 1x1
    val one = Array[Byte](1, 2, 3)
    assert(Multimodal.decodeWebp(Multimodal.webpVp8l(1, 1, one)).get._3.sameElements(one))
  }

  test("decodeWebp: lossy VP8, VP8X-without-lossless and malformed payloads degrade") {
    def riff(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
        out.write((v >> 16) & 0xFF); out.write((v >>> 24) & 0xFF) }
      out.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + payload.length)
      out.write("WEBP".getBytes("US-ASCII"))
      out.write(tag.getBytes("US-ASCII")); le32(payload.length)
      out.write(payload, 0, payload.length)
      out.toByteArray
    }
    // lossy frame: the perceptual honest boundary
    assert(Multimodal.decodeWebp(riff("VP8 ", new Array[Byte](32))).isEmpty)
    // metadata wrapper without an image chunk
    assert(Multimodal.decodeWebp(riff("VP8X", new Array[Byte](10))).isEmpty)
    assert(Multimodal.decodeWebp("not riff at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWebp(null).isEmpty)
    // truncation and bit flips never throw
    val good = Multimodal.webpVp8l(6, 4,
      Array.tabulate(6 * 4 * 3)(m => ((m * 7) % 256).toByte))
    (0 until good.length by 3).foreach { cut =>
      Multimodal.decodeWebp(java.util.Arrays.copyOfRange(good, 0, cut))
    }
    (0 until good.length by 5).foreach { i =>
      val m = good.clone(); m(i) = (m(i) ^ 0x2A).toByte
      Multimodal.decodeWebp(m)
    }
    // the decoder is wired into the shared dispatcher + sniff
    assert(Multimodal.decodeImageBytes(good).exists(_._1 == "webp"))
    assert(Multimodal.imageStats(1L, riff("VP8 ", new Array[Byte](8))).format == "webp")
  }

  test("review finding: single-symbol NORMAL codes are 0 bits on the wire") {
    // a green channel whose only symbol is a CACHE ref (>255) forces
    // the normal-code path with one used symbol at BOTH levels — the
    // encoder must emit nothing per symbol, like the decoder reads
    val w = 4; val h = 2
    // constant color: pixel 1 literal, every later pixel a cache hit
    val px = Array.fill(w * h * 3)(77.toByte)
    val withCache = Multimodal.decodeWebp(Multimodal.webpVp8l(w, h, px, cacheBits = 2))
    assert(withCache.isDefined && withCache.get._3.sameElements(px))
  }

  test("decodeWebp: COLOR_INDEXING palettes, bundled and unbundled") {
    // 2 colors -> 8 indices per coded pixel (xbits 3)
    val duo = Array.tabulate(10 * 3 * 3) { m =>
      (if ((m / 3) % 3 == 0) 17 else 230).toByte
    }
    val d2 = Multimodal.decodeWebp(Multimodal.webpVp8lIndexed(10, 3, duo))
    assert(d2.isDefined && d2.get._3.sameElements(duo))
    // 5..16 colors -> 2 indices per coded pixel (xbits 1), odd width
    val hex = Array.tabulate(7 * 4 * 3) { m =>
      val p = m / 3
      (((p * 37) % 13) * 19 % 256).toByte
    }
    val nColors = hex.grouped(3).map(_.toSeq).toSet.size
    assert(nColors > 4 && nColors <= 16)
    val d16 = Multimodal.decodeWebp(Multimodal.webpVp8lIndexed(7, 4, hex))
    assert(d16.isDefined && d16.get._3.sameElements(hex))
    // > 16 colors: no bundling, plain index image
    val many = Array.tabulate(8 * 6 * 3)(m => ((5 * 31 + m) % 256).toByte)
    val dM = Multimodal.decodeWebp(Multimodal.webpVp8lIndexed(8, 6, many))
    assert(dM.isDefined && dM.get._3.sameElements(many))
    // the rotating family fixture hits the palette arm at seed % 3 == 0
    val syn = Multimodal.decodeWebp(Multimodal.syntheticWebp(6L, 8, 6))
    assert(syn.isDefined && syn.get._3.sameElements(
      Array.tabulate(8 * 6 * 3)(m => ((6L * 31 + m) % 256).toByte)))
  }

  /** Bytes the calling thread allocates while `f` runs. */
  private def allocatedBy[A](f: => A): (A, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val r = f
    (r, mx.getCurrentThreadAllocatedBytes - before)
  }

  test("decodePng/decodeJpeg: a 20000x20000 header degrades to None without allocating the raster") {
    def be(v: Int, n: Int): Array[Byte] = Array.tabulate(n)(k => (v >>> (8 * (n - 1 - k))).toByte)
    val side = 20000
    // PNG: signature, IHDR (8-bit gray), one tiny IDAT, IEND — CRCs unchecked
    def chunk(t: String, d: Array[Byte]): Array[Byte] =
      be(d.length, 4) ++ t.getBytes("US-ASCII") ++ d ++ new Array[Byte](4)
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", be(side, 4) ++ be(side, 4) ++ Array[Byte](8, 0, 0, 0, 0)) ++
      chunk("IDAT", Array(0x78, 0x9C, 0x03, 0x00, 0x00, 0x00, 0x00, 0x01).map(_.toByte)) ++
      chunk("IEND", Array.emptyByteArray)
    // JPEG: SOI, DQT (flat), SOF0 (1 component), SOS, a few scan bytes, EOI
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      be(0xFF00 | marker, 2) ++ be(body.length + 2, 2) ++ body
    val jpeg = be(0xFFD8, 2) ++
      seg(0xDB, Array[Byte](0) ++ Array.fill[Byte](64)(1)) ++
      seg(0xC0, Array[Byte](8) ++ be(side, 2) ++ be(side, 2) ++ Array[Byte](1, 1, 0x11, 0)) ++
      seg(0xDA, Array[Byte](1, 1, 0, 0, 63, 0)) ++
      Array.fill[Byte](16)(0) ++ be(0xFFD9, 2)
    assert(png.length < 80 && jpeg.length < 140)
    for ((name, decode, bytes) <- Seq(
        ("png", Multimodal.decodePng _, png), ("jpeg", Multimodal.decodeJpeg _, jpeg))) {
      val (r, allocated) = allocatedBy(decode(bytes))
      assert(r.isEmpty, name)
      assert(allocated < (64L << 20), s"$name allocated $allocated bytes")
    }
  }
}
