package graft

import graft.config.PipelineConfig
import graft.operators.Similarity
import graft.pipeline.JobPipeline.{FilterConfig, Scd2}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Native cosine expression, CSV source/sink, YAML config loader. */
class ExprConfigSpec extends SparkSpec {
  import graft.fixtures.FixtureBytes._
  import spark.implicits._

  test("graft_nfc composes decomposed marks, passes ASCII through, null-safe") {
    val decomposed = "cafe\u0301"   // e + U+0301 combining acute (5 chars)
    val precomposed = "caf\u00e9"   // precomposed U+00E9 (4 chars)
    val df = Seq(
      (1L, decomposed),
      (2L, "plain ascii"),          // already NFC -> unchanged
      (3L, null.asInstanceOf[String])
    ).toDF("id", "s")
    df.createOrReplaceTempView("nfc_in")
    val got = spark.sql("SELECT id, graft_nfc(s) AS n FROM nfc_in")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains(precomposed))
    assert(got(1L).get.length == 4)
    assert(got(2L).contains("plain ascii"))
    assert(got(3L).isEmpty)
    // the whole point: decomposed and precomposed forms of the same
    // text fingerprint identically after normalization
    val hashes = Seq(decomposed, precomposed).toDF("s")
      .selectExpr("md5(graft_nfc(s)) AS h")
      .collect().map(_.getString(0)).toSet
    assert(hashes.size == 1)
  }

  test("graft_image_meta decodes real PNG/JPEG/GIF headers, nulls the rest") {
    def hexBytes(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a COMPLETE, genuinely valid 1x1 RGBA PNG (signature, IHDR, IDAT
    // with real zlib data, IEND with correct CRCs)
    val realPng = hexBytes(
      "89504E470D0A1A0A0000000D49484452000000010000000108060000001F15C489" +
      "0000000D49444154789C6360606060000000050001A5F64540" +
      "0000000049454E44AE426082")
    // JPEG: SOI, APP0/JFIF, a DQT segment the scanner must skip, SOF0
    // 16x32 1-component, EOI
    val realJpeg = hexBytes(
      "FFD8" + "FFE000104A46494600010100000100010000" +
      "FFDB0043" + "00" * 65 +
      "FFC0000B08" + "0010" + "0020" + "01" + "011100" + "FFD9")
    val gif = "GIF89a".getBytes("ISO-8859-1") ++
      Array[Byte](0x2C, 0x01, 0x58, 0x02, 0xF7.toByte, 0x00, 0x00) // 300x600
    val rows = Seq(
      (1L, realPng),
      (2L, realJpeg),
      (3L, gif),
      (4L, "not an image at all".getBytes("UTF-8")),
      (5L, realPng.take(12)),      // truncated before IHDR fields
      (6L, hexBytes("FFD8FFD9")),  // SOI+EOI, no frame header
      (7L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "content")
    rows.createOrReplaceTempView("img_in")
    val got = spark.sql(
      """SELECT id, graft_image_meta(content) AS m FROM img_in""")
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else {
          val m = r.getStruct(1)
          Some((m.getString(0), m.getInt(1), m.getInt(2), m.getInt(3), m.getInt(4)))
        })
      }.toMap
    assert(got(1L).contains(("png", 1, 1, 4, 8)), got(1L))
    assert(got(2L).contains(("jpeg", 32, 16, 1, 8)), got(2L))
    assert(got(3L).contains(("gif", 300, 600, 1, 8)), got(3L))
    assert(got(4L).isEmpty && got(5L).isEmpty && got(6L).isEmpty && got(7L).isEmpty)
    // WEBP: all three container variants
    def riff(fourcc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
        "WEBP".getBytes("ISO-8859-1") ++ fourcc.getBytes("ISO-8859-1") ++
        Array[Byte](payload.length.toByte, 0, 0, 0) ++ payload
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A,
      (320 & 0xFF).toByte, (320 >> 8).toByte, (240 & 0xFF).toByte, (240 >> 8).toByte))
    val vp8lBits = 16L | (9L << 14) | (1L << 28) // 17x10, alpha
    val vp8l = riff("VP8L", Array[Byte](0x2F,
      (vp8lBits & 0xFF).toByte, ((vp8lBits >> 8) & 0xFF).toByte,
      ((vp8lBits >> 16) & 0xFF).toByte, ((vp8lBits >> 24) & 0xFF).toByte, 0))
    val vp8x = riff("VP8X", Array[Byte](0x10, 0, 0, 0,
      0xFF.toByte, 0xFF.toByte, 0, 99, 0, 0)) // 65536x100 canvas, alpha
    def parsed(bytes: Array[Byte]) = Option(graft.expr.ImageMeta.parse(bytes))
      .map(m => (m.getUTF8String(0).toString, m.getInt(1), m.getInt(2),
        m.getInt(3), m.getInt(4)))
    assert(parsed(vp8).contains(("webp", 320, 240, 3, 8)), parsed(vp8))
    assert(parsed(vp8l).contains(("webp", 17, 10, 4, 8)), parsed(vp8l))
    assert(parsed(vp8x).contains(("webp", 65536, 100, 4, 8)), parsed(vp8x))
    assert(parsed(riff("VP8 ", Array.fill(12)(0x00.toByte))).isEmpty) // bad start code
    // interpreted eval agrees with the codegen'd path above
    assert(graft.expr.ImageMeta.parse(realPng) != null)
    assert(graft.expr.ImageMeta.parse(realJpeg).getInt(1) == 32)
    assert(graft.expr.ImageMeta.parse(Array.emptyByteArray) == null)
    // Multimodal.imageMeta projects the struct into flat columns
    val media = Seq((1L, "image", realPng)).toDF("media_id", "kind", "content")
    val meta = graft.operators.Multimodal.imageMeta(media).collect()(0)
    assert(meta.getAs[String]("format") == "png" &&
      meta.getAs[Int]("width") == 1 && meta.getAs[Long]("n_bytes") == realPng.length)

    // ---- TIFF, both byte orders. LE: inline SHORT dims; BE: LONG
    // dims + offset BitsPerSample array (3 SHORTs) + SamplesPerPixel
    def leBytes(v: Int, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    def beBytes(v: Int, n: Int) = (0 until n).reverse.map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    def tiffLe = {
      def entry(tag: Int, typ: Int, cnt: Int, value: Int) =
        leBytes(tag, 2) ++ leBytes(typ, 2) ++ leBytes(cnt, 4) ++ leBytes(value, 4)
      "II".getBytes ++ Array[Byte](42, 0) ++ leBytes(8, 4) ++
        leBytes(2, 2) ++ entry(256, 3, 1, 640) ++ entry(257, 3, 1, 480) ++
        leBytes(0, 4)
    }
    def tiffBe = {
      def entry(tag: Int, typ: Int, cnt: Int, value: Int) =
        beBytes(tag, 2) ++ beBytes(typ, 2) ++ beBytes(cnt, 4) ++ beBytes(value, 4)
      // 4 entries: dims as LONG, SamplesPerPixel 3, BitsPerSample →
      // offset 62 where [16,16,16] SHORTs live
      "MM".getBytes ++ Array[Byte](0, 42) ++ beBytes(8, 4) ++
        beBytes(4, 2) ++ entry(256, 4, 1, 1024) ++ entry(257, 4, 1, 768) ++
        entry(258, 3, 3, 62) ++ entry(277, 3, 1, 3 << 16) ++
        beBytes(0, 4) ++ beBytes(16, 2) ++ beBytes(16, 2) ++ beBytes(16, 2)
    }
    assert(parsed(tiffLe).contains(("tiff", 640, 480, 1, 1)), parsed(tiffLe))
    assert(parsed(tiffBe).contains(("tiff", 1024, 768, 3, 16)), parsed(tiffBe))
    assert(parsed("II".getBytes ++ Array[Byte](42, 0) ++ leBytes(9999, 4))
      .isEmpty) // IFD offset past the buffer
    // ---- BMP: 24bpp bottom-up and 8bpp top-down (negative height)
    def bmp(w: Int, h: Int, bpp: Int) =
      "BM".getBytes ++ leBytes(0, 4) ++ leBytes(0, 4) ++ leBytes(54, 4) ++
        leBytes(40, 4) ++ leBytes(w, 4) ++ leBytes(h, 4) ++
        leBytes(1, 2) ++ leBytes(bpp, 2) ++ Array.fill[Byte](8)(0)
    assert(parsed(bmp(800, 600, 24)).contains(("bmp", 800, 600, 3, 8)))
    assert(parsed(bmp(64, -32, 8)).contains(("bmp", 64, 32, 1, 8)))
    // OS/2 BITMAPCOREHEADER (DIB size 12, 16-bit dims): the INFO-header
    // field layout does not apply — must triage to NULL, not misparse
    val os2 = "BM".getBytes ++ leBytes(0, 4) ++ leBytes(0, 4) ++
      leBytes(26, 4) ++ leBytes(12, 4) ++ leBytes(320, 2) ++
      leBytes(200, 2) ++ leBytes(1, 2) ++ leBytes(24, 2) ++
      Array.fill[Byte](8)(0)
    assert(parsed(os2).isEmpty, "OS/2 core header must triage to NULL")
    // ---- PPM/PGM ASCII headers with a comment line
    assert(parsed("P6\n# a comment\n120 80\n255\n".getBytes)
      .contains(("ppm", 120, 80, 3, 8)))
    assert(parsed("P5 10 20 65535 ".getBytes).contains(("ppm", 10, 20, 1, 16)))
    assert(parsed("P6\n12\n".getBytes).isEmpty) // truncated header
  }

  test("graft_pixel_stats decodes real PNGs (all filters/color types), PPM, BMP") {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      be32(data.length) ++ tb ++ data ++ be32(crc.getValue.toInt)
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    val chOf = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)
    // filter pixels per PNG spec §9, then REAL zlib compression — a
    // decoder that skipped unfiltering or inflate cannot reproduce
    def buildPng(w: Int, h: Int, colorType: Int, pixels: Array[Byte],
        filters: Seq[Int], plte: Option[Array[Byte]] = None, depth: Int = 8,
        interlace: Int = 0, splitIdat: Boolean = false): Array[Byte] = {
      val ch = chOf(colorType)
      val stride = w * ch
      val raw = new Array[Byte](h * (stride + 1))
      for (y <- 0 until h) {
        val f = filters(y % filters.size)
        raw(y * (stride + 1)) = f.toByte
        for (j <- 0 until stride) {
          val cur = pixels(y * stride + j) & 0xFF
          val a = if (j >= ch) pixels(y * stride + j - ch) & 0xFF else 0
          val b = if (y > 0) pixels((y - 1) * stride + j) & 0xFF else 0
          val c = if (y > 0 && j >= ch) pixels((y - 1) * stride + j - ch) & 0xFF else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) >> 1
            case _ =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (stride + 1) + 1 + j) = ((cur - pred) & 0xFF).toByte
        }
      }
      val comp = deflate(raw)
      val idat =
        if (splitIdat && comp.length > 2) {
          val k = comp.length / 2
          chunk("IDAT", comp.take(k)) ++ chunk("IDAT", comp.drop(k))
        } else chunk("IDAT", comp)
      val ihdr = be32(w) ++ be32(h) ++
        Array[Byte](depth.toByte, colorType.toByte, 0, 0, interlace.toByte)
      sig ++ chunk("IHDR", ihdr) ++
        plte.map(chunk("PLTE", _)).getOrElse(Array.emptyByteArray) ++
        idat ++ chunk("IEND", Array.emptyByteArray)
    }
    def expected(bytes: Seq[Int]): (Long, Long, Int, Int, Int) = {
      val sum = bytes.map(_.toLong).sum
      val sumsq = bytes.map(v => v.toLong * v).sum
      (sum, sumsq, bytes.min, bytes.max, if (bytes.min == bytes.max) 1 else 0)
    }
    def parsed(b: Array[Byte]) = Option(graft.expr.PixelStats.parse(b)).map(m =>
      (m.getUTF8String(0).toString, m.getInt(1), m.getInt(2), m.getInt(3),
        m.getLong(4), m.getLong(5), m.getLong(6), m.getInt(7), m.getInt(8),
        m.getInt(9)))

    val rng = new scala.util.Random(99)
    // every color type × every filter type, random pixels
    for (colorType <- Seq(0, 2, 4, 6); filters <- Seq(Seq(0), Seq(1), Seq(2),
        Seq(3), Seq(4), Seq(0, 1, 2, 3, 4))) {
      val w = 5 + rng.nextInt(9); val h = 4 + rng.nextInt(7)
      val ch = chOf(colorType)
      val px = Array.fill[Byte](w * h * ch)(rng.nextInt(256).toByte)
      val (sum, sumsq, mn, mx, const) = expected(px.map(_ & 0xFF).toSeq)
      val got = parsed(buildPng(w, h, colorType, px, filters,
        splitIdat = filters.size > 1))
      assert(got.contains(("png", w, h, ch, w.toLong * h, sum, sumsq, mn, mx,
        const)), s"ct=$colorType f=$filters: $got")
    }
    // palette: indices map through PLTE to RGB before stats
    val plte = Array.tabulate[Byte](24)(i => ((i * 37 + 5) % 256).toByte)
    val idxPx = Array.fill[Byte](6 * 4)(rng.nextInt(8).toByte)
    val rgb = idxPx.flatMap(i => plte.slice((i & 0xFF) * 3, (i & 0xFF) * 3 + 3))
    val (psum, psumsq, pmn, pmx, pconst) = expected(rgb.map(_ & 0xFF).toSeq)
    assert(parsed(buildPng(6, 4, 3, idxPx, Seq(0, 1), plte = Some(plte)))
      .contains(("png", 6, 4, 3, 24L, psum, psumsq, pmn, pmx, pconst)))
    // all-constant image flags constant=1
    val flat = Array.fill[Byte](3 * 3)(42)
    assert(parsed(buildPng(3, 3, 0, flat, Seq(2)))
      .contains(("png", 3, 3, 1, 9L, 9L * 42, 9L * 42 * 42, 42, 42, 1)))
    // Adam7 interlaced: the raw stream is 7 reduced images, each
    // filtered over ITS OWN neighbors; an interlaced file must decode
    // identically to its non-interlaced twin. Build the pass streams
    // from the same pixels with the same per-scanline filter logic.
    def buildPngAdam7(w: Int, h: Int, colorType: Int, pixels: Array[Byte],
        filters: Seq[Int]): Array[Byte] = {
      val ch = chOf(colorType)
      val x0 = Array(0, 4, 0, 2, 0, 1, 0); val dx = Array(8, 8, 4, 4, 2, 2, 1)
      val y0 = Array(0, 0, 4, 0, 2, 0, 1); val dy = Array(8, 8, 8, 4, 4, 2, 2)
      val bos = new java.io.ByteArrayOutputStream()
      for (p <- 0 until 7) {
        val wp = (w - x0(p) + dx(p) - 1) / dx(p)
        val hp = (h - y0(p) + dy(p) - 1) / dy(p)
        if (wp > 0 && hp > 0) {
          // the pass's reduced image, then filter it like buildPng does
          val sub = Array.tabulate[Byte](wp * hp * ch) { i =>
            val yy = i / (wp * ch); val rem = i % (wp * ch)
            val xx = rem / ch; val c = rem % ch
            pixels(((y0(p) + yy * dy(p)) * w + (x0(p) + xx * dx(p))) * ch + c)
          }
          val stride = wp * ch
          for (y <- 0 until hp) {
            val f = filters(y % filters.size)
            bos.write(f)
            for (j <- 0 until stride) {
              val cur = sub(y * stride + j) & 0xFF
              val a = if (j >= ch) sub(y * stride + j - ch) & 0xFF else 0
              val b = if (y > 0) sub((y - 1) * stride + j) & 0xFF else 0
              val c = if (y > 0 && j >= ch) sub((y - 1) * stride + j - ch) & 0xFF else 0
              val pred = f match {
                case 0 => 0
                case 1 => a
                case 2 => b
                case 3 => (a + b) >> 1
                case _ =>
                  val pp = a + b - c
                  val pa = math.abs(pp - a); val pb = math.abs(pp - b)
                  val pc = math.abs(pp - c)
                  if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              }
              bos.write((cur - pred) & 0xFF)
            }
          }
        }
      }
      val ihdr = be32(w) ++ be32(h) ++
        Array[Byte](8, colorType.toByte, 0, 0, 1)
      sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", deflate(bos.toByteArray)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    for (colorType <- Seq(0, 2, 6); (w, h) <- Seq((8, 8), (13, 11), (4, 4),
        (1, 1), (5, 3)); filters <- Seq(Seq(0), Seq(0, 1, 2, 3, 4))) {
      val ch = chOf(colorType)
      val px = Array.fill[Byte](w * h * ch)(rng.nextInt(256).toByte)
      val plain = parsed(buildPng(w, h, colorType, px, filters))
      val inter = parsed(buildPngAdam7(w, h, colorType, px, filters))
      assert(plain.isDefined && plain == inter,
        s"Adam7 ct=$colorType ${w}x$h f=$filters: $inter vs $plain")
    }
    // adversarial: each must be NULL, never an error
    val okPx = Array.fill[Byte](4 * 4 * 3)(7)
    val okPng = buildPng(4, 4, 2, okPx, Seq(0))
    assert(parsed(okPng.dropRight(30)).isEmpty, "truncated IDAT")
    assert(parsed(buildPng(4, 4, 2, okPx, Seq(0), interlace = 2)).isEmpty,
      "unknown interlace method")
    locally { // truncated Adam7 stream (last pass missing) → NULL
      val full = buildPngAdam7(8, 8, 0, Array.fill[Byte](64)(9), Seq(0))
      assert(parsed(full.dropRight(40)).isEmpty, "truncated Adam7")
    }
    assert(parsed(buildPng(4, 4, 2, okPx, Seq(0), depth = 16)).isEmpty,
      "16-bit depth unsupported")
    assert(parsed(buildPng(4, 4, 3, Array.fill[Byte](16)(23), Seq(0),
      plte = Some(plte))).isEmpty, "palette index past PLTE")
    assert(parsed(buildPng(4, 4, 3, Array.fill[Byte](16)(1), Seq(0))).isEmpty,
      "palette image without PLTE")
    assert(parsed(buildPng(4, 4, 2, okPx, Seq(7))).isEmpty, "bad filter type")
    // zip-bomb guard: huge declared dims, tiny body → NULL not an OOM
    val bomb = sig ++ chunk("IHDR", be32(100000) ++ be32(100000) ++
      Array[Byte](8, 2, 0, 0, 0)) ++ chunk("IDAT", Array[Byte](1, 2, 3)) ++
      chunk("IEND", Array.emptyByteArray)
    assert(parsed(bomb).isEmpty)
    // palette-expansion bomb: 5000x5000 palette PNG passes the 1-byte/px
    // raw cap (~25 MB) but would expand to 75 MB RGB — the guard must
    // reject BEFORE the 3x allocation, returning NULL
    locally {
      val n = 5000
      val pb = buildPng(n, n, 3, new Array[Byte](n * n), Seq(0),
        plte = Some(Array[Byte](1, 2, 3)))
      assert(parsed(pb).isEmpty, "palette-expansion bomb must be NULL")
    }
    // PPM P6 with a comment line; exact raster byte accounting
    val ppmPx = Array.tabulate[Byte](5 * 3 * 3)(i => ((i * 11) % 256).toByte)
    val ppm = ("P6\n# a comment\n5 3\n255\n").getBytes("ISO-8859-1") ++ ppmPx
    val (s1, s2, m1, m2, c1) = expected(ppmPx.map(_ & 0xFF).toSeq)
    assert(parsed(ppm).contains(("ppm", 5, 3, 3, 15L, s1, s2, m1, m2, c1)))
    assert(parsed(ppm.dropRight(1)).isEmpty, "short raster")
    assert(parsed("P6\n2 2\n65535\n".getBytes("ISO-8859-1") ++
      Array.fill[Byte](24)(0)).isEmpty, "16-bit maxval unsupported")
    // BMP 24bpp: bottom-up with row padding (3*3 → stride 12), then
    // top-down (negative height); padding bytes excluded from stats
    def bmp(w: Int, h: Int, rows: Array[Array[Byte]]): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val data = rows.flatMap(r => r ++ Array.fill[Byte](stride - w * 3)(99))
      val le32b = (v: Int) => Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val le16b = (v: Int) => Array[Byte](v.toByte, (v >> 8).toByte)
      "BM".getBytes("ISO-8859-1") ++ le32b(54 + data.length) ++
        le32b(0) ++ le32b(54) ++
        le32b(40) ++ le32b(w) ++ le32b(h) ++ le16b(1) ++ le16b(24) ++
        le32b(0) ++ le32b(data.length) ++ le32b(0) ++ le32b(0) ++
        le32b(0) ++ le32b(0) ++ data
    }
    val bmpRows = Array.fill(4)(Array.fill[Byte](3 * 3)(rng.nextInt(256).toByte))
    val (bs, bss, bmn, bmx, bc) = expected(
      bmpRows.flatten.map(_ & 0xFF).toSeq)
    assert(parsed(bmp(3, 4, bmpRows))
      .contains(("bmp", 3, 4, 3, 12L, bs, bss, bmn, bmx, bc)))
    assert(parsed(bmp(3, -4, bmpRows))
      .contains(("bmp", 3, 4, 3, 12L, bs, bss, bmn, bmx, bc)), "top-down")
    assert(parsed("BM then garbage".getBytes("UTF-8")).isEmpty)
    assert(parsed("random bytes".getBytes("UTF-8")).isEmpty)
    assert(parsed(Array.emptyByteArray).isEmpty)
    // the ImageIO tier: JPEG and GIF decode through the JDK codec,
    // stats agreeing with an independent ImageIO read of the same
    // bytes (lossy JPEG has codec-defined pixels — self-consistency
    // within the JVM is the contract, not construction replay)
    locally {
      val img = new java.awt.image.BufferedImage(20, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 10; x <- 0 until 20)
        img.setRGB(x, y, ((x * 37) % 256 << 16) | ((y * 53) % 256 << 8) | 77)
      def encoded(fmt: String): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        assert(javax.imageio.ImageIO.write(img, fmt, bos))
        bos.toByteArray
      }
      def refStats(bytes: Array[Byte]): (Long, Long, Int, Int) = {
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        var sum = 0L; var sumsq = 0L; var mn = 255; var mx = 0
        for (y <- 0 until back.getHeight; x <- 0 until back.getWidth;
            sh <- Seq(16, 8, 0)) {
          val v = (back.getRGB(x, y) >> sh) & 0xFF
          sum += v; sumsq += v.toLong * v
          mn = mn min v; mx = mx max v
        }
        (sum, sumsq, mn, mx)
      }
      for (fmt <- Seq("gif", "tiff")) {
        val bytes = encoded(fmt)
        val (rs, rss, rmn, rmx) = refStats(bytes)
        assert(parsed(bytes).contains((fmt, 20, 10, 3, 200L, rs, rss,
          rmn, rmx, if (rmn == rmx) 1 else 0)), s"$fmt: ${parsed(bytes)}")
      }
      // baseline jpg now decodes through the HAND decoder (JpegDecode)
      // whose chroma upsampling legitimately differs from the JDK's
      // interpolating filter — exact equality moves to the dedicated
      // differential spec; here the contract is dims/format plus
      // JDK-proximity of the aggregate
      locally {
        val bytes = encoded("jpg")
        val (rs, _, _, _) = refStats(bytes)
        val got = parsed(bytes)
        assert(got.isDefined && got.get._1 == "jpeg" && got.get._2 == 20 &&
          got.get._3 == 10 && got.get._4 == 3 && got.get._5 == 200L, got)
        assert(math.abs(got.get._6 - rs).toDouble / 600 <= 8.0,
          s"jpg mean |hand-jdk| too wide: hand=${got.get._6} jdk=$rs")
      }
      // TIFF is lossless: the decode must reproduce the EXACT set
      // pixels, not just self-consistency
      locally {
        val bytes = encoded("tiff")
        var sum = 0L
        for (y <- 0 until 10; x <- 0 until 20; sh <- Seq(16, 8, 0))
          sum += (img.getRGB(x, y) >> sh) & 0xFF
        assert(parsed(bytes).get._6 == sum, parsed(bytes))
      }
      // truncated JPEG: triage NULL, never an executor error
      assert(parsed(encoded("jpg").take(40)).isEmpty)
      // and the perceptual path composes: the SAME pixels as PNG-free
      // formats vs the lossy JPEG land within a small L1 (near-dup
      // across codecs), never equal-by-bytes
      val gifSig = Option(graft.expr.PixelGridSig.sig(encoded("gif"), 9, 7))
      assert(gifSig.isDefined)
    }
    // codegen'd SQL path agrees with the interpreted calls above, and
    // Multimodal.pixelStats derives mean/variance per its contract
    val media = Seq((1L, "image", okPng),
      (2L, "image", "junk".getBytes("UTF-8"))).toDF("media_id", "kind", "content")
    val out = graft.operators.Multimodal.pixelStats(media)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[String]("format") == "png" &&
      out(1L).getAs[Long]("sum") == 4L * 4 * 3 * 7 &&
      out(1L).getAs[Double]("mean") == 7.0 &&
      out(1L).getAs[Double]("variance") == 0.0 &&
      out(1L).getAs[Int]("constant") == 1)
    assert(out(2L).isNullAt(out(2L).fieldIndex("format")))
  }

  test("graft_sig_l1: native L1 kernel equals the composed HOF form") {
    val df = Seq(
      (1L, Seq(1, 5, 200, 0), Seq(4, 5, 190, 7)),
      (2L, Seq(0, 0), Seq(0, 0)),
      (3L, Seq(-3, 7), Seq(7, -3)),
      (4L, Seq(1, 2, 3), Seq(1, 2)) // length mismatch → NULL
    ).toDF("id", "a", "b")
    val native = call_function(graft.expr.SigL1.FunctionName, $"a", $"b")
    val composed = aggregate(zip_with($"a", $"b",
      (x, y) => abs(x - y).cast("long")), lit(0L), (acc, x) => acc + x)
    val rows = df.select($"id", native.as("n"), composed.as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(rows(1L) == 3L + 0L + 10L + 7L)
    assert(rows(2L) == 0L)
    assert(rows(3L) == 20L)
    assert(rows(4L) == null) // composed zip_with would pad with null
    // exact agreement with the composed form where both are defined
    df.filter($"id" =!= 4L)
      .select(native.as("n"), composed.as("c")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // null inputs → NULL, never an error
    val nn = Seq((1L, null.asInstanceOf[Seq[Int]], Seq(1)))
      .toDF("id", "a", "b")
      .select(call_function(graft.expr.SigL1.FunctionName, $"a", $"b"))
      .collect()(0)
    assert(nn.isNullAt(0))
  }

  test("graft_pixel_grid_sig: cross-format perceptual dedup, aHash banding") {
    // the SAME pixels encoded as PPM and as BMP must produce identical
    // grid signatures — content-level identity across container
    // formats, which byte-level dedup can never see
    val rng = new scala.util.Random(41)
    val w = 12; val h = 9
    val px = Array.fill[Byte](w * h * 3)(rng.nextInt(256).toByte)
    val ppm = (s"P6\n$w $h\n255\n").getBytes("ISO-8859-1") ++ px
    // BMP stores bottom-up BGR; build rows so the DECODED (top-down)
    // pixel grid matches the PPM byte-for-byte in per-pixel sums:
    // grid sums are per-pixel over channels, so BGR vs RGB is
    // indistinguishable — rows must still reverse
    val stride = ((w * 3 + 3) / 4) * 4
    val le32b = (v: Int) => Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val le16b = (v: Int) => Array[Byte](v.toByte, (v >> 8).toByte)
    val bmpData = (h - 1 to 0 by -1).toArray.flatMap { y =>
      px.slice(y * w * 3, (y + 1) * w * 3) ++
        Array.fill[Byte](stride - w * 3)(0)
    }
    val bmp = "BM".getBytes("ISO-8859-1") ++ le32b(54 + bmpData.length) ++
      le32b(0) ++ le32b(54) ++ le32b(40) ++ le32b(w) ++ le32b(h) ++
      le16b(1) ++ le16b(24) ++ le32b(0) ++ le32b(bmpData.length) ++
      le32b(0) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++ bmpData
    def sigOf(b: Array[Byte]) = Option(graft.expr.PixelGridSig.sig(b, 9, 7))
      .map(r => (r.getArray(3).toIntArray.toSeq, r.getLong(4)))
    val sp = sigOf(ppm); val sb = sigOf(bmp)
    assert(sp.isDefined && sp == sb, s"$sp vs $sb")
    // a small edit stays NEAR (low L1), not equal
    val edited = px.clone()
    var i = 0
    while (i < edited.length) { // +16 on every 5th byte (capped at 255)
      if (i % 5 == 0)
        edited(i) = (((edited(i) & 0xFF) min 239) + 16).toByte
      i += 1
    }
    val se = sigOf((s"P6\n$w $h\n255\n").getBytes("ISO-8859-1") ++ edited).get
    val l1 = sp.get._1.zip(se._1).map { case (a, b) => math.abs(a - b) }.sum
    assert(l1 > 0 && l1 <= 63 * 5, s"edit should be near: l1=$l1")
    // too-small images (empty blocks) and garbage → null
    assert(sigOf(("P6\n4 4\n255\n").getBytes("ISO-8859-1") ++
      Array.fill[Byte](48)(1)).isEmpty, "w < gx must be null")
    assert(sigOf("junk".getBytes("UTF-8")).isEmpty)
    // the SQL surface + the near-dup operator: cross-format twins pair
    // up at l1 = 0 through banding + verification
    val media = Seq((1L, ppm), (2L, bmp),
      (3L, "not an image".getBytes("UTF-8"))).toDF("media_id", "content")
    val pairs = graft.operators.Multimodal.imageNearDup(media, gx = 9, gy = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), pairs.toSeq)
    // dHash vs aHash on a UNIFORM +20 brightness copy (the classic
    // aHash weakness): every block mean moves +20 exactly (clamp-free
    // pixels ≤ 235), so gradient signs — and hence dhash — are
    // bit-identical, while the sig-L1 distance is 63·20 = 1260, far
    // past any sane verify threshold. The aHash pipeline must DROP
    // the pair; the dHash pipeline must KEEP it at hamming 0.
    locally {
      val basePx = Array.fill[Byte](w * h * 3)(rng.nextInt(236).toByte)
      val brightPx = basePx.map(b => ((b & 0xFF) + 20).toByte)
      def asPpm(p: Array[Byte]) =
        (s"P6\n$w $h\n255\n").getBytes("ISO-8859-1") ++ p
      val b1 = graft.expr.PixelGridSig.sig(asPpm(basePx), 9, 7)
      val b2 = graft.expr.PixelGridSig.sig(asPpm(brightPx), 9, 7)
      assert(b1.getLong(5) == b2.getLong(5), "dhash must survive +20")
      val bm = Seq((1L, asPpm(basePx)), (2L, asPpm(brightPx)))
        .toDF("media_id", "content")
      val aPairs = graft.operators.Multimodal.imageNearDup(bm, gx = 9, gy = 7)
        .collect()
      assert(aPairs.isEmpty, s"aHash pipeline should drop the +20 copy")
      val dPairs = graft.operators.Multimodal
        .imageNearDupDhash(bm, gx = 9, gy = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(dPairs.toSeq == Seq((1L, 2L, 0)), dPairs.toSeq)
    }
    // grid bound is a hard analysis error, not silent truncation
    val e = intercept[Exception] {
      Seq((1L, ppm)).toDF("media_id", "content")
        .select(call_function(graft.expr.PixelGridSig.FunctionName,
          $"content", lit(8), lit(8))).collect()
    }
    assert(e.getMessage.contains("63"), e.getMessage)
    // non-literal / non-integer gx arguments are TYPED analysis errors
    // naming the function, never a raw ClassCastException from the
    // resolution-time eval — and the error CLASS distinguishes the
    // failure shape: a column reference is NON_FOLDABLE_ARGUMENT, a
    // foldable literal of the wrong type is DATATYPE_MISMATCH
    for ((badGx, cls) <- Seq(
        ($"media_id", "NON_FOLDABLE_ARGUMENT"),
        (lit("9"), "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"),
        (lit(9.5), "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"))) {
      val ae = intercept[org.apache.spark.sql.AnalysisException] {
        Seq((1L, ppm)).toDF("media_id", "content")
          .select(call_function(graft.expr.PixelGridSig.FunctionName,
            $"content", badGx, lit(7))).collect()
      }
      assert(ae.getMessage.contains(graft.expr.PixelGridSig.FunctionName),
        ae.getMessage)
      assert(ae.getCondition == cls, s"$badGx: ${ae.getCondition}")
    }
  }

  test("graft_audio_meta decodes WAV/FLAC headers, nulls the rest") {
    // a genuine 44-byte WAV header with a LIST chunk of ODD size before
    // fmt (exercises the word-alignment pad in the chunk walk)
    val wav = ascii("RIFF") ++ le32(36 + 400) ++ ascii("WAVE") ++
      ascii("LIST") ++ le32(3) ++ Array[Byte](1, 2, 3, 0) ++ // 3 + pad
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16) ++
      ascii("data") ++ le32(400)
    val w = graft.expr.AudioMeta.parse(wav)
    assert(w != null && w.getInt(1) == 2 && w.getInt(2) == 44100 &&
      w.getInt(3) == 16 && w.getLong(4) == 100L)
    // fmt present, data absent → streaming header, 0 frames
    val wavNoData = ascii("RIFF") ++ le32(36) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16)
    val wnd = graft.expr.AudioMeta.parse(wavNoData)
    assert(wnd != null && wnd.getLong(4) == 0L)
    // FLAC STREAMINFO: 22050 Hz mono 16-bit, 12345 total samples
    val packed = (22050L << 44) | (0L << 41) | (15L << 36) | 12345L
    val pk = (0 until 8).map(i => ((packed >> (56 - 8 * i)) & 0xff).toByte)
    val flac = ascii("fLaC") ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
      Array.fill[Byte](10)(0) ++ pk ++ Array.fill[Byte](16)(0)
    val f = graft.expr.AudioMeta.parse(flac)
    assert(f != null && f.getUTF8String(0).toString == "flac" &&
      f.getInt(1) == 1 && f.getInt(2) == 22050 && f.getInt(3) == 16 &&
      f.getLong(4) == 12345L)
    // garbage / truncation / wrong first metadata block → null
    assert(graft.expr.AudioMeta.parse(ascii("not audio at all")) == null)
    assert(graft.expr.AudioMeta.parse(wav.take(20)) == null)
    assert(graft.expr.AudioMeta.parse(
      ascii("fLaC") ++ Array[Byte](4, 0, 0, 34) ++
        Array.fill[Byte](34)(0)) == null)
    assert(graft.expr.AudioMeta.parse(Array.emptyByteArray) == null)

    // ---- MP3: MPEG-1 Layer III, 128 kbps, 44100 Hz, joint stereo,
    // behind an ID3v2 tag with 17 bytes of tag body + zero padding.
    // Frame length = 144*128000/44100 = 417; 5 frames of filler →
    // n_frames = (2112/417)*1152 = 5*1152
    val id3 = ascii("ID3") ++ Array[Byte](4, 0, 0) ++
      Array[Byte](0, 0, 0, 17) ++ Array.fill[Byte](17)(0)
    val mp3hdr = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x40)
    val mp3 = id3 ++ mp3hdr ++ Array.fill[Byte](417 * 5 - 4)(0x55)
    val m3 = graft.expr.AudioMeta.parse(mp3)
    assert(m3 != null && m3.getUTF8String(0).toString == "mp3" &&
      m3.getInt(1) == 2 && m3.getInt(2) == 44100 && m3.getInt(3) == 16 &&
      m3.getLong(4) == 5L * 1152, m3)
    // bare-sync file (no ID3), MPEG-2 Layer III 24 kbps 16 kHz mono:
    // frame = 72*24000/16000 = 108; spf = 576
    val mp3v2 = Array[Byte](0xFF.toByte, 0xF3.toByte, 0x38.toByte,
      0xC0.toByte) ++ Array.fill[Byte](108 * 3 - 4)(0x55)
    val m32 = graft.expr.AudioMeta.parse(mp3v2)
    assert(m32 != null && m32.getUTF8String(0).toString == "mp3" &&
      m32.getInt(1) == 1 && m32.getInt(2) == 16000 &&
      m32.getLong(4) == 3L * 576, m32)
    // free-format (bitrate index 0) and bad samplerate index → null
    assert(graft.expr.AudioMeta.parse(
      Array[Byte](0xFF.toByte, 0xFB.toByte, 0x00, 0x40) ++
        Array.fill[Byte](100)(0x55)) == null)
    assert(graft.expr.AudioMeta.parse(
      Array[Byte](0xFF.toByte, 0xFB.toByte, 0x9C.toByte, 0x40) ++
        Array.fill[Byte](100)(0x55)) == null)

    // ---- OGG: one BOS page with a Vorbis id packet (30 bytes), one
    // data page carrying the final granule = 44100 total samples
    def oggPage(typ: Int, granule: Long, payload: Array[Byte]): Array[Byte] =
      ascii("OggS") ++ Array[Byte](0, typ.toByte) ++
        (0 until 8).map(i => ((granule >> (8 * i)) & 0xff).toByte).toArray ++
        le32(7777) ++ le32(0) ++ le32(0) ++
        Array[Byte](1, payload.length.toByte) ++ payload
    val vorbId = Array[Byte](1) ++ ascii("vorbis") ++ le32(0) ++
      Array[Byte](2) ++ le32(44100) ++ Array.fill[Byte](14)(0)
    val ogg = oggPage(2, -1L, vorbId) ++
      oggPage(4, 44100L, Array.fill[Byte](10)(9))
    val og = graft.expr.AudioMeta.parse(ogg)
    assert(og != null && og.getUTF8String(0).toString == "vorbis" &&
      og.getInt(1) == 2 && og.getInt(2) == 44100 &&
      og.getLong(4) == 44100L, og)
    // Opus: granule is 48k-based and includes the 312-sample pre-skip
    val opusId = ascii("OpusHead") ++ Array[Byte](1, 1) ++
      le16(312) ++ le32(24000) ++ Array.fill[Byte](5)(0)
    val oggOpus = oggPage(2, -1L, opusId) ++
      oggPage(4, 48312L, Array.fill[Byte](10)(9))
    val op = graft.expr.AudioMeta.parse(oggOpus)
    assert(op != null && op.getUTF8String(0).toString == "opus" &&
      op.getInt(1) == 1 && op.getInt(2) == 48000 &&
      op.getLong(4) == 48000L, op)
    // truncated mid-page: granule seen so far survives (triage)
    val oggTrunc = (oggPage(2, -1L, vorbId) ++
      oggPage(0, 22050L, Array.fill[Byte](10)(9)) ++
      oggPage(4, 44100L, Array.fill[Byte](10)(9))).dropRight(6)
    val ot = graft.expr.AudioMeta.parse(oggTrunc)
    assert(ot != null && ot.getLong(4) == 22050L, ot)
    // an OggS magic with no identification packet → null
    assert(graft.expr.AudioMeta.parse(
      oggPage(2, 0L, Array.fill[Byte](30)(7))) == null)
  }

  test("graft_audio_meta walks ADTS (AAC) frames exactly") {
    def adtsHdr(srIdx: Int, chCfg: Int, frameLen: Int, blocks: Int = 1,
        crc: Boolean = false): Array[Byte] = Array[Byte](
      0xFF.toByte, (0xF0 | (if (crc) 0 else 1)).toByte,
      (0x40 | (srIdx << 2) | (chCfg >> 2)).toByte,
      (((chCfg & 3) << 6) | (frameLen >> 11)).toByte,
      ((frameLen >> 3) & 0xff).toByte,
      (((frameLen & 7) << 5) | 0x1f).toByte,
      (0xfc | (blocks - 1)).toByte)
    // 3 frames, LC 44.1 kHz stereo, varying payload sizes (incl. 0)
    val s = adtsHdr(4, 2, 7 + 13) ++ Array.fill[Byte](13)(0x11) ++
      adtsHdr(4, 2, 7 + 5) ++ Array.fill[Byte](5)(0x22) ++
      adtsHdr(4, 2, 7)
    val m = graft.expr.AudioMeta.parse(s)
    assert(m != null && m.getUTF8String(0).toString == "aac" &&
      m.getInt(1) == 2 && m.getInt(2) == 44100 && m.getInt(3) == 16 &&
      m.getLong(4) == 3L * 1024, m)
    // CRC variant (9-byte header floor) with 2 raw data blocks; 8 kHz
    // mono; frameLen covers header + CRC + payload
    val mc = graft.expr.AudioMeta.parse(
      adtsHdr(11, 1, 13, blocks = 2, crc = true) ++ Array.fill[Byte](6)(0))
    assert(mc != null && mc.getInt(1) == 1 && mc.getInt(2) == 8000 &&
      mc.getLong(4) == 2048L, mc)
    // channel_configuration 7 is 7.1 = 8 channels
    val m71 = graft.expr.AudioMeta.parse(adtsHdr(3, 7, 7))
    assert(m71 != null && m71.getInt(1) == 8 && m71.getInt(2) == 48000)
    // truncated final frame: the walk stops at the last complete one
    val t = adtsHdr(4, 2, 20) ++ Array.fill[Byte](13)(1) ++
      adtsHdr(4, 2, 50) ++ Array.fill[Byte](10)(1)
    val mt = graft.expr.AudioMeta.parse(t)
    assert(mt != null && mt.getLong(4) == 1024L, mt)
    // mid-stream rate flip / bad srIdx / frameLen under the header /
    // PCE-defined channels (cfg 0) all triage to null
    assert(graft.expr.AudioMeta.parse(
      adtsHdr(4, 2, 7) ++ adtsHdr(5, 2, 7)) == null)
    assert(graft.expr.AudioMeta.parse(
      adtsHdr(13, 2, 20) ++ Array.fill[Byte](13)(0)) == null)
    assert(graft.expr.AudioMeta.parse(adtsHdr(4, 2, 3)) == null)
    assert(graft.expr.AudioMeta.parse(adtsHdr(4, 0, 7)) == null)
    // layer 00 dispatch is exact: an MPEG-1 Layer III sync (layer 01)
    // still routes to the mp3 branch, not ADTS
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x40) ++
      Array.fill[Byte](417 - 4)(0x55)
    val m3 = graft.expr.AudioMeta.parse(mp3)
    assert(m3 != null && m3.getUTF8String(0).toString == "mp3")
  }

  test("graft_audio_stats decodes WAV PCM samples exactly, nulls the rest") {
    def wav(ch: Int, rate: Int, bits: Int, data: Array[Byte],
        fmtCode: Int = 1, baOverride: Option[Int] = None,
        declaredSize: Option[Int] = None): Array[Byte] = {
      val ba = baOverride.getOrElse(ch * bits / 8)
      ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(fmtCode) ++ le16(ch) ++
        le32(rate) ++ le32(rate * ba) ++ le16(ba) ++ le16(bits) ++
        ascii("data") ++ le32(declaredSize.getOrElse(data.length)) ++ data
    }
    def parsed(b: Array[Byte]) = Option(graft.expr.AudioStats.parse(b))
    // 16-bit stereo with both full-scale extremes: every aggregate is
    // exact-integer-checkable against the sample list
    val samples = Seq(0, 1000, -1000, 32767, -32768, 12345, -1, 7)
    val data16 = samples.flatMap(v => le16(v & 0xFFFF).toSeq).toArray
    val r = parsed(wav(2, 44100, 16, data16)).get
    assert(r.getUTF8String(0).toString == "wav" && r.getInt(1) == 2 &&
      r.getInt(2) == 44100 && r.getInt(3) == 16)
    assert(r.getLong(4) == 4L && r.getLong(5) == 8L) // frames, samples
    assert(r.getLong(6) == samples.map(_.toLong).sum)
    assert(r.getLong(7) == samples.map(v => v.toLong * v).sum)
    assert(r.getInt(8) == 32768) // peak |−32768|
    assert(r.getLong(9) == 2L)   // 32767 and −32768 both clip
    assert(r.getInt(10) == 0)    // not silent
    // per-channel split = interleave position
    val ch0 = samples.zipWithIndex.collect { case (v, i) if i % 2 == 0 => v }
    val ch1 = samples.zipWithIndex.collect { case (v, i) if i % 2 == 1 => v }
    assert(r.getArray(11).toLongArray.toSeq ==
      Seq(ch0, ch1).map(_.map(v => v.toLong * v).sum))
    assert(r.getArray(12).toIntArray.toSeq ==
      Seq(ch0, ch1).map(_.map(math.abs).max))
    // 8-bit unsigned mono: recentered by −128, 0/255 are full scale
    val raw8 = Array(128, 0, 255, 200, 100)
    val r8 = parsed(wav(1, 8000, 8, raw8.map(_.toByte))).get
    val v8 = raw8.map(_ - 128)
    assert(r8.getInt(3) == 8 && r8.getLong(4) == 5L && r8.getLong(5) == 5L)
    assert(r8.getLong(6) == v8.map(_.toLong).sum &&
      r8.getLong(7) == v8.map(v => v.toLong * v).sum)
    assert(r8.getInt(8) == 128 && r8.getLong(9) == 2L && r8.getInt(10) == 0)
    // digital silence: all-zero 16-bit samples → silent=1, no clipping
    val rs = parsed(wav(1, 8000, 16, Array.fill[Byte](20)(0))).get
    assert(rs.getLong(4) == 10L && rs.getInt(8) == 0 &&
      rs.getLong(9) == 0L && rs.getInt(10) == 1)
    // ragged tail (data size not a multiple of block align) floors to
    // whole frames — the stray byte is ignored, stats unchanged
    val rt = parsed(wav(2, 8000, 16, data16 ++ Array[Byte](1))).get
    assert(rt.getLong(4) == 4L && rt.getLong(6) == r.getLong(6))
    // adversarial: each must be NULL, never an error
    assert(parsed(wav(2, 8000, 16, data16,
      declaredSize = Some(data16.length + 10))).isEmpty, "truncated data")
    assert(parsed(wav(2, 8000, 16, data16, fmtCode = 3)).isEmpty,
      "non-PCM (float) format")
    // 24/32-bit: the top two bytes ARE the arithmetic >>8/>>16 — the
    // low bytes must not shift the stats. Sample −2^23+0xAB00+0xCD
    // truncates to −32768 + 0xAB = −32597
    val s24 = Array[Byte](0xCD.toByte, 0xAB.toByte, 0x80.toByte, // −32597
      0x01, 0x00, 0x40)                                          // 16384
    val r24 = parsed(wav(1, 8000, 24, s24)).get
    assert(r24.getInt(3) == 24 && r24.getLong(4) == 2L)
    assert(r24.getLong(6) == -32597L + 16384L)
    assert(r24.getLong(7) == 32597L * 32597 + 16384L * 16384)
    assert(r24.getInt(8) == 32597 && r24.getLong(9) == 0L)
    val s32 = Array[Byte](1, 2, 0xFF.toByte, 0x7F.toByte,  // top = 32767: clips
      0, 0, 0x34, 0x12)                                    // top = 0x1234
    val r32 = parsed(wav(1, 8000, 32, s32)).get
    assert(r32.getInt(3) == 32 && r32.getLong(4) == 2L)
    assert(r32.getLong(6) == 32767L + 0x1234 && r32.getLong(9) == 1L)
    assert(parsed(wav(1, 8000, 20, Array.fill[Byte](10)(1))).isEmpty,
      "20-bit unsupported")
    assert(parsed(wav(2, 8000, 16, data16, baOverride = Some(3))).isEmpty,
      "blockAlign inconsistent with channels*depth")
    assert(parsed(ascii("fLaC") ++ Array.fill[Byte](50)(0)).isEmpty,
      "FLAC payload needs a codec")
    assert(parsed(ascii("garbage")).isEmpty)
    assert(parsed(Array.emptyByteArray).isEmpty)
    // SQL surface: Multimodal.audioStats derives rms/clip_rate in the
    // documented formula and joins the per-channel arrays to strings
    val media = Seq((1L, "audio", wav(2, 44100, 16, data16)),
      (2L, "audio", "junk".getBytes("UTF-8"))).toDF("media_id", "kind", "content")
    val out = graft.operators.Multimodal.audioStats(media)
      .collect().map(x => x.getAs[Long]("media_id") -> x).toMap
    val sumsq = samples.map(v => v.toLong * v).sum
    assert(out(1L).getAs[Double]("rms") ==
      BigDecimal(math.sqrt(sumsq.toDouble / 8))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1L).getAs[Double]("clip_rate") == 0.25)
    assert(out(1L).getAs[String]("ch_sumsq") ==
      Seq(ch0, ch1).map(_.map(v => v.toLong * v).sum).mkString(","))
    assert(out(1L).getAs[String]("ch_peak") ==
      Seq(ch0, ch1).map(_.map(math.abs).max).mkString(","))
    assert(out(2L).isNullAt(out(2L).fieldIndex("format")))
  }

  test("graft_audio_stats decodes G.711 and IMA ADPCM exactly, triages damage") {
    def wavG711(fmtCode: Int, ch: Int, data: Array[Byte],
        bits: Int = 8): Array[Byte] =
      ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(fmtCode) ++ le16(ch) ++
        le32(8000) ++ le32(8000 * ch) ++ le16(ch) ++ le16(bits) ++
        ascii("data") ++ le32(data.length) ++ data
    // IMA fmt carries the cbSize=2 extension with samplesPerBlock
    def wavIma(ch: Int, blockAlign: Int, spb: Int, data: Array[Byte],
        bits: Int = 4): Array[Byte] =
      ascii("RIFF") ++ le32(40 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(20) ++ le16(0x11) ++ le16(ch) ++
        le32(22050) ++ le32(11000) ++ le16(blockAlign) ++ le16(bits) ++
        le16(2) ++ le16(spb) ++
        ascii("data") ++ le32(data.length) ++ data
    def parsed(b: Array[Byte]) = Option(graft.expr.AudioStats.parse(b))

    // ---- G.711 against the JDK's OWN ulaw/alaw codecs — a fully
    // independent implementation of the same ITU tables
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    def jdkDecode(enc: AudioFormat.Encoding, bytes: Array[Byte]): Seq[Int] = {
      val src = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), src, bytes.length.toLong)
      val out = AudioSystem.getAudioInputStream(dst, ais).readAllBytes()
      out.grouped(2).map(a =>
        (((a(0) & 0xFF) | ((a(1) & 0xFF) << 8)).toShort).toInt).toSeq
    }
    val allCodes = (0 until 256).map(_.toByte).toArray
    for ((fmtCode, enc, name, full) <- Seq(
        (7, AudioFormat.Encoding.ULAW, "wav_ulaw", 32124),
        (6, AudioFormat.Encoding.ALAW, "wav_alaw", 32256))) {
      val ref = jdkDecode(enc, allCodes)
      val r = parsed(wavG711(fmtCode, 1, allCodes)).get
      assert(r.getUTF8String(0).toString == name && r.getInt(3) == 8)
      assert(r.getLong(4) == 256L && r.getLong(5) == 256L)
      assert(r.getLong(6) == ref.map(_.toLong).sum,
        s"$name sum vs JDK codec")
      assert(r.getLong(7) == ref.map(v => v.toLong * v).sum,
        s"$name sumsq vs JDK codec")
      assert(r.getInt(8) == ref.map(math.abs).max && r.getInt(8) == full)
      // exactly two full-scale codes exist (+max and −max)
      assert(r.getLong(9) == 2L, s"$name full-scale count")
    }
    // known anchor codes from the public G.711 tables
    val anchors = parsed(wavG711(7, 1, Array(0x00, 0x80, 0xFF, 0x7F)
      .map(_.toByte))).get
    assert(anchors.getLong(6) == (-32124L + 32124 + 0 + 0) &&
      anchors.getInt(8) == 32124)
    // stereo de-interleave: per-channel peaks split by position
    val st = parsed(wavG711(7, 2, Array(0x00, 0xFF, 0xFF, 0x80)
      .map(_.toByte))).get
    assert(st.getArray(12).toIntArray.toSeq == Seq(32124, 32124))
    assert(st.getArray(11).toLongArray.toSeq ==
      Seq(32124L * 32124, 32124L * 32124))

    // ---- IMA ADPCM mono: hand-stepped reference block
    // pred=100 idx=0, nibbles 0,1,8,0,0,0,F,F →
    // samples [100,100,101,101,101,101,101,90,60] (worked in-line:
    // step 7 throughout until idx jumps to 8 at the first F)
    val imaData = le16(100) ++ Array[Byte](0, 0) ++
      Array(0x10, 0x08, 0x00, 0xFF).map(_.toByte)
    val ri = parsed(wavIma(1, 8, 9, imaData)).get
    val expect = Seq(100, 100, 101, 101, 101, 101, 101, 90, 60)
    assert(ri.getUTF8String(0).toString == "wav_ima_adpcm" &&
      ri.getInt(1) == 1 && ri.getInt(2) == 22050 && ri.getInt(3) == 4)
    assert(ri.getLong(4) == 9L && ri.getLong(5) == 9L)
    assert(ri.getLong(6) == expect.map(_.toLong).sum)
    assert(ri.getLong(7) == expect.map(v => v.toLong * v).sum)
    assert(ri.getInt(8) == 101 && ri.getLong(9) == 0L)

    // stereo: data words alternate ch0, ch1 — ch0 pred=1000 idx=0
    // all-zero nibbles holds at 1000; ch1 pred=-500 idx=3 decays
    // [-500,-499,-498,-497,-497,-497,-497,-497,-497]
    val ch1Expect = Seq(-500, -499, -498, -497, -497, -497, -497, -497, -497)
    val imaSt = le16(1000) ++ Array[Byte](0, 0) ++
      le16(-500 & 0xFFFF) ++ Array[Byte](3, 0) ++
      Array.fill[Byte](4)(0) ++ Array.fill[Byte](4)(0)
    val rs = parsed(wavIma(2, 16, 9, imaSt)).get
    assert(rs.getLong(4) == 9L && rs.getLong(5) == 18L)
    assert(rs.getArray(11).toLongArray.toSeq == Seq(
      9L * 1000 * 1000, ch1Expect.map(v => v.toLong * v).sum))
    assert(rs.getArray(12).toIntArray.toSeq == Seq(1000, 500))

    // clamp rail: pred=32760 idx=88 (step 32767), eight 0x7 nibbles
    // pin the predictor at +32767 — all eight count as clipped
    val imaClip = le16(32760) ++ Array[Byte](88, 0) ++
      Array.fill[Byte](4)(0x77)
    val rc = parsed(wavIma(1, 8, 9, imaClip)).get
    assert(rc.getInt(8) == 32767 && rc.getLong(9) == 8L)

    // two blocks + ragged tail: tail floors to whole BLOCKS
    val r2 = parsed(wavIma(1, 8, 9, imaData ++ imaData ++
      Array[Byte](1, 2, 3))).get
    assert(r2.getLong(4) == 18L && r2.getLong(6) == 2 * expect.map(_.toLong).sum)

    // header index > 88 clamps (spec), not errors
    val imaHiIdx = le16(0) ++ Array[Byte](200.toByte, 0) ++
      Array.fill[Byte](4)(0)
    assert(parsed(wavIma(1, 8, 9, imaHiIdx)).nonEmpty)

    // adversarial: NULL, never an error
    assert(parsed(wavIma(1, 8, 7, imaData)).isEmpty,
      "samplesPerBlock disagreeing with the block layout")
    assert(parsed(wavIma(1, 10, 13, imaData ++ Array[Byte](0, 0))).isEmpty,
      "data area not whole 4-byte words")
    assert(parsed(wavIma(1, 8, 9, imaData, bits = 8)).isEmpty,
      "IMA with non-4-bit depth")
    assert(parsed(wavG711(7, 1, allCodes, bits = 16)).isEmpty,
      "G.711 with non-8-bit depth")
    assert(parsed(wavG711(2, 1, allCodes)).isEmpty,
      "MS-ADPCM needs an external codec")

    // plumbing: the codec formats flow through Multimodal.audioStats
    val media = Seq(
      (1L, "audio", wavG711(7, 1, allCodes)),
      (2L, "audio", wavIma(1, 8, 9, imaData))).toDF("media_id", "kind", "content")
    val out = graft.operators.Multimodal.audioStats(media)
      .collect().map(x => x.getAs[Long]("media_id") -> x).toMap
    assert(out(1L).getAs[String]("format") == "wav_ulaw")
    assert(out(2L).getAs[String]("format") == "wav_ima_adpcm")
    assert(out(2L).getAs[Long]("n_samples") == 9L)
  }

  test("graft_audio_stats decodes MS-ADPCM blocks, reads the file's coef table") {
    def wavMs(ch: Int, blockAlign: Int, spb: Int, data: Array[Byte],
        coefs: Seq[(Int, Int)] =
          graft.expr.AudioStats.MsStdCoef1.zip(
            graft.expr.AudioStats.MsStdCoef2).toSeq,
        bits: Int = 4): Array[Byte] = {
      val ext = le16(4 + 4 * coefs.size) ++ le16(spb) ++ le16(coefs.size) ++
        coefs.flatMap { case (a, b2) => (le16(a & 0xFFFF) ++
          le16(b2 & 0xFFFF)).toSeq }
      val fmtSz = 16 + ext.length
      ascii("RIFF") ++ le32(20 + fmtSz + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(fmtSz) ++ le16(2) ++ le16(ch) ++
        le32(11025) ++ le32(11025) ++ le16(blockAlign) ++ le16(bits) ++ ext ++
        ascii("data") ++ le32(data.length) ++ data
    }
    def parsed(b: Array[Byte]) = Option(graft.expr.AudioStats.parse(b))

    // mono, coef pair 0 (256, 0): hand-stepped reference block —
    // header (pi=0, delta=16, s1=100, s2=50), nibbles 1,2,9,F →
    // samples [50, 100, 116, 148, 36, -2] (spb 6)
    val blk1 = Array[Byte](0) ++ le16(16) ++ le16(100) ++ le16(50) ++
      Array(0x12, 0x9F).map(_.toByte)
    val r1 = parsed(wavMs(1, 9, 6, blk1)).get
    val exp1 = Seq(50, 100, 116, 148, 36, -2)
    assert(r1.getUTF8String(0).toString == "wav_ms_adpcm" &&
      r1.getInt(1) == 1 && r1.getInt(3) == 4)
    assert(r1.getLong(4) == 6L && r1.getLong(5) == 6L)
    assert(r1.getLong(6) == exp1.map(_.toLong).sum)
    assert(r1.getLong(7) == exp1.map(v => v.toLong * v).sum)
    assert(r1.getInt(8) == 148 && r1.getLong(9) == 0L)

    // coef pair 1 (512, −256) exercises the two-tap history and the
    // arithmetic (floor) >> 8 on a NEGATIVE dot product:
    // header (pi=1, delta=20, s1=200, s2=100), nibbles 8,0,0,8 →
    // samples [100, 200, 140, 80, 20, -416]
    val blk2 = Array[Byte](1) ++ le16(20) ++ le16(200) ++ le16(100) ++
      Array(0x80, 0x08).map(_.toByte)
    val r2 = parsed(wavMs(1, 9, 6, blk2)).get
    val exp2 = Seq(100, 200, 140, 80, 20, -416)
    assert(r2.getLong(6) == exp2.map(_.toLong).sum)
    assert(r2.getLong(7) == exp2.map(v => v.toLong * v).sum)
    assert(r2.getInt(8) == 416)

    // stereo: nibbles alternate channels (high first); ch1 uses coef
    // pair 2 (0, 0) so its outputs are pure n·delta steps
    // ch0: [500,1000,1032,904]; ch1: [3,7,100,267]
    val blkSt = Array[Byte](0, 2) ++ le16(16) ++ le16(100) ++
      le16(1000) ++ le16(7) ++ le16(500) ++ le16(3) ++
      Array(0x21, 0x83).map(_.toByte)
    val rs = parsed(wavMs(2, 16, 4, blkSt)).get
    assert(rs.getLong(4) == 4L && rs.getLong(5) == 8L)
    val ch0 = Seq(500, 1000, 1032, 904)
    val ch1 = Seq(3, 7, 100, 267)
    assert(rs.getArray(11).toLongArray.toSeq ==
      Seq(ch0, ch1).map(_.map(v => v.toLong * v).sum))
    assert(rs.getArray(12).toIntArray.toSeq == Seq(1032, 267))

    // the coefficient table is READ FROM THE FILE: a custom single
    // pair (300, −50) from s1=s2=256 with all-zero nibbles decays
    // [256,256,250,242,234,226] — the standard pair 0 (256,0) would
    // hold flat at 256, so the sum discriminates the tables
    val blkC = Array[Byte](0) ++ le16(16) ++ le16(256) ++ le16(256) ++
      Array[Byte](0x00, 0x00)
    val rc = parsed(wavMs(1, 9, 6, blkC, coefs = Seq((300, -50)))).get
    assert(rc.getLong(6) == 256L + 256 + 250 + 242 + 234 + 226,
      s"custom coef table: ${rc.getLong(6)}")
    assert(rc.getInt(8) == 256)

    // damaged-block triage: predictor index past the coef table skips
    // THAT block; the following good block still decodes
    val bad = Array[Byte](9) ++ le16(16) ++ le16(100) ++ le16(50) ++
      Array(0x12, 0x9F).map(_.toByte)
    val rg = parsed(wavMs(1, 9, 6, bad ++ blk1)).get
    assert(rg.getLong(4) == 6L && rg.getLong(6) == exp1.map(_.toLong).sum)

    // adversarial: NULL, never an error
    assert(parsed(wavMs(1, 9, 5, blk1)).isEmpty,
      "samplesPerBlock disagreeing with the block layout")
    assert(parsed(wavMs(1, 9, 6, blk1, bits = 8)).isEmpty,
      "MS-ADPCM with non-4-bit depth")
    assert(parsed(wavMs(1, 9, 6, blk1, coefs = Seq.empty)).isEmpty,
      "empty coefficient table")
  }

  test("graft_http_text: charset precedence (BOM > hint > sniff > cp1252)") {
    def p(b: Array[Byte]) = Option(graft.expr.HttpText.parse(b))
    def mk(head: String, body: Array[Byte]): Array[Byte] =
      (head + "\r\n\r\n").getBytes("ISO-8859-1") ++ body
    def f(b: Array[Byte]) = p(b).map(r => (
      if (r.isNullAt(0)) -1 else r.getInt(0),
      r.getUTF8String(1).toString, r.getUTF8String(2).toString,
      r.getUTF8String(3).toString))
    // declared utf-8: multi-byte é survives
    assert(f(mk("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8",
      "café".getBytes("UTF-8")))
      .contains((200, "text/html", "utf-8", "café")))
    // declared latin-1: 0xE9 (invalid UTF-8) decodes as é
    assert(f(mk("HTTP/1.0 404 NF\r\nContent-Type: text/html; charset=ISO-8859-1",
      Array('c'.toByte, 0xE9.toByte)))
      .contains((404, "text/html", "iso-8859-1", "cé")))
    // undeclared + invalid UTF-8 → the cp1252 web fallback, which maps
    // 0x93/0x94 to curly quotes (latin-1 would give C1 controls)
    assert(f(mk("HTTP/1.1 200 OK\r\nContent-Type: text/html",
      Array(0x93.toByte, 'x'.toByte, 0x94.toByte)))
      .contains((200, "text/html", "windows-1252", "“x”")))
    // undeclared + valid UTF-8 → sniffed utf-8
    assert(f(mk("HTTP/1.1 200 OK\r\nContent-Type: text/plain",
      "ok café".getBytes("UTF-8")))
      .contains((200, "text/plain", "utf-8", "ok café")))
    // a BOM wins over a WRONG declared charset
    assert(f(mk("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8",
      Array(0xFF.toByte, 0xFE.toByte) ++ "hi".getBytes("UTF-16LE")))
      .contains((200, "text/html", "utf-16le", "hi")))
    assert(f(mk("HTTP/1.1 200 OK",
      Array(0xFE.toByte, 0xFF.toByte) ++ "hi".getBytes("UTF-16BE")))
      .contains((200, "", "utf-16be", "hi")))
    // unknown charset label falls through to the sniff
    assert(f(mk("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=klingon",
      "plain".getBytes("UTF-8")))
      .contains((200, "text/html", "utf-8", "plain")))
    // no header/body separator: headers parsed, empty body (truncation)
    assert(f("HTTP/1.1 301 Moved\r\nContent-Type: text/html".getBytes)
      .contains((301, "text/html", "utf-8", "")))
    // non-HTTP payload: NULL status, body still decodes after the sep
    assert(f(mk("X-Whatever: yes", "data".getBytes))
      .contains((-1, "", "utf-8", "data")))
    assert(p(Array.emptyByteArray).isEmpty)
  }

  test("graft_epub_text: hand zip walk (stored+deflated+descriptors), spine order") {
    def parse(b: Array[Byte]) = Option(graft.expr.EpubText.parse(b)).map(_.toString)
    val container =
      """<?xml version="1.0"?>
        |<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        | <rootfiles><rootfile full-path="OEBPS/content.opf"
        |   media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin
    val opf =
      """<?xml version="1.0"?>
        |<package xmlns="http://www.idpf.org/2007/opf" version="3.0">
        | <manifest>
        |  <item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
        |  <item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>
        | </manifest>
        | <spine><itemref idref="c2"/><itemref idref="c1"/></spine>
        |</package>""".stripMargin
    val entries = Seq(
      "mimetype" -> "application/epub+zip",
      "META-INF/container.xml" -> container,
      "OEBPS/content.opf" -> opf,
      "OEBPS/ch1.xhtml" -> "<p>first&nbsp;chapter python</p>",
      "OEBPS/ch2.xhtml" -> "<h1>Second &amp; chapter</h1> spark")
    // ZipOutputStream writes DEFLATED entries with data descriptors —
    // the form the hand walk must cross via the inflater's byte count
    def zipDeflated(es: Seq[(String, String)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      es.foreach { case (n, c) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(n))
        zos.write(c.getBytes("UTF-8")); zos.closeEntry()
      }
      zos.close(); bos.toByteArray
    }
    // hand-built STORED zip with a deliberately WRONG CRC: the walk
    // must not care (a flipped bit costs a chapter, not the book —
    // and oracle fixtures replay without computing CRC32 in SQL)
    def zipStored(es: Seq[(String, String)]): Array[Byte] =
      es.flatMap { case (n, c) =>
        val name = n.getBytes("UTF-8")
        val data = c.getBytes("UTF-8")
        (Array[Byte]('P', 'K', 3, 4) ++ le16(20) ++ le16(0) ++ le16(0) ++
          le16(0) ++ le16(0) ++ le32(0xBAD) ++ le32(data.length) ++
          le32(data.length) ++ le16(name.length) ++ le16(0) ++
          name ++ data).toSeq
      }.toArray
    val expected = "Second & chapter spark\nfirst chapter python\n"
    assert(parse(zipDeflated(entries)).contains(expected), "deflated")
    assert(parse(zipStored(entries)).contains(expected), "stored, bad CRC")
    // STORED entries with the data-descriptor flag set but sizes in
    // the header: the 12/16-byte descriptor after the payload must be
    // skipped or every following entry is silently dropped
    def zipStoredDesc(es: Seq[(String, String)], signed: Boolean): Array[Byte] =
      es.flatMap { case (n, c) =>
        val name = n.getBytes("UTF-8")
        val data = c.getBytes("UTF-8")
        val desc =
          (if (signed) Array[Byte]('P', 'K', 7, 8) else Array.emptyByteArray) ++
            le32(0xBAD) ++ le32(data.length) ++ le32(data.length)
        (Array[Byte]('P', 'K', 3, 4) ++ le16(20) ++ le16(8) ++ le16(0) ++
          le16(0) ++ le16(0) ++ le32(0xBAD) ++ le32(data.length) ++
          le32(data.length) ++ le16(name.length) ++ le16(0) ++
          name ++ data ++ desc).toSeq
      }.toArray
    assert(parse(zipStoredDesc(entries, signed = true)).contains(expected),
      "stored + signed descriptor")
    assert(parse(zipStoredDesc(entries, signed = false)).contains(expected),
      "stored + bare descriptor")
    // damaged package metadata → archive-order markup fallback
    assert(parse(zipStored(Seq(
      "a.xhtml" -> "<p>alpha</p>", "b.html" -> "<p>beta</p>")))
      .contains("alpha\nbeta\n"))
    // truncated archive: the cut removes the LAST entry (ch2), so the
    // spine skips it and the surviving chapter still extracts
    assert(parse(zipStored(entries).dropRight(10))
      .contains("first chapter python\n"), "truncation keeps decoded chapters")
    // triage: not a zip / zip without chapters / empty → NULL
    assert(parse("not a zip at all".getBytes).isEmpty)
    assert(parse(zipStored(Seq("data.bin" -> "junk"))).isEmpty)
    assert(parse(Array.emptyByteArray).isEmpty)
  }

  test("graft_pdf_text: shared parser distributed — filters, CMaps, triage") {
    def parse(b: Array[Byte]) = Option(graft.expr.PdfText.parse(b)).map(_.toString)
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(ascii(s)); d.finish()
      val buf = new Array[Byte](1024)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    // raw stream + Flate stream + TWO ToUnicode CMaps: a 2-byte
    // (Identity-H) one resolved via the resource /Font dict, and a
    // 1-byte one (mixed widths → the merged fallback stays per-byte)
    val cmap = "/CIDInit begincmap beginbfchar <0041> <65E5> endbfchar endcmap"
    val cmap1 = "/CIDInit begincmap beginbfchar <02> <00E9> endbfchar endcmap"
    val flated = deflate("BT (flate page) Tj ET")
    val pdf = ascii("%PDF-1.4\n") ++
      ascii("1 0 obj << /Font << /F7 5 0 R >> >> endobj\n") ++
      ascii("5 0 obj << /Type /Font /ToUnicode 6 0 R >> endobj\n") ++
      ascii(s"6 0 obj << /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n") ++
      ascii(s"7 0 obj << /Length ${cmap1.length} >>\nstream\n$cmap1\nendstream\nendobj\n") ++
      ascii("2 0 obj << /Length 0 >>\nstream\n" +
        "BT (plain \\050paren\\051 line\\002) Tj 0 -12 Td /F7 10 Tf <0041> Tj ET\n" +
        "endstream\nendobj\n") ++
      ascii(s"3 0 obj << /Filter /FlateDecode /Length ${flated.length} >>\nstream\n") ++
      flated ++ ascii("\nendstream\nendobj\n%%EOF\n")
    // the pre-Tf run decodes per byte (WinAnsi identity + the 1-byte
    // CMap's \002 → é); the /F7 run decodes <0041> as a TWO-byte code
    // through its own CMap (→ 日)
    assert(parse(pdf).contains("plain (paren) lineé\n日\nflate page\n"),
      parse(pdf))
    // expression output == the file reader on the same bytes (the
    // shared-core guarantee the EPUB tier established)
    val tmp = java.nio.file.Files.createTempFile("graft", ".pdf")
    java.nio.file.Files.write(tmp, pdf)
    assert(parse(pdf).contains(
      graft.sources.Documents.readResume(tmp.toString)))
    java.nio.file.Files.delete(tmp)
    // triage: not a PDF / header but no text / empty / null → NULL
    assert(parse(ascii("plain text, no header")).isEmpty)
    assert(parse(ascii("%PDF-1.4\nno streams here")).isEmpty)
    assert(parse(Array.emptyByteArray).isEmpty)
    assert(parse(null).isEmpty)
    // a Flate bomb past MaxStreamBytes fails THAT stream, keeps the rest
    val bomb = {
      val d = new java.util.zip.Deflater()
      val zeros = new Array[Byte](1 << 20)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      for (_ <- 0 until 40) { d.setInput(zeros); while (!d.needsInput()) out.write(buf, 0, d.deflate(buf)) }
      d.finish(); while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val bombed = ascii("%PDF-1.4\n") ++
      ascii(s"2 0 obj << /Filter /FlateDecode >>\nstream\n") ++ bomb ++
      ascii("\nendstream\nendobj\n") ++
      ascii("3 0 obj << >>\nstream\nBT (survivor) Tj ET\nendstream\nendobj\n")
    assert(parse(bombed).contains("survivor\n"))
  }

  test("graft_exif_orientation: APP1 walk, both byte orders, multi-tag IFDs") {
    def parse(b: Array[Byte]) = graft.expr.ExifOrientation.parse(b)
    def hx(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // Exif APP1 AFTER a JFIF APP0 (the shipping camera layout), the
    // orientation tag NOT first among three IFD0 entries, big-endian
    val multi = hx(
      "FFD8" +
      "FFE000104A46494600010100000100010000" + // APP0 first
      "FFE1003A457869660000" + // APP1 len 58
      "4D4D002A 00000008" +
      "0003" + // three entries
      "010F 0002 00000004 41434D45" + // Make = inline ASCII
      "0112 0003 00000001 00060000" + // orientation 6
      "011A 0005 00000001 0000003E" + // XResolution (offset)
      "00000000" +
      "FFD9")
    assert(parse(multi) == Integer.valueOf(6), parse(multi))
    // little-endian TIFF file directly, tag second
    val tiff = hx(
      "49492A00 08000000" +
      "0200" +
      "0001 0400 01000000 40000000" + // ImageWidth LONG
      "1201 0300 01000000 03000000" + // orientation 3
      "00000000")
    assert(parse(tiff) == Integer.valueOf(3))
    // out-of-range values → NULL (entry 2 starts at 22; value at 30)
    val zero = tiff.clone(); zero(30) = 0
    assert(parse(zero) == null)
    val nine = tiff.clone(); nine(30) = 9
    assert(parse(nine) == null)
    // no Exif APP1 / SOS before APP1 / junk / null → NULL
    assert(parse(hx("FFD8FFDA0008010100003F00AA")) == null)
    assert(parse("not an image".getBytes) == null)
    assert(parse(null) == null)
  }

  test("graft_orient_pixels: all eight Exif transforms against hand-rotated matrices") {
    import graft.expr.OrientPixels
    // a 3×2 image with distinct per-pixel gray values:
    //   A B C
    //   D E F
    def ppm(w: Int, h: Int, vals: Seq[Int]): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("ISO-8859-1") ++
        vals.flatMap(v => Seq.fill(3)(v.toByte)).toArray
    val src = ppm(3, 2, Seq(1, 2, 3, 4, 5, 6))
    def gridOf(b: Array[Byte]): (Int, Int, Seq[Int]) = {
      val s = new String(b, "ISO-8859-1")
      val m = "P6\n(\\d+) (\\d+)\n255\n".r.findFirstMatchIn(s).get
      val w = m.group(1).toInt; val h = m.group(2).toInt
      val data = b.drop(m.matched.length)
      (w, h, (0 until w * h).map(i => data(i * 3) & 0xFF))
    }
    // hand-derived display grids per Exif value
    val expected = Map(
      1 -> ((3, 2, Seq(1, 2, 3, 4, 5, 6))),
      2 -> ((3, 2, Seq(3, 2, 1, 6, 5, 4))), // mirror horizontal
      3 -> ((3, 2, Seq(6, 5, 4, 3, 2, 1))), // rotate 180
      4 -> ((3, 2, Seq(4, 5, 6, 1, 2, 3))), // mirror vertical
      5 -> ((2, 3, Seq(1, 4, 2, 5, 3, 6))), // transpose
      6 -> ((2, 3, Seq(4, 1, 5, 2, 6, 3))), // stored needs 90° CW
      7 -> ((2, 3, Seq(6, 3, 5, 2, 4, 1))), // transverse
      8 -> ((2, 3, Seq(3, 6, 2, 5, 1, 4)))) // stored needs 270° CW
    for ((o, exp) <- expected) {
      val got = gridOf(OrientPixels.orient(src, o))
      assert(got == exp, s"orientation $o: got $got want $exp")
    }
    // rotate-then-normalize round-trip: transform 8 (rotate stored
    // 270° CW) is orientation 6's inverse, so an image stored as the
    // o=8 output with orientation 6 normalizes BACK to display
    val stored = ppm(2, 3, Seq(3, 6, 2, 5, 1, 4)) // CCW of display
    assert(gridOf(OrientPixels.orient(stored, 6)) ==
      ((3, 2, Seq(1, 2, 3, 4, 5, 6))))
    // composes across formats: the JPEG hand-decode path feeds the
    // same transform (DC-only flat block → rotation preserves it)
    // and out-of-range / undecodable → NULL
    assert(OrientPixels.orient(src, 0) == null)
    assert(OrientPixels.orient(src, 9) == null)
    assert(OrientPixels.orient("junk".getBytes, 1) == null)
    assert(OrientPixels.orient(null, 1) == null)
  }

  test("graft_document_text dispatch boundaries: non-documents → null") {
    def p(b: Array[Byte]) = graft.expr.DocumentText.parse(b)
    // a plain zip is an archive, not a document
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("data.csv"))
    z.write("a,b\n1,2\n".getBytes); z.closeEntry(); z.close()
    assert(p(bos.toByteArray) == null)
    // plain text / markdown must NOT round-trip through a parser
    assert(p("# heading\nplain text".getBytes) == null)
    // an .xls-shaped CFB (no WordDocument) → null through the doc arm
    assert(p(graft.expr.DocBuild.cfb(
      Seq("Workbook" -> Array.fill[Byte](64)(3)))) == null)
    assert(p(null) == null)
    // an encrypted PDF routes through the crypt-aware extractor
    val enc = graft.sources.PdfCryptBuild.build(3, 2, 128, aes = false,
      Array.emptyByteArray, Seq("dispatched fine"), "flate line")
    assert(p(enc).toString == "dispatched fine\nflate line\n")
  }

  test("http transport decode: chunked framing + Content-Encoding") {
    def textOf(b: Array[Byte]) =
      graft.expr.HttpText.parse(b).getUTF8String(3).toString
    def bodyOf(b: Array[Byte]) = graft.expr.HttpBody.parse(b).getBinary(2)
    val doc = "<html>transport body émile</html>"
    val raw = doc.getBytes("UTF-8")
    // chunked: two chunks with an extension, trailers ignored
    val cut = 11
    val chunked = ascii("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" +
      cut.toHexString + ";ext=1\r\n") ++ raw.take(cut) ++
      ascii("\r\n" + (raw.length - cut).toHexString + "\r\n") ++
      raw.drop(cut) ++ ascii("\r\n0\r\nX-Trailer: t\r\n\r\n")
    assert(textOf(chunked) == doc)
    // gzip Content-Encoding (the crawl default)
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(raw); g.close(); bos.toByteArray
    }
    val gzipped = ascii("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      "Content-Encoding: gzip\r\n\r\n") ++ gz
    assert(textOf(gzipped) == doc)
    // chunked + gzipped composed (transfer THEN content decode)
    val both = ascii("HTTP/1.1 200 OK\r\n" +
      "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n" +
      gz.length.toHexString + "\r\n") ++ gz ++ ascii("\r\n0\r\n\r\n")
    assert(textOf(both) == doc)
    // zlib deflate AND raw deflate both decode
    def deflate(nowrap: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    for (nowrap <- Seq(false, true)) {
      val p = ascii("HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n\r\n") ++ deflate(nowrap)
      assert(textOf(p) == doc, s"deflate nowrap=$nowrap")
    }
    // zstd on the binary sibling: a compressed PDF body arrives as bytes
    val pdfish = Array[Byte](0x25, 0x50, 0x44, 0x46, 0xFF.toByte, 0x00)
    val zb = ascii("HTTP/1.1 200 OK\r\n" +
      "Content-Type: application/pdf\r\nContent-Encoding: zstd\r\n\r\n") ++
      graft.expr.ZstdBuild.store(pdfish)
    assert(bodyOf(zb).toSeq == pdfish.toSeq)
    // unknown/brotli encodings keep the raw bytes (fail-open transport)
    val br = ascii("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n" +
      "Content-Type: text/html\r\n\r\nNOT BROTLI")
    assert(new String(bodyOf(br), "ISO-8859-1") == "NOT BROTLI")
    // malformed chunk framing: body returned unchanged, never an error
    val badChunk = ascii("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: chunked\r\nContent-Type: text/plain\r\n\r\n" +
      "zz not chunked at all")
    assert(new String(bodyOf(badChunk), "ISO-8859-1") ==
      "zz not chunked at all")
    // torn chunked tail keeps what arrived
    val torn = ascii("HTTP/1.1 200 OK\r\n" +
      "Transfer-Encoding: chunked\r\nContent-Type: text/plain\r\n\r\n" +
      "5\r\nhello\r\nff\r\nworld but torn")
    assert(new String(bodyOf(torn), "ISO-8859-1") == "helloworld but torn")
  }

  test("graft_http_body: binary body split for non-text crawl payloads") {
    def parse(b: Array[Byte]) = Option(graft.expr.HttpBody.parse(b))
    // binary body bytes must survive UNDECODED — including sequences
    // that are invalid UTF-8 (the text path would replace them)
    val body = Array[Byte](0x25, 0x50, 0x44, 0x46, 0xFF.toByte,
      0xFE.toByte, 0x00, 0x89.toByte)
    val payload = ascii("HTTP/1.1 200 OK\r\n" +
      "Content-Type: application/pdf; name=\"x.pdf\"\r\n\r\n") ++ body
    val r = parse(payload).get
    assert(r.getInt(0) == 200)
    assert(r.getUTF8String(1).toString == "application/pdf")
    assert(r.getBinary(2).toSeq == body.toSeq)
    // no header/body boundary: NULL status, empty content_type, EMPTY
    // body — the same truncated-response triage as the text sibling
    // (a payload without CRLFCRLF has no identifiable body)
    val bare = ascii("no http here at all")
    val r2 = parse(bare).get
    assert(r2.isNullAt(0) && r2.getUTF8String(1).toString == "")
    assert(r2.getBinary(2).isEmpty)
    // headers only → empty body; null/empty → NULL
    val r3 = parse(ascii("HTTP/1.1 404 NF\r\nContent-Type: a/b\r\n\r\n")).get
    assert(r3.getInt(0) == 404 && r3.getBinary(2).isEmpty)
    assert(parse(Array.emptyByteArray).isEmpty)
    assert(parse(null).isEmpty)
    // header fields agree with the text sibling on the same payload
    val t = graft.expr.HttpText.parse(payload)
    assert(t.getInt(0) == r.getInt(0) &&
      t.getUTF8String(1).toString == r.getUTF8String(1).toString)
  }

  test("graft_docx_text: shared WordprocessingML walk over the hand zip walk") {
    def parse(b: Array[Byte]) = Option(graft.expr.DocxText.parse(b)).map(_.toString)
    val xml =
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body>
        | <w:p><w:r><w:t>first</w:t></w:r><w:r><w:tab/></w:r><w:r><w:t>run</w:t></w:r></w:p>
        | <w:p><w:r><w:t>br</w:t><w:br/><w:t>eak</w:t></w:r></w:p>
        | <w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell text excluded</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
        | <w:p><w:r><w:drawing><w:txbxContent><w:t>box excluded</w:t></w:txbxContent></w:drawing></w:r><w:r><w:t>tail</w:t></w:r></w:p>
        |</w:body>
        |</w:document>""".stripMargin
    def zip(es: Seq[(String, String)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      es.foreach { case (n, c) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(n))
        zos.write(c.getBytes("UTF-8")); zos.closeEntry()
      }
      zos.close(); bos.toByteArray
    }
    val docx = zip(Seq("[Content_Types].xml" -> "<Types/>",
      "word/document.xml" -> xml))
    val expected = "first\trun\nbr\neak\ntail\n"
    assert(parse(docx).contains(expected), parse(docx))
    // expression output == the file reader on the same bytes
    val tmp = java.nio.file.Files.createTempFile("graft", ".docx")
    java.nio.file.Files.write(tmp, docx)
    assert(parse(docx).contains(
      graft.sources.Documents.readResume(tmp.toString)))
    java.nio.file.Files.delete(tmp)
    // triage: no document.xml / malformed XML / not a zip / null → NULL
    assert(parse(zip(Seq("other.xml" -> xml))).isEmpty)
    assert(parse(zip(Seq("word/document.xml" -> "<w:document><unclosed")))
      .isEmpty)
    assert(parse("PK not really".getBytes).isEmpty)
    assert(parse(null).isEmpty)
  }

  test("graft_rtf_to_text: nested-group skipping, escapes, unicode, triage") {
    def x(s: String) = Option(graft.expr.RtfToText.extract(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)))
      .map(_.toString)
    // the canonical shape: font table (nested group!) dropped whole,
    // formatting words dropped, the control-word delimiter space is
    // NOT content (spec), \par → newline
    assert(x("""{\rtf1\ansi{\fonttbl{\f0 Times New Roman;}}\f0\fs24 Hello \b bold \b0 world\par second\par}""")
      .contains("Hello bold world\nsecond\n"))
    // \*-marked ignorable destinations and pict groups drop entirely
    assert(x("""{\rtf1{\*\themedata 0011aabb}{\pict 89504e47}text}""")
      .contains("text"))
    // escapes: \{ \} \\ literals, \'hh Latin-1, \~ nbsp, \_ hyphen,
    // \emdash/\tab/\lquote specials
    assert(x("""{\rtf1 caf\'e9 \{x\} a\~b c\_d\tab e\emdash f\lquote g}""")
      .contains("café {x} a b c-d\te-f'g"))
    // \uN with \uc1 fallback skipping (the '?' must not leak), and
    // the spec's negative signed-16-bit form
    assert(x("{\\rtf1\\uc1" + "\\u" + "26085?" + "\\u" + "26412? ok " +
        "\\u" + "-1234?}")
      .contains("\u65E5\u672C ok \uFB2E"))
    // \binN skips raw payload bytes, clamped to the buffer
    assert(x("""{\rtf1\bin5 ABCDEtail}""").contains("tail"))
    assert(x("""{\rtf1\bin99 ABC}""").contains(""))
    // \uc is group-scoped: inner \uc2 must not leak out of its group
    assert(x("{\\rtf1\\uc1{\\uc2" + "\\u" + "65?\\'3f}" + "\\u" + "66?x}")
      .contains("ABx"))
    // raw CR/LF in the source are not content (spec)
    assert(x("{\\rtf1 a\r\nb}").contains("ab"))
    // triage: unbalanced/truncated keeps what was extracted
    assert(x("""{\rtf1 partial \b tex""").contains("partial tex"))
    // not RTF → NULL, never an error
    assert(x("plain text").isEmpty)
    assert(x("{\\pict junk}").isEmpty)
    assert(x("").isEmpty)
  }

  test("graft_audio_env_sig: cross-codec fingerprints through the shared decoder") {
    def wavPcm16(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(v => le16(v & 0xFFFF).toSeq).toArray
      ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16) ++
        ascii("data") ++ le32(data.length) ++ data
    }
    def wavUlaw(codes: Seq[Int]): Array[Byte] = {
      val data = codes.map(_.toByte).toArray
      ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(7) ++ le16(1) ++ le32(8000) ++
        le32(8000) ++ le16(1) ++ le16(8) ++
        ascii("data") ++ le32(data.length) ++ data
    }
    def sig(b: Array[Byte], n: Int = 8) =
      Option(graft.expr.AudioEnvSig.sig(b, n))
    // a μ-law clip and the PCM16 clip of its EXACT expansion (via the
    // JDK's independent codec) must land on identical env AND ehash —
    // the cross-codec near-dup contract
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val codes = (0 until 64).map(k => (k * 37 + 11) % 256)
    val src = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1,
      8000f, false)
    val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1,
      2, 8000f, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(codes.map(_.toByte).toArray), src, 64L)
    val lin = AudioSystem.getAudioInputStream(dst, ais).readAllBytes()
      .grouped(2).map(a =>
        (((a(0) & 0xFF) | ((a(1) & 0xFF) << 8)).toShort).toInt).toSeq
    val su = sig(wavUlaw(codes)).get
    val sp = sig(wavPcm16(lin)).get
    assert(su.getArray(1).toLongArray.toSeq == sp.getArray(1).toLongArray.toSeq,
      "cross-codec envelopes diverge")
    assert(su.getLong(2) == sp.getLong(2), "cross-codec ehash diverges")

    // IMA ADPCM clips are fingerprintable (frames ≥ nFrames)
    def wavIma(data: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(40 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(20) ++ le16(0x11) ++ le16(1) ++ le32(22050) ++
        le32(11000) ++ le16(8) ++ le16(4) ++ le16(2) ++ le16(9) ++
        ascii("data") ++ le32(data.length) ++ data
    val imaBlk = le16(100) ++ Array[Byte](0, 0) ++
      Array(0x10, 0x08, 0x00, 0xFF).map(_.toByte)
    assert(sig(wavIma(imaBlk), n = 8).nonEmpty, "IMA not fingerprintable")

    // strict decode: an MS-ADPCM file whose block is malformed
    // (predictor index past the table) yields stats from the other
    // blocks but NO fingerprint — a gapless sample sequence is the
    // fingerprint's contract
    def wavMs(data: Array[Byte]): Array[Byte] = {
      val coefs = graft.expr.AudioStats.MsStdCoef1.zip(
        graft.expr.AudioStats.MsStdCoef2).toSeq
      val ext = le16(4 + 4 * coefs.size) ++ le16(6) ++ le16(coefs.size) ++
        coefs.flatMap { case (a, b2) =>
          (le16(a & 0xFFFF) ++ le16(b2 & 0xFFFF)).toSeq }
      ascii("RIFF") ++ le32(20 + 16 + ext.length + data.length) ++
        ascii("WAVE") ++ ascii("fmt ") ++ le32(16 + ext.length) ++
        le16(2) ++ le16(1) ++ le32(11025) ++ le32(11025) ++ le16(9) ++
        le16(4) ++ ext ++ ascii("data") ++ le32(data.length) ++ data
    }
    val good = Array[Byte](0) ++ le16(16) ++ le16(100) ++ le16(50) ++
      Array(0x12, 0x9F).map(_.toByte)
    val bad = Array[Byte](9) ++ le16(16) ++ le16(100) ++ le16(50) ++
      Array(0x12, 0x9F).map(_.toByte)
    // two good blocks (12 frames ≥ 8) fingerprint fine
    assert(sig(wavMs(good ++ good), n = 8).nonEmpty)
    // a bad block anywhere → NULL fingerprint, but stats still decode
    // the good block (non-strict)
    assert(sig(wavMs(bad ++ good), n = 8).isEmpty, "strict must refuse gaps")
    val st = graft.expr.AudioStats.parse(wavMs(bad ++ good))
    assert(st != null && st.getLong(4) == 6L, "stats must keep partial content")
  }

  test("graft_audio_env_sig: envelope dHash, gain invariance, silence NULL") {
    def wav16(samples: Seq[Int], ch: Int = 1,
        declaredSize: Option[Int] = None): Array[Byte] = {
      val data = samples.flatMap(v => le16(v & 0xFFFF).toSeq).toArray
      val ba = ch * 2
      ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(ch) ++
        le32(16000) ++ le32(16000 * ba) ++ le16(ba) ++ le16(16) ++
        ascii("data") ++ le32(declaredSize.getOrElse(data.length)) ++ data
    }
    def sig(b: Array[Byte], n: Int) = Option(graft.expr.AudioEnvSig.sig(b, n))

    // 8 frames / 8 windows: env = |sample| per window, ehash = the
    // gradient signs — independently hand-computed
    val s8 = Seq(10, 30, 20, 20, 50, 0, 7, 7)
    val r = sig(wav16(s8), 8).get
    assert(r.getLong(0) == 8L)
    assert(r.getArray(1).toLongArray.toSeq ==
      s8.map(v => math.abs(v).toLong))
    // bits: 30>10=1, 20>30=0, 20>20=0, 50>20=1, 0>50=0, 7>0=1, 7>7=0
    assert(r.getLong(2) == ((1L << 0) | (1L << 3) | (1L << 5)))

    // gain invariance: 3x every sample → identical ehash, 3x env
    val r3 = sig(wav16(s8.map(_ * 3)), 8).get
    assert(r3.getLong(2) == r.getLong(2))
    assert(r3.getArray(1).toLongArray.toSeq ==
      r.getArray(1).toLongArray.toSeq.map(_ * 3))

    // uneven split (10 frames / 4 windows) uses the integer boundary
    // rule lo = w*frames/nFrames: windows of 2,3,2,3 frames
    val s10 = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
    val r4 = sig(wav16(s10), 4).get
    assert(r4.getArray(1).toLongArray.toSeq == Seq(3L, 12L, 13L, 27L))
    assert(r4.getLong(2) == 7L) // strictly increasing: all 3 bits set

    // stereo sums both channels into the envelope
    val rs = sig(wav16(Seq(1, 2, 3, -4), ch = 2), 2).get
    assert(rs.getArray(1).toLongArray.toSeq == Seq(3L, 7L))

    // adversarial/NULL contract
    assert(sig(wav16(Seq.fill(16)(0)), 8).isEmpty, "digital silence")
    assert(sig(wav16(s8), 16).isEmpty, "fewer frames than windows")
    assert(sig(wav16(s8, declaredSize = Some(100)), 8).isEmpty, "truncated")
    assert(sig(ascii("not audio"), 8).isEmpty)
    assert(sig(Array.emptyByteArray, 8).isEmpty)

    // pipeline: a 2x-gain copy pairs at hamming 0 through
    // Multimodal.audioNearDup; junk and silence drop out silently
    val base = (0 until 64).map(k => ((k * 7919) % 8191) - 4095)
    val media = Seq(
      (1L, wav16(base)), (2L, wav16(base.map(_ * 2))),
      (3L, wav16(Seq.fill(64)(0))), (4L, ascii("junk"))
    ).toDF("media_id", "content").withColumn("kind", lit("audio"))
    val pairs = graft.operators.Multimodal
      .audioNearDup(media, nFrames = 64, maxHamming = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("graft_avi_frames: movi walk, rec groups, padding, bomb guards") {
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(typ: String, payload: Array[Byte]): Array[Byte] =
      ascii("LIST") ++ le32(4 + payload.length) ++ ascii(typ) ++ payload
    def avi(payload: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(4 + payload.length) ++ ascii("AVI ") ++ payload
    def frames(b: Array[Byte], max: Int = 64): Option[Seq[Array[Byte]]] =
      Option(graft.expr.AviFrames.frames(b, max))
        .map(a => a.array.toSeq.map(_.asInstanceOf[Array[Byte]]))

    val f0 = Array[Byte](1, 2, 3)      // odd size → padded chunk
    val f1 = Array[Byte](4, 5, 6, 7)
    val f2 = Array[Byte](8)
    // hdrl list skipped; audio (01wb) and index (idx1) chunks between
    // frames skipped; padding after f0 must not desync the walk
    val simple = avi(
      list("hdrl", chunk("avih", Array.fill[Byte](56)(0))) ++
      list("movi",
        chunk("00dc", f0) ++ chunk("01wb", Array[Byte](9, 9)) ++
        chunk("00dc", f1) ++ chunk("00db", f2)) ++
      chunk("idx1", Array.fill[Byte](16)(0)))
    assert(frames(simple).get.map(_.toSeq) ==
      Seq(f0.toSeq, f1.toSeq, f2.toSeq))

    // rec-grouped frames (the interleaved-AVI layout) extract too
    val grouped = avi(list("movi",
      list("rec ", chunk("00dc", f0) ++ chunk("01wb", Array[Byte](9))) ++
      chunk("00dc", f1)))
    assert(frames(grouped).get.map(_.toSeq) == Seq(f0.toSeq, f1.toSeq))

    // maxFrames cap: extra frames ignored, not an error
    assert(frames(simple, max = 2).get.map(_.toSeq) ==
      Seq(f0.toSeq, f1.toSeq))

    // a declared size past the buffer ends the walk with what was
    // already collected (truncated tail)
    val truncated = simple.dropRight(10)
    assert(frames(truncated).get.nonEmpty)

    // NULL contract: non-AVI RIFF (WAV), no video frames, junk, empty
    assert(frames(avi(list("movi", chunk("01wb", f1)))).isEmpty,
      "audio-only movi")
    assert(frames(ascii("RIFF") ++ le32(4) ++ ascii("WAVE")).isEmpty)
    assert(frames(ascii("garbage")).isEmpty)
    assert(frames(Array.emptyByteArray).isEmpty)

    // pipeline: videoFrames explodes with stable indices; the PPM
    // frame pixel-decodes through videoFrameStats
    val ppm = ascii("P6\n2 1\n255\n") ++ Array[Byte](10, 20, 30, 40, 50, 60)
    val media = Seq(
      (1L, avi(list("movi", chunk("00dc", ppm) ++ chunk("00dc", f0)))),
      (2L, ascii("not a container"))
    ).toDF("media_id", "content").withColumn("kind", lit("video"))
    val vf = graft.operators.Multimodal.videoFrames(media)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(vf.toSeq == Seq((1L, 0), (1L, 1)))
    val st = graft.operators.Multimodal.videoFrameStats(media)
      .collect().map(r => (r.getInt(1), if (r.isNullAt(4)) null
        else r.getInt(4), if (r.isNullAt(8)) null else r.getLong(8))).toSeq
    // frame 0: real 2x1 PPM (sum 210); frame 1: undecodable → NULL stats
    assert(st == Seq((0, 2, 210L), (1, null, null)))

    // RECURSION BOMB: 50k nested `LIST rec ` headers. The RIFF spec
    // says rec groups never nest, so the walk refuses rec-within-rec
    // (depth capped at 2) — a crafted file must complete (no
    // StackOverflowError past the NULL-never-error contract), frames
    // at legal depths still extract, and the illegally-buried frame
    // is skipped with the whole bogus subtree.
    var nested = chunk("00dc", f0)
    for (_ <- 1 to 50000) nested = list("rec ", nested)
    val bomb = avi(list("movi",
      chunk("00dc", f1) ++ nested ++ chunk("00db", f2)))
    assert(frames(bomb).get.map(_.toSeq) == Seq(f1.toSeq, f2.toSeq))
    // all-bomb file: nothing at a legal depth → NULL, not an error
    assert(frames(avi(list("movi", nested))).isEmpty)
  }

  test("graft_mp4_frames: sample-table walk, stsc runs, co64, guards") {
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8) ++ ascii(name) ++ payload
    def hdlr(t: String) = box("hdlr",
      be32(0) ++ be32(0) ++ ascii(t) ++ Array.fill[Byte](12)(0))
    def frames(b: Array[Byte], max: Int = 64): Option[Seq[Array[Byte]]] =
      Option(graft.expr.Mp4Frames.frames(b, max))
        .map(a => a.array.toSeq.map(_.asInstanceOf[Array[Byte]]))

    val f0 = Array[Byte](1, 2, 3)
    val f1 = Array[Byte](4, 5, 6, 7)
    val f2 = Array[Byte](8)
    val f3 = Array[Byte](9, 10)
    val ftyp = box("ftyp", ascii("isom") ++ be32(0))
    val mdatStart = ftyp.length + 8
    val mdat = box("mdat", f0 ++ f1 ++ f2 ++ f3)
    // chunk 1 holds 2 samples (f0,f1), chunks 2+ hold 1 — a REAL
    // multi-run stsc; per-sample stsz entries (sample_size = 0)
    def stblOf(offsets: Array[Byte], coName: String,
        stszPayload: Array[Byte]) = box("stbl",
      box("stsz", stszPayload) ++
      box("stsc", be32(0) ++ be32(2) ++
        be32(1) ++ be32(2) ++ be32(1) ++ // run 1: chunk 1, 2/chunk
        be32(2) ++ be32(1) ++ be32(1)) ++ // run 2: chunk 2+, 1/chunk
      box(coName, offsets))
    val stszVar = be32(0) ++ be32(0) ++ be32(4) ++
      be32(3) ++ be32(4) ++ be32(1) ++ be32(2)
    val stco3 = be32(0) ++ be32(3) ++ be32(mdatStart) ++
      be32(mdatStart + 7) ++ be32(mdatStart + 8)
    def trakV(stbl: Array[Byte]) = box("trak",
      box("mdia", hdlr("vide") ++ box("minf", stbl)))
    val trakA = box("trak", box("mdia", hdlr("soun")))
    // audio trak FIRST: the walk must skip it and use the vide trak
    val mp4 = ftyp ++ mdat ++
      box("moov", trakA ++ trakV(stblOf(stco3, "stco", stszVar)))
    assert(frames(mp4).get.map(_.toSeq) ==
      Seq(f0.toSeq, f1.toSeq, f2.toSeq, f3.toSeq))
    // maxFrames cap: extra samples ignored, not an error
    assert(frames(mp4, max = 3).get.map(_.toSeq) ==
      Seq(f0.toSeq, f1.toSeq, f2.toSeq))
    // co64 (64-bit chunk offsets) decodes identically
    val co64o = be32(0) ++ be32(3) ++ be64(mdatStart) ++
      be64(mdatStart + 7) ++ be64(mdatStart + 8)
    val mp464 = ftyp ++ mdat ++
      box("moov", trakV(stblOf(co64o, "co64", stszVar)))
    assert(frames(mp464).get.map(_.toSeq) ==
      Seq(f0.toSeq, f1.toSeq, f2.toSeq, f3.toSeq))
    // fixed sample_size stsz (no entry table)
    val stszFix = be32(0) ++ be32(2) ++ be32(2)
    val mdatF = box("mdat", Array[Byte](1, 2, 3, 4))
    val stcoF = be32(0) ++ be32(1) ++ be32(mdatStart)
    val stblF = box("stbl",
      box("stsz", stszFix) ++
      box("stsc", be32(0) ++ be32(1) ++ be32(1) ++ be32(2) ++ be32(1)) ++
      box("stco", stcoF))
    val mp4F = ftyp ++ mdatF ++ box("moov", trakV(stblF))
    assert(frames(mp4F).get.map(_.toSeq) == Seq(Seq[Byte](1, 2), Seq[Byte](3, 4)))
    // a chunk offset past the buffer ends the walk with the samples
    // already collected (truncated mdat)
    val stcoTrunc = be32(0) ++ be32(3) ++ be32(mdatStart) ++
      be32(9999) ++ be32(mdatStart + 8)
    val mp4T = ftyp ++ mdat ++
      box("moov", trakV(stblOf(stcoTrunc, "stco", stszVar)))
    assert(frames(mp4T).get.map(_.toSeq) == Seq(f0.toSeq, f1.toSeq))
    // a crafted entry count larger than its box must NULL, not overread
    val stszBomb = be32(0) ++ be32(0) ++ be32(1000000) ++ be32(3)
    assert(frames(ftyp ++ mdat ++
      box("moov", trakV(stblOf(stco3, "stco", stszBomb)))).isEmpty)
    // NULL contract: no ftyp, no vide trak, junk, empty
    assert(frames(mdat ++ box("moov", trakV(stblOf(stco3, "stco",
      stszVar)))).isEmpty, "missing ftyp")
    assert(frames(ftyp ++ mdat ++ box("moov", trakA)).isEmpty, "no vide")
    assert(frames(ascii("random garbage here")).isEmpty)
    assert(frames(Array.emptyByteArray).isEmpty)

    // DAMAGE TRIAGE: a vide trak missing its minf/stbl is one damaged
    // track, not a verdict on the file — a later intact vide trak
    // still extracts
    val trakVBroken = box("trak", box("mdia", hdlr("vide")))
    assert(frames(ftyp ++ mdat ++ box("moov",
      trakVBroken ++ trakV(stblOf(stco3, "stco", stszVar))))
      .get.map(_.toSeq) == Seq(f0.toSeq, f1.toSeq, f2.toSeq, f3.toSeq),
      "later intact vide trak after a damaged one")
    // a sibling box with a corrupt size field (smaller than its own
    // header) is skipped, not fatal to the walk
    val corruptBox = be32(3) ++ ascii("junk")
    assert(frames(ftyp ++ mdat ++ box("moov",
      corruptBox ++ trakV(stblOf(stco3, "stco", stszVar))))
      .get.map(_.toSeq) == Seq(f0.toSeq, f1.toSeq, f2.toSeq, f3.toSeq),
      "corrupt sibling box before the vide trak")
    // both at once — the mildly-damaged-file shape the triage stance
    // is for
    assert(frames(ftyp ++ mdat ++ box("moov",
      corruptBox ++ trakVBroken ++ trakV(stblOf(stco3, "stco", stszVar))))
      .get.nonEmpty)

    // pipeline dispatch: AVI and MP4 rows explode through the SAME
    // videoFrames operator; junk contributes nothing
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    val avi = ascii("RIFF") ++ {
      val movi = ascii("movi") ++ chunk("00dc", f0)
      le32(4 + 8 + movi.length) ++ ascii("AVI ") ++
        ascii("LIST") ++ le32(movi.length) ++ movi
    }
    val media = Seq((1L, avi), (2L, mp4), (3L, ascii("junk")))
      .toDF("media_id", "content").withColumn("kind", lit("video"))
    val vf = graft.operators.Multimodal.videoFrames(media)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).sortBy(x => (x._1, x._2))
    assert(vf.toSeq == Seq((1L, 0, f0.toSeq), (2L, 0, f0.toSeq),
      (2L, 1, f1.toSeq), (2L, 2, f2.toSeq), (2L, 3, f3.toSeq)), vf.toSeq)
  }

  test("q159 (MP4 half) reproduces q157 (all-AVI) frame stats exactly") {
    // q159 rebuilds q157's corpus with the container dispatched by
    // doc_id parity; the frame-content formula is identical, so the
    // two queries must agree row-for-row — this is the equivalence
    // that lets q159 share q157's oracle SQL verbatim
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q157_video_frame_stats")(spark, dir)
    val b = SparkEntry.queries("q159_video_mp4_stats")(spark, dir)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(SparkEntry.oracleSql("q159_video_mp4_stats") ==
      SparkEntry.oracleSql("q157_video_frame_stats"))
  }

  test("videoNearDup pairs brightness-shifted twins, drops constants") {
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(typ: String, payload: Array[Byte]): Array[Byte] =
      ascii("LIST") ++ le32(4 + payload.length) ++ ascii(typ) ++ payload
    def avi(payload: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(4 + payload.length) ++ ascii("AVI ") ++ payload
    // constant-color 2x1 PPM frame: frame mean is exactly its value
    def frame(v: Int): Array[Byte] =
      ascii("P6\n2 1\n255\n") ++ Array.fill[Byte](6)(v.toByte)
    def clip(vs: Seq[Int]): Array[Byte] =
      avi(list("movi", vs.toArray.flatMap(v => chunk("00dc", frame(v)))))

    // 40-frame profile with pseudorandom gradient signs; the twin is a
    // UNIFORM +16 brightness shift (clamp-free: values <= 205) — byte
    // level entirely different, window-gradient signs identical
    val prof = (0 until 40).map(f => (f * 97 + f * f * 31) % 180 + 10)
    // 10-frame short clips take the W = F < nWin path; W joins the
    // band key, so they can never cross-pair with the 32-window clips
    val short = (0 until 10).map(f => (f * 37) % 120 + 20)
    val media = Seq(
      1L -> clip(prof), 2L -> clip(prof.map(_ + 16)),
      3L -> clip(short), 4L -> clip(short.map(_ + 10)),
      5L -> clip(Seq.fill(40)(99)), 6L -> clip(Seq.fill(40)(99)), // constants
      7L -> ascii("not a container"),                   // junk: no rows
      8L -> clip(Seq(50))                               // 1 frame: F < 2
    ).map { case (i, b) => (i, b) }.toDF("media_id", "content")
      .withColumn("kind", lit("video"))
    val pairs = graft.operators.Multimodal
      .videoNearDup(media, nWin = 32, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
    // the identical constant clips 5/6 would trivially pair at hamming
    // 0 — the all-equal-envelope drop must keep them OUT
    assert(pairs.toSeq == Seq((1L, 2L, 0), (3L, 4L, 0)), pairs.toSeq)
  }

  test("VideoDecoder seam: stub inter-frame codec end-to-end") {
    import graft.operators.Multimodal
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(typ: String, payload: Array[Byte]): Array[Byte] =
      ascii("LIST") ++ le32(4 + payload.length) ++ ascii(typ) ++ payload
    def avi(payload: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(4 + payload.length) ++ ascii("AVI ") ++ payload
    // synthetic GKEY/GDLT inter-frame clips inside REAL AVI
    // containers: the codec-agnostic chunk walk extracts the encoded
    // payloads, the DeltaStubDecoder turns them into PPMs the native
    // pixel tier decodes — the exact path an H.264 decoder would take
    val hdrLen = "P6\n2 1\n255\n".length
    def ppm(v: Int): Array[Byte] =
      ascii("P6\n2 1\n255\n") ++ Array.fill[Byte](6)(v.toByte)
    def key(v: Int): Array[Byte] = ascii("GKEY") ++ ppm(v)
    def delta(d: Int): Array[Byte] = ascii("GDLT") ++
      Array.fill[Byte](hdrLen)(0) ++ Array.fill[Byte](6)(d.toByte)
    def clip(payloads: Seq[Array[Byte]]): Array[Byte] =
      avi(list("movi", payloads.toArray.flatMap(p => chunk("00dc", p))))

    // clip 1: keyframe mean 10, deltas +10 → means 10,20,30,40
    // clip 2: the same temporal profile shifted +5 (re-encode twin)
    // clip 3: a foreign codec (no GKEY) → every frame undecodable
    // clip 4: decoder DESYNC — delta before any keyframe NULLs frame 0
    //         and its index hole must not shift later frames
    val media = Seq(
      1L -> clip(Seq(key(10), delta(10), delta(10), delta(10))),
      2L -> clip(Seq(key(15), delta(10), delta(10), delta(10))),
      3L -> clip(Seq(ascii("H264?") ++ ppm(50), ascii("H264?") ++ ppm(60))),
      4L -> clip(Seq(delta(10), key(70), delta(10)))
    ).toDF("media_id", "content").withColumn("kind", lit("video"))

    val dec = new Multimodal.DeltaStubDecoder
    val frames = Multimodal.videoFramesVia(media, dec)

    // seam scale contract: decode is a per-row projection — NO
    // exchange anywhere in the frames plan (blobs never shuffle)
    assert(!frames.queryExecution.executedPlan.toString
      .contains("Exchange"), frames.queryExecution.executedPlan)

    // typed columns + NULL propagation with PRESERVED frame_idx
    val st = Multimodal.videoFrameStatsOf(frames)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(13)) null else r.getDouble(13)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(st == Seq(
      (1L, 0, 10.0), (1L, 1, 20.0), (1L, 2, 30.0), (1L, 3, 40.0),
      (2L, 0, 15.0), (2L, 1, 25.0), (2L, 2, 35.0), (2L, 3, 45.0),
      (3L, 0, null), (3L, 1, null),
      (4L, 0, null), (4L, 1, 70.0), (4L, 2, 80.0)), st)

    // near-dup through the same decoded frames: the re-encode twins
    // pair at hamming 0; the undecodable clip contributes nothing
    val pairs = Multimodal.videoNearDupOf(frames)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0)), pairs)

    // the intra passthrough reproduces videoFrames exactly (MJPEG
    // clips run the same pipeline whether or not the seam is wired)
    val mjpeg = Seq(5L -> clip(Seq(ppm(10), ppm(30))))
      .toDF("media_id", "content")
    val via = Multimodal
      .videoFramesVia(mjpeg, new Multimodal.IntraFrameDecoder)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSeq
    val plain = Multimodal.videoFrames(mjpeg)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSeq
    assert(via == plain && via.size == 2, via)
  }

  test("AudioDecoder seam: stub lossy codec end-to-end") {
    import graft.operators.Multimodal
    def gaud(rate: Int, samples: Seq[Int]): Array[Byte] =
      "GAUD".getBytes("ISO-8859-1") ++ le32(rate) ++
        samples.map(_.toByte).toArray
    // clip 1: four signed-byte samples; clip 2: planted silence;
    // clip 3: a foreign codec; clip 4: truncated GAUD header;
    // clip 5: GAUD with a non-positive rate
    val media = Seq(
      1L -> gaud(8000, Seq(10, -20, 127, -128)),
      2L -> gaud(16000, Seq(0, 0, 0)),
      3L -> "MPGA junk".getBytes("ISO-8859-1"),
      4L -> "GAUD".getBytes("ISO-8859-1"),
      5L -> gaud(0, Seq(1, 2))
    ).toDF("media_id", "content").withColumn("kind", lit("audio"))

    val dec = new Multimodal.LossyStubDecoder
    val pcm = Multimodal.audioSamplesVia(media, dec)

    // seam scale contract: decode is a per-row projection — NO
    // exchange anywhere in the plan (blobs never shuffle)
    assert(!pcm.queryExecution.executedPlan.toString
      .contains("Exchange"), pcm.queryExecution.executedPlan)

    // the decoded stats are the quantized samples << 8, through the
    // EXISTING native WAV walk; undecodable rows keep NULL stats
    val st = Multimodal.audioStatsVia(media, dec)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null
         else (r.getString(3), r.getInt(5), r.getLong(9),
           r.getInt(11), r.getLong(12), r.getInt(13))))
      .toMap
    // (format, rate, sum, peak, n_clipped, silent)
    assert(st(1L) == (("wav", 8000, (10 - 20 + 127 - 128) * 256L,
      32768, 1L, 0)), st(1L))
    assert(st(2L) == (("wav", 16000, 0L, 0, 0L, 1)), st(2L))
    assert(st(3L) == null && st(4L) == null && st(5L) == null)

    // decoded PCM flows through the SAME fingerprint family: two
    // encodes of one ramp (one PCM WAV, one GAUD through the seam)
    // pair at hamming 0 — the cross-codec boundary q168 pins,
    // extended to the lossy side
    val ramp = (0 until 64).flatMap(i => Seq.fill(4)((i - 32) * 2))
    def wavPcm16(samples: Seq[Int]): Array[Byte] = {
      val n = samples.length
      ("RIFF".getBytes("ISO-8859-1") ++ le32(36 + 2 * n) ++
        "WAVEfmt ".getBytes("ISO-8859-1") ++ le32(16) ++
        Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++
        "data".getBytes("ISO-8859-1") ++ le32(2 * n) ++
        samples.flatMap(v => Seq(((v << 8) & 0xFF).toByte,
          v.toByte)).toArray)
    }
    val pcmClip = Seq(10L -> wavPcm16(ramp))
      .toDF("media_id", "content").withColumn("kind", lit("audio"))
      .select("media_id", "kind", "content")
    val lossyClip = Seq(11L -> gaud(8000, ramp))
      .toDF("media_id", "content").withColumn("kind", lit("audio"))
    val mixed = pcmClip.union(
      Multimodal.audioSamplesVia(lossyClip, dec))
    val pairs = Multimodal.audioNearDup(mixed, nFrames = 16, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((10L, 11L, 0)), pairs)

    // passthrough: PCM payloads unchanged through the seam
    val via = Multimodal
      .audioStatsVia(pcmClip, new Multimodal.PcmPassthroughDecoder)
      .select("sum", "sumsq", "peak").collect()
    val plain = Multimodal.audioStats(pcmClip)
      .select("sum", "sumsq", "peak").collect()
    assert(via.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("JpegDecode: hand baseline decoder differential vs the JDK codec") {
    import graft.expr.JpegDecode
    def enc(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      w.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose()
      bos.toByteArray
    }
    def jdkRgb(b: Array[Byte]): (Int, Int, Array[Int]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      val w = img.getWidth; val h = img.getHeight
      val out = new Array[Int](w * h * 3)
      if (img.getRaster.getNumBands == 1) {
        // gray: RAW samples (getRGB would gamma-map linear gray to
        // sRGB — the same artifact the imageio branch sidesteps)
        for (y <- 0 until h; x <- 0 until w) {
          val v = img.getRaster.getSample(x, y, 0)
          val o = (y * w + x) * 3
          out(o) = v; out(o + 1) = v; out(o + 2) = v
        }
      } else for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        out(o) = (rgb >> 16) & 0xFF; out(o + 1) = (rgb >> 8) & 0xFF
        out(o + 2) = rgb & 0xFF
      }
      (w, h, out)
    }
    def maxDiff(b: Array[Byte]): (Int, Double) = {
      val hand = JpegDecode.decode(b)
      assert(hand != null, "hand decoder rejected a baseline file")
      val (w, h, jdk) = jdkRgb(b)
      assert(hand.w == w && hand.h == h && hand.ch == 3)
      var mx = 0
      var sum = 0L
      var i = 0
      while (i < jdk.length) {
        val d = math.abs((hand.px(i) & 0xFF) - jdk(i))
        if (d > mx) mx = d
        sum += d
        i += 1
      }
      (mx, sum.toDouble / jdk.length)
    }
    val rnd = new java.util.Random(42)
    // grayscale noise at awkward sizes: one component, no chroma
    // upsampling ambiguity — the residual is pure IDCT rounding, so
    // the bound is tight
    for ((w, h) <- Seq((8, 8), (17, 9), (32, 24), (64, 48), (31, 33))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) {
        val v = rnd.nextInt(256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      for (q <- Seq(0.5f, 0.95f)) {
        val (mx, mean) = maxDiff(enc(img, q))
        assert(mx <= 2, s"gray ${w}x$h q$q: max diff $mx")
        assert(mean <= 0.5, s"gray ${w}x$h q$q: mean diff $mean")
      }
    }
    // color: smooth gradients — with the triangle chroma upsampler
    // matching the JDK's filter, the residual is two-pass-rounding +
    // IDCT + color-convert rounding
    for ((w, h) <- Seq((16, 16), (33, 17), (48, 32))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 255 / w) << 16) |
          ((y * 255 / h) << 8) | ((x + y) * 255 / (w + h)))
      for (q <- Seq(0.7f, 0.95f)) {
        val (mx, mean) = maxDiff(enc(img, q))
        assert(mx <= 4, s"color ${w}x$h q$q: max diff $mx")
        assert(mean <= 1.0, s"color ${w}x$h q$q: mean diff $mean")
      }
    }
    // color NOISE (the hostile case for upsampling parity): matching
    // filters keep even sharp-chroma content within a few counts
    locally {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, rnd.nextInt(0x1000000))
      val (mx, mean) = maxDiff(enc(img, 0.9f))
      // bounds tightened after the fancy-upsampler rounding fix
      // (round-13): probe worst across 40 hostile noise cases is
      // max 4 / mean 0.40
      assert(mx <= 4, s"color noise: max diff $mx")
      assert(mean <= 0.8, s"color noise: mean diff $mean")
    }
    // exactness anchor: a hand-built DC-only grayscale 8×8 — every
    // conforming IDCT lands the same flat value, computable by hand:
    // coef = extend(1001₂, cat 4) · q₀ = 9·16 = 144 → 144/8 + 128 = 146
    val craft = {
      val bos = new java.io.ByteArrayOutputStream()
      def w(xs: Int*): Unit = xs.foreach(v => bos.write(v & 0xFF))
      w(0xFF, 0xD8) // SOI
      w(0xFF, 0xDB, 0, 67, 0) // DQT: Pq0 Tq0
      (0 until 64).foreach(_ => w(16))
      w(0xFF, 0xC0, 0, 11, 8, 0, 8, 0, 8, 1, 1, 0x11, 0) // SOF0 8×8 gray
      // DHT DC0: one length-2 code → value 4 (category 4)
      w(0xFF, 0xC4, 0, 20, 0x00, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 4)
      // DHT AC0: one length-2 code → value 0 (EOB)
      w(0xFF, 0xC4, 0, 20, 0x10, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      w(0xFF, 0xDA, 0, 8, 1, 1, 0x00, 0, 63, 0) // SOS
      // entropy: DC code '00' + 1001 (=9) + AC EOB '00' → 00100100₂,
      // padded with 1s = 0x24 0xFF(pad)… one byte is enough
      w(0x24)
      w(0xFF, 0xD9) // EOI
      bos.toByteArray
    }
    val crafted = JpegDecode.decode(craft)
    assert(crafted != null && crafted.w == 8 && crafted.h == 8)
    assert(crafted.px.forall(p => (p & 0xFF) == 146),
      s"DC-only block must be flat 146, got ${crafted.px.take(6).map(_ & 0xFF).toSeq}")
    val (_, _, jdkCraft) = jdkRgb(craft)
    assert(jdkCraft.forall(_ == 146), "JDK disagrees on the crafted block")
    // triage: truncations of a real file never throw; most are null
    val full = enc({
      val img = new java.awt.image.BufferedImage(24, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 24)
        img.setRGB(x, y, 0x7F7F7F)
      img
    }, 0.9f)
    for (cut <- 0 to full.length)
      graft.expr.PixelStats.parse(full.take(cut)) // must not throw
    // PROGRESSIVE (SOF2): the multi-scan spectral-selection +
    // successive-approximation path — same differential bounds as
    // sequential, since a finished progressive decode must equal the
    // sequential decode of the same coefficients
    def encProg(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val w0 = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w0.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      w0.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
      w0.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w0.dispose()
      bos.toByteArray
    }
    // gray noise progressive at awkward sizes
    for ((w, h) <- Seq((8, 8), (17, 9), (32, 24))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) {
        val v = rnd.nextInt(256)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bytes = encProg(img, 0.9f)
      // sanity: the writer really emitted SOF2
      assert(bytes.sliding(2).exists(p2 =>
        (p2(0) & 0xFF) == 0xFF && (p2(1) & 0xFF) == 0xC2), "not progressive")
      val (mx, mean) = maxDiff(bytes)
      assert(mx <= 2, s"prog gray ${w}x$h: max diff $mx")
      assert(mean <= 0.5, s"prog gray ${w}x$h: mean diff $mean")
    }
    // color progressive: smooth gradient + noise
    for ((noise, mxTol, meanTol) <- Seq((false, 4, 1.0), (true, 6, 1.2))) {
      val img = new java.awt.image.BufferedImage(33, 17,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 17; x <- 0 until 33)
        img.setRGB(x, y,
          if (noise) rnd.nextInt(0x1000000)
          else ((x * 255 / 33) << 16) | ((y * 255 / 17) << 8) | 64)
      val bytes = encProg(img, 0.85f)
      val (mx, mean) = maxDiff(bytes)
      assert(mx <= mxTol, s"prog color noise=$noise: max diff $mx")
      assert(mean <= meanTol, s"prog color noise=$noise: mean diff $mean")
    }
    // progressive truncation sweep: never throws, no wrong decode
    val progFull = encProg({
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x808080)
      img
    }, 0.9f)
    for (cut <- 0 to progFull.length)
      graft.expr.PixelStats.parse(progFull.take(cut)) // must not throw
    // genuinely unsupported processes still triage to null: SOF9
    // (arithmetic sequential) — the header walk must reject, and the
    // ImageIO fallback (which can't decode it either) keeps the
    // overall contract NULL-never-error
    val sof9 = progFull.clone()
    val sofAt = (0 until sof9.length - 1).find(j =>
      (sof9(j) & 0xFF) == 0xFF && (sof9(j + 1) & 0xFF) == 0xC2).get
    sof9(sofAt + 1) = 0xC9.toByte
    assert(JpegDecode.decode(sof9) == null, "SOF9 must be rejected")
    assert(graft.expr.PixelStats.parse(sof9) == null)
  }

  test("JpegDecode: CMYK and YCCK (Adobe 4-component) decode exactly on DC-only fixtures") {
    import graft.expr.JpegDecode
    // DC-only 4-component fixtures, the q179 construction widened:
    // each 8×8 block of each channel is one crafted entropy byte
    // (cat-4 DC code '00' + 4 diff bits + EOB '00'), so every
    // channel's plane is a sequence of flat values 128 + 2·cumsum —
    // exact in any conforming decoder. The JDK codec cannot read()
    // CMYK at all, but readRaster() returns the raw 4-band samples
    // with no color conversion: the differential pins our entropy +
    // IDCT layers; the RGB step is pinned against the documented
    // Adobe-inverted formula ⌊(inv·invK + 127)/255⌋.
    def build(transform: Int, dcs: Seq[Seq[Int]]): Array[Byte] = {
      val nBlocks = dcs.head.length
      val bos = new java.io.ByteArrayOutputStream()
      def w(xs: Int*): Unit = xs.foreach(v => bos.write(v & 0xFF))
      w(0xFF, 0xD8)
      // APP14 Adobe, transform byte last
      w(0xFF, 0xEE, 0, 14)
      "Adobe".foreach(c => w(c))
      w(0, 100, 0, 0, 0, 0, transform)
      w(0xFF, 0xDB, 0, 67, 0)
      (0 until 64).foreach(_ => w(16))
      // SOF0: 4 components, all 1x1, shared quant table
      w(0xFF, 0xC0, 0, 20, 8, 0, 8, 0, 8 * nBlocks)
      w(4)
      for (id <- 1 to 4) w(id, 0x11, 0)
      w(0xFF, 0xC4, 0, 20, 0x00, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 4)
      w(0xFF, 0xC4, 0, 20, 0x10, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      w(0xFF, 0xDA, 0, 14, 4)
      for (id <- 1 to 4) w(id, 0x00)
      w(0, 63, 0)
      // entropy: per MCU, one byte per component = v4·4
      for (k <- 0 until nBlocks; c <- 0 until 4) w(dcs(c)(k) * 4)
      w(0xFF, 0xD9)
      bos.toByteArray
    }
    def flats(v4s: Seq[Int]): Seq[Int] = {
      var pred = 0
      v4s.map { v =>
        pred += (if (v >= 8) v else v - 15) // EXTEND(v, 4)
        math.max(0, math.min(255, 128 + 2 * pred))
      }
    }
    // channel DC categories: distinct walks per channel, 3 blocks
    val dcs = Seq(Seq(9, 12, 8), Seq(14, 0, 11), Seq(10, 13, 2), Seq(15, 9, 1))
    val expected = dcs.map(flats) // per-channel flat value per block
    for (transform <- Seq(0, 2)) {
      val bytes = build(transform, dcs)
      // differential: JDK readRaster raw 4-band samples = our flats
      val rdr = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
      rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val raster = rdr.readRaster(0, null)
      rdr.dispose()
      assert(raster.getNumBands == 4)
      for (k <- 0 until 3; c <- 0 until 4)
        assert(raster.getSample(k * 8 + 3, 4, c) == expected(c)(k),
          s"raster band $c block $k (transform $transform)")
      // our decode: RGB from the documented formula
      val d = JpegDecode.decode(bytes)
      assert(d != null && d.w == 24 && d.h == 8 && d.ch == 3,
        s"decode failed for transform $transform")
      for (k <- 0 until 3) {
        val Seq(f0, f1, f2) = Seq(expected(0)(k), expected(1)(k), expected(2)(k))
        val fK = expected(3)(k)
        val (ic, im, iy) =
          if (transform == 2) {
            val cbv = f1 - 128; val crv = f2 - 128
            def cl(x: Int) = math.max(0, math.min(255, x))
            (cl(f0 + ((91881 * crv + 32768) >> 16)),
             cl(f0 - ((22554 * cbv + 46802 * crv + 32768) >> 16)),
             cl(f0 + ((116130 * cbv + 32768) >> 16)))
          } else (f0, f1, f2)
        val o = (4 * 24 + k * 8 + 3) * 3 // a pixel inside block k
        assert((d.px(o) & 0xFF) == (ic * fK + 127) / 255,
          s"R block $k transform $transform")
        assert((d.px(o + 1) & 0xFF) == (im * fK + 127) / 255,
          s"G block $k transform $transform")
        assert((d.px(o + 2) & 0xFF) == (iy * fK + 127) / 255,
          s"B block $k transform $transform")
      }
      // the whole plane is flat per block — spot the full first block
      for (y <- 0 until 8; x <- 0 until 8) {
        val o = (y * 24 + x) * 3
        val o2 = (4 * 24 + 3) * 3
        assert(d.px(o) == d.px(o2) && d.px(o + 1) == d.px(o2 + 1) &&
          d.px(o + 2) == d.px(o2 + 2))
      }
    }
    // and PixelStats dispatch reaches the hand decoder (ImageIO read()
    // cannot decode CMYK, so a non-null decode proves the hand path)
    val viaStats = graft.expr.PixelStats.parse(build(0, dcs))
    assert(viaStats != null)
  }

  test("graft_resize_pixels: exact box means, upscale rule, formats, triage") {
    import graft.expr.ResizePixels
    def ppm(w: Int, h: Int, px: Seq[(Int, Int, Int)]): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("ISO-8859-1") ++
        px.flatMap(p => Seq(p._1.toByte, p._2.toByte, p._3.toByte)).toArray
    def pixels(b: Array[Byte]): (Int, Int, Seq[(Int, Int, Int)]) = {
      val s = new String(b, "ISO-8859-1")
      val m = "P6\n(\\d+) (\\d+)\n255\n".r.findFirstMatchIn(s).get
      val w = m.group(1).toInt; val h = m.group(2).toInt
      val d = b.drop(m.matched.length)
      (w, h, (0 until w * h).map(i =>
        (d(3 * i) & 0xFF, d(3 * i + 1) & 0xFF, d(3 * i + 2) & 0xFF)))
    }
    // 4×2 → 2×1: each dest pixel averages a 2×2 box, floor division
    val src = ppm(4, 2, Seq(
      (10, 0, 0), (20, 0, 0), (1, 2, 3), (3, 4, 5),
      (30, 0, 0), (41, 0, 0), (5, 6, 7), (8, 9, 10)))
    val (w1, h1, p1) = pixels(ResizePixels.resize(src, 2, 1))
    assert((w1, h1) == (2, 1))
    assert(p1(0) == ((10 + 20 + 30 + 41) / 4, 0, 0)) // 101/4 = 25 floor
    assert(p1(1) == ((1 + 3 + 5 + 8) / 4, (2 + 4 + 6 + 9) / 4,
      (3 + 5 + 7 + 10) / 4))
    // non-integer ratio 4 → 3: boxes [0,1) [1,2) [2,4) via the floor
    // rule lo = x2·w/dw
    val row = ppm(4, 1, Seq((8, 0, 0), (16, 0, 0), (32, 0, 0), (64, 0, 0)))
    val (_, _, p2) = pixels(ResizePixels.resize(row, 3, 1))
    assert(p2.map(_._1) == Seq(8, 16, (32 + 64) / 2))
    // upscale 2×1 → 4×1: nearest by the same floor rule (boxes clamp
    // to one pixel): lo = 0,0,1,1
    val two = ppm(2, 1, Seq((100, 0, 0), (200, 0, 0)))
    val (_, _, p3) = pixels(ResizePixels.resize(two, 4, 1))
    assert(p3.map(_._1) == Seq(100, 100, 200, 200))
    // identity resize reproduces the pixels
    val (_, _, p4) = pixels(ResizePixels.resize(src, 4, 2))
    assert(p4 == pixels(src)._3)
    // thumbnails re-ingest: resize(resize(x)) works (P6 in, P6 out)
    assert(ResizePixels.resize(ResizePixels.resize(src, 2, 2), 1, 1) != null)
    // grayscale PNG replicates to RGB before averaging (OrientPixels
    // contract); JPEG goes through the hand decoder — a DC-only flat
    // block resizes to the same flat value at every scale
    val gray = { // 2×1 gray PNG, values 10 and 30
      def chunk(t: String, d: Array[Byte]): Array[Byte] = {
        val tb = t.getBytes("ISO-8859-1")
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(d)
        be32(d.length) ++ tb ++ d ++ be32(crc.getValue.toInt)
      }
      val raw = Array[Byte](0, 10, 30)
      val dz = new java.util.zip.Deflater(); dz.setInput(raw); dz.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64)
      while (!dz.finished()) bos.write(buf, 0, dz.deflate(buf))
      dz.end()
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
        chunk("IHDR", be32(2) ++ be32(1) ++ Array[Byte](8, 0, 0, 0, 0)) ++
        chunk("IDAT", bos.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    }
    val (_, _, pg) = pixels(ResizePixels.resize(gray, 1, 1))
    assert(pg(0) == ((10 + 30) / 2, (10 + 30) / 2, (10 + 30) / 2))
    // triage: junk, undecodable, out-of-range dims → null
    assert(ResizePixels.resize("junk".getBytes, 2, 2) == null)
    assert(ResizePixels.resize(null, 2, 2) == null)
    assert(ResizePixels.resize(src, 0, 2) == null)
    assert(ResizePixels.resize(src, 4097, 2) == null)
    assert(ResizePixels.resize(src, 4096, 4096) == null) // dw·dh bomb cap
  }

  test("graft_resample_pcm: exact box means incl. floor on negatives, upsample, stereo, codecs, triage") {
    import graft.expr.ResamplePcm
    def wav16(rate: Int, ch: Int, samples: Seq[Int]): Array[Byte] =
      ascii("RIFF") ++ le32(36 + samples.size * 2) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * 2) ++ le16(ch * 2) ++ le16(16) ++
        ascii("data") ++ le32(samples.size * 2) ++
        samples.flatMap(le16(_).toSeq).toArray
    def samples(wav: Array[Byte]): (Int, Int, Seq[Int]) = {
      val ch = (wav(22) & 0xFF) | ((wav(23) & 0xFF) << 8)
      val rate = (wav(24) & 0xFF) | ((wav(25) & 0xFF) << 8) |
        ((wav(26) & 0xFF) << 16)
      val n = (wav.length - 44) / 2
      (rate, ch, (0 until n).map(i =>
        (((wav(44 + 2 * i) & 0xFF) | (wav(45 + 2 * i) << 8)).toShort).toInt))
    }
    // 2:1 decimation with NEGATIVE values: TRUNCATING division
    // ((-7)/2 = -3), symmetric around silence — the semantics both
    // engines' native integer division share (floor would give -4
    // and a systematic negative DC bias)
    val in = wav16(8000, 1, Seq(10, 20, -3, -4, 100, 101, -50, 49))
    val (r1, c1, s1) = samples(ResamplePcm.resample(in, 4000))
    assert((r1, c1) == (4000, 1))
    assert(s1 == Seq(15, -3, 100, 0), s"got $s1")
    // upsample 2×: sample-and-hold by the same floor rule
    val (_, _, s2) = samples(ResamplePcm.resample(
      wav16(8000, 1, Seq(7, -9)), 16000))
    assert(s2 == Seq(7, 7, -9, -9))
    // stereo: per-channel means, interleaved output
    val st = wav16(8000, 2, Seq(10, 1000, 20, 2000, 31, 3001, 41, 4001))
    val (_, c3, s3) = samples(ResamplePcm.resample(st, 4000))
    assert(c3 == 2)
    assert(s3 == Seq(15, 1500, 36, 3501))
    // μ-law input: the shared codec walk feeds the resampler — the
    // all-0xFF code decodes to 0, so means stay 0
    val ulaw = ascii("RIFF") ++ le32(36 + 8) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(7) ++ le16(1) ++ le32(8000) ++
      le32(8000) ++ le16(1) ++ le16(8) ++
      ascii("data") ++ le32(8) ++ Array.fill[Byte](8)(0xFF.toByte)
    val (r4, _, s4) = samples(ResamplePcm.resample(ulaw, 4000))
    assert(r4 == 4000 && s4 == Seq(0, 0, 0, 0))
    // triage: junk, out-of-range rates, too short
    assert(ResamplePcm.resample("junk".getBytes, 8000) == null)
    assert(ResamplePcm.resample(null, 8000) == null)
    assert(ResamplePcm.resample(in, 500) == null)
    assert(ResamplePcm.resample(in, 400000) == null)
    assert(ResamplePcm.resample(
      wav16(8000, 1, Seq(5)), 1000) == null) // dn = 0
  }

  test("graft_gif_frames: composited animation decode, disposal, dispatch") {
    import graft.expr.{GifBuild, GifFrames}
    def ppmPixels(ppm: Array[Byte], w: Int, h: Int): Seq[Int] = {
      val hdr = s"P6\n$w $h\n255\n".getBytes("ISO-8859-1")
      assert(ppm.take(hdr.length).toSeq == hdr.toSeq, "ppm header")
      ppm.drop(hdr.length).map(_ & 0xFF).toSeq
    }
    def frames(b: Array[Byte], max: Int = 64): Option[Seq[Array[Byte]]] =
      Option(GifFrames.frames(b, max))
        .map(_.array.toSeq.map(_.asInstanceOf[Array[Byte]]))

    // round trip: planted gray indices come back EXACTLY through the
    // JDK's independent LZW decoder (values straddle the 128-code
    // CLEAR cadence and the gray ramp)
    val w = 6; val h = 5
    def plant(f: Int): Array[Byte] =
      Array.tabulate(w * h)(k => ((f * 40 + k * 7) % 251).toByte)
    val gif = GifBuild.animated(w, h, (0 until 3).map(plant))
    val fs = frames(gif).get
    assert(fs.size == 3)
    for (f <- 0 until 3)
      assert(ppmPixels(fs(f), w, h) ==
        plant(f).flatMap(v => Seq(v & 0xFF, v & 0xFF, v & 0xFF)).toSeq,
        s"frame $f round trip")

    // inter-frame compositing: a partial doNotDispose frame OVERLAYS
    // the previous canvas; transparent pixels leave it untouched;
    // restoreToBackground blacks the rect for the NEXT frame;
    // restoreToPrevious reverts
    val base = Array.fill[Byte](w * h)(100.toByte)
    // frame 1: 2x2 patch of 200s at (1,1), top-right pixel transparent
    val patch = Array[Byte](200.toByte, 7, 200.toByte, 200.toByte)
    val overlay = GifBuild.animatedEx(w, h, Seq(
      GifBuild.Frame(0, 0, w, h, base),
      GifBuild.Frame(1, 1, 2, 2, patch, disposal = 1, transparent = 7)))
    val ov = frames(overlay).get
    val exp1 = Array.fill(w * h)(100)
    exp1(1 * w + 1) = 200; exp1(2 * w + 1) = 200; exp1(2 * w + 2) = 200
    // (1,2) stayed 100: index 7 is transparent
    assert(ppmPixels(ov(1), w, h) == exp1.flatMap(v => Seq(v, v, v)).toSeq)

    val bg = GifBuild.animatedEx(w, h, Seq(
      GifBuild.Frame(0, 0, w, h, base),
      GifBuild.Frame(1, 1, 2, 2,
        Array.fill[Byte](4)(200.toByte), disposal = 2),
      GifBuild.Frame(0, 0, 1, 1, Array[Byte](50))))
    val bgf = frames(bg).get
    // frame 2 snapshot: patch visible; frame 3: rect restored to
    // background (black) before the 1x1 frame draws at (0,0)
    val exp2 = Array.fill(w * h)(100)
    for (yy <- 1 to 2; xx <- 1 to 2) exp2(yy * w + xx) = 200
    assert(ppmPixels(bgf(1), w, h) == exp2.flatMap(v => Seq(v, v, v)).toSeq)
    val exp3 = Array.fill(w * h)(100)
    for (yy <- 1 to 2; xx <- 1 to 2) exp3(yy * w + xx) = 0
    exp3(0) = 50
    assert(ppmPixels(bgf(2), w, h) == exp3.flatMap(v => Seq(v, v, v)).toSeq)

    val prevG = GifBuild.animatedEx(w, h, Seq(
      GifBuild.Frame(0, 0, w, h, base),
      GifBuild.Frame(0, 0, 3, 3,
        Array.fill[Byte](9)(222.toByte), disposal = 3),
      GifBuild.Frame(0, 0, 1, 1, Array[Byte](50))))
    val pf = frames(prevG).get
    val exp4 = Array.fill(w * h)(100); exp4(0) = 50
    assert(ppmPixels(pf(2), w, h) == exp4.flatMap(v => Seq(v, v, v)).toSeq,
      "restoreToPrevious reverts the 222 patch")

    // DIFFERENTIAL vs the JDK: real compressed LZW from ImageIO's
    // ENCODER (composite codes, dictionary growth, width bumps — the
    // paths GifBuild's all-literal streams never exercise) must
    // decode through the hand decoder to exactly what ImageIO's own
    // READER sees in the same bytes. Two independent LZW
    // implementations, one answer.
    val rng2 = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val tw = 40 + rng2.nextInt(30); val th = 30 + rng2.nextInt(20)
      val img = new java.awt.image.BufferedImage(tw, th,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until th; x <- 0 until tw)
        img.setRGB(x, y, if ((x / 3 + y / 5 + trial) % 3 == 0)
          ((x * 31) % 256 << 16) | 0x40 else 0x00AB00 | (y % 7) * 30)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "gif", bos))
      val bytes = bos.toByteArray
      val mine = frames(bytes).get
      assert(mine.size == 1, s"trial $trial")
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val refPix = for (y <- 0 until th; x <- 0 until tw;
        sh <- Seq(16, 8, 0)) yield (ref.getRGB(x, y) >> sh) & 0xFF
      assert(ppmPixels(mine(0), tw, th) == refPix, s"trial $trial LZW diff")
    }

    // interlaced frames reconstruct the original row order
    val ilData = Array.tabulate[Byte](w * h)(k => ((k * 11) % 200).toByte)
    val ilGif = GifBuild.animatedEx(w, h, Seq(
      GifBuild.Frame(0, 0, w, h, ilData, interlaced = true)))
    assert(ppmPixels(frames(ilGif).get(0), w, h) ==
      ilData.flatMap(v => Seq(v & 0xFF, v & 0xFF, v & 0xFF)).toSeq,
      "interlace pass order")

    // caps + NULL contract
    assert(frames(gif, max = 2).get.size == 2)
    assert(frames("GIF89a then garbage".getBytes("ISO-8859-1")).isEmpty)
    assert(frames(Array.emptyByteArray).isEmpty)
    // a crafted logical screen past the canvas cap never allocates
    val bomb = GifBuild.animated(6, 5, Seq(plant(0)))
    bomb(6) = 0xFF.toByte; bomb(7) = 0xFF.toByte // w := 65535
    bomb(8) = 0xFF.toByte; bomb(9) = 0x7F.toByte // h := 32767
    assert(frames(bomb).isEmpty)
    // an LZW code stream that ENDS before filling the raster is a
    // failed frame — it must be dropped, never composited zero-padded
    // (2×2 frame, minCode 2: clear(4) + one root code, then nothing)
    val truncLzw = Array[Byte]('G', 'I', 'F', '8', '9', 'a',
      2, 0, 2, 0, 0x80.toByte, 0, 0, // 2×2 screen, 2-entry GCT
      0, 0, 0, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte, // palette
      0x2C, 0, 0, 0, 0, 2, 0, 2, 0, 0, // full-frame descriptor
      2, 1, 0x0C, 0, // minCode 2; one sub-block: clear, root 1; end
      0x3B)
    assert(frames(truncLzw).isEmpty, "truncated LZW composited a frame")

    // dispatch: animated GIFs flow through the SAME videoFrames
    // operator as AVI/MP4, and the PPM frames pixel-decode downstream
    val media = Seq((1L, gif), (2L, "junk".getBytes("ISO-8859-1")))
      .toDF("media_id", "content").withColumn("kind", lit("video"))
    val st = graft.operators.Multimodal.videoFrameStats(media)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3),
        r.getLong(8))).sortBy(x => (x._1, x._2))
    val expSums = (0 until 3).map(f =>
      3L * plant(f).map(_ & 0xFF).sum)
    assert(st.toSeq == (0 until 3).map(f => (1L, f, "ppm", expSums(f))),
      st.toSeq)
  }

  test("graft_warc_records: record walk, folding, gzip members, guards") {
    def rec(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        s"Content-Length: ${payload.length}\r\n\r\n")
        .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    val info = rec(Seq("WARC-Type" -> "warcinfo",
      "WARC-Date" -> "2026-01-01T00:00:00Z"),
      "software: graft\r\n".getBytes("UTF-8"))
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
      "\r\n\r\n<html><body><h1>Title</h1><p>hello&amp;bye</p></body></html>")
      .getBytes("UTF-8")
    // lower-case names + a FOLDED uri value (continuation line)
    val resp = rec(Seq("warc-type" -> "response",
      "WARC-Target-URI" -> "http://example.org/a\r\n  /long/path",
      "content-type" -> "application/http; msgtype=response"), http)
    val req = rec(Seq("WARC-Type" -> "request",
      "WARC-Target-URI" -> "http://example.org/a"),
      "GET /a HTTP/1.1\r\n".getBytes("UTF-8"))
    val warc = info ++ resp ++ req
    def parse(b: Array[Byte], max: Int = 4096) =
      Option(graft.expr.WarcRecords.records(b, max))
        .map(_.array.toSeq.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.GenericInternalRow]))
    val rs = parse(warc).get
    assert(rs.map(r => r.getUTF8String(0).toString) ==
      Seq("warcinfo", "response", "request"))
    assert(rs(1).getUTF8String(1).toString == "http://example.org/a /long/path",
      rs(1).getUTF8String(1)) // folded value, fold break → one space
    assert(rs(1).getUTF8String(3).toString == "application/http; msgtype=response")
    assert(rs(1).getBinary(4).toSeq == http.toSeq) // payload verbatim
    assert(rs(0).getUTF8String(1) == null) // warcinfo has no uri

    // .warc.gz: per-record gzip MEMBERS concatenated (the CC layout)
    val warcGz = gz(info) ++ gz(resp) ++ gz(req)
    val rsGz = parse(warcGz).get
    assert(rsGz.map(_.getUTF8String(0).toString) ==
      Seq("warcinfo", "response", "request"))
    assert(rsGz(1).getBinary(4).toSeq == http.toSeq)

    // maxRecords cap, truncation triage, NULL contract
    assert(parse(warc, max = 2).get.size == 2)
    assert(parse(warc.dropRight(req.length - 5)).get.size == 2,
      "truncated third record keeps the first two")
    assert(parse("random bytes not a warc".getBytes("UTF-8")).isEmpty)
    assert(parse(Array.emptyByteArray).isEmpty)
    // a crafted Content-Length past the payload cap nulls cleanly
    val bomb = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"Content-Length: ${1 << 30}\r\n\r\n").getBytes("UTF-8")
    assert(parse(bomb).isEmpty)

    // operator pipeline: binary files → records → html text documents
    val files = Seq((1L, warc), (2L, warcGz),
      (3L, "junk".getBytes("UTF-8"))).toDF("file_id", "content")
    val recs = graft.operators.Warc.records(files)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(recs.count(_._3 == "response") == 2 && recs.length == 6, recs.toSeq)
    val docs = graft.operators.Warc.htmlDocuments(files)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getString(6))).sortBy(_._1)
    assert(docs.length == 2)
    docs.foreach { case (_, url, status, ctype, charset, text) =>
      assert(url == "http://example.org/a /long/path")
      assert(status == 200 && ctype == "text/html")
      assert(charset == "utf-8", charset)
      assert(text == "Title hello&bye", text)
    }

    // whole-file source: binaryFile glob → stable path-keyed rows
    val dir = java.nio.file.Files.createTempDirectory("warc").toFile
    try {
      java.nio.file.Files.write(
        new java.io.File(dir, "a.warc").toPath, warc)
      java.nio.file.Files.write(
        new java.io.File(dir, "b.warc.gz").toPath, warcGz)
      val read = graft.operators.Warc.readArchives(spark, dir.getAbsolutePath)
      val recs2 = graft.operators.Warc.records(read)
      assert(read.count() == 2 && recs2.count() == 6)
      // file_id is deterministic across re-reads
      val ids1 = read.select("file_id").collect().map(_.getLong(0)).sorted
      val ids2 = graft.operators.Warc.readArchives(spark, dir.getAbsolutePath)
        .select("file_id").collect().map(_.getLong(0)).sorted
      assert(ids1.toSeq == ids2.toSeq && ids1.distinct.length == 2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("graft_video_meta walks MP4 box trees, nulls the rest") {
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    def box(name: String, payload: Array[Byte]) =
      be32(payload.length + 8) ++ ascii(name) ++ payload
    val ftyp = box("ftyp", ascii("isom") ++ Array.fill[Byte](4)(0))
    // mvhd VERSION 1 (64-bit times): ver=1, ctime/mtime 8B each,
    // timescale@20, duration@24 (8B)
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](16)(0) ++ be32(90000) ++ be64(90000L * 7))
    // an AUDIO track first (0x0 dims) — the walk must skip it
    val tkhdAudio = box("tkhd", Array.fill[Byte](76)(0) ++
      be32(0) ++ be32(0))
    // then the visual track, tkhd VERSION 1 (width at +88)
    val tkhdVideo = box("tkhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](84)(0) ++ be32(640 << 16) ++ be32(360 << 16))
    val moov = box("moov",
      mvhd1 ++ box("trak", tkhdAudio) ++ box("trak", tkhdVideo))
    val m = graft.expr.VideoMeta.parse(ftyp ++ moov)
    assert(m != null && m.getInt(1) == 640 && m.getInt(2) == 360 &&
      m.getLong(3) == 7000L && m.getInt(4) == 90000)
    // AVI: avih MainAVIHeader — 40 ms/frame × 250 frames of 320×240
    val avih = le32(40000) ++ Array.fill[Byte](12)(0) ++ le32(250) ++
      Array.fill[Byte](12)(0) ++ le32(320) ++ le32(240) ++
      Array.fill[Byte](16)(0)
    val hdrl = ascii("hdrl") ++ ascii("avih") ++ le32(avih.length) ++ avih
    val avi = ascii("RIFF") ++ le32(4 + 8 + hdrl.length) ++ ascii("AVI ") ++
      ascii("LIST") ++ le32(hdrl.length) ++ hdrl
    val am = graft.expr.VideoMeta.parse(avi)
    assert(am != null && am.getUTF8String(0).toString == "avi" &&
      am.getInt(1) == 320 && am.getInt(2) == 240 &&
      am.getLong(3) == 10000L && am.getInt(4) == 25, am)
    // AVI with no hdrl/avih → null
    assert(graft.expr.VideoMeta.parse(
      ascii("RIFF") ++ le32(4) ++ ascii("AVI ")) == null)

    // GIF: 3 frames at 7 cs each → 210 ms, timescale 100
    val gifMeta = graft.expr.VideoMeta.parse(
      graft.expr.GifBuild.animated(12, 9,
        Seq.fill(3)(Array.fill[Byte](12 * 9)(5)), delayCs = 7))
    assert(gifMeta != null && gifMeta.getUTF8String(0).toString == "gif" &&
      gifMeta.getInt(1) == 12 && gifMeta.getInt(2) == 9 &&
      gifMeta.getLong(3) == 210L && gifMeta.getInt(4) == 100, gifMeta)
    // frameless GIF (header only, immediate trailer) → null
    assert(graft.expr.VideoMeta.parse(
      "GIF89a".getBytes("ISO-8859-1") ++ Array[Byte](4, 0, 3, 0, 0, 0, 0) ++
        Array[Byte](0x3B)) == null)

    // no visual track at all → null
    assert(graft.expr.VideoMeta.parse(
      ftyp ++ box("moov", mvhd1 ++ box("trak", tkhdAudio))) == null)
    // garbage / truncation / missing ftyp → null
    assert(graft.expr.VideoMeta.parse(ascii("random bytes here!!")) == null)
    assert(graft.expr.VideoMeta.parse((ftyp ++ moov).take(40)) == null)
    assert(graft.expr.VideoMeta.parse(moov) == null)
    assert(graft.expr.VideoMeta.parse(Array.emptyByteArray) == null)
  }

  test("native cosine_sim is bit-identical to the composed-builtin form") {
    val vecs = Seq(
      (0L, Array(0.1f, -0.2f, 0.93f, 0.4f)),
      (1L, Array(0.5f, 0.5f, 0.0f, -0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero norm → 0.0
      (3L, Array(1.0f, 2.0f, 3.0f, 4.0f))
    ).toDF("id", "v")
    val pairs = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("native"),
        Similarity.cosineComposed(col("a.v"), col("b.v")).as("composed"))
      .collect()
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // SQL name resolves too
    vecs.createOrReplaceTempView("v_t")
    val viaSql = spark.sql(
      """SELECT graft_cosine_sim(a.v, b.v) FROM v_t a JOIN v_t b
         ON a.id = 0 AND b.id = 3""").collect()(0).getDouble(0)
    assert(math.abs(viaSql) <= 1.0)
  }

  test("session extension injects native functions into fresh session states") {
    // newSession() builds a NEW SessionState: Graft.tune's temp-function
    // registrations don't carry over, so resolution here proves the
    // spark.sql.extensions path (plans.GraftExtensions) injected the
    // functions into the base registry.
    val fresh = spark.newSession()
    val sim = fresh.sql(
      "SELECT graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .collect()(0).getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    val sh = fresh.sql("SELECT graft_shingles('a b c d', 3)")
      .collect()(0).getAs[scala.collection.Seq[String]](0).toSeq
    assert(sh == Seq("a b c", "b c d"))
    assert(fresh.sql("SELECT graft_minhash_sig(array('x','y'), 16)")
      .collect()(0).getAs[scala.collection.Seq[Long]](0).size == 16)
    assert(fresh.sql("SELECT graft_simhash(array('x','y'))")
      .collect()(0).getLong(0) != 0L)
    // the crawl-text tier resolves in extension-only sessions too
    // (regression: these were once registered only via Graft.tune)
    assert(fresh.sql("SELECT graft_rtf_to_text('{\\\\rtf1 hi}')")
      .collect()(0).getString(0) == "hi")
    assert(fresh.sql(
      "SELECT graft_http_text(cast(null as binary))").collect()(0).isNullAt(0))
    assert(fresh.sql(
      "SELECT graft_epub_text(cast(null as binary))").collect()(0).isNullAt(0))
  }

  test("extension registry parity: Graft.tune adds no graft_* name the extension lacks") {
    // The extension (plans.GraftExtensions) must make EVERY native
    // expression resolvable in pure-SQL sessions. A fresh session
    // state starts with exactly the extension-injected registry;
    // tune() then registers whatever it finds missing. Any graft_*
    // name that APPEARS after tune is one the extension missed — the
    // exact drift class this guards against.
    val fresh = spark.newSession()
    def graftNames(s: org.apache.spark.sql.SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val fromExtension = graftNames(fresh)
    Graft.tune(fresh)
    val missed = graftNames(fresh) -- fromExtension
    assert(missed.isEmpty,
      s"registered by Graft.tune but missing from GraftExtensions.functions: $missed")
  }

  test("a second tune leaves every registered graft function as it was") {
    // spark is a Graft.session(): GraftExtensions registered the
    // functions at session build, so tune has nothing to register
    import graft.plans.GraftExtensions
    def infos() =
      GraftExtensions.functions.map { case (id, _, _) =>
        id -> spark.sessionState.functionRegistry.lookupFunction(id)
      } ++ GraftExtensions.tableFunctions.map { case (id, _, _) =>
        id -> spark.sessionState.tableFunctionRegistry.lookupFunction(id)
      }
    val before = infos()
    assert(before.nonEmpty && before.forall(_._2.isDefined))
    Graft.tune(spark)
    infos().zip(before).foreach { case ((id, now), (_, was)) =>
      assert(now.get eq was.get, s"$id was registered again")
    }
  }

  test("tune registers every graft function a session's registries lack") {
    import graft.plans.GraftExtensions
    val bare = spark.newSession()
    val fns = bare.sessionState.functionRegistry
    val tvfs = bare.sessionState.tableFunctionRegistry
    GraftExtensions.functions.foreach(f => fns.dropFunction(f._1))
    GraftExtensions.tableFunctions.foreach(f => tvfs.dropFunction(f._1))
    assert(!fns.functionExists(GraftExtensions.functions.head._1))
    Graft.tune(bare)
    GraftExtensions.functions.foreach(f => assert(fns.functionExists(f._1), f._1))
    GraftExtensions.tableFunctions.foreach(f =>
      assert(tvfs.functionExists(f._1), f._1))
    assert(bare.sql(
      "SELECT graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .collect()(0).getDouble(0) == 1.0)
    // the optional second argument of graft_docx_text (q187) resolves
    assert(bare.sql("SELECT graft_docx_text(cast(null as binary), 1)")
      .collect()(0).isNullAt(0))
  }

  test("TVF SQL surfaces match their operators and validate arguments") {
    val trades = Seq((1L, "2024-01-01 10:00:05", 100.0), (2L, "2024-01-01 10:00:20", 200.0))
      .toDF("trade_id", "ts_s", "qty")
      .select($"trade_id", to_timestamp($"ts_s").as("ts"), $"qty", lit("s").as("sym"))
    val quotes = Seq(("2024-01-01 10:00:00", 9.5), ("2024-01-01 10:00:10", 9.9))
      .toDF("ts_s", "price")
      .select(to_timestamp($"ts_s").as("ts"), $"price", lit("s").as("sym"))
    trades.createOrReplaceTempView("trades_tvf")
    quotes.createOrReplaceTempView("quotes_tvf")
    val viaSql = spark.sql(
      """SELECT trade_id, price
         FROM graft_asof_join('trades_tvf', 'quotes_tvf', 'sym', 'ts', 'price')""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == Map(1L -> 9.5, 2L -> 9.9))
    val viaApi = graft.operators.Joins
      .asofJoin(trades, quotes, "sym", "ts", Seq("price"))
      .select($"trade_id", $"price")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi)

    // tolerance arg routes to the tolerant variant: the 15s-stale quote
    // at 10:00:20 nulls out under a 5s tolerance
    val tol = spark.sql(
      """SELECT trade_id, price
         FROM graft_asof_join('trades_tvf', 'quotes_tvf', 'sym', 'ts', 'price', 5)""")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(tol == Map(1L -> Some(9.5), 2L -> None))

    Seq((1L, 10.0), (2L, 80.0)).toDF("pt_id", "v").createOrReplaceTempView("pts_tvf")
    Seq((0L, 0.0, 50.0), (1L, 50.0, 100.0)).toDF("band", "lo", "hi")
      .createOrReplaceTempView("bands_tvf")
    val rj = spark.sql(
      """SELECT pt_id, band
         FROM graft_range_join('pts_tvf', 'v', 'bands_tvf', 'lo', 'hi', 25.0D)""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rj == Map(1L -> 0L, 2L -> 1L))

    Seq((1L, "spark sql engine"), (2L, "gardening tips")).toDF("doc_id", "text")
      .createOrReplaceTempView("docs_tvf")
    val bm = spark.sql(
      """SELECT doc_id, bm25 FROM graft_bm25('docs_tvf', 'doc_id', 'text', 'spark')""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bm(1L) > 0.0 && bm(2L) == 0.0)

    // predicates on TVF output push into the spliced operator plan —
    // the TVF is a view expansion, not an optimization barrier
    val pushed = spark.sql(
      """SELECT doc_id FROM graft_bm25('docs_tvf', 'doc_id', 'text', 'spark')
         WHERE doc_id = 1""").collect()
    assert(pushed.map(_.getLong(0)).toSeq == Seq(1L))

    // semantic dedup TVF: SQL equals the DataFrame API, and the bare
    // fractional literal (a DECIMAL at runtime, not a Number) is
    // accepted as the threshold
    val sdVecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.02f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    sdVecs.createOrReplaceTempView("sd_vecs_tvf")
    sdVecs.filter($"vec_id" === 0L || $"vec_id" === 3L)
      .createOrReplaceTempView("sd_cents_tvf")
    val sdSql = spark.sql(
      """SELECT vec_id, kept
         FROM graft_semantic_dedup('sd_vecs_tvf', 'sd_cents_tvf',
                                   'vec_id', 'embedding', 0.95)""")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sdApi = graft.operators.Similarity
      .semanticDedup(sdVecs,
        sdVecs.filter($"vec_id" === 0L || $"vec_id" === 3L),
        "vec_id", "embedding", 0.95)
      .select($"vec_id", $"kept")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sdSql == sdApi, s"sql=$sdSql api=$sdApi")
    assert(sdSql(3L) == 1) // the orthogonal vector survives

    // 4-arg auto form: trains its own sqrt(N) centroids; equals the
    // DataFrame auto path
    val sdAuto = spark.sql(
      """SELECT vec_id, kept
         FROM graft_semantic_dedup('sd_vecs_tvf', 'vec_id', 'embedding', 0.95)""")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sdAutoApi = graft.operators.Similarity
      .semanticDedupAuto(sdVecs, "vec_id", "embedding", 0.95)
      .select($"vec_id", $"kept")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sdAuto == sdAutoApi, s"sql=$sdAuto api=$sdAutoApi")
    graft.Caches.release(spark)

    // argument validation: wrong arity and non-literal args both fail
    // at analysis with the function's usage string
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_bm25('docs_tvf')"))
    assert(e1.getMessage.contains("graft_bm25"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_asof_join('trades_tvf', 'quotes_tvf', 'sym', 'ts')"))
    assert(e2.getMessage.contains("graft_asof_join"))
  }

  test("repeated graft_semantic_dedup invocations reuse one pinned cache") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.14f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    vecs.createOrReplaceTempView("memo_vecs_tvf")
    vecs.filter($"vec_id" =!= 1L).createOrReplaceTempView("memo_cents_tvf")
    val sql =
      """SELECT vec_id, kept
         FROM graft_semantic_dedup('memo_vecs_tvf', 'memo_cents_tvf',
                                   'vec_id', 'embedding', 0.9)"""
    graft.Caches.release(spark)
    val first = spark.sql(sql).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // re-analyzing the same statement must NOT pin a fresh assignment
    // copy per call — the ownership registry stays at its post-first-run
    // size instead of growing one entry per spark.sql
    val after1 = graft.Caches.ownedCount(spark)
    (1 to 3).foreach { _ =>
      assert(spark.sql(sql).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap == first)
    }
    assert(graft.Caches.ownedCount(spark) == after1,
      s"pinned entries grew: $after1 -> ${graft.Caches.ownedCount(spark)}")
    // after an explicit release the next invocation re-pins (fresh
    // entry, same result) rather than reusing a dead memo
    graft.Caches.release(spark)
    val again = spark.sql(sql).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == first)
    graft.Caches.release(spark)
  }

  test("session extension injects TVFs into fresh session states") {
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq((1L, "spark streams"), (2L, "cooking")).toDF("doc_id", "text")
      .createOrReplaceTempView("docs_fresh_tvf")
    val scores = fresh.sql(
      """SELECT doc_id, bm25
         FROM graft_bm25('docs_fresh_tvf', 'doc_id', 'text', 'spark')""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.0 && scores(2L) == 0.0)
  }

  test("cosine codegen survives duplicated instances in one generated function") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val at = ArrayType(DoubleType, containsNull = false)
    val e = graft.expr.CosineSimilarity(
      BoundReference(0, at, nullable = true), BoundReference(1, at, nullable = true))
    // Two instances in ONE generated function (what a filter + project
    // sharing an alias produces). Before locals went through
    // ctx.freshName this failed to compile ("Redefinition of local
    // variable i") and silently deoptimized the projection to the
    // interpreter; generate() throws on a compile error, so passing
    // here proves the generated code is valid.
    val proj = GenerateUnsafeProjection.generate(
      Seq(e, e), subexpressionEliminationEnabled = false)
    val row = InternalRow(
      ArrayData.toArrayData(Array(0.5, -1.5, 2.0)),
      ArrayData.toArrayData(Array(0.5, -1.5, 2.0)))
    val out = proj(row)
    assert(math.abs(out.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out.getDouble(1) - 1.0) < 1e-12)
  }

  test("exif codegen survives duplicated instances over a NON-nullable child") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    // non-nullable child: nullSafeCodeGen emits the result block
    // UNWRAPPED (no scoping if), so a literal local name in the block
    // collides when two instances share one generated function —
    // generate() throws on the janino error, so passing proves the
    // locals go through ctx.freshName
    val e = graft.expr.ExifOrientation(
      BoundReference(0, BinaryType, nullable = false))
    val proj = GenerateUnsafeProjection.generate(
      Seq(e, e), subexpressionEliminationEnabled = false)
    val out = proj(InternalRow("not an image".getBytes: Array[Byte]))
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("graft_bpe_encode: foldable NULL merges literal is NULL, not a planning NPE") {
    val got = Seq("abc", "de").toDF("word")
      .selectExpr(
        "graft_bpe_encode(word, cast(null as array<string>)) as toks")
      .collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("graft_orient_pixels: grayscale decode replicates to RGB before transforming") {
    import graft.expr.OrientPixels
    // grayscale PNG (colorType 0) decodes with ch=1; the transform
    // must widen it, not NULL out — 3×2 grid A..F rotated 90° CW (o=6)
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      be32(payload.length) ++ tb ++ payload ++ be32(crc.getValue.toInt)
    }
    val raw = Array[Byte](0, 1, 2, 3, 0, 4, 5, 6) // filter 0 per row
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val gray =
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
        chunk("IHDR", be32(3) ++ be32(2) ++ Array[Byte](8, 0, 0, 0, 0)) ++
        chunk("IDAT", bos.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    val got = OrientPixels.orient(gray, 6)
    assert(got != null)
    val s = new String(got, "ISO-8859-1")
    assert(s.startsWith("P6\n2 3\n255\n"))
    val data = got.drop("P6\n2 3\n255\n".length)
    val grid = (0 until 6).map(i => data(i * 3) & 0xFF)
    assert(grid == Seq(4, 1, 5, 2, 6, 3))
    // and every pixel is gray (all three channels equal)
    assert((0 until 6).forall(i =>
      data(i * 3) == data(i * 3 + 1) && data(i * 3) == data(i * 3 + 2)))
  }

  test("jsonl source: schema-first read, malformed lines quarantined not fatal") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/part.jsonl"),
      """{"doc_id": 1, "text": "line one\nwith \"quotes\""}
        |{"doc_id": 2, "text": "clean"}
        |{not valid json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val got = Tables.readJsonl(spark, s"$tmp/part.jsonl", schema)
    // cache first: Spark forbids a bare filter on ONLY the corrupt
    // column over a pushed-down json scan (internal raw-record rule)
    got.cache()
    val good = got.filter(col("_corrupt_record").isNull)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(good == Map(1L -> "line one\nwith \"quotes\"", 2L -> "clean"))
    val bad = got.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 1)
    assert(bad.select("_corrupt_record").as[String].head().startsWith("{not"))
    got.unpersist()
  }

  test("csv round-trip with empty-description drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val df = Seq(("1", "desc one"), ("2", ""), ("3", "   "), ("4", "keep"))
      .toDF("id", "description")
    Tables.writeCsv(df, s"$tmp/out", singleFile = true)
    val back = Tables.readCsv(spark, s"$tmp/out",
      requireNonBlank = Some("description"))
    assert(back.select("id").as[String].collect().toSet == Set("1", "4"))
  }

  test("yaml config parses strategy, columns and filter rules") {
    val yaml =
      """loading:
        |  strategy: scd2
        |columns: [job_title, link, entry_title]
        |filter:
        |  days_back: 14
        |  required_columns: [entry_title]
        |  case_sensitive: false
        |  loading_mode: overwrite
        |  exclude_keywords:
        |    entry_title: [intern, staffing]
        |    summary: [clearance]
        |""".stripMargin
    val p = PipelineConfig.parse(yaml)
    assert(p.strategy == Scd2)
    assert(p.columns == Seq("job_title", "link", "entry_title"))
    assert(p.filter.daysBack == 14)
    assert(p.filter.loadingMode == "overwrite")
    assert(p.filter.keywordExclusions("entry_title") == Seq("intern", "staffing"))

    val defaults = PipelineConfig.parse("{}")
    assert(defaults.filter == FilterConfig(
      keywordExclusions = Map.empty))
  }

  test("every scalar native expression generates janino-compilable code") {
    // Expression codegen failures DO NOT fail queries — Spark logs a
    // WARN and silently falls back to the interpreter, exactly the
    // deoptimization the native kernels exist to avoid (the janino
    // trap, SCALE.md round-8/round-9). generate() throws on a compile
    // error, so this sweep turns that silent perf cliff into a red
    // test for every current and future scalar kernel. Each expr is
    // also evaluated on an all-null row (the nullSafeCodeGen
    // short-circuit) and on a typed row where cheap.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.expr._
    val bin = BoundReference(0, BinaryType, nullable = true)
    val str = BoundReference(0, StringType, nullable = true)
    val strArr = BoundReference(0, ArrayType(StringType), nullable = true)
    val longArr = BoundReference(0, ArrayType(LongType), nullable = true)
    val intArr = BoundReference(0, ArrayType(IntegerType), nullable = true)
    val intArr2 = BoundReference(1, ArrayType(IntegerType), nullable = true)
    val dblArr = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val dblArr2 = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val codebook = BoundReference(1, ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))),
      nullable = true)
    // a real (tiny) bloom so the foldable-literal contract holds
    val bloomLit = Literal(
      org.apache.spark.util.sketch.BloomFilter.create(8, 0.03) match {
        case bf =>
          val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
          bos.toByteArray
      }, BinaryType)
    val exprs: Seq[(String, Expression)] = Seq(
      "AudioMeta" -> AudioMeta(bin),
      "AudioStats" -> AudioStats(bin),
      "AudioEnvSig" -> AudioEnvSig(bin, nFrames = 8),
      "AviFrames" -> AviFrames(bin, maxFrames = 4),
      "ImageMeta" -> ImageMeta(bin),
      "PixelStats" -> PixelStats(bin),
      "PixelGridSig" -> PixelGridSig(bin, gx = 4, gy = 4),
      "VideoMeta" -> VideoMeta(bin),
      "NfcNormalize" -> NfcNormalize(str),
      "WordShingles" -> WordShingles(str, n = 3),
      "WordGramHashes" -> WordGramHashes(str, k = 3),
      "WinnowFingerprints" -> WinnowFingerprints(str, k = 3, w = 4),
      "LangIdWide" -> LangIdWide(str,
        BoundReference(1, ArrayType(StringType), nullable = true)),
      "MinHashSignature" -> MinHashSignature(strArr, numHashes = 16),
      "OrderedPairs" -> OrderedPairs(longArr),
      "SigL1" -> SigL1(intArr, intArr2),
      "CosineSimilarity" -> CosineSimilarity(dblArr, dblArr2),
      "L2SqDistance" -> L2SqDistance(dblArr, dblArr2),
      "DotProduct" -> DotProduct(dblArr, dblArr2),
      "VecArgminL2" -> VecArgminL2(dblArr, codebook),
      "VecArgmaxCos" -> VecArgmaxCos(dblArr, codebook),
      "BloomMightContain" -> BloomMightContain(
        BoundReference(0, LongType, nullable = true), bloomLit))
    // SimHash60 is deliberately CodegenFallback (documented) — excluded.
    val nullRow = InternalRow(null, null)
    exprs.foreach { case (name, e) =>
      assert(e.checkInputDataTypes().isSuccess, s"$name type check")
      val proj =
        try GenerateUnsafeProjection.generate(Seq(e),
          subexpressionEliminationEnabled = false)
        catch { case ex: Throwable =>
          fail(s"$name codegen failed to compile: ${ex.getMessage}")
        }
      val out = proj(nullRow)
      assert(out.isNullAt(0), s"$name null-row eval")
    }
    // typed spot-check for the kernel this test was written against:
    // the boxed→primitive routing must preserve values, not just compile
    val l1 = GenerateUnsafeProjection.generate(
      Seq(SigL1(intArr, intArr2)), subexpressionEliminationEnabled = false)
    val r = l1(InternalRow(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1, 5, 9)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(4, 5, 2))))
    assert(r.getLong(0) == 10L)
  }
}
