package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent 7z WRITER for fixture construction — implemented from
  * the container description alone, sharing no parsing machinery
  * with [[SevenZip]] (numbers, bit vectors, CRCs and the header tree
  * are all re-derived here, so entries(build(·)) is a genuine
  * structural differential). Emits one solid folder holding every
  * non-empty file, coded as Copy or as store-mode LZMA2
  * (uncompressed chunks — a valid LZMA2 stream built WITHOUT the
  * decoder), plus directories and empty files through the
  * kEmptyStream/kEmptyFile vectors; optional EncodedHeader wrapping
  * (the header itself shipped as a Copy-coded folder). The
  * compressed LZMA/LZMA2 coder paths are pinned separately by real
  * liblzma raw streams via [[withPackedFolder]].
  */
private[graft] object SevenZipBuild {

  final case class Entry(name: String, content: Array[Byte],
      dir: Boolean = false)

  private def crc32(b: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, len)
    c.getValue
  }

  /** The 7z-specific encodings on top of the shared fixture writer. */
  private implicit final class SevenZipWriter(private val w: Writer)
      extends AnyVal {
    /** 7z variable-length number (shortest form). */
    def num(v: Long): Unit = {
      require(v >= 0)
      var extra = 0
      while (extra < 8 && (v >>> (8 * extra)) > ((0x80L >> extra) - 1) &&
          extra < 8) extra += 1
      var firstMask = 0
      var i = 0
      while (i < extra) { firstMask |= 0x80 >> i; i += 1 }
      val high = if (extra < 8) (v >>> (8 * extra)).toInt else 0
      w.u8(firstMask | high)
      i = 0
      while (i < extra) { w.u8(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    /** MSB-first bit vector. */
    def bits(v: Seq[Boolean]): Unit = {
      var i = 0
      var cur = 0
      v.foreach { b =>
        if (b) cur |= 0x80 >> (i % 8)
        i += 1
        if (i % 8 == 0) { w.u8(cur); cur = 0 }
      }
      if (i % 8 != 0) w.u8(cur)
    }
  }

  /** Store-mode LZMA2: the payload as uncompressed chunks + end
    * marker (a spec-valid LZMA2 stream, no encoder needed).
    */
  private def lzma2Store(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    var off = 0
    var first = true
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      w.u8(if (first) 0x01 else 0x02)
      w.u8((n - 1) >> 8); w.u8((n - 1) & 0xff)
      w.out.write(data, off, n)
      off += n
      first = false
    }
    w.u8(0)
    w.result
  }

  /** Header tree for one folder: `chain` is (coderId, props,
    * outSize) per coder; two-coder chains bind coder 0's output into
    * coder 1's input (the linear filter layout).
    */
  private def header(entries: Seq[Entry], packSize: Long,
      chain: Seq[(Long, Array[Byte], Long)],
      subSizes: Seq[Long], subCrcs: Seq[Long],
      packPos: Long): Array[Byte] = {
    val w = new Writer
    w.u8(0x01) // kHeader
    if (packSize > 0) {
      w.u8(0x04) // kMainStreamsInfo
      w.u8(0x06) // kPackInfo
      w.num(packPos); w.num(1)
      w.u8(0x09); w.num(packSize) // kSize
      w.u8(0x00)
      w.u8(0x07) // kUnpackInfo
      w.u8(0x0b); w.num(1); w.u8(0) // kFolder, 1 folder, internal
      w.num(chain.length)
      chain.foreach { case (coderId, props, _) =>
        val idLen = math.max(1,
          (64 - java.lang.Long.numberOfLeadingZeros(coderId) + 7) / 8).toInt
        w.u8(idLen | (if (props.nonEmpty) 0x20 else 0))
        var i = idLen - 1
        while (i >= 0) { w.u8(((coderId >> (8 * i)) & 0xff).toInt); i -= 1 }
        if (props.nonEmpty) { w.num(props.length); w.bytes(props) }
      }
      if (chain.length == 2) { w.num(1); w.num(0) } // bind in 1 <- out 0
      w.u8(0x0c) // kCodersUnpackSize: one per out-stream, coder order
      chain.foreach { case (_, _, outSize) => w.num(outSize) }
      w.u8(0x00)
      w.u8(0x08) // kSubStreamsInfo
      w.u8(0x0d); w.num(subSizes.length) // kNumUnpackStream
      w.u8(0x09) // kSize: first n−1
      subSizes.dropRight(1).foreach(w.num)
      w.u8(0x0a) // kCRC: all substreams (no folder CRC was written)
      w.u8(1) // all defined
      subCrcs.foreach(w.le32)
      w.u8(0x00)
      w.u8(0x00)
    }
    // FilesInfo
    w.u8(0x05)
    w.num(entries.length)
    val anyEmpty = entries.exists(e => e.dir || e.content.isEmpty)
    if (anyEmpty) {
      val v = entries.map(e => e.dir || e.content.isEmpty)
      val body = new Writer
      body.bits(v)
      w.num(0x0e); w.num(body.result.length); w.bytes(body.result)
      val emptyFiles = entries.filter(e => e.dir || e.content.isEmpty)
        .map(!_.dir)
      if (emptyFiles.exists(x => x)) {
        val body2 = new Writer
        body2.bits(emptyFiles)
        w.num(0x0f); w.num(body2.result.length); w.bytes(body2.result)
      }
    }
    val nameBody = new Writer
    nameBody.u8(0) // internal
    entries.foreach { e =>
      e.name.foreach { ch => nameBody.u8(ch & 0xff); nameBody.u8(ch >> 8) }
      nameBody.u8(0); nameBody.u8(0)
    }
    w.num(0x11); w.num(nameBody.result.length); w.bytes(nameBody.result)
    w.u8(0x00) // end FilesInfo
    w.u8(0x00) // end Header
    w.result
  }

  private def container(packed: Array[Byte], nextHeader: Array[Byte]):
      Array[Byte] = {
    val w = new Writer
    w.bytes(Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c))
    w.u8(0); w.u8(4) // version
    val startHeader = new Writer
    startHeader.le64(packed.length.toLong) // next header offset
    startHeader.le64(nextHeader.length.toLong)
    startHeader.le32(crc32(nextHeader, 0, nextHeader.length))
    val sh = startHeader.result
    w.le32(crc32(sh, 0, sh.length))
    w.bytes(sh)
    w.bytes(packed)
    w.bytes(nextHeader)
    w.result
  }

  /** Build an archive: one solid folder (Copy or store-mode LZMA2)
    * for the non-empty files, empty files and directories via the
    * FilesInfo vectors. `encodedHeader` wraps the header itself as a
    * Copy-coded folder behind kEncodedHeader.
    */
  def build(entries: Seq[Entry], lzma2: Boolean = false,
      encodedHeader: Boolean = false): Array[Byte] = {
    val streamed = entries.filter(e => !e.dir && e.content.nonEmpty)
    val unpacked = streamed.map(_.content.length.toLong).sum
    val cat = new java.io.ByteArrayOutputStream()
    streamed.foreach(e => cat.write(e.content))
    val data = cat.toByteArray
    val packed = if (lzma2) lzma2Store(data) else data
    val coderId = if (lzma2) 0x21L else 0x00L
    val props = if (lzma2) Array[Byte](40) else Array.emptyByteArray
    val hdr = header(entries, packed.length.toLong,
      Seq((coderId, props, unpacked)),
      streamed.map(_.content.length.toLong),
      streamed.map(e => crc32(e.content, 0, e.content.length)), 0L)
    if (!encodedHeader) container(packed, hdr)
    else {
      // ship the header as a Copy folder appended after the pack data
      val w = new Writer
      w.u8(0x17) // kEncodedHeader
      w.u8(0x06); w.num(packed.length.toLong); w.num(1) // pack at offset
      w.u8(0x09); w.num(hdr.length.toLong); w.u8(0x00)
      w.u8(0x07); w.u8(0x0b); w.num(1); w.u8(0)
      w.num(1); w.u8(1); w.u8(0x00) // one Copy coder
      w.u8(0x0c); w.num(hdr.length.toLong)
      w.u8(0x0a); w.u8(1); w.le32(crc32(hdr, 0, hdr.length)) // folder CRC
      w.u8(0x00)
      w.u8(0x00)
      container(packed ++ hdr, w.result)
    }
  }

  /** Archive whose single folder's PACKED bytes are caller-supplied
    * (e.g. a REAL liblzma raw LZMA1/LZMA2 stream), with explicit
    * coder id/props — pins the compressed coder paths inside the
    * container walk.
    */
  def withPackedFolder(names: Seq[String], contents: Seq[Array[Byte]],
      packed: Array[Byte], coderId: Long,
      props: Array[Byte]): Array[Byte] = {
    val entries = names.zip(contents).map { case (n, c) => Entry(n, c) }
    val unpacked = contents.map(_.length.toLong).sum
    val hdr = header(entries, packed.length.toLong,
      Seq((coderId, props, unpacked)),
      contents.map(_.length.toLong),
      contents.map(c => crc32(c, 0, c.length)), 0L)
    container(packed, hdr)
  }

  // ------------------------------------------------------------------
  // BCJ2 write side: an independent branch scanner + LZMA-style
  // binary range ENCODER (the reader has only the decoder) so
  // entries(buildBcj2(·)) is a genuine differential for the
  // four-stream layout.
  // ------------------------------------------------------------------

  private final class RangeEnc {
    val out = new java.io.ByteArrayOutputStream()
    private var low = 0L
    private var range = 0xffffffffL
    private var cache = 0
    private var cacheSize = 1L
    private def shiftLow(): Unit = {
      if (low < 0xff000000L || (low >>> 32) != 0) {
        var temp = cache
        var continue = true
        while (continue) {
          out.write(((temp + (low >>> 32)) & 0xff).toInt)
          temp = 0xff
          cacheSize -= 1
          continue = cacheSize != 0
        }
        cache = ((low >>> 24) & 0xff).toInt
      }
      cacheSize += 1
      low = (low << 8) & 0xffffffffL
    }
    def bit(probs: Array[Int], idx: Int, b: Int): Unit = {
      val prob = probs(idx)
      val bound = (range >>> 11) * prob
      if (b == 0) {
        range = bound
        probs(idx) = prob + ((2048 - prob) >> 5)
      } else {
        low += bound
        range -= bound
        probs(idx) = prob - (prob >> 5)
      }
      while (range < (1L << 24)) {
        range = (range << 8) & 0xffffffffL
        shiftLow()
      }
    }
    def flush(): Array[Byte] = {
      var i = 0
      while (i < 5) { shiftLow(); i += 1 }
      out.toByteArray
    }
  }

  /** Split `data` into BCJ2's four streams: branch opcodes whose
    * following rel32 looks like an address (high byte 00/FF, the
    * real encoder's heuristic) convert to big-endian absolute in the
    * call/jump stream with a 1 bit in the control stream; every
    * other branch opcode codes a 0 bit.
    */
  private[graft] def bcj2Encode(data: Array[Byte]):
      (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    val main = new java.io.ByteArrayOutputStream()
    val call = new java.io.ByteArrayOutputStream()
    val jump = new java.io.ByteArrayOutputStream()
    val rc = new RangeEnc
    val probs = Array.fill(2 + 256)(1024)
    var i = 0
    var prev = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      main.write(b)
      val isBranch = (b & 0xfe) == 0xe8 ||
        (prev == 0x0f && (b & 0xf0) == 0x80)
      if (isBranch) {
        val idx = if (b == 0xe8) 2 + prev else if (b == 0xe9) 1 else 0
        val canConvert = i + 4 < data.length
        val hi = if (canConvert) data(i + 4) & 0xff else 0
        val convert = canConvert && (hi == 0x00 || hi == 0xff)
        rc.bit(probs, idx, if (convert) 1 else 0)
        if (convert) {
          val rel = (data(i + 1) & 0xffL) | ((data(i + 2) & 0xffL) << 8) |
            ((data(i + 3) & 0xffL) << 16) | ((data(i + 4) & 0xffL) << 24)
          val abs = (rel + i + 5) & 0xffffffffL
          val sink = if (b == 0xe8) call else jump
          sink.write(((abs >> 24) & 0xff).toInt)
          sink.write(((abs >> 16) & 0xff).toInt)
          sink.write(((abs >> 8) & 0xff).toInt)
          sink.write((abs & 0xff).toInt)
          prev = (data(i + 4) & 0xff)
          i += 5
        } else { prev = b; i += 1 }
      } else { prev = b; i += 1 }
    }
    (main.toByteArray, call.toByteArray, jump.toByteArray, rc.flush())
  }

  /** Archive whose single folder is the BCJ2 branching layout: four
    * coders (three Copy or store-LZMA2 carrying main/call/jump + the
    * 4-in/1-out BCJ2), three bind pairs, four packed streams (the
    * control stream feeds BCJ2 directly). Header emission is
    * re-derived here, independent of the reader's graph walk.
    */
  def buildBcj2(entries: Seq[Entry], lzma2: Boolean = false):
      Array[Byte] = {
    val streamed = entries.filter(e => !e.dir && e.content.nonEmpty)
    val cat = new java.io.ByteArrayOutputStream()
    streamed.foreach(e => cat.write(e.content))
    val data = cat.toByteArray
    val (mainS, callS, jumpS, rcS) = bcj2Encode(data)
    def pack(s: Array[Byte]): Array[Byte] =
      if (lzma2) lzma2Store(s) else s
    bcj2Container(entries,
      Seq(pack(mainS), pack(callS), pack(jumpS), rcS),
      mainS.length, callS.length, jumpS.length,
      if (lzma2) 0x21L else 0x00L,
      if (lzma2) Array[Byte](40) else Array.emptyByteArray)
  }

  /** BCJ2 archive from caller-supplied PACKED carrier streams (e.g.
    * REAL liblzma raw LZMA2 over main/call/jump with an externally
    * produced control stream) — pins the branching layout against
    * fully independent producers.
    */
  def bcj2Container(entries: Seq[Entry], packs: Seq[Array[Byte]],
      mainLen: Int, callLen: Int, jumpLen: Int, carrierId: Long,
      carrierProps: Array[Byte]): Array[Byte] = {
    val streamed = entries.filter(e => !e.dir && e.content.nonEmpty)
    val data = {
      val cat = new java.io.ByteArrayOutputStream()
      streamed.foreach(e => cat.write(e.content))
      cat.toByteArray
    }
    val w = new Writer
    w.u8(0x01) // kHeader
    w.u8(0x04) // kMainStreamsInfo
    w.u8(0x06) // kPackInfo
    w.num(0L); w.num(packs.length.toLong)
    w.u8(0x09); packs.foreach(p => w.num(p.length.toLong)) // kSize
    w.u8(0x00)
    w.u8(0x07) // kUnpackInfo
    w.u8(0x0b); w.num(1); w.u8(0) // kFolder, 1 folder, internal
    w.num(4) // four coders
    // coders 0..2: the 1-in/1-out carriers (main, call, jump)
    (0 until 3).foreach { _ =>
      w.u8(1 | (if (carrierProps.nonEmpty) 0x20 else 0))
      w.u8(carrierId.toInt)
      if (carrierProps.nonEmpty) {
        w.num(carrierProps.length.toLong); w.bytes(carrierProps)
      }
    }
    // coder 3: BCJ2, complex (4 in / 1 out), id 0x0303011B
    w.u8(4 | 0x10)
    w.u8(0x03); w.u8(0x03); w.u8(0x01); w.u8(0x1b)
    w.num(4); w.num(1)
    // bind pairs (InIndex, OutIndex): BCJ2 ins 3,4,5 ← outs 0,1,2
    w.num(3); w.num(0)
    w.num(4); w.num(1)
    w.num(5); w.num(2)
    // packed indices (4 > 1, so listed): carrier ins 0,1,2 + rc in 6
    w.num(0); w.num(1); w.num(2); w.num(6)
    w.u8(0x0c) // kCodersUnpackSize: per out-stream in coder order
    w.num(mainLen.toLong)
    w.num(callLen.toLong)
    w.num(jumpLen.toLong)
    w.num(data.length.toLong)
    w.u8(0x00)
    w.u8(0x08) // kSubStreamsInfo
    w.u8(0x0d); w.num(streamed.length.toLong) // kNumUnpackStream
    w.u8(0x09) // kSize: first n−1
    streamed.dropRight(1).foreach(e => w.num(e.content.length.toLong))
    w.u8(0x0a) // kCRC
    w.u8(1)
    streamed.foreach(e => w.le32(crc32(e.content, 0, e.content.length)))
    w.u8(0x00)
    w.u8(0x00)
    // FilesInfo: names only (no empties in the BCJ2 fixtures)
    w.u8(0x05)
    w.num(entries.length.toLong)
    val nameBody = new Writer
    nameBody.u8(0)
    entries.foreach { e =>
      e.name.foreach { ch => nameBody.u8(ch & 0xff); nameBody.u8(ch >> 8) }
      nameBody.u8(0); nameBody.u8(0)
    }
    w.num(0x11); w.num(nameBody.result.length.toLong)
    w.bytes(nameBody.result)
    w.u8(0x00)
    w.u8(0x00)
    val packed = new java.io.ByteArrayOutputStream()
    packs.foreach(packed.write)
    container(packed.toByteArray, w.result)
  }

  /** Archive whose single folder is a two-coder LINEAR chain
    * (packed → base coder → filter coder → files): e.g. a real
    * liblzma raw [delta|x86, LZMA2] stream as the packed payload,
    * base = LZMA2, filter = 7z's delta (0x03) or BCJ x86
    * (0x03030103). `midSize` is the base coder's output size (the
    * still-filtered bytes).
    */
  def withChainedFolder(names: Seq[String], contents: Seq[Array[Byte]],
      packed: Array[Byte], baseId: Long, baseProps: Array[Byte],
      filterId: Long, filterProps: Array[Byte],
      midSize: Long): Array[Byte] = {
    val entries = names.zip(contents).map { case (n, c) => Entry(n, c) }
    val unpacked = contents.map(_.length.toLong).sum
    val hdr = header(entries, packed.length.toLong,
      Seq((baseId, baseProps, midSize), (filterId, filterProps, unpacked)),
      contents.map(_.length.toLong),
      contents.map(c => crc32(c, 0, c.length)), 0L)
    container(packed, hdr)
  }
}
