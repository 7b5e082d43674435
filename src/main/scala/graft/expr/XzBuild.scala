package graft.expr

import graft.fixtures.FixtureBytes.le32

/** Minimal deterministic .xz WRITER for the oracle-gated xz queries
  * — NOT a compressor: the payload travels in LZMA2 UNCOMPRESSED
  * chunks (control 0x01/0x02), which is a fully valid stream per the
  * format spec (verified against `xz -t`/`unxz` during development).
  * The compressed LZMA path needs no fixture encoder: XzSpec pins it
  * with real `xz`-tool streams. Writes the complete container —
  * stream header, one block (LZMA2 filter, dict-size props), padded
  * data, CRC64 check, index, footer — so any conforming reader
  * accepts the output.
  */
private[graft] object XzBuild {

  private def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, until - from)
    c.getValue
  }

  private def crc64(b: Array[Byte]): Long = {
    var crc = -1L
    var i = 0
    while (i < b.length) {
      crc = (crc >>> 8) ^ Xz.Crc64Table(((crc ^ b(i)) & 0xff).toInt)
      i += 1
    }
    ~crc
  }

  private def vli(v: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = v
    while (x >= 0x80) {
      out.write(((x & 0x7f) | 0x80).toInt)
      x >>= 7
    }
    out.write(x.toInt)
    out.toByteArray
  }

  /** Store `data` (≤ ~8 MB practical fixture sizes) as one block of
    * uncompressed LZMA2 chunks under a CRC64 check.
    */
  def store(data: Array[Byte]): Array[Byte] = storeRaw(data, null)

  /** Same container as [[store]] but with a caller-supplied LZMA2
    * block-data payload — lets regression tests put a malformed chunk
    * sequence behind a structurally valid stream header / block
    * header / index, so decoder triage paths are reachable.
    */
  def storeRaw(data: Array[Byte],
      rawBlockData: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // ---- stream header: magic + flags(check=CRC64) + CRC32(flags)
    out.write(Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0))
    val flags = Array[Byte](0, 0x04)
    out.write(flags)
    out.write(le32(crc32(flags, 0, 2).toInt))

    // ---- block header: LZMA2 filter, props = dict size code 0
    val hdrBody = new java.io.ByteArrayOutputStream()
    hdrBody.write(0) // block flags: 1 filter, no size fields
    hdrBody.write(vli(0x21)) // LZMA2
    hdrBody.write(vli(1)) // props length
    hdrBody.write(0) // dict size code (smallest)
    var hdrSize = 4 + hdrBody.size() + 4 // size byte + body + crc
    while (hdrSize % 4 != 0) hdrSize += 1
    val hdr = new Array[Byte](hdrSize)
    hdr(0) = ((hdrSize / 4) - 1).toByte
    val hb = hdrBody.toByteArray
    System.arraycopy(hb, 0, hdr, 1, hb.length)
    val hc = crc32(hdr, 0, hdrSize - 4)
    System.arraycopy(le32(hc.toInt), 0, hdr, hdrSize - 4, 4)
    out.write(hdr)

    // ---- block data: uncompressed LZMA2 chunks (≤ 64 KiB each)
    val blockData = if (rawBlockData != null) rawBlockData else {
      val dataOut = new java.io.ByteArrayOutputStream()
      var off = 0
      var first = true
      while (off < data.length) {
        val n = math.min(1 << 16, data.length - off)
        dataOut.write(if (first) 0x01 else 0x02) // dict reset on first
        dataOut.write((n - 1) >> 8)
        dataOut.write((n - 1) & 0xff)
        dataOut.write(data, off, n)
        off += n
        first = false
      }
      dataOut.write(0) // LZMA2 end marker
      dataOut.toByteArray
    }
    out.write(blockData)
    var pad = 0
    while ((blockData.length + pad) % 4 != 0) { out.write(0); pad += 1 }
    out.write(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(crc64(data)).array())

    // ---- index: one record
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0) // indicator
    idx.write(vli(1)) // record count
    // unpadded size = header + compressed data + check, NO padding
    idx.write(vli(hdrSize.toLong + blockData.length + 8))
    idx.write(vli(data.length.toLong))
    var ipad = 0
    while ((idx.size() + ipad) % 4 != 0) ipad += 1
    val idxArr = java.util.Arrays.copyOf(idx.toByteArray,
      idx.size() + ipad)
    out.write(idxArr)
    out.write(le32(crc32(idxArr, 0, idxArr.length).toInt))

    // ---- footer: CRC32(backward+flags), backward size, flags, YZ
    val backward = le32((idxArr.length + 4) / 4 - 1)
    val tail = backward ++ flags
    out.write(le32(crc32(tail, 0, tail.length).toInt))
    out.write(tail)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }
}
