package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent LZ4 WRITER for fixture construction — its own greedy
  * hash-table matcher and sequence emitter over the block format,
  * plus frame/legacy containers; nothing shared with [[Lz4]]'s
  * reading direction except the xxHash32 primitive, which is
  * externally pinned by the real `lz4`-1.9.4 streams in Lz4Spec (the
  * checksums this writer stamps are therefore the same function the
  * reference implementation computes, not a circular recollection).
  * decode(build(·)) exercises real matches, offsets and literal runs
  * on arbitrary payloads.
  */
private[graft] object Lz4Build {

  /** Greedy block compression: 4-byte-hash candidates, matches end
    * before the last 5 bytes, final sequence literal-only (the block
    * format's closing rule).
    */
  private[graft] def compressBlock(d: Array[Byte], from: Int,
      until: Int): Array[Byte] = {
    val w = new Writer
    val hashLog = 12
    val table = new Array[Int](1 << hashLog)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int =
      (((d(p) & 0xff) | ((d(p + 1) & 0xff) << 8) |
        ((d(p + 2) & 0xff) << 16) | ((d(p + 3) & 0xff) << 24)) *
        -1640531535) >>> (32 - hashLog)
    def writeLen(first: Int, rest: Int): Unit = {
      // `first` nibble already in the token; emit 255-extension bytes
      if (first == 15) {
        var r = rest
        while (r >= 255) { w.u8(255); r -= 255 }
        w.u8(r)
      }
    }
    var pos = from
    var litStart = from
    val mflimit = until - 12
    while (pos < mflimit) {
      val h = hash(pos)
      val cand = table(h)
      table(h) = pos
      if (cand >= from && pos - cand <= 0xffff &&
          d(cand) == d(pos) && d(cand + 1) == d(pos + 1) &&
          d(cand + 2) == d(pos + 2) && d(cand + 3) == d(pos + 3)) {
        // extend the match, stopping before the last 5 bytes
        var mlen = 4
        val matchLimit = until - 5
        while (pos + mlen < matchLimit &&
            d(cand + mlen) == d(pos + mlen)) mlen += 1
        val litLen = pos - litStart
        val tokenLit = math.min(litLen, 15)
        val tokenMat = math.min(mlen - 4, 15)
        w.u8((tokenLit << 4) | tokenMat)
        writeLen(tokenLit, litLen - 15)
        w.bytes(d, litStart, litLen)
        w.le16(pos - cand)
        writeLen(tokenMat, mlen - 4 - 15)
        pos += mlen
        litStart = pos
      } else pos += 1
    }
    // closing literal-only sequence
    val litLen = until - litStart
    val tokenLit = math.min(litLen, 15)
    w.u8(tokenLit << 4)
    writeLen(tokenLit, litLen - 15)
    w.bytes(d, litStart, litLen)
    w.result
  }

  /** Standard frame: 64 KiB independent blocks, optional block
    * checksums / content size, content checksum always on.
    */
  def frame(data: Array[Byte], blockCk: Boolean = false,
      contentSize: Boolean = false): Array[Byte] = {
    val w = new Writer
    w.le32(0x184d2204L)
    val flg = 0x40 | 0x20 | 0x04 |
      (if (blockCk) 0x10 else 0) | (if (contentSize) 0x08 else 0)
    val desc = new Writer
    desc.u8(flg)
    desc.u8(0x40) // BD: 64 KiB max block
    if (contentSize) { desc.le32(data.length.toLong); desc.le32(0L) }
    val db = desc.result
    w.bytes(db, 0, db.length)
    w.u8((Lz4.xxh32(db, 0, db.length, 0) >>> 8) & 0xff)
    var o = 0
    while (o < data.length) {
      val n = math.min(64 << 10, data.length - o)
      val c = compressBlock(data, o, o + n)
      if (c.length < n) {
        w.le32(c.length.toLong)
        w.bytes(c, 0, c.length)
        if (blockCk) w.le32(Lz4.xxh32(c, 0, c.length, 0) & 0xffffffffL)
      } else { // store uncompressed
        w.le32(n.toLong | 0x80000000L)
        w.bytes(data, o, n)
        if (blockCk) w.le32(Lz4.xxh32(data, o, n, 0) & 0xffffffffL)
      }
      o += n
    }
    w.le32(0L) // EndMark
    w.le32(Lz4.xxh32(data, 0, data.length, 0) & 0xffffffffL)
    w.result
  }

  /** Legacy frame: one 8 MiB-capped compressed block per chunk. */
  def legacy(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.le32(0x184c2102L)
    var o = 0
    while (o < data.length || o == 0) {
      val n = math.min(8 << 20, data.length - o)
      val c = compressBlock(data, o, o + n)
      w.le32(c.length.toLong)
      w.bytes(c, 0, c.length)
      o += n
      if (o >= data.length) return w.result
    }
    w.result
  }
}
