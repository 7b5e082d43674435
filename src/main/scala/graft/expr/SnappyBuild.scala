package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent Snappy WRITER for fixture construction — its own
  * greedy hash matcher and element emitter over the raw block
  * format, plus the framing container; nothing shared with
  * [[Snappy]]'s reading direction except the JDK CRC32C primitive
  * (a trusted reference, not a recollection). decode(build(·)) plus
  * the snappy-java cross-differentials in SnappySpec gate both
  * directions.
  */
private[graft] object SnappyBuild {

  /** Raw snappy of `data`: varint length, then greedy literal/copy
    * elements (2-byte offsets, 64-byte copy segments).
    */
  def raw(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    var v = data.length
    while ((v & ~0x7f) != 0) { w.u8((v & 0x7f) | 0x80); v >>>= 7 }
    w.u8(v)
    val hashLog = 12
    val table = new Array[Int](1 << hashLog)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int =
      (((data(p) & 0xff) | ((data(p + 1) & 0xff) << 8) |
        ((data(p + 2) & 0xff) << 16) | ((data(p + 3) & 0xff) << 24)) *
        -1640531535) >>> (32 - hashLog)
    def literals(from: Int, until: Int): Unit = {
      var o = from
      while (o < until) {
        val len = math.min(until - o, 65536)
        if (len <= 60) w.u8(((len - 1) << 2))
        else if (len <= 256) { w.u8(60 << 2); w.u8(len - 1) }
        else { w.u8(61 << 2); w.u8((len - 1) & 0xff); w.u8((len - 1) >> 8) }
        w.bytes(data, o, len)
        o += len
      }
    }
    var pos = 0
    var litStart = 0
    val limit = data.length - 4
    while (pos < limit) {
      val h = hash(pos)
      val cand = table(h)
      table(h) = pos
      if (cand >= 0 && pos - cand <= 0xffff &&
          data(cand) == data(pos) && data(cand + 1) == data(pos + 1) &&
          data(cand + 2) == data(pos + 2) && data(cand + 3) == data(pos + 3)) {
        literals(litStart, pos)
        var mlen = 4
        while (pos + mlen < data.length &&
            data(cand + mlen) == data(pos + mlen)) mlen += 1
        val offset = pos - cand
        var rest = mlen
        while (rest > 0) {
          // 2-bit-tag copies carry 1..64 bytes, but a copy below 4
          // is never emitted — split so no trailing 1..3 sliver
          val seg =
            if (rest <= 64) rest
            else if (rest - 64 >= 4) 64
            else 60
          w.u8(((seg - 1) << 2) | 0x02)
          w.u8(offset & 0xff)
          w.u8(offset >> 8)
          rest -= seg
        }
        pos += mlen
        litStart = pos
      } else pos += 1
    }
    literals(litStart, data.length)
    w.result
  }

  /** Framing-format stream: identifier chunk, then ≤64 KiB data
    * chunks — compressed when it wins, uncompressed otherwise, each
    * with the masked CRC32C of its uncompressed bytes.
    */
  def framed(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.u8(0xff); w.u8(6); w.u8(0); w.u8(0)
    "sNaPpY".foreach(c => w.u8(c))
    var o = 0
    while (o < data.length || o == 0) {
      val n = math.min(65536, data.length - o)
      val crc = Snappy.maskedCrc(data, o, n)
      val seg = java.util.Arrays.copyOfRange(data, o, o + n)
      val c = raw(seg)
      val (kind, payload) =
        if (c.length < n) (0x00, c)
        else (0x01, seg)
      val len = payload.length + 4
      w.u8(kind); w.u8(len & 0xff); w.u8((len >> 8) & 0xff)
      w.u8((len >> 16) & 0xff)
      w.u8(crc & 0xff); w.u8((crc >> 8) & 0xff)
      w.u8((crc >> 16) & 0xff); w.u8((crc >> 24) & 0xff)
      w.bytes(payload, 0, payload.length)
      o += n
      if (o >= data.length) return w.result
    }
    w.result
  }
}
