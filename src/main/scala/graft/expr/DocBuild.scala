package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent CFB + Word97 `.doc` WRITER for fixture construction —
  * its own sector layout, FAT/miniFAT/DIFAT, directory records, FIB
  * and piece-table emission; nothing shared with [[Cfb]]/[[DocText]]
  * (the reader walks chains, the writer allocates them), so
  * parse(build(·)) is a genuine structural differential. Streams
  * under the 4096 cutoff land in the root mini stream (exercising
  * the miniFAT path); larger ones get regular FAT chains.
  */
private[graft] object DocBuild {

  private val Free = 0xffffffffL
  private val EndOfChain = 0xfffffffeL
  private val FatSect = 0xfffffffdL

  /** Assemble a v3 (512-byte sector) compound file from named
    * streams; `name` order becomes directory order after root. A
    * `/` in a name nests the stream under storage entries (created
    * on first use), and every level links a real sibling chain off
    * its parent's child pointer — the tree shape Outlook `.msg`
    * containers use, so parse(build(·)) exercises the reader's
    * directory-tree walk.
    */
  def cfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val sectorSize = 512

    // ---- directory tree: node 0 is root; storages materialize on
    // first use; children keep insertion order
    final class Node(val name: String, val objType: Int,
      val data: Array[Byte])
    val nodes = scala.collection.mutable.ArrayBuffer[Node](
      new Node("Root Entry", 5, null))
    val pathIdx = scala.collection.mutable.Map[String, Int]("" -> 0)
    val children = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    def childList(p: Int) =
      children.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty)
    streams.foreach { case (path, data) =>
      val parts = path.split('/')
      var parent = 0
      var k = 0
      while (k < parts.length - 1) {
        val key = parts.take(k + 1).mkString("/")
        parent = pathIdx.getOrElseUpdate(key, {
          val idx = nodes.length
          nodes += new Node(parts(k), 1, null)
          childList(if (k == 0) 0 else pathIdx(parts.take(k).mkString("/"))) += idx
          idx
        })
        k += 1
      }
      val idx = nodes.length
      nodes += new Node(parts.last, 2, data)
      childList(parent) += idx
    }
    val streamNodes = nodes.toSeq.filter(_.objType == 2)
    val minis = streamNodes.filter(_.data.length < 4096)
    val regulars = streamNodes.filter(_.data.length >= 4096)

    // ---- mini stream + miniFAT
    val miniData = new Writer
    val miniFat = scala.collection.mutable.ArrayBuffer.empty[Long]
    val miniStarts = new java.util.IdentityHashMap[Node, Long]()
    minis.foreach { node =>
      val data = node.data
      val nSect = math.max(1, (data.length + 63) / 64)
      miniStarts.put(node, miniFat.length.toLong)
      var i = 0
      while (i < nSect) {
        miniFat += (if (i == nSect - 1) EndOfChain
          else miniFat.length + 1L)
        i += 1
      }
      miniData.bytes(data)
      miniData.pad(64)
    }

    // ---- regular sectors: stream chains, ministream, miniFAT,
    //      directory, then FAT sectors at the end
    val sectors = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val fat = scala.collection.mutable.ArrayBuffer.empty[Long]
    def addChain(data: Array[Byte]): Long = {
      if (data.isEmpty) return EndOfChain
      val start = sectors.length.toLong
      val nSect = (data.length + sectorSize - 1) / sectorSize
      var i = 0
      while (i < nSect) {
        val s = new Array[Byte](sectorSize)
        val n = math.min(sectorSize, data.length - i * sectorSize)
        System.arraycopy(data, i * sectorSize, s, 0, n)
        sectors += s
        fat += (if (i == nSect - 1) EndOfChain else start + i + 1)
        i += 1
      }
      start
    }

    val regStarts = new java.util.IdentityHashMap[Node, Long]()
    regulars.foreach(node => regStarts.put(node, addChain(node.data)))
    val miniStreamStart = addChain(miniData.result)
    val miniFatBytes = {
      val w = new Writer
      miniFat.foreach(w.le32)
      w.pad(sectorSize, 0xff) // trailing FREESECT entries
      w.result
    }
    val miniFatStart =
      if (miniFat.nonEmpty) addChain(miniFatBytes) else EndOfChain

    // ---- directory: each node's siblings link as a right-leaning
    // chain off the parent's child pointer (a valid if unbalanced
    // binary tree — readers must follow both sibling arms)
    def dirEntry(w: Writer, name: String, objType: Int, start: Long,
        size: Long, child: Long, right: Long): Unit = {
      val base = w.out.size()
      name.foreach(c => w.le16(c))
      w.le16(0) // terminator
      while (w.out.size() < base + 64) w.u8(0)
      w.le16((name.length + 1) * 2)
      w.u8(objType)
      w.u8(1) // black
      w.le32(Free) // left
      w.le32(right)
      w.le32(child)
      var i = 0
      while (i < 16 + 4 + 8 + 8) { w.u8(0); i += 1 } // clsid/state/times
      w.le32(start)
      w.le32(size)
      w.le32(0) // size high
    }
    def firstChild(idx: Int): Long =
      children.get(idx).flatMap(_.headOption).map(_.toLong).getOrElse(Free)
    def rightOf(idx: Int): Long = {
      // the next sibling in the parent's insertion order
      children.valuesIterator.flatMap { sibs =>
        val at = sibs.indexOf(idx)
        if (at >= 0 && at + 1 < sibs.length) Some(sibs(at + 1).toLong)
        else None
      }.nextOption().getOrElse(Free)
    }
    val dirW = new Writer
    dirEntry(dirW, "Root Entry", 5, miniStreamStart,
      miniData.result.length.toLong, firstChild(0), Free)
    nodes.zipWithIndex.drop(1).foreach { case (node, idx) =>
      val (start, size) =
        if (node.objType == 1) (Free, 0L)
        else if (node.data.length < 4096)
          (miniStarts.get(node), node.data.length.toLong)
        else (regStarts.get(node), node.data.length.toLong)
      dirEntry(dirW, node.name, node.objType, start, size,
        firstChild(idx), rightOf(idx))
    }
    dirW.pad(sectorSize)
    val dirStart = addChain(dirW.result)

    // ---- FAT sectors (their own entries are FATSECT); sizing must
    //      count the FAT sectors themselves
    var nFat = 1
    while ((fat.length + nFat + (sectorSize / 4) - 1) / (sectorSize / 4)
        > nFat) nFat += 1
    val fatStart = sectors.length.toLong
    (0 until nFat).foreach(_ => fat += FatSect)
    val fatBytes = {
      val w = new Writer
      fat.foreach(w.le32)
      while (w.out.size() < nFat * sectorSize) w.le32(Free)
      w.result
    }
    var i = 0
    while (i < nFat) {
      val s = new Array[Byte](sectorSize)
      System.arraycopy(fatBytes, i * sectorSize, s, 0, sectorSize)
      sectors += s
      i += 1
    }

    // ---- header
    val h = new Writer
    h.bytes(Array[Byte](0xd0.toByte, 0xcf.toByte, 0x11, 0xe0.toByte,
      0xa1.toByte, 0xb1.toByte, 0x1a, 0xe1.toByte))
    (0 until 16).foreach(_ => h.u8(0)) // clsid
    h.le16(0x3e) // minor
    h.le16(3) // major: 512-byte sectors
    h.le16(0xfffe) // byte order
    h.le16(9) // sector shift
    h.le16(6) // mini shift
    (0 until 6).foreach(_ => h.u8(0))
    h.le32(0) // num dir sectors (v3: 0)
    h.le32(nFat.toLong)
    h.le32(dirStart)
    h.le32(0) // transaction
    h.le32(4096) // mini cutoff
    h.le32(miniFatStart)
    h.le32(if (miniFat.nonEmpty) 1L else 0L)
    h.le32(EndOfChain) // no DIFAT chain
    h.le32(0)
    i = 0
    while (i < 109) {
      h.le32(if (i < nFat) fatStart + i else Free)
      i += 1
    }
    sectors.foreach(h.bytes)
    h.result
  }

  /** A Word97 document whose text is `pieces` (text, fCompressed):
    * CP1252 pieces store bytes at fc/2, UTF-16 pieces at fc; the Clx
    * (with a leading Prc to exercise the skip) lives in 0Table at a
    * nonzero offset. `padTo4k` pads the WordDocument stream past the
    * mini cutoff to exercise the regular-FAT path.
    */
  def doc(pieces: Seq[(String, Boolean)], padTo4k: Boolean = false):
      Array[Byte] = {
    val fibLen = 0x200
    val word = new Writer
    (0 until fibLen).foreach(_ => word.u8(0))
    val fib = word.result // placeholder; patch after layout
    val text = new java.io.ByteArrayOutputStream()
    val pcds = pieces.map { case (s, compressed) =>
      val byteOff = fibLen + text.size()
      val enc = if (compressed)
        s.getBytes(java.nio.charset.Charset.forName("windows-1252"))
      else s.getBytes("UTF-16LE")
      text.write(enc)
      val fcRaw = if (compressed) (byteOff.toLong * 2) | 0x40000000L
        else byteOff.toLong
      (fcRaw, s.length.toLong)
    }
    // Clx: one Prc (skipped) + Pcdt
    val clx = new Writer
    clx.u8(0x01); clx.le16(2); clx.le16(0x2222) // Prc: cb=2 + payload
    clx.u8(0x02)
    val n = pieces.length
    clx.le32(((n + 1) * 4 + n * 8).toLong)
    var cp = 0L
    clx.le32(0)
    pcds.foreach { case (_, len) => cp += len; clx.le32(cp) }
    pcds.foreach { case (fcRaw, _) =>
      clx.le16(0)
      clx.le32(fcRaw)
      clx.le16(0)
    }
    val clxOff = 16 // nonzero: proves fcClx is honored
    val table = new Writer
    (0 until clxOff).foreach(_ => table.u8(0x5a))
    table.bytes(clx.result)

    val wordBytes = {
      val w = new java.io.ByteArrayOutputStream()
      w.write(fib)
      text.writeTo(w)
      if (padTo4k) while (w.size() < 4200) w.write(0)
      w.toByteArray
    }
    def p16(o: Int, v: Int): Unit = {
      wordBytes(o) = v.toByte; wordBytes(o + 1) = (v >> 8).toByte
    }
    def p32(o: Int, v: Long): Unit = {
      var i = 0
      while (i < 4) { wordBytes(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    p16(0, 0xa5ec) // wIdent
    p16(2, 0x00c1) // nFib (Word 97)
    p16(0x0a, 0x0000) // flags: 0Table, not encrypted
    p32(0x18, fibLen.toLong) // fcMin
    p32(0x1c, (fibLen + text.size()).toLong) // fcMac
    p32(0x1a2, clxOff.toLong) // fcClx
    p32(0x1a6, clx.result.length.toLong) // lcbClx
    cfb(Seq("WordDocument" -> wordBytes, "0Table" -> table.result))
  }
}
