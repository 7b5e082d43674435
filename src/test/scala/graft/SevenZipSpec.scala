package graft

import org.scalatest.funsuite.AnyFunSuite

/** Container-walk tests for [[graft.expr.SevenZip]] against the
  * independent [[graft.expr.SevenZipBuild]] writer (numbers, bit
  * vectors, header tree all re-derived on the write side), plus the
  * compressed coder paths pinned by REAL liblzma raw streams
  * (FORMAT_RAW / FILTER_LZMA1 and FILTER_LZMA2 — the exact payload
  * shapes 7z folders carry) embedded as hex.
  */
class SevenZipSpec extends AnyFunSuite {

  import graft.expr.{SevenZip, SevenZipBuild}
  import graft.fixtures.FixtureBytes._
  import SevenZipBuild.Entry

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def entryList(b: Array[Byte]): Seq[(String, Long, String)] = {
    val arr = SevenZip.entries(b, 4096)
    assert(arr != null, "entries returned null")
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getUTF8String(0).toString, r.getLong(1),
        new String(r.getBinary(2), "UTF-8"))
    }
  }

  test("copy-coded solid folder: files, dirs, empty files") {
    val z = SevenZipBuild.build(Seq(
      Entry("src/a.rs", ascii("fn a() {}")),
      Entry("docs", null, dir = true),
      Entry("docs/readme.md", ascii("# title\nbody")),
      Entry("empty.txt", Array.emptyByteArray)))
    assert(entryList(z) == Seq(
      ("src/a.rs", 9L, "fn a() {}"),
      ("docs/readme.md", 12L, "# title\nbody"),
      ("empty.txt", 0L, "")))
  }

  test("store-mode LZMA2 folder (uncompressed chunks)") {
    val big = ("x" * 70000) + "tail" // spans two LZMA2 chunks
    val z = SevenZipBuild.build(Seq(
      Entry("one.bin", ascii(big)),
      Entry("two.txt", ascii("second"))), lzma2 = true)
    assert(entryList(z) == Seq(
      ("one.bin", 70004L, big),
      ("two.txt", 6L, "second")))
  }

  test("encoded (compressed) header decodes through the folder path") {
    val z = SevenZipBuild.build(Seq(
      Entry("a.txt", ascii("alpha")),
      Entry("b.txt", ascii("beta"))), encodedHeader = true)
    assert(entryList(z) == Seq(("a.txt", 5L, "alpha"),
      ("b.txt", 4L, "beta")))
  }

  // the two-file corpus both real streams compress (mirrors the
  // fixture-generation script)
  private val corpusA = "fn main() { println!(\"seven zip\"); }\n" * 40
  private val corpusB = "# readme\nseven zip container walk test corpus\n" * 30

  private val L2 = hx(
    "e00b2b005f5d00331b8005d19678e951c0d091d9d9181150eaf73fc010feb1ef2c63760796294965f592c40e021d402764891d33e6de93f980a437d71751455c9a16dc5e04c2a131e999a101d5b55ab7a2e9d9d1582733259c8127ba7b9990cf0b91dbd5c3e100")
  private val L1 = hx(
    "00331b8005d19678e951c0d091d9d9181150eaf73fc010feb1ef2c63760796294965f592c40e021d402764891d33e6de93f980a437d71751455c9a16dc5e04c2a131e999a101d5b55ab7a2e9d9d1582733259c8127ba7b9990cf0b91dc7f7712ffffb893e000")

  test("real liblzma LZMA2 raw stream in a solid two-file folder") {
    val z = SevenZipBuild.withPackedFolder(
      Seq("main.rs", "README.md"),
      Seq(ascii(corpusA), ascii(corpusB)),
      L2, 0x21L, Array[Byte](40))
    assert(entryList(z) == Seq(
      ("main.rs", corpusA.length.toLong, corpusA),
      ("README.md", corpusB.length.toLong, corpusB)))
  }

  test("real liblzma LZMA1 raw stream with the 5-byte props") {
    val z = SevenZipBuild.withPackedFolder(
      Seq("main.rs", "README.md"),
      Seq(ascii(corpusA), ascii(corpusB)),
      L1, 0x030101L, hx("5d00000001"))
    assert(entryList(z) == Seq(
      ("main.rs", corpusA.length.toLong, corpusA),
      ("README.md", corpusB.length.toLong, corpusB)))
  }

  test("chained folder: real liblzma [delta dist=1, LZMA2] stream") {
    // raw stream produced by liblzma with the delta pre-filter; the
    // 7z chain is packed → LZMA2 → bind → delta(0x03) → files
    val data = Array.tabulate[Byte](2000)(i => ((i * 7) % 251).toByte)
    val packed = hx(
      "e007cf00225d0000024b02ff31db2e412a5c143093451def1a4685e1d7a079cabfe07faa932d2ae20000")
    val z = SevenZipBuild.withChainedFolder(
      Seq("ramp.bin"), Seq(data), packed,
      0x21L, Array[Byte](40), 0x03L, Array[Byte](0), data.length.toLong)
    val es = entryList(z)
    assert(es.map(e => (e._1, e._2)) == Seq(("ramp.bin", 2000L)))
    assert(es.head._3 == new String(data, "UTF-8"))
  }

  test("chained folder: real liblzma [BCJ x86, LZMA2] stream") {
    val code = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < 300) {
      code.write(Array[Byte](0x55, 0x89.toByte, 0xe5.toByte))
      val rel = (i * 24) % 4096 - 2048
      code.write(0xe8)
      code.write(rel & 0xff); code.write((rel >> 8) & 0xff)
      code.write((rel >> 16) & 0xff); code.write((rel >> 24) & 0xff)
      code.write(Array[Byte](0x5d, 0xc3.toByte))
      i += 1
    }
    val data = code.toByteArray
    val packed = hx(
      "e00bb701a35d002aa258ae8043f11676ad95f9a01fe31ff7acfd654b3cbef7528bafe626d81c765748f81d1d872f2d1f7e84babb9d7bf6cd4f13db4122a062156ec688fc7b0fed8b1c50981e9af6bab8525dd91682dc22eeca8850a6f3fd1db592036d5355666dabe3000dd9920570cb8331c96d76e30d2649a3a5e3897161573421a0d316e0b1453ca5f3635ca4d4fc0d7beb7498fdbbd7c514cfb77da6c7c5f040488ee301f7d0fc4b2b331465771f6834271a14a502a623c7782cec259e0a11b2abc4e8dfaa867c597b43d62ff51f335fb691e4ffcf528218c7a97ae2ac0f997e741a82fd7040aead78d43d2ef8ecd14e4af066175d16c16d09fb75468bc20f0287b0e5fc117cb9c89b5ecdfdc43fcb127d8995dfa1f898e3755645be461487a24ed68cfdbce302c34fda3e7a53bba6ce0b2aac04fcfc5cf68b06d7c8b6bcbc7ce4f99afc7445e58ea6647a6cee4ba058d07a07f9205bb80d0324a7e005584e98778cfb39b8033f1d46928d7461fba200e86420610696fa16b45484e518c77c72398b4028075847083d094b03ba79356b6ae9a6da45dea08fe51bf1cd0de08ab12569682bb769a20000")
    val z = SevenZipBuild.withChainedFolder(
      Seq("prog.o"), Seq(data), packed,
      0x21L, Array[Byte](40), 0x03030103L, Array.emptyByteArray,
      data.length.toLong)
    // byte-exact comparison (machine code is not UTF-8 text)
    val arr = graft.expr.SevenZip.entries(z, 16)
    assert(arr != null && arr.numElements() == 1)
    val row = arr.getStruct(0, 3)
    assert(row.getUTF8String(0).toString == "prog.o")
    assert(row.getLong(1) == data.length.toLong)
    assert(java.util.Arrays.equals(row.getBinary(2), data))
  }

  /** x86-looking payload: E8/E9 calls whose rel32 high byte is 00/FF
    * (converted, control bit 1), branch opcodes mid-data that are NOT
    * addresses (bit 0), a 0F 8x jcc, and E8 bytes with every
    * preceding-byte context to move the adaptive probabilities.
    */
  private def x86ish(seed: Int, n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var s = seed.toLong
    while (out.size < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val r = ((s >>> 33) & 0xff).toInt
      (r % 7) match {
        case 0 => // converted call: rel32 with high byte 00
          out.write(r); out.write(0xe8)
          out.write(r ^ 0x55); out.write(r ^ 0x2a); out.write(r % 31)
          out.write(0x00)
        case 1 => // converted jump: rel32 with high byte FF (negative)
          out.write(0xe9)
          out.write(r); out.write(0xd0 | (r & 0x0f)); out.write(0xff)
          out.write(0xff)
        case 2 => // jcc (0F 8x) converted
          out.write(0x0f); out.write(0x80 | (r & 0x0f))
          out.write(r); out.write(0); out.write(0); out.write(0x00)
        case 3 => // E8 that is NOT an address (bit 0)
          out.write(r); out.write(0xe8)
          out.write(0x11); out.write(0x22); out.write(0x33); out.write(0x44)
        case _ => // plain bytes (including stray 0F without 8x)
          out.write(r); out.write(0x0f); out.write(r ^ 0xa5)
      }
    }
    out.toByteArray.take(n)
  }

  test("BCJ2 branching folder (copy carriers) round-trips") {
    val a = x86ish(7, 3000)
    val b = ascii("plain second member")
    val z = SevenZipBuild.buildBcj2(Seq(
      Entry("bin/app.exe", a), Entry("notes.txt", b)))
    val got = SevenZip.entries(z, 16)
    assert(got != null && got.numElements() == 2)
    val r0 = got.getStruct(0, 3)
    assert(r0.getUTF8String(0).toString == "bin/app.exe")
    assert(java.util.Arrays.equals(r0.getBinary(2), a))
    val r1 = got.getStruct(1, 3)
    assert(new String(r1.getBinary(2), "UTF-8") == "plain second member")
  }

  test("BCJ2 folder with LZMA2 carriers round-trips") {
    val a = x86ish(11, 9000)
    val z = SevenZipBuild.buildBcj2(Seq(Entry("x.so", a)), lzma2 = true)
    val got = SevenZip.entries(z, 16)
    assert(got != null && got.numElements() == 1)
    assert(java.util.Arrays.equals(got.getStruct(0, 3).getBinary(2), a))
  }

  test("BCJ2: opcode-dense edge shapes round-trip") {
    // trailing E8 with no room, consecutive E8s, E9 at position 0,
    // an 0F at the very end
    for (payload <- Seq(
      Array[Byte](0xe9.toByte, 1, 2, 3, 0),
      ascii("AB") ++ Array[Byte](0xe8.toByte, 0xe8.toByte, 0xe8.toByte,
        5, 6, 0) ++ ascii("tail") ++ Array[Byte](0xe8.toByte),
      x86ish(3, 64) ++ Array[Byte](0x0f.toByte),
      Array[Byte](0x0f, 0x88.toByte, 9, 9, 9, 0xff.toByte, 0x0f))) {
      val z = SevenZipBuild.buildBcj2(Seq(Entry("edge.bin", payload)))
      val got = SevenZip.entries(z, 4)
      assert(got != null && got.numElements() == 1)
      assert(java.util.Arrays.equals(got.getStruct(0, 3).getBinary(2),
        payload))
    }
  }

  test("BCJ2 pinned by a PYTHON encoder + REAL liblzma LZMA2 carriers") {
    // the control stream and the stream split were produced by an
    // independent PYTHON implementation of the BCJ2 encoder, and the
    // main/call/jump carriers are REAL liblzma FORMAT_RAW LZMA2
    // streams — nothing on the write side shares a line of code with
    // this repo, so a decode defect cannot cancel out
    val expected = hx(
      "390f0c8c0f7de94734ffff2c0fd80fe82f6f07000d0f65d60f708ee811223344" +
      "51e8d8ae0800e96eacffff2fe8c2310b000f8816000000eb0f3f28e811223344" +
      "960fb9620f2374e894281b00e933c2ffff0f8eba000000e9bdb5ffffe98824ff" +
      "ff570f7de9ecc2ffff0f87a600000075e810a10c000f826c000000a10f6cff0f" +
      "caea0f490f847e000000860fdbcc0fb9e946fcffff18e8384e1400e9d820ffff" +
      "c3e811223344ef0f80050f3a880fae96e8de500e0086e85b361b00980f65e9bf" +
      "52ffff000fa509e811223344b9e89d7a0100e9282bfffff80f23400f41f30f54" +
      "0f8d6c000000660f9fbfe811223344e7e8112233447ee873200a0075e8700302" +
      "001e0f7510e8a9241000e98ef8ffffe943f2ffffe9f2d0ffffe93031ffffdc0f" +
      "b5d2e8112233441be811223344320f1fade8112233447fe86261110047e81122" +
      "33445de8112233440f8e7f000000e2e832191400070f2fe955d0fffff6e81122" +
      "3344e9cd1effffe9c201ffff87e81122334492e811223344f9e811223344e961" +
      "97ffffe91d1fffffa00f1df4e8501d1e00290f5f22e878ce03007e0f14290fd6" +
      "a10f85e9a07affff0f8c43000000990fea0f820400000033e8112233446de887" +
      "431d000f827d0000000f89500000009ae811223344040f99350f440f83360000" +
      "004f0f8b0f86af000000e987faffff0f812f000000d80f8d01e8aa4214000f85" +
      "e2000000da0f0426e84c121a000f84dc000000e9159dffff0f81b7000000e97f" +
      "34ffff0f8d4f000000e9535affff0ce811223344e9aad2ffff7f0f88e937c3ff" +
      "fff0e871661a00b3e8112233440f877200000062e8cca808008ee8b3cc1500a9" +
      "0f0e85e85b870100dee8b0a00d003b0fc5610f82dfe800640b0023e811223344" +
      "a90fa03f0f999e0fd10f8c97000000410f62c2e811223344590f9a00e8112233" +
      "440f896b000000a4e811223344e2e8112233446de811223344f20f562b0f91ab" +
      "0f2fe99e73ffffe94b0cffff7de8f3250e0063e811223344c40ffd7ce8112233" +
      "44e90236ffff70e811223344e9ed19ffff7f0f3e44e811223344a2e811223344" +
      "dae811223344e40f51f30fe60f878d000000f80f7a0f8e27000000920f780f8a" +
      "a3000000290f46e976c4ffff4e0f6dd4e8d0a91100d4e81122334469e8d7c71c" +
      "000a0fc203e8112233440f89c700000070e81122334470e8112233440f8df800" +
      "0000c7e8accf1700e9ef41ffff0d0fc90d0f2adb0f455de81122334485e8c2a7" +
      "0600a7e8112233440f8c8e00000081e811223344f0e8091a1e000f8723000000" +
      "140f0fe9660affff4e0f7ae9f23affff6f0fee830fbce93a53ffff0f830d0000" +
      "000f8ccb000000650f267c0f349a0f3d150fb1db0fbdaee806d71a0036e81122" +
      "3344b9e811223344eb0f4e5ae8112233448a0ff7dfe811223344890fa5e92c8e" +
      "ffff7ce811223344c2e8112233440f80fd0000000f85f9000000e9b584ffff0f" +
      "888d000000050f617be8d0fa1100e9f3fbffff08e81122334496e871cf1600e9" +
      "9cbcffffb0e811223344a9e8112233440f8e8a0000000f887600000062e8a13d" +
      "17005e0f62e9f78dffff900f33e99774ffff0f859a00000040e88c170100950f" +
      "40fb0f3491e8f0f50e000f851a0000000f8f3a000000cde8fb2512001b0f4de9" +
      "9b2bffffe93cd5ffff730fc2e2e8112233440f8d9c0000001e0f32e96c87ffff" +
      "290f50e95826ffffe901d1fffff0e8112233440f81760000000f89e800000077" +
      "e887650d0073e84c881a00e9241effffe99d93ffff3fe8112233449be8112233" +
      "44ce0f8bfc0fe014e8dda513000f802e000000e90a89ffff140f59e2e8112233" +
      "440f85df000000fb0f2eb2e811223344aae8112233440f83520000000f8dfd00" +
      "00000f8c120000002de8112233440f88a5000000cee800ec0d0060e8b9ff1400" +
      "1ae811223344e98843ffff0f8ef80000000ee87a510900070fd073e83aec1e00" +
      "4ee8ff9510008b0fd4f1e811223344e9e94affff61e811223344450f230f8dae" +
      "000000880f010f89fa000000e9e4f7ffff0f8ac1000000a4e811223344e97ac4" +
      "ffffe9d216ffff0f8fc30000004de81122334412e811223344e9a933ffff33e8" +
      "11223344e90f07490fd14f0f2687e8112233440f8c290000000f8ca2000000f9" +
      "0f12230f78930f742e0fde33e8e35516000f80170000000f81960000000f8bdc" +
      "000000e97dd2ffff5c0f57e928c3ffff7b0ffe490f7682e81122334482e81122" +
      "3344040fee0f8525000000b0e811223344990fd9800fe90f86c400000036e811" +
      "223344e9c3b7ffff970f97cae88c041200190ffe0f87b4000000e96180ffff46" +
      "0f31140f9e11e811223344ba0f4397e8a7d40500e943bbffff8b0f540f8f9700" +
      "0000ad0f3a26e811223344e973cbffffbb0f2e07e8112233440f83e80000000f" +
      "88c3000000be0f37770ff1a7e8712014009ae811223344d10f3be91713ffff0f" +
      "8f3b00000078e845c60e000f8d4f00000032e811223344d0e8112233440f81bd" +
      "000000e9e3e3ffffe9b932ffffbc0fb7cbe88d611e00e8e82e6c14000a0f190f" +
      "8740000000690f236a0f6ee9a84bffff010f8de94280ffffe9380dffffe907b7" +
      "ffffe9a508ffffe9871affffe9d73affff200ff3b9e811223344370fe7710f16" +
      "9a0fea0f0f1fcde81122334437e811223344e3e81122334429e8a44b0200e98c" +
      "a6ffff96e811223344dce8112233443ae86edc0e00e9d3adffffcce811223344" +
      "30e8112233440f8da0000000820fbfe9f222ffff2be82fdd0300be0f421e0fa8" +
      "3e0fd20f8d1a0000000f89b40000006c")
    val pm = hx(
      "e004af03535d001c83bd9515ed39d2a09ba119cbbd9baa065af452935edc21c0" +
      "312b6d4f6f53c39bf51b630554d21a3c5e28b3f0bd4415e37483d498cd07b9d3" +
      "57586ec0d5044343d8beb53e4366119bc0540c32a781190abd762d0afecba3bd" +
      "2e6e44f77cd71e20d6fbdd761b44f80d7a0234b3c2a04afc807f0e8de31bb5c7" +
      "b11bf2a553856d1a381ec03d16c6b77c4e1f96e36d846dae163c8eeffa388fac" +
      "9a2f94e2d2971aec7dd24e5f3a5ce7743d52c213452b1bb8ca5a3d65a2a29938" +
      "05121bf453b84a74585b5b7b81292998d16b7ee949070fc419680883eddcdbf7" +
      "a52752a3bce8551c95f0b5992af94ddc134941bf1942d481928bb4ef064ee52b" +
      "123ee18944530319edee46462d0ed7f910b94aef3b20f22b7e59e5eb21ce1875" +
      "c8c58cf8bbe5f18c3a4ef9d083d59981393db7e44e2aea13d925a646fb70ee27" +
      "e6bb64b0e8960b353722bcd3d84431b11bc266f920b753be8e68b8eb6d36c30f" +
      "372040728473a59e4677f6af6885b4c52652d4645eaafaf0b4fa34a0d6c8eff1" +
      "78e2e87199761f82870c3fb196146543e7470847a5319a243e801f894e9c7bcf" +
      "4c51441b5c4d5736f1a06ff148e2029c7684c48fb80b392d07b70499ae60d6a6" +
      "068985f9e48fc4270c5ca613a8c5c019ae9109e9fb956f65f64efec17623b4cf" +
      "0943efe45dbf2c9731f4ccb769f521cc8427d9fe6ff32b3f1fc7fd4d0637dcb9" +
      "33ef590440999d9c6eed7771b48b1ad736d1b5670722181dd04e8285912d34fa" +
      "2473204319f11b6d957fd98b5582cb9f8649d216066be80429df15abd073aa0e" +
      "68c74d7dee83797ddf2ce94b8fd1acfa9f69513c90c73275b7ff210b91333d75" +
      "1759ec08180a3dcf12c0a84fefe43586a0dd4d05d57194d2ce3bcd0b962b10d4" +
      "8963327274b8d2ba6dc8972daa4249c7670e3fe24b6e82933b715b29fbb1180b" +
      "b4663061c2cca866709d27a70bd7268674e342f1deb99bdb27852231bfbebd22" +
      "681cb645958e4d8304b7f71d5c7a927f9ad6376395069521266b777b794f4d07" +
      "fdc7c62fff3f57ae73fb655fb3b11aa5db7f0118a2d263aa56ff4644e4339d7c" +
      "5650ed6668ef060b9fb6c79cb111b4115f08db0a71cf6e498edcd818d06103d7" +
      "3c4ea12586846a87211f3cd686935b0d51a1f0a48160f0d5d05a704b8e4bbd3c" +
      "346dea812c6dd5de95c33ee38dcfe8c8150e749c40c3b905cdc000")
    val pc = hx(
      "e000df00c25d0000021d9d5111b58c732e25d82ddee22e2f9a18e2f9c5bdf251" +
      "851364d4788929d7c02468ff140f1800689d61b21d71861f45b705ad24adf434" +
      "9ec8d531abc97621b6dc3f6a36501d9ae767313dab2e46fa046c52438fc4cd4a" +
      "63fec9df1ba482f7b887a0d6be76b8dcd21d9722fd82a11445f681796e16c83f" +
      "4258079cc6d99bdad5ecf19f95d1144996f42884461a9bd6e0dad5f0b3742c55" +
      "16ec7805e627fe586a88d051188d9dfc99f66e33c0c726580d7ba3931b17bbb7" +
      "26f464181f5dbf500000")
    val pj = hx(
      "e0023f01635d007fe0cca5006ac4c8037cc0ae2bec3d2c2e218e2629906d0208" +
      "6f4c7ba1080f6f0a3c80c2d193103ba2593db471d852e93280aafa1d54cbba72" +
      "f9baf319d3baa2cd216764888fcbae26d72c00d2e57e4fa93f4086a8e40195ad" +
      "333e2a2712c67bf1ce7392615161505283915aabf034deb96a8b48d26b851bdf" +
      "0b3371bba4becc430b1d8fc5c98f5b2ea573ad6ae7fbaa6184c51cda36ae3518" +
      "c5e2383a59f3ee5220cd290e42a9682dc872e9d14e737ede324afbf46011ca44" +
      "9d16cd28eb1f6f953986c043b898313bb493182cdd90274016e35390ca3ee4d5" +
      "1361045c6ca353cf64e81eb8b695a7193f95de7ef908d774bda5648b0db390eb" +
      "a85636e57722b7546f37aa353b7b360483de437c0e018438ee19ec988d3e19ac" +
      "edd316f6644d55586ecc95d4296976cec41dc1afb0fd7d222c59d7db52ce0141" +
      "b2dfab024d7b26779b80f0122fe6cb5ca68583f3faf8e9995f287876b74e1c0a" +
      "0064682e0bf65753f70000")
    val rc = hx("00def7e9774e07ba282ddf47f30596659fdebdbddabbfbd0be3f04d8647a")
    val z = SevenZipBuild.bcj2Container(
      Seq(Entry("bin/pinned.bin", expected)), Seq(pm, pc, pj, rc),
      1200, 224, 576, 0x21L, Array[Byte](40))
    val got = SevenZip.entries(z, 4)
    assert(got != null && got.numElements() == 1)
    assert(java.util.Arrays.equals(got.getStruct(0, 3).getBinary(2),
      expected))
  }

  test("BCJ2: corrupt control stream triages the folder, not the walk") {
    val a = x86ish(5, 2000)
    val z = SevenZipBuild.buildBcj2(Seq(Entry("app.bin", a)))
    // flip a byte inside the packed main stream (starts at offset 32
    // with copy carriers): the rc bits desync or the substream CRC
    // mismatches — both must triage, never throw or emit wrong bytes
    val c = z.clone()
    val probe = 32 + 10
    c(probe) = (c(probe) ^ 0x40).toByte
    val got = SevenZip.entries(c, 16)
    // either the CRC kills the substream (empty walk survives) or the
    // header CRC catches it first (null); both fail closed
    assert(got == null || got.numElements() == 0)
  }

  test("corrupt folder payload fails closed via substream CRC") {
    val z = SevenZipBuild.build(Seq(Entry("a.txt", ascii("alpha"))))
    // flip a byte inside the packed (copy) region, just after the
    // 32-byte signature header
    z(34) = (z(34) ^ 0x40).toByte
    val arr = SevenZip.entries(z, 64)
    assert(arr != null && arr.numElements() == 0)
  }

  test("out-of-subset coder triages its folder, archive still walks") {
    val z = SevenZipBuild.withPackedFolder(Seq("enc.bin"),
      Seq(ascii("xxxx")), ascii("junk"), 0x06f10701L, // AES-256
      Array.emptyByteArray)
    val arr = SevenZip.entries(z, 64)
    assert(arr != null && arr.numElements() == 0)
  }

  test("triage: wrong magic / truncation / corrupt header CRC → null") {
    assert(SevenZip.entries(null, 64) == null)
    assert(SevenZip.entries(ascii("not a seven zip archive!!"), 64) == null)
    val ok = SevenZipBuild.build(Seq(Entry("a.txt", ascii("alpha"))))
    assert(SevenZip.entries(java.util.Arrays.copyOf(ok, 40), 64) == null)
    val bad = ok.clone()
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 1).toByte // header bytes
    assert(SevenZip.entries(bad, 64) == null)
  }
}
