package graft

import graft.ops.ZstdCodec
import org.scalatest.funsuite.AnyFunSuite

/** zstd decode (RFC 8878) with zstd-jni as the ENCODER at every
  * compression level: a level sweep over raw/RLE/compressed blocks,
  * checksum and refusal gates, multi-frame and skippable inputs, raw
  * and trained dictionaries, and fuzz asserting the never-throw
  * refusal contract.
  */
class ZstdSpec extends AnyFunSuite {

  private def jni(data: Array[Byte], level: Int, checksum: Boolean = false): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try ctx.setLevel(level).setChecksum(checksum).compress(data)
    finally ctx.close()
  }

  private def jniDecompress(z: Array[Byte], hint: Int): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdDecompressCtx()
    try ctx.decompress(z, hint)
    finally ctx.close()
  }

  private val rnd = new scala.util.Random(1234)

  /** corpus-like text: repetitive prose with token structure, the
    * shape that makes zstd emit real matches + entropy literals */
  private def prose(n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "zstd", "stream", "sequence", "literal")
    val sb = new StringBuilder
    while (sb.length < n) {
      sb.append(words(rnd.nextInt(words.length))).append(' ')
      if (rnd.nextInt(12) == 0) sb.append('\n')
    }
    sb.substring(0, n).getBytes("UTF-8")
  }

  private val fixtures: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one byte" -> Array[Byte](42),
    "short ascii" -> "hello zstd world".getBytes("UTF-8"),
    "all zero 100k" -> new Array[Byte](100000),
    "random 64k" -> Array.fill[Byte](65536)(rnd.nextInt().toByte),
    "prose 4k" -> prose(4096),
    "prose 200k" -> prose(200000),
    "long match distance" -> {
      val head = prose(70000)
      head ++ Array.fill[Byte](1000)(7) ++ head // matches reach ~71k back
    },
    "alternating runs" -> Array.tabulate[Byte](50000)(i => if ((i / 997) % 2 == 0) 65 else (i % 251).toByte)
  )

  test("decode round-trips every zstd-jni level over the fixture family") {
    for ((name, data) <- fixtures; level <- Seq(-5, 1, 3, 9, 19, 22)) {
      val z = jni(data, level)
      val out = ZstdCodec.decode(z).getOrElse(
        fail(s"decode refused jni output: $name level $level (${z.length} bytes)"))
      assert(java.util.Arrays.equals(out, data), s"mismatch: $name level $level")
    }
  }

  test("content checksum is verified: jni checksummed frames pass, a flipped payload bit refuses") {
    val data = prose(30000)
    val z = jni(data, 3, checksum = true)
    assert(ZstdCodec.decode(z).exists(java.util.Arrays.equals(_, data)))
    // flip one bit somewhere in the middle of the compressed body:
    // either the frame parse or the checksum must catch it (decode
    // must never return wrong bytes silently)
    var caught = 0
    for (at <- Seq(z.length / 3, z.length / 2, 2 * z.length / 3)) {
      val bad = z.clone(); bad(at) = (bad(at) ^ 0x10).toByte
      ZstdCodec.decode(bad) match {
        case None => caught += 1
        case Some(got) => assert(!java.util.Arrays.equals(got, data)); fail(
          s"corrupted frame decoded to the original silently (flip at $at)")
      }
    }
    assert(caught == 3)
  }

  test("multi-frame and skippable-frame inputs concatenate / skip") {
    val a = prose(5000); val b = prose(3000)
    val skippable = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 4, 0, 0, 0, 9, 9, 9, 9)
    val input = jni(a, 3) ++ skippable ++ jni(b, 19)
    val out = ZstdCodec.decode(input).getOrElse(fail("refused multi-frame"))
    assert(java.util.Arrays.equals(out, a ++ b))
  }

  test("refusals: garbage, truncation, trailing garbage, reserved block, dictionary id") {
    val data = prose(20000)
    val z = jni(data, 19)
    assert(ZstdCodec.decode(Array.emptyByteArray).isEmpty)
    assert(ZstdCodec.decode("not zstd at all".getBytes("UTF-8")).isEmpty)
    for (cut <- Seq(1, 4, 7, z.length / 2, z.length - 1))
      assert(ZstdCodec.decode(java.util.Arrays.copyOf(z, cut)).isEmpty, s"cut=$cut")
    assert(ZstdCodec.decode(z ++ Array[Byte](1, 2, 3)).isEmpty, "trailing garbage")
    // frame header declaring a dictionary id (FHD dict flag = 1)
    val dict = Array[Byte](0x28, (0xB5 & 0xFF).toByte, 0x2F, (0xFD & 0xFF).toByte,
      0x01, 0x00, 0x07, 0x00, 0x00, 0x00)
    assert(ZstdCodec.decode(dict).isEmpty)
  }

  test("raw-content dictionary: prefix window reach; dict-dependent frames refuse without it") {
    val data = prose(8000)
    val dict = java.util.Arrays.copyOfRange(data, 0, 2048)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val z = try { ctx.setLevel(19); ctx.loadDict(dict); ctx.compress(data) }
      finally ctx.close()
    val parsed = ZstdCodec.parseDictionary(dict)
    assert(parsed.exists(_.dictId == 0L) && parsed.exists(_.contentSize == 2048))
    assert(ZstdCodec.decode(z, parsed).exists(_.sameElements(data)))
    // without the prefix, matches reach past the frame floor → refuse
    assert(ZstdCodec.decode(z).isEmpty)
    // a DIFFERENT raw dict decodes to wrong bytes or refuses — but
    // must never throw; if it decodes, the bytes must differ
    val other = ZstdCodec.parseDictionary(Array.fill[Byte](2048)('x'))
    assert(ZstdCodec.decode(z, other).forall(!_.sameElements(data)))
  }

  test("trained structured dictionary: entropy seeding, declared id, wrong-dict refusal") {
    // a varied-but-overlapping corpus the trainer accepts
    val samples = (0 until 256).map { i =>
      (s"record $i: the quick brown fox jumps over the lazy dog, " +
        s"field alpha=${i % 7} beta=${i % 13} shared suffix tail of text. ") * 6
    }
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 22, 8 * 1024)
    samples.foreach(s => trainer.addSample(s.getBytes("UTF-8")))
    val dictBytes = trainer.trainSamples()
    val parsed = ZstdCodec.parseDictionary(dictBytes)
    assert(parsed.isDefined, "structured dictionary must parse")
    assert(parsed.get.dictId != 0L)
    val data = ("record 999: the quick brown fox jumps over the lazy dog, " +
      "field alpha=3 beta=11 shared suffix tail of text. " * 8).getBytes("UTF-8")
    for (level <- Seq(1, 3, 19)) {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      val z = try { ctx.setLevel(level); ctx.loadDict(dictBytes); ctx.compress(data) }
        finally ctx.close()
      assert(ZstdCodec.decode(z, parsed).exists(_.sameElements(data)), s"level $level")
      // the frame declares the dictionary id: no dict → refuse,
      // a raw dict with a different identity → refuse
      assert(ZstdCodec.decode(z).isEmpty, s"level $level no-dict")
      assert(ZstdCodec.decode(z,
        ZstdCodec.parseDictionary("wrong".getBytes("UTF-8"))).isEmpty,
        s"level $level wrong-dict")
    }
  }

  test("parseDictionary: raw fallback, truncated structured refusals") {
    val raw = ZstdCodec.parseDictionary("hello world".getBytes("UTF-8"))
    assert(raw.exists(d => d.dictId == 0L && d.contentSize == 11))
    assert(ZstdCodec.parseDictionary(Array.emptyByteArray).isEmpty)
    assert(ZstdCodec.parseDictionary(null).isEmpty)
    // structured magic + junk: must refuse, not guess
    val junk = Array[Byte](0x37, (0xA4 & 0xFF).toByte, 0x30, (0xEC & 0xFF).toByte,
      1, 0, 0, 0, 0x7F, 0x12)
    assert(ZstdCodec.parseDictionary(junk).isEmpty)
    // a trained dictionary truncated inside its entropy tables refuses
    val samples = (0 until 256).map(i => (s"sample $i common text body " * 10))
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 22, 8 * 1024)
    samples.foreach(s => trainer.addSample(s.getBytes("UTF-8")))
    val dictBytes = trainer.trainSamples()
    assert(ZstdCodec.parseDictionary(dictBytes).isDefined)
    assert(ZstdCodec.parseDictionary(java.util.Arrays.copyOf(dictBytes, 24)).isEmpty)
  }

  test("fuzz: random bit flips over jni frames never throw") {
    val data = prose(8000)
    var refused = 0
    for (level <- Seq(1, 19); trial <- 0 until 300) {
      val z = jni(data, level)
      val at = rnd.nextInt(z.length)
      z(at) = (z(at) ^ (1 << rnd.nextInt(8))).toByte
      // never throw is the contract; a flip in a NON-SEMANTIC header
      // position (window descriptor, ignored size hints) may decode
      // to the identical content, and in an UNCHECKSUMMED frame a
      // flip inside raw literals or a huffman stream often decodes
      // to different bytes — all fine. A meaningful fraction must
      // still refuse (structure bytes dominate enough of the frame).
      ZstdCodec.decode(z) match {
        case None => refused += 1
        case Some(_) => ()
      }
    }
    assert(refused > 150, s"only $refused/600 corrupted frames refused")
  }

  test("store-mode encoder: jni decompresses our frames, and we round-trip ourselves") {
    for ((name, data) <- fixtures) {
      val z = ZstdCodec.encode(data)
      assert(java.util.Arrays.equals(jniDecompress(z, math.max(1, data.length)), data),
        s"jni rejects our frame: $name")
      assert(ZstdCodec.decode(z).exists(java.util.Arrays.equals(_, data)),
        s"self round-trip failed: $name")
      // RLE blocks make constant runs sublinear
      if (name == "all zero 100k") assert(z.length < 200)
    }
  }
}
