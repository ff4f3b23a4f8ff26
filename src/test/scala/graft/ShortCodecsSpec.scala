package graft

import graft.ops.ShortCodecs
import org.scalatest.funsuite.AnyFunSuite

/** Snappy/LZ4 block and stream decode with snappy-java, lz4-java
  * (both their high-compression and fast encoders) and commons-compress
  * (linked-block LZ4 frames) as the encoders,
  * plus the literal-only and framed encoders cross-read by those
  * libraries, and fuzz.
  */
class ShortCodecsSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(99)

  private def prose(n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "fox", "snappy", "lz4", "block", "copy")
    val sb = new StringBuilder
    while (sb.length < n) sb.append(words(rnd.nextInt(words.length))).append(' ')
    sb.substring(0, n).getBytes("UTF-8")
  }

  private val fixtures: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one byte" -> Array[Byte](7),
    "short" -> "hello block world".getBytes("UTF-8"),
    "zeros 100k" -> new Array[Byte](100000),
    "random 64k" -> Array.fill[Byte](65536)(rnd.nextInt().toByte),
    "prose 4k" -> prose(4096),
    "prose 150k" -> prose(150000),
    "long runs" -> Array.tabulate[Byte](80000)(i => if ((i / 1000) % 2 == 0) 65 else (i % 7).toByte)
  )

  test("unsnappy decodes snappy-java output over the fixture family") {
    for ((name, data) <- fixtures) {
      val z = org.xerial.snappy.Snappy.compress(data)
      val got = ShortCodecs.unsnappy(z)
      assert(got.isDefined, name)
      assert(java.util.Arrays.equals(got.get, data), name)
    }
  }

  test("snappy literal-only encoding is readable by snappy-java and by unsnappy") {
    for ((name, data) <- fixtures) {
      val z = ShortCodecs.snappyLiteral(data)
      assert(java.util.Arrays.equals(org.xerial.snappy.Snappy.uncompress(z), data), name)
      assert(ShortCodecs.unsnappy(z).exists(java.util.Arrays.equals(_, data)), name)
    }
  }

  test("unlz4 decodes both lz4-java compressors over the fixture family") {
    val factory = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()
    for ((name, data) <- fixtures; comp <- Seq(factory.fastCompressor(), factory.highCompressor())) {
      val z = comp.compress(data)
      val got = ShortCodecs.unlz4(z, data.length)
      assert(got.isDefined, name)
      assert(java.util.Arrays.equals(got.get, data), name)
    }
  }

  test("lz4 literal-only encoding is readable by lz4-java and by unlz4") {
    val dec = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().safeDecompressor()
    for ((name, data) <- fixtures) {
      val z = ShortCodecs.lz4Literal(data)
      assert(java.util.Arrays.equals(dec.decompress(z, data.length), data), name)
      assert(ShortCodecs.unlz4(z, data.length).exists(java.util.Arrays.equals(_, data)), name)
    }
  }

  test("snappy FRAMING: bidirectional cross-pin with snappy-java, every chunk type, CRC gate") {
    val data = prose(100000) // > one chunk both directions
    // our writer (uncompressed + compressed + padding chunks) → the
    // reference reader
    val framed = ShortCodecs.snappyFramed(data)
    val ref = new org.xerial.snappy.SnappyFramedInputStream(
      new java.io.ByteArrayInputStream(framed))
    val refOut = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = ref.read(buf)
    while (n >= 0) { refOut.write(buf, 0, n); n = ref.read(buf) }
    ref.close()
    assert(java.util.Arrays.equals(refOut.toByteArray, data))
    // the reference writer → our reader
    val refBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val w = new org.xerial.snappy.SnappyFramedOutputStream(bos)
      w.write(data); w.close(); bos.toByteArray
    }
    assert(java.util.Arrays.equals(ShortCodecs.unsnappyFramed(refBytes).get, data))
    // and our own round trip, incl. the empty stream
    assert(java.util.Arrays.equals(ShortCodecs.unsnappyFramed(framed).get, data))
    assert(ShortCodecs.unsnappyFramed(ShortCodecs.snappyFramed(Array.emptyByteArray)).get.isEmpty)
    // CRC gate: flip one data byte → refused, not silently wrong
    val bad = framed.clone()
    bad(40) = (bad(40) ^ 1).toByte
    assert(ShortCodecs.unsnappyFramed(bad).isEmpty)
    // unskippable reserved chunk type → refused
    val reserved = framed.take(10) ++ Array[Byte](0x02, 1, 0, 0, 9)
    assert(ShortCodecs.unsnappyFramed(reserved).isEmpty)
    // truncation and junk: Option out, never a throw
    for (cut <- Seq(0, 5, 11, framed.length / 2, framed.length - 1))
      assert(ShortCodecs.unsnappyFramed(framed.take(cut)).isEmpty, s"cut $cut")
    for (_ <- 0 until 200) {
      val junk = framed.take(10) ++ Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
      ShortCodecs.unsnappyFramed(junk)
    }
    // sniff + universal-decode dispatch
    assert(graft.ops.Sniff.detect(framed) == "snappy-framed")
    val (chain, ok, text) = graft.ops.DecodeAny.decodeOne(
      ShortCodecs.snappyFramed("framed snappy text payload".getBytes("UTF-8")))
    assert(chain == List("snappy-framed", "text") && ok &&
      text.contains("framed snappy text payload"))
  }

  test("LZ4 FRAMING: cross-pin with lz4-java, checksums, skippables, multi-frame, xxh32 vectors") {
    // xxh32 vectors: our writer's descriptor checksum (HC) and content
    // checksum fields carry lz4-java's XXHash32 values
    val xxRef = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    val probe = prose(12345)
    for (len <- Seq(0, 1, 3, 4, 15, 16, 17, 1000, 12345)) {
      val body = probe.take(len)
      val f = ShortCodecs.lz4Framed(body)
      def le32(at: Int): Int = java.nio.ByteBuffer.wrap(f, at, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert((f(25) & 0xFF) == ((xxRef.hash(f, 15, 10, 0) >>> 8) & 0xFF), s"HC len=$len")
      assert(le32(f.length - 4) == xxRef.hash(body, 0, len, 0), s"content xxh32 len=$len")
    }
    val data = prose(100000)
    // our writer (skippable + stored + compressed + both checksums) →
    // the reference reader
    val framed = ShortCodecs.lz4Framed(data)
    val ref = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(framed))
    val refOut = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = ref.read(buf)
    while (n >= 0) { refOut.write(buf, 0, n); n = ref.read(buf) }
    ref.close()
    assert(java.util.Arrays.equals(refOut.toByteArray, data))
    // the reference writer → our reader
    val refBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val w = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      w.write(data); w.close(); bos.toByteArray
    }
    assert(java.util.Arrays.equals(ShortCodecs.unlz4Framed(refBytes).get, data))
    // our round trip + empty + concatenated frames
    assert(java.util.Arrays.equals(ShortCodecs.unlz4Framed(framed).get, data))
    assert(ShortCodecs.unlz4Framed(ShortCodecs.lz4Framed(Array.emptyByteArray)).get.isEmpty)
    val two = framed ++ ShortCodecs.lz4Framed("tail frame".getBytes("UTF-8"))
    assert(java.util.Arrays.equals(ShortCodecs.unlz4Framed(two).get,
      data ++ "tail frame".getBytes("UTF-8")))
    // checksum gates: flip a data byte (block checksum) and a
    // descriptor byte (HC) → refused
    val bad = framed.clone(); bad(40) = (bad(40) ^ 1).toByte
    assert(ShortCodecs.unlz4Framed(bad).isEmpty)
    val badHc = framed.clone(); badHc(12) = (badHc(12) ^ 0x08).toByte
    assert(ShortCodecs.unlz4Framed(badHc).isEmpty)
    // legacy frame magic refuses; truncations and junk never throw
    assert(ShortCodecs.unlz4Framed(Array[Byte](0x02, 0x21, 0x4C, 0x18, 1, 2, 3)).isEmpty)
    for (cut <- Seq(0, 3, 12, framed.length / 2, framed.length - 1))
      assert(ShortCodecs.unlz4Framed(framed.take(cut)).isEmpty, s"cut $cut")
    for (_ <- 0 until 200) {
      val junk = framed.take(11) ++ Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
      ShortCodecs.unlz4Framed(junk)
    }
    // sniff + universal-decode dispatch (incl. the leading-skippable spelling)
    assert(graft.ops.Sniff.detect(framed) == "lz4-framed")
    assert(graft.ops.Sniff.detect(refBytes) == "lz4-framed")
    val (chain, ok, text) = graft.ops.DecodeAny.decodeOne(
      ShortCodecs.lz4Framed("framed lz4 text payload".getBytes("UTF-8")))
    assert(chain == List("lz4-framed", "text") && ok &&
      text.contains("framed lz4 text payload"))
  }

  test("refusals: truncation, wrong declared length, offset beyond output, fuzz never throws") {
    val data = prose(5000)
    val sz = org.xerial.snappy.Snappy.compress(data)
    for (cut <- Seq(0, 1, sz.length / 2, sz.length - 1))
      assert(ShortCodecs.unsnappy(sz.take(cut)).isEmpty, s"snappy cut $cut")
    val lz = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor().compress(data)
    assert(ShortCodecs.unlz4(lz, data.length - 1).isEmpty)
    assert(ShortCodecs.unlz4(lz, data.length + 1).isEmpty)
    for (cut <- Seq(1, lz.length / 2))
      assert(ShortCodecs.unlz4(lz.take(cut), data.length).isEmpty, s"lz4 cut $cut")
    // copy before start of output refuses (hand-built: literal 'a', copy offset 2)
    assert(ShortCodecs.unsnappy(Array[Byte](3, 0, 'a', 5, 2)).isEmpty)
    for (_ <- 0 until 500) {
      val junk = Array.fill[Byte](rnd.nextInt(300))(rnd.nextInt().toByte)
      ShortCodecs.unsnappy(junk)
      ShortCodecs.unlz4(junk, rnd.nextInt(1000))
    }
  }

  test("LZ4 FRAMING: linked-block frames, declared content size, skippable-only streams") {
    // a 300 KB frame whose 64 KiB blocks reach back into earlier
    // blocks (liblz4's default linked mode), written by commons-compress;
    // own generator, so the shared one's later draws stay as they were
    val r = new scala.util.Random(7)
    val period = Array.fill[Byte](40000)(r.nextInt().toByte)
    val data = Array.tabulate[Byte](300000)(i => period(i % period.length))
    val linked = {
      import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
      val bos = new java.io.ByteArrayOutputStream()
      val w = new FramedLZ4CompressorOutputStream(bos, new FramedLZ4CompressorOutputStream.Parameters(
        FramedLZ4CompressorOutputStream.BlockSize.K64, true, true, true))
      w.write(data); w.close(); bos.toByteArray
    }
    assert((linked(4) & 0x20) == 0, "block-independence flag must be clear")
    assert(linked.length < data.length / 4, "blocks must lean on earlier blocks")
    assert(java.util.Arrays.equals(ShortCodecs.unlz4Framed(linked).get, data))
    // the declared content size must match what the frame decodes to
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    val body = ("declared size " * 200).getBytes("UTF-8")
    val framed = ShortCodecs.lz4Framed(body) // skippable(11) + magic(4) + FLG BD size(8) + HC
    assert((framed(15) & 0x08) != 0 && ShortCodecs.unlz4Framed(framed).isDefined)
    val wrongSize = framed.clone()
    wrongSize(17) = (wrongSize(17) + 1).toByte
    wrongSize(25) = ((xx.hash(wrongSize, 15, 10, 0) >>> 8) & 0xFF).toByte
    assert(ShortCodecs.unlz4Framed(wrongSize).isEmpty)
    // skippable frames alone are no LZ4 stream; after a frame they skip
    val skippable = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 3, 0, 0, 0, 9, 9, 9)
    assert(ShortCodecs.unlz4Framed(skippable).isEmpty)
    assert(ShortCodecs.unlz4Framed(skippable ++ skippable).isEmpty)
    assert(java.util.Arrays.equals(ShortCodecs.unlz4Framed(framed ++ skippable).get, body))
    assert(ShortCodecs.unlz4Framed(framed ++ skippable.take(6)).isEmpty)
  }
}
