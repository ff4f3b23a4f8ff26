package graft

import graft.ops.XzCodec
import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.{LZMA2Options, XZ, XZOutputStream}

import java.io.ByteArrayOutputStream

/** XZ/LZMA2 and `.lzma` decode with XZ for Java as the encoder:
  * presets 0-9 (different match finders, nice-lens, and chunk
  * shapes), all four check types, multi-stream concatenation,
  * tamper gates on every CRC layer, and fuzz.
  */
class XzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(55)

  private def xz(data: Array[Byte], preset: Int, check: Int = XZ.CHECK_CRC64): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new XZOutputStream(bos, new LZMA2Options(preset), check)
    z.write(data); z.close()
    bos.toByteArray
  }

  private def prose(n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "xz", "lzma", "range", "coder", "chunk")
    val sb = new StringBuilder
    while (sb.length < n) {
      sb.append(words(rnd.nextInt(words.length))).append(' ')
      if (rnd.nextInt(14) == 0) sb.append('\n')
    }
    sb.substring(0, n).getBytes("UTF-8")
  }

  private val fixtures: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one byte" -> Array[Byte](42),
    "short" -> "hello xz world".getBytes("UTF-8"),
    "zeros 100k" -> new Array[Byte](100000),
    "random 64k (uncompressed chunks)" -> Array.fill[Byte](65536)(rnd.nextInt().toByte),
    "prose 4k" -> prose(4096),
    "prose 250k" -> prose(250000),
    "long match distance" -> {
      val head = prose(60000)
      head ++ Array.fill[Byte](500)(3) ++ head
    },
    "alternating" -> Array.tabulate[Byte](50000)(i => if ((i / 777) % 2 == 0) 65 else (i % 251).toByte)
  )

  test("decode round-trips every XZ for Java preset over the fixture family") {
    for ((name, data) <- fixtures; preset <- 0 to 9) {
      val z = xz(data, preset)
      val got = XzCodec.decode(z)
      assert(got.isDefined, s"$name preset=$preset refused")
      assert(java.util.Arrays.equals(got.get, data), s"$name preset=$preset mismatched")
    }
  }

  test("all four check types verify (and SHA-256 actually catches tampering)") {
    val data = prose(8000)
    for (check <- Seq(XZ.CHECK_NONE, XZ.CHECK_CRC32, XZ.CHECK_CRC64, XZ.CHECK_SHA256)) {
      val z = xz(data, 6, check)
      assert(XzCodec.decode(z).exists(java.util.Arrays.equals(_, data)), s"check=$check")
    }
  }

  test("multi-stream concatenation with stream padding decodes to the concatenation") {
    val a = prose(3000); val b = "second stream".getBytes("UTF-8")
    val za = xz(a, 3); val zb = xz(b, 9)
    val pad = new Array[Byte](4) // legal 4-aligned stream padding
    val got = XzCodec.decode(za ++ pad ++ zb)
    assert(got.exists(java.util.Arrays.equals(_, a ++ b)))
  }

  test("tamper gates: payload, header CRC, index, footer, truncation all refuse") {
    val z = xz(prose(5000), 6)
    val mid = z.clone(); mid(z.length / 2) = (mid(z.length / 2) ^ 0x20).toByte
    assert(XzCodec.decode(mid).isEmpty)
    val hdr = z.clone(); hdr(8) = (hdr(8) ^ 1).toByte // stream-flags CRC32 area
    assert(XzCodec.decode(hdr).isEmpty)
    val tail = z.clone(); tail(z.length - 3) = (tail(z.length - 3) ^ 1).toByte // footer flags
    assert(XzCodec.decode(tail).isEmpty)
    for (cut <- Seq(3, 11, 20, z.length / 2, z.length - 1))
      assert(XzCodec.decode(z.take(cut)).isEmpty, s"accepted truncation at $cut")
  }

  test("lzma alone format: both termination disciplines, XZ-for-Java pin, refusals") {
    def lzma(data: Array[Byte], knownSize: Boolean, preset: Int = 3): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val z = new org.tukaani.xz.LZMAOutputStream(bos, new LZMA2Options(preset),
        if (knownSize) data.length.toLong else -1L)
      z.write(data); z.close()
      bos.toByteArray
    }
    fixtures.foreach { case (name, data) =>
      Seq(true, false).foreach { known =>
        val enc = lzma(data, known)
        val dec = XzCodec.decodeLzmaAlone(enc)
        assert(dec.isDefined, s"$name known=$known refused")
        assert(java.util.Arrays.equals(dec.get, data), s"$name known=$known bytes")
      }
    }
    // header refusals: bad props, truncation, size over cap
    val good = lzma("marker pin payload".getBytes("UTF-8"), knownSize = false)
    val badProps = good.clone(); badProps(0) = 225.toByte
    assert(XzCodec.decodeLzmaAlone(badProps).isEmpty)
    (0 until good.length by 3).foreach { n =>
      XzCodec.decodeLzmaAlone(good.take(n)) // never throws
    }
    val bigSize = good.clone()
    var i = 0
    while (i < 8) { bigSize(5 + i) = 0x7F.toByte; i += 1 } // absurd declared size
    assert(XzCodec.decodeLzmaAlone(bigSize).isEmpty)
    // declared size LARGER than the stream's actual content refuses
    val wrongSize = lzma("abc".getBytes("UTF-8"), knownSize = true)
    wrongSize(5) = 9 // claims 9 bytes, stream encodes 3
    assert(XzCodec.decodeLzmaAlone(wrongSize).isEmpty)
  }

  test("fuzz: random buffers never throw") {
    for (_ <- 0 until 300) {
      val junk = Array.fill[Byte](rnd.nextInt(400))(rnd.nextInt().toByte)
      XzCodec.decode(junk)
      XzCodec.decode(Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0) ++ junk)
    }
  }
}
