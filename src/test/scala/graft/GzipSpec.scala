package graft

import graft.ops.GzipCodec
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, GZIPInputStream, GZIPOutputStream}

/** DEFLATE/gzip/zlib decode (RFC 1951/1952/1950) with
  * `java.util.zip` as the encoder at every level 0-9 and strategy
  * (level 0 = stored blocks, HUFFMAN_ONLY = no matches, FILTERED =
  * short-match bias — between them all three block types and both
  * tree shapes appear), the gzip header/trailer/member gates the
  * engine keeps itself, the stored-mode encoder cross-read by the JDK
  * decoder, and fuzz asserting the never-throw refusal contract.
  */
class GzipSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(4321)

  private def prose(n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "gzip", "deflate", "stream", "window")
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
    "short ascii" -> "hello deflate world".getBytes("UTF-8"),
    "all zero 100k" -> new Array[Byte](100000),
    "random 64k" -> Array.fill[Byte](65536)(rnd.nextInt().toByte),
    "prose 4k" -> prose(4096),
    "prose 200k" -> prose(200000),
    "long match distance" -> {
      val head = prose(30000)
      head ++ Array.fill[Byte](1000)(7) ++ head // matches reach the full 32k window
    },
    "alternating runs" -> Array.tabulate[Byte](50000)(i => if ((i / 997) % 2 == 0) 65 else (i % 251).toByte)
  )

  private def jdk(data: Array[Byte], level: Int, strategy: Int, nowrap: Boolean): Array[Byte] = {
    val d = new Deflater(level, nowrap)
    d.setStrategy(strategy)
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def jdkGzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  private def jdkGunzip(z: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(z))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  test("raw inflate round-trips every JDK level and strategy over the fixture family") {
    for {
      (name, data) <- fixtures
      level <- 0 to 9
      strategy <- Seq(Deflater.DEFAULT_STRATEGY, Deflater.FILTERED, Deflater.HUFFMAN_ONLY)
    } {
      val z = jdk(data, level, strategy, nowrap = true)
      val got = GzipCodec.inflate(z)
      assert(got.isDefined, s"$name level=$level strategy=$strategy refused")
      assert(java.util.Arrays.equals(got.get, data), s"$name level=$level strategy=$strategy mismatched")
    }
  }

  test("unzlib verifies the adler trailer on every level") {
    for ((name, data) <- fixtures; level <- 0 to 9) {
      val z = jdk(data, level, Deflater.DEFAULT_STRATEGY, nowrap = false)
      assert(GzipCodec.unzlib(z).exists(java.util.Arrays.equals(_, data)), s"$name level=$level")
      if (z.length > 2) { // corrupt the adler trailer → refuse
        val bad = z.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
        assert(GzipCodec.unzlib(bad).isEmpty, s"$name level=$level accepted bad adler")
      }
    }
  }

  test("gunzip decodes JDK gzip output and verifies CRC-32 + ISIZE") {
    for ((name, data) <- fixtures) {
      val z = jdkGzip(data)
      assert(GzipCodec.gunzip(z).exists(java.util.Arrays.equals(_, data)), name)
      // flip one payload byte: either the deflate stream or the CRC
      // breaks (tiny fixtures skipped — byte 12 may be final-block
      // padding, which no decoder validates)
      if (data.length >= 100) {
        val bad = z.clone(); bad(12) = (bad(12) ^ 0x40).toByte
        assert(GzipCodec.gunzip(bad).isEmpty, s"$name accepted corrupt payload")
      }
    }
  }

  test("multi-member concatenation surfaces per-member boundaries (the warc.gz seam)") {
    val parts = Seq("first record".getBytes("UTF-8"), prose(5000), Array.emptyByteArray, "tail".getBytes("UTF-8"))
    val cat = parts.map(jdkGzip).reduce(_ ++ _)
    val members = GzipCodec.gunzipMembers(cat)
    assert(members.isDefined)
    assert(members.get.size == parts.size)
    for ((got, want) <- members.get.zip(parts)) assert(java.util.Arrays.equals(got, want))
    val whole = GzipCodec.gunzip(cat).get
    assert(java.util.Arrays.equals(whole, parts.reduce(_ ++ _)))
    // trailing garbage after the last member refuses
    assert(GzipCodec.gunzip(cat ++ Array[Byte](0)).isEmpty)
  }

  test("optional header fields: FEXTRA + FNAME + FCOMMENT + verified FHCRC") {
    val data = prose(2000)
    val raw = jdk(data, 6, Deflater.DEFAULT_STRATEGY, nowrap = true)
    val bos = new ByteArrayOutputStream()
    // header with FHCRC|FEXTRA|FNAME|FCOMMENT
    val head = new ByteArrayOutputStream()
    head.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, (2 | 4 | 8 | 16).toByte, 1, 2, 3, 4, 0, 3))
    head.write(Array[Byte](4, 0)); head.write("xtra".getBytes) // FEXTRA: XLEN=4
    head.write("name.txt".getBytes); head.write(0) // FNAME
    head.write("a comment".getBytes); head.write(0) // FCOMMENT
    val hb = head.toByteArray
    bos.write(hb)
    bos.write((GzipCodec.crc32(hb, 0, hb.length) & 0xFF).toInt) // FHCRC low 16, LE
    bos.write(((GzipCodec.crc32(hb, 0, hb.length) >> 8) & 0xFF).toInt)
    bos.write(raw)
    val crc = new CRC32(); crc.update(data)
    for (k <- 0 until 4) bos.write(((crc.getValue >> (8 * k)) & 0xFF).toInt)
    for (k <- 0 until 4) bos.write(((data.length.toLong >> (8 * k)) & 0xFF).toInt)
    val z = bos.toByteArray
    assert(GzipCodec.gunzip(z).exists(java.util.Arrays.equals(_, data)))
    // break the header CRC → refuse
    val bad = z.clone()
    val fhcrcPos = hb.length
    bad(fhcrcPos) = (bad(fhcrcPos) ^ 1).toByte
    assert(GzipCodec.gunzip(bad).isEmpty)
  }

  test("stored-mode gzip encoder is readable by the JDK decoder and by gunzip") {
    for ((name, data) <- fixtures) {
      val z = GzipCodec.gzipStored(data)
      assert(java.util.Arrays.equals(jdkGunzip(z), data), s"$name JDK rejected stored encoding")
      assert(GzipCodec.gunzip(z).exists(java.util.Arrays.equals(_, data)), name)
    }
  }

  test("refusal ladder: bad magic, bad CM, reserved FLG bits, truncation, bad NLEN") {
    val z = jdkGzip(prose(500))
    assert(GzipCodec.gunzip(Array[Byte](0x1F, 0x00)).isEmpty) // bad magic
    val cm = z.clone(); cm(2) = 7; assert(GzipCodec.gunzip(cm).isEmpty)
    val res = z.clone(); res(3) = (res(3) | 0x80).toByte; assert(GzipCodec.gunzip(res).isEmpty)
    for (cut <- Seq(1, 5, 11, z.length / 2, z.length - 1))
      assert(GzipCodec.gunzip(z.take(cut)).isEmpty, s"accepted truncation at $cut")
    // stored block with broken NLEN
    val stored = GzipCodec.gzipStored("abc".getBytes)
    val brokenNlen = stored.clone(); brokenNlen(13) = (brokenNlen(13) ^ 0xFF).toByte
    assert(GzipCodec.gunzip(brokenNlen).isEmpty)
  }

  test("fuzz: random and mutated buffers never throw, they refuse or round-trip") {
    for (i <- 0 until 300) {
      val junk = Array.fill[Byte](rnd.nextInt(400))(rnd.nextInt().toByte)
      GzipCodec.gunzip(junk); GzipCodec.unzlib(junk); GzipCodec.inflate(junk) // must not throw
    }
    val base = jdkGzip(prose(3000))
    for (i <- 0 until 300) {
      val mut = base.clone()
      for (_ <- 0 to rnd.nextInt(3)) mut(rnd.nextInt(mut.length)) = rnd.nextInt().toByte
      GzipCodec.gunzip(mut) match {
        case Some(got) => // mutation survived checksums: must be the true payload path
          assert(GzipCodec.crc32(got, 0, got.length) ==
            GzipCodec.crc32(GzipCodec.gunzip(base).get, 0, got.length))
        case None => // refused, as expected for most mutations
      }
    }
  }
}
