package graft.ops

/** ICC color-profile metadata (ICC.1 / ISO 15076-1) — the color-
  * management surface of the image-curation tier: real photo estates
  * bucket and audit by embedded profile (display vs print class,
  * RGB vs CMYK, rendering intent), and mismatched/garbage profiles
  * are a known corruption signal. Parses the 128-byte profile
  * HEADER (size, version, device class, data color space, PCS,
  * rendering intent, the `acsp` magic) plus the tag table far enough
  * to pull the profile description (`desc` textDescription or `mluc`
  * first record).
  *
  * Extraction seams per container, from the published specs:
  *  - JPEG: APP2 segments tagged `ICC_PROFILE\0` with (seq, count)
  *    reassembly (profiles > 64 KB span segments);
  *  - PNG: the `iCCP` chunk — name, compression method 0, zlib
  *    stream (decoded by [[GzipCodec.unzlib]], the JDK's zlib);
  *  - WebP: the RIFF `ICCP` chunk (VP8X-flagged files);
  *  - raw profile bytes pass through (`acsp` at offset 36).
  *
  * Independent pin: the JDK's own `java.awt.color.ICC_Profile`
  * (a full ICC implementation) both SUPPLIES the fixture profile
  * (the built-in sRGB) and cross-checks every parsed header field
  * (IccSpec). Hostile-bytes contract as everywhere: bounds-checked,
  * capped, never throws — None instead of guessing.
  */
object Icc {

  final case class Header(size: Long, versionMajor: Int, versionMinor: Int,
      deviceClass: String, colorSpace: String, pcs: String,
      renderingIntent: Int, tagCount: Int, description: Option[String])

  private object Bad extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def bad(): Nothing = throw Bad

  /** Parse a raw ICC profile's header + description. */
  def parseHeader(p: Array[Byte]): Option[Header] =
    try {
      if (p.length < 132) return None
      @inline def u8(i: Int): Int = { if (i >= p.length) bad(); p(i) & 0xFF }
      def be32(i: Int): Long = {
        if (i + 4 > p.length) bad()
        (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      }
      def fourcc(i: Int): String = {
        if (i + 4 > p.length) bad()
        new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      }
      if (fourcc(36) != "acsp") return None
      val size = be32(0)
      if (size < 128 || size > p.length) return None
      val vMaj = u8(8)
      val vMin = u8(9) >> 4
      val devClass = fourcc(12)
      val colorSpace = fourcc(16)
      val pcs = fourcc(20)
      val intent = be32(64).toInt
      if (intent < 0 || intent > 3) return None
      val tagCount = be32(128).toInt
      if (tagCount < 0 || tagCount > 1024) return None
      if (132 + tagCount * 12 > p.length) return None
      var desc: Option[String] = None
      var t = 0
      while (t < tagCount && desc.isEmpty) {
        val base = 132 + t * 12
        if (fourcc(base) == "desc") {
          val off = be32(base + 4).toInt
          val len = be32(base + 8).toInt
          if (off >= 0 && len >= 12 && off + len <= p.length) {
            fourcc(off) match {
              case "desc" => // textDescriptionType: ASCII count + bytes
                val n = be32(off + 8).toInt
                if (n > 0 && n <= len - 12) {
                  val s = new String(p, off + 12, n,
                    java.nio.charset.StandardCharsets.US_ASCII).takeWhile(_ != 0)
                  if (s.nonEmpty) desc = Some(s)
                }
              case "mluc" => // multiLocalizedUnicode: first record
                val nRec = be32(off + 8).toInt
                val recSize = be32(off + 12).toInt
                if (nRec > 0 && recSize >= 12 && off + 16 + recSize <= p.length) {
                  val sLen = be32(off + 20).toInt
                  val sOff = be32(off + 24).toInt
                  if (sLen > 0 && sOff >= 0 && off + sOff + sLen <= p.length) {
                    val s = new String(p, off + sOff, sLen,
                      java.nio.charset.StandardCharsets.UTF_16BE)
                    if (s.nonEmpty) desc = Some(s)
                  }
                }
              case _ => ()
            }
          }
        }
        t += 1
      }
      Some(Header(size, vMaj, vMin, devClass, colorSpace, pcs, intent,
        tagCount, desc))
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException => None
    }

  /** Extract the embedded ICC profile bytes from a JPEG / PNG / WebP
    * payload (or pass raw profile bytes through); None when the
    * container carries none or is malformed. */
  def extract(p: Array[Byte]): Option[Array[Byte]] = {
    if (p.length >= 40 && p(36) == 'a' && p(37) == 'c' && p(38) == 's' && p(39) == 'p')
      return Some(p)
    if (p.length >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8)
      return fromJpeg(p)
    if (p.length >= 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
      return fromPng(p)
    if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'E' && p(10) == 'B' && p(11) == 'P')
      return fromWebp(p)
    None
  }

  /** JPEG APP2 `ICC_PROFILE\0` reassembly by (seq, count). */
  private def fromJpeg(p: Array[Byte]): Option[Array[Byte]] =
    try {
      @inline def u8(i: Int): Int = p(i) & 0xFF
      var i = 2
      var total = -1
      var parts = Map.empty[Int, Array[Byte]]
      var guard = 0
      var done = false
      while (!done && i + 4 <= p.length && u8(i) == 0xFF && u8(i + 1) != 0xD9) {
        if ({ guard += 1; guard } > 4096) bad()
        val marker = u8(i + 1)
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) i += 2
        else {
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (len < 2 || i + 2 + len > p.length) bad()
          if (marker == 0xE2 && len >= 16 &&
            new String(p, i + 4, 12, java.nio.charset.StandardCharsets.US_ASCII)
              == "ICC_PROFILE\u0000") {
            val seq = u8(i + 16)
            val cnt = u8(i + 17)
            if (seq >= 1 && cnt >= seq && cnt <= 255) {
              if (total < 0) total = cnt
              if (total == cnt)
                parts += seq -> java.util.Arrays.copyOfRange(p, i + 18, i + 2 + len)
            }
          }
          if (marker == 0xDA) done = true // entropy-coded data: stop walking
          i += 2 + len
        }
      }
      if (total < 1 || parts.size != total) None
      else Some((1 to total).toArray.flatMap(parts(_)))
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException => None
    }

  /** PNG `iCCP`: name \0 method(0) + zlib stream. */
  private def fromPng(p: Array[Byte]): Option[Array[Byte]] =
    try {
      @inline def u8(i: Int): Int = p(i) & 0xFF
      def be32(i: Int): Long =
        (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      var i = 8
      var guard = 0
      while (i + 12 <= p.length) {
        if ({ guard += 1; guard } > 4096) bad()
        val len = be32(i)
        if (len < 0 || i + 12 + len > p.length) bad()
        val typ = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (typ == "iCCP") {
          val body = i + 8
          var e = body
          while (e < body + len && p(e) != 0) e += 1
          // name \0 method byte, method 0 = zlib/deflate
          if (e + 2 <= body + len && u8(e + 1) == 0) {
            return GzipCodec.unzlib(
              java.util.Arrays.copyOfRange(p, e + 2, (body + len).toInt))
          }
          return None
        }
        if (typ == "IEND") return None
        i += 12 + len.toInt
      }
      None
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException => None
    }

  // ------------------------------------------------------------ fixture embedders

  /** Insert the profile as APP2 `ICC_PROFILE\0` segments (split into
    * `segments` parts to exercise reassembly) right after SOI. */
  private[graft] def embedJpeg(jpeg: Array[Byte], profile: Array[Byte],
      segments: Int = 2): Array[Byte] = {
    require(jpeg.length >= 2 && segments >= 1 && segments <= 255)
    val per = (profile.length + segments - 1) / segments
    val chunks = profile.grouped(per).toSeq
    val segs = chunks.zipWithIndex.flatMap { case (c, k) =>
      val len = 2 + 12 + 2 + c.length
      Array(0xFF.toByte, 0xE2.toByte,
        ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++
        "ICC_PROFILE\u0000".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        Array((k + 1).toByte, chunks.length.toByte) ++ c
    }
    jpeg.take(2) ++ segs ++ jpeg.drop(2)
  }

  /** Insert an `iCCP` chunk (name + method 0 + the in-repo zlib
    * stream) right after IHDR. */
  private[graft] def embedPng(png: Array[Byte], profile: Array[Byte],
      name: String = "icc"): Array[Byte] = {
    require(png.length >= 33)
    val body = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array(0.toByte, 0.toByte) ++ GzipCodec.zlib(profile)
    val typ = "iCCP".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val crc = new java.util.zip.CRC32()
    crc.update(typ); crc.update(body)
    val c = crc.getValue
    def be32(v: Long): Array[Byte] = Array((v >>> 24).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val chunk = be32(body.length.toLong) ++ typ ++ body ++ be32(c)
    val ihdrEnd = 8 + 25 // signature + IHDR (len 13 + 12 framing)
    png.take(ihdrEnd) ++ chunk ++ png.drop(ihdrEnd)
  }

  /** Rewrap a simple (single-chunk) WebP as VP8X + ICCP + the
    * original image chunk. */
  private[graft] def embedWebp(webp: Array[Byte], profile: Array[Byte],
      width: Int, height: Int): Array[Byte] = {
    require(webp.length >= 20 && webp(0) == 'R' && webp(8) == 'W')
    def le32(v: Long): Array[Byte] = Array((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le24(v: Int): Array[Byte] = Array((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte)
    def chunk(t: String, body: Array[Byte]): Array[Byte] =
      t.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    val image = webp.drop(12) // the original VP8/VP8L chunk(s)
    val vp8x = chunk("VP8X", Array[Byte](0x20, 0, 0, 0) ++ // ICC flag
      le24(width - 1) ++ le24(height - 1))
    val iccp = chunk("ICCP", profile)
    val payload = "WEBP".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      vp8x ++ iccp ++ image
    "RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      le32(payload.length.toLong) ++ payload
  }

  /** WebP RIFF `ICCP` chunk. */
  private def fromWebp(p: Array[Byte]): Option[Array[Byte]] =
    try {
      @inline def u8(i: Int): Int = p(i) & 0xFF
      def le32(i: Int): Long =
        u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
          (u8(i + 3).toLong << 24)
      var i = 12
      var guard = 0
      while (i + 8 <= p.length) {
        if ({ guard += 1; guard } > 1024) bad()
        val typ = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val len = le32(i + 4)
        if (len < 0 || i + 8 + len > p.length) bad()
        if (typ == "ICCP")
          return Some(java.util.Arrays.copyOfRange(p, i + 8, (i + 8 + len).toInt))
        i += 8 + len.toInt + (len.toInt & 1) // chunks are 2-byte aligned
      }
      None
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException => None
    }
}
