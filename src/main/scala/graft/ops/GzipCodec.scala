package graft.ops

import java.util.zip.{CRC32, Inflater}

/** DEFLATE / gzip / zlib (RFC 1951 / 1952 / 1950) — the most common
  * compressed-TEXT wire format in corpus work: Common Crawl ships
  * `warc.gz` with one gzip MEMBER per record, and jsonl.gz / tsv.gz
  * are the default shard format everywhere zstd has not reached.
  * Sibling of [[ZstdCodec]] on the codec ladder.
  *
  * DEFLATE and zlib decode through the JDK's `java.util.zip.Inflater`
  * (zlib itself: Huffman/LZ77 decode, and for zlib the header check,
  * Adler-32 trailer, and FDICT streams refused). The engine keeps only
  * the gzip framing the JDK does not expose:
  *  - the RFC 1952 header walk: magic/CM check, all FLG fields
  *    (FEXTRA, FNAME, FCOMMENT zero-terminated, FHCRC verified against
  *    the header CRC), reserved FLG bits refused;
  *  - the trailer: CRC-32 and ISIZE both VERIFIED per member;
  *  - multi-member concatenation with per-member boundaries surfaced
  *    — the warc.gz record seam;
  *  - exact framing: every stream must end where its input ends.
  *
  * Hostile-bytes contract as everywhere in this package: `None`, never
  * a throw, on any malformed construct, checksum mismatch, or stream
  * that does not frame exactly; empty input and output beyond
  * [[MaxOutput]] are refused ([[Drain]]).
  */
object GzipCodec {

  /** Hard cap on total decoded output (all members) — hostile
    * streams declare absurd expansion; curation documents are far
    * below this. */
  val MaxOutput: Int = 1 << 28

  /** CRC-32 of `b[from, until)` (`java.util.zip.CRC32`) — the gzip
    * trailer and FHCRC check, and the zip member check. */
  def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new CRC32()
    c.update(b, from, until - from)
    c.getValue
  }

  /** One DEFLATE stream read from an [[Inflater]] that already holds
    * its input: ends at the stream's final block; running out of
    * input first, or a preset-dictionary stream, is an error. */
  private final class InflaterSource(inf: Inflater) extends java.io.InputStream {
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xFF
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      while (n == 0 && len > 0 && !inf.finished()) {
        n = inf.inflate(b, off, len)
        if (n == 0 && !inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          throw new java.io.EOFException("truncated or dictionary-bound deflate stream")
      }
      if (n == 0 && inf.finished()) -1 else n
    }
  }

  /** Inflate the stream starting at `p(from)` with `inf` (raw DEFLATE
    * or zlib, per how it was built); (decoded bytes, index just past
    * the stream). */
  private def inflateAt(inf: Inflater, p: Array[Byte], from: Int,
      max: Int): Option[(Array[Byte], Int)] =
    if (from > p.length) None
    else {
      inf.setInput(p, from, p.length - from)
      Drain.stream(max, sizeHint = 8192)(new InflaterSource(inf))
        .map(out => (out, p.length - inf.getRemaining))
    }

  /** One whole stream that must consume `p` exactly. */
  private def inflateExact(p: Array[Byte], nowrap: Boolean): Option[Array[Byte]] = {
    val inf = new Inflater(nowrap)
    try inflateAt(inf, p, 0, MaxOutput).collect { case (out, end) if end == p.length => out }
    finally inf.end()
  }

  /** Raw DEFLATE (RFC 1951): decode one stream, require it to
    * consume the input exactly (up to the final partial byte). */
  def inflate(p: Array[Byte]): Option[Array[Byte]] = inflateExact(p, nowrap = true)

  /** gzip members (RFC 1952): each member decoded separately with
    * its CRC-32 and ISIZE verified — the warc.gz record boundary
    * surface. Refuses on anything other than a clean sequence of
    * well-formed members. */
  def gunzipMembers(p: Array[Byte]): Option[Vector[Array[Byte]]] = {
    if (p == null || p.isEmpty) return None
    val members = Vector.newBuilder[Array[Byte]]
    val inf = new Inflater(true)
    try {
      var pos = 0
      var total = 0L
      while (pos < p.length) {
        inf.reset()
        member(inf, p, pos, (MaxOutput - total).toInt) match {
          case Some((data, next)) =>
            members += data; total += data.length; pos = next
          case None => return None
        }
      }
    } finally inf.end()
    Some(members.result())
  }

  /** gzip decode: all members' output concatenated (the `gzip -d`
    * semantics concatenated members decode to). */
  def gunzip(p: Array[Byte]): Option[Array[Byte]] =
    gunzipMembers(p).map { ms =>
      val n = ms.map(_.length).sum
      val all = new Array[Byte](n)
      var off = 0
      ms.foreach { m => System.arraycopy(m, 0, all, off, m.length); off += m.length }
      all
    }

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 3) & 0xFFL) << 24)

  /** One member starting at `pos`: (decoded bytes, index just past
    * the member's trailer). */
  private def member(inf: Inflater, p: Array[Byte], pos: Int,
      max: Int): Option[(Array[Byte], Int)] =
    bodyStart(p, pos).flatMap(inflateAt(inf, p, _, max)).collect {
      case (data, end) if end + 8 <= p.length &&
          crc32(data, 0, data.length) == le32(p, end) &&
          (data.length.toLong & 0xFFFFFFFFL) == le32(p, end + 4) =>
        (data, end + 8)
    }

  /** The RFC 1952 header walk: index of the member's DEFLATE body. */
  private def bodyStart(p: Array[Byte], pos: Int): Option[Int] = {
    def u8(i: Int): Int = if (i < p.length) p(i) & 0xFF else -1
    def le16(i: Int): Int = if (i + 1 < p.length) u8(i) | (u8(i + 1) << 8) else -1
    if (u8(pos) != 0x1F || u8(pos + 1) != 0x8B) return None
    if (u8(pos + 2) != 8) return None // CM: deflate only
    val flg = u8(pos + 3)
    if (flg < 0 || (flg & 0xE0) != 0) return None // reserved bits
    var i = pos + 10 // MTIME(4) XFL OS skipped: metadata, not integrity
    if ((flg & 4) != 0) { // FEXTRA
      val xlen = le16(i)
      if (xlen < 0) return None
      i += 2 + xlen
    }
    def skipZeroTerminated(): Boolean = {
      while (i < p.length && p(i) != 0) i += 1
      i += 1
      i <= p.length
    }
    if ((flg & 8) != 0 && !skipZeroTerminated()) return None // FNAME
    if ((flg & 16) != 0 && !skipZeroTerminated()) return None // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC: low 16 bits of the header's CRC-32
      if (i > p.length || (crc32(p, pos, i) & 0xFFFF) != le16(i)) return None
      i += 2
    }
    if (i > p.length) None else Some(i)
  }

  /** zlib (RFC 1950): CMF/FLG consistency, FDICT refused, Adler-32
    * verified, exact framing. */
  def unzlib(p: Array[Byte]): Option[Array[Byte]] = inflateExact(p, nowrap = false)

  // ------------------------------------------------------------------
  // encoder: spec-legal stored-mode gzip (the ZstdCodec discipline —
  // enough to WRITE valid .gz any decoder accepts; entropy coding is
  // delegated to the ecosystem encoder, which also supplies the
  // hostile-grade compressed fixtures)
  // ------------------------------------------------------------------

  /** One COMPRESSING gzip member: the in-repo [[Deflate]] encoder
    * (LZ77 + length-limited dynamic Huffman, best-of-three block
    * types) inside the RFC 1952 framing — header, deflate body,
    * CRC-32 + ISIZE trailer. Deterministic bytes. */
  def gzip(data: Array[Byte]): Array[Byte] = {
    val body = Deflate.compress(data)
    val out = new Array[Byte](10 + body.length + 8)
    out(0) = 0x1F.toByte; out(1) = 0x8B.toByte; out(2) = 8
    out(9) = 0xFF.toByte
    System.arraycopy(body, 0, out, 10, body.length)
    val crc = crc32(data, 0, data.length)
    val isz = data.length.toLong & 0xFFFFFFFFL
    var k = 0
    while (k < 4) {
      out(10 + body.length + k) = ((crc >> (8 * k)) & 0xFF).toByte
      out(10 + body.length + 4 + k) = ((isz >> (8 * k)) & 0xFF).toByte
      k += 1
    }
    out
  }

  /** One zlib stream (RFC 1950) over the in-repo [[Deflate]] body:
    * CMF/FLG with a valid check value, Adler-32 trailer. */
  def zlib(data: Array[Byte]): Array[Byte] = {
    val body = Deflate.compress(data)
    val out = new Array[Byte](2 + body.length + 4)
    out(0) = 0x78.toByte // CM=8, CINFO=7 (32 KiB window)
    // FLG: FCHECK makes (CMF*256 + FLG) % 31 == 0; FLEVEL=2, no FDICT
    val flg = {
      val base = 2 << 6
      val rem = (0x78 * 256 + base) % 31
      base + (if (rem == 0) 0 else 31 - rem)
    }
    out(1) = flg.toByte
    System.arraycopy(body, 0, out, 2, body.length)
    val ad = { val a = new java.util.zip.Adler32(); a.update(data); a.getValue }
    var k = 0
    while (k < 4) {
      out(2 + body.length + k) = ((ad >> (8 * (3 - k))) & 0xFF).toByte // big-endian
      k += 1
    }
    out
  }

  /** One stored-mode gzip member: correct header, stored DEFLATE
    * blocks (≤ 65535 bytes each), CRC-32 + ISIZE trailer. */
  def gzipStored(data: Array[Byte]): Array[Byte] = {
    val nBlocks = math.max(1, (data.length + 65534) / 65535)
    val outLen = 10 + nBlocks * 5 + data.length + 8
    val out = new Array[Byte](outLen)
    out(0) = 0x1F.toByte; out(1) = 0x8B.toByte; out(2) = 8 // header, zero MTIME/XFL
    out(9) = 0xFF.toByte // OS: unknown
    var o = 10; var i = 0
    var remaining = data.length
    var first = true
    while (first || remaining > 0) {
      first = false
      val n = math.min(remaining, 65535)
      out(o) = (if (remaining == n) 1 else 0).toByte // BFINAL, BTYPE=00
      out(o + 1) = (n & 0xFF).toByte; out(o + 2) = ((n >> 8) & 0xFF).toByte
      out(o + 3) = (~n & 0xFF).toByte; out(o + 4) = ((~n >> 8) & 0xFF).toByte
      System.arraycopy(data, i, out, o + 5, n)
      o += 5 + n; i += n; remaining -= n
    }
    val crc = crc32(data, 0, data.length)
    val isz = data.length.toLong & 0xFFFFFFFFL
    var k = 0
    while (k < 4) {
      out(o + k) = ((crc >> (8 * k)) & 0xFF).toByte
      out(o + 4 + k) = ((isz >> (8 * k)) & 0xFF).toByte
      k += 1
    }
    out
  }
}
