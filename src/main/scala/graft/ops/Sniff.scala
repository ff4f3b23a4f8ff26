package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified content-type sniffing — the dispatcher a mixed-bag corpus
  * scan runs FIRST: a 100 TB crawl bucket holds images, archives,
  * documents, audio, and junk side by side, and routing each payload
  * to the right decoder (or to quarantine) by MAGIC BYTES, never by
  * file extension, is the step everything downstream keys on.
  * Extensions lie constantly in crawl data; leading bytes rarely do.
  *
  * One ordered rule ladder over the leading bytes (every rule is the
  * same magic its full decoder in this repo checks — this op is the
  * cheap prefix dispatch, the decoders stay the source of truth):
  * images (PNG/JPEG/GIF/BMP/WebP/TIFF/netpbm), audio (WAV/FLAC/Ogg/
  * MP3-ID3), video (MP4/MKV/AVI), compression (gzip/zstd/bzip2/xz,
  * and since round 14 the snappy-framing and LZ4-frame stream
  * layers), archives & documents (ZIP/tar/WARC/PDF/Avro/SQLite/GGUF/
  * NumPy), and — the last resorts before `unknown` — UTF-8-looking
  * text, then the bounded cp1252 `text-latin1` fallback (round 14).
  * RIFF-family types (WAV/AVI/WebP) disambiguate on the form tag;
  * tar has no leading magic so it checks the ustar signature at
  * offset 257; WARC is the version line prefix.
  *
  * Scale shape: codegen-friendly per-row scan over a bounded prefix
  * (no decode, no allocation beyond the label), scan-local.
  */
object Sniff {

  private def at(p: Array[Byte], i: Int): Int =
    if (i < p.length) p(i) & 0xFF else -1

  private def ascii(p: Array[Byte], off: Int, s: String): Boolean = {
    if (off + s.length > p.length) return false
    var i = 0
    while (i < s.length) {
      if (p(off + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Format label for the leading bytes; "unknown" when nothing
    * matches, "text" when the prefix is printable-ish UTF-8. */
  def detect(p: Array[Byte]): String = {
    if (p == null || p.length == 0) return "unknown"
    // fixed magics, longest/most-specific first
    if (at(p, 0) == 0x89 && ascii(p, 1, "PNG\r\n")) return "png"
    if (at(p, 0) == 0xFF && at(p, 1) == 0xD8 && at(p, 2) == 0xFF) return "jpeg"
    if (ascii(p, 0, "GIF87a") || ascii(p, 0, "GIF89a")) return "gif"
    if (ascii(p, 0, "BM") && p.length >= 14) return "bmp"
    if (ascii(p, 0, "RIFF") && p.length >= 12) {
      if (ascii(p, 8, "WEBP")) return "webp"
      if (ascii(p, 8, "WAVE")) return "wav"
      if (ascii(p, 8, "AVI ")) return "avi"
    }
    if ((ascii(p, 0, "II") && at(p, 2) == 42 && at(p, 3) == 0) ||
        (ascii(p, 0, "MM") && at(p, 2) == 0 && at(p, 3) == 42)) return "tiff"
    if (at(p, 0) == 'P' && (at(p, 1) >= '1' && at(p, 1) <= '6') &&
        (at(p, 2) == ' ' || at(p, 2) == '\n' || at(p, 2) == '\t' ||
         at(p, 2) == '\r' || at(p, 2) == '#')) return "pnm"
    if (ascii(p, 0, "fLaC")) return "flac"
    if (ascii(p, 0, "OggS")) return "ogg"
    if (ascii(p, 0, "ID3")) return "mp3"
    if (p.length >= 12 && ascii(p, 4, "ftyp")) return "mp4"
    if (at(p, 0) == 0x1A && at(p, 1) == 0x45 && at(p, 2) == 0xDF && at(p, 3) == 0xA3)
      return "mkv"
    if (at(p, 0) == 0x1F && at(p, 1) == 0x8B) return "gzip"
    if (zstd(p, 0)) return "zstd"
    if (ascii(p, 0, "BZh") && at(p, 3) >= '1' && at(p, 3) <= '9') return "bzip2"
    if (at(p, 0) == 0xFD && ascii(p, 1, "7zXZ") && at(p, 5) == 0) return "xz"
    if (at(p, 0) == 0xFF && at(p, 1) == 0x06 && at(p, 2) == 0 && at(p, 3) == 0 &&
      ascii(p, 4, "sNaPpY")) return "snappy-framed"
    if (at(p, 0) == 0x04 && at(p, 1) == 0x22 && at(p, 2) == 0x4D && at(p, 3) == 0x18)
      return "lz4-framed"
    if (skippable(p, 0)) return afterSkippable(p)
    if (ascii(p, 0, "PK") && (at(p, 2) == 3 || at(p, 2) == 5 || at(p, 2) == 7))
      return "zip"
    if (ascii(p, 257, "ustar")) return "tar"
    if (ascii(p, 0, "WARC/")) return "warc"
    if (ascii(p, 0, "%PDF-")) return "pdf"
    if (ascii(p, 0, "Obj") && at(p, 3) == 1) return "avro"
    if (ascii(p, 0, "SQLite format 3") && at(p, 15) == 0) return "sqlite"
    if (ascii(p, 0, "GGUF")) return "gguf"
    if (at(p, 0) == 0x93 && ascii(p, 1, "NUMPY")) return "npy"
    if (ascii(p, 0, "{\\rtf")) return "rtf"
    // text heuristic over a bounded prefix: NUL-free, mostly
    // printable/whitespace, AND every non-ASCII byte must open or
    // continue a well-formed UTF-8 sequence — without the sequence
    // check, headerless compressed/encrypted data whose bytes land
    // ≥0x20 sails through as "text". Payloads that FAIL the UTF-8
    // discipline get one bounded second chance as "text-latin1"
    // (round 14): legacy single-byte dumps (Latin-1/Windows-1252
    // accented text) are real corpus inhabitants, and refusing them
    // outright was an undeclared casualty of the round-13 hardening.
    val n = math.min(p.length, 512)
    if (utf8Printable(p, n) >= 0.95) "text"
    else if (latin1Printable(p, n)) "text-latin1"
    else "unknown"
  }

  /** Printable ratio of the prefix under the UTF-8 sequence
    * discipline (length + continuation + the overlong/surrogate/
    * range guards of RFC 3629); -1 on any violation or NUL. */
  private def utf8Printable(p: Array[Byte], n: Int): Double = {
    var printable = 0
    var i = 0
    while (i < n) {
      val b = p(i) & 0xFF
      if (b == 0) return -1
      if (b >= 0x20 || b == '\n' || b == '\r' || b == '\t') printable += 1
      if (b < 0x80) i += 1
      else {
        val len =
          if (b >= 0xC2 && b <= 0xDF) 2
          else if (b >= 0xE0 && b <= 0xEF) 3
          else if (b >= 0xF0 && b <= 0xF4) 4
          else return -1 // 0x80-0xC1 stray continuation/overlong, 0xF5+ out of range
        if (i + len > n) {
          // sequence truncated by the 512-byte window, not by the
          // payload: only tolerate it at the window edge
          if (i + len <= p.length && n == 512) { printable += n - i - 1; i = n }
          else return -1
        } else {
          var k = 1
          while (k < len) {
            val c = p(i + k) & 0xFF
            if (c < 0x80 || c > 0xBF) return -1
            k += 1
          }
          // reject the classic overlong/surrogate planes
          if (b == 0xE0 && (p(i + 1) & 0xFF) < 0xA0) return -1
          if (b == 0xED && (p(i + 1) & 0xFF) > 0x9F) return -1
          if (b == 0xF0 && (p(i + 1) & 0xFF) < 0x90) return -1
          if (b == 0xF4 && (p(i + 1) & 0xFF) > 0x8F) return -1
          printable += len - 1 // continuations are part of a printable char
          i += len
        }
      }
    }
    printable.toDouble / n
  }

  /** Bounded legacy-text fallback. Strictly tighter than the
    * pre-round-13 loose heuristic (which tolerated 5% arbitrary
    * bytes): EVERY byte must be cp1252-printable (0x20..0xFF minus
    * the five undefined cp1252 slots, plus tab/newline/CR), the
    * prefix must be ≥16 bytes, and high bytes must be PRESENT but a
    * MINORITY (≤30%) — real western legacy text runs ~2–10% accented
    * characters, while headerless compressed/encrypted data that
    * sneaks past the printable wall is high-byte-dense (the shape the
    * round-13 hardening exists to refuse, pinned by SniffSpec's
    * fauxText case). */
  private def latin1Printable(p: Array[Byte], n: Int): Boolean = {
    if (n < 16) return false // too short to call legacy text responsibly
    var high = 0
    var i = 0
    while (i < n) {
      val b = p(i) & 0xFF
      val ok = b >= 0x20 || b == '\n' || b == '\r' || b == '\t'
      if (!ok) return false
      if (b == 0x81 || b == 0x8D || b == 0x8F || b == 0x90 || b == 0x9D)
        return false // undefined in cp1252: encoded junk, not legacy text
      if (b >= 0x80) high += 1
      i += 1
    }
    high > 0 && high * 10 <= n * 3
  }

  private def zstd(p: Array[Byte], i: Int): Boolean =
    at(p, i) == 0x28 && at(p, i + 1) == 0xB5 && at(p, i + 2) == 0x2F && at(p, i + 3) == 0xFD

  private def skippable(p: Array[Byte], i: Int): Boolean =
    (at(p, i) & 0xF0) == 0x50 && at(p, i + 1) == 0x2A && at(p, i + 2) == 0x4D && at(p, i + 3) == 0x18

  /** Skippable frames (magic 0x184D2A5x, LE32 size, payload) belong to
    * both the zstd and the LZ4 frame formats — pzstd leads every .zst
    * with one — so the frame after them names the codec: zstd when
    * its magic follows, else LZ4. */
  private def afterSkippable(p: Array[Byte]): String = {
    var i = 0L
    while (i + 8 <= p.length && skippable(p, i.toInt)) {
      var size = 0L
      var k = 0
      while (k < 4) { size |= at(p, i.toInt + 4 + k).toLong << (8 * k); k += 1 }
      i += 8 + size
    }
    if (i < p.length && zstd(p, i.toInt)) "zstd" else "lz4-framed"
  }

  /** The compression wrappers [[detect]] names, each with its
    * decoder (`None` = the codec refused the bytes). */
  private val codecs: Map[String, Array[Byte] => Option[Array[Byte]]] = Map(
    "gzip" -> GzipCodec.gunzip,
    "zstd" -> (ZstdCodec.decode(_: Array[Byte])),
    "bzip2" -> Bzip2Codec.decode,
    "xz" -> XzCodec.decode,
    "snappy-framed" -> ShortCodecs.unsnappyFramed,
    "lz4-framed" -> ShortCodecs.unlz4Framed)

  /** The decoder for a compression label as [[detect]] names it;
    * None for labels that are not compression wrappers. */
  def codec(label: String): Option[Array[Byte] => Option[Array[Byte]]] = codecs.get(label)

  /** Strip one sniffed compression wrapper: the decoded bytes, `p`
    * itself when it carries no wrapper, None when its codec refuses
    * it. */
  def decompress(p: Array[Byte]): Option[Array[Byte]] =
    codec(detect(p)) match {
      case Some(decode) => decode(p)
      case None => Some(p)
    }

  /** (id, format, byte_len) per payload — scan-local. */
  def formats(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        (id, detect(p), if (p == null) 0L else p.length.toLong)
      })
      .toDF("id", "format", "byte_len")
  }
}
