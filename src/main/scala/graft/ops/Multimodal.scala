package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY §2.6): image/audio/video as
  * opaque `binary` payloads plus a typed metadata struct, with
  * decode / feature-extraction running distributed via
  * `mapPartitions`.
  *
  * The codecs are REAL where public knowledge suffices: full PNG
  * pixel decode/encode/resize ([[PngCodec]]), GIF LZW decode
  * ([[GifCodec]]), PCM sample decode ([[AudioPcm]]), MP4 box-tree
  * metadata ([[Mp4]]), and the PNG/JPEG/GIF/WAV header sniffers below
  * — each from its public specification, garbage-safe, and
  * oracle-gated. The [[MediaDecoder]]/[[MediaResizer]] seams with
  * deterministic stand-ins remain for what genuinely needs a native
  * library (learned feature embeddings, JPEG entropy decode, H.264
  * frames): the distributed shape — schema, batched per-partition
  * execution, output contracts — is identical either way, so swapping
  * a real native codec in is a one-function change.
  */
object Multimodal {

  /** Canonical media column layout: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("mime", StringType),
    StructField("meta", StructType(Seq(
      StructField("byte_len", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  /** Decoder seam. A real deployment implements `decode` with an image
    * /audio codec (JNI/library); the pipeline shape is identical.
    */
  trait MediaDecoder extends Serializable {
    /** payload → fixed-length feature vector */
    def decode(payload: Array[Byte]): Array[Float]
    def featureDim: Int
  }

  /** Deterministic stand-in decoder: features derived from byte
    * statistics (length, positional byte sums, a rolling hash). NOT a
    * real codec — a placeholder with a stable, testable contract.
    *
    * The arithmetic is deliberately exact-integer until one final
    * double expression per feature (`sum/255.0/len*6`, then rounded
    * to float32): any engine can recompute the features bit-for-bit
    * from the payload bytes, which makes the whole decode path
    * differential-testable (the driver's DuckDB oracle re-derives
    * them from hex pairs of the payload).
    *
    * Layout: f0 = byte length; f1 = rolling hash
    * (h = 31·h + byte mod 2^24, seed 17); f2..f7 = normalized byte
    * sums of positions ≡ j (mod 6).
    */
  final class FakeDecoder extends MediaDecoder {
    val featureDim: Int = 8
    def decode(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](featureDim)
      if (payload.isEmpty) return out
      val sums = new Array[Long](6)
      var h = 17L
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xFF
        h = (31L * h + b) % 16777216L
        sums(i % 6) += b
        i += 1
      }
      out(0) = payload.length.toFloat
      out(1) = h.toFloat
      var j = 0
      while (j < 6) {
        out(j + 2) = (sums(j).toDouble / 255.0 / payload.length * 6).toFloat
        j += 1
      }
      out
    }
  }

  /** Wrap a text/binary column into the canonical media struct (used
    * to build test corpora; real ingestion reads payloads from object
    * storage).
    */
  def packText(df: DataFrame, textCol: String, mime: String = "text/plain"): DataFrame =
    df.withColumn("media", struct(
      encode(col(textCol), "UTF-8").as("payload"),
      lit(mime).as("mime"),
      struct(
        octet_length(encode(col(textCol), "UTF-8")).cast("long").as("byte_len"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta")))

  /** Distributed decode: per-partition batched feature extraction.
    * Runs on executors via `mapPartitions` — the decoder is
    * instantiated once per partition (amortized codec init), rows
    * stream through without materializing the partition.
    */
  def extractFeatures(
      df: DataFrame, idCol: String, mediaCol: String,
      decoder: MediaDecoder = new FakeDecoder()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init happens here (once, not per row)
        rows.map { case (id, payload) =>
          (id, payload.length.toLong, decoder.decode(payload))
        }
      }
      .toDF("id", "byte_len", "features")
  }

  /** REAL codec path — not a stand-in: container-header parsing for
    * the three ubiquitous image formats, written against their public
    * specifications. This is the decode step every curation pipeline
    * runs first (mime sniff + dimensions for filtering/bucketing)
    * and it needs no native library, so it runs as-is in this
    * environment — proof the [[MediaDecoder]]-style seam carries a
    * real codec, not only the deterministic fakes.
    *
    *  - PNG (RFC 2083 / W3C): 8-byte signature
    *    89 50 4E 47 0D 0A 1A 0A, then the IHDR chunk — width and
    *    height are big-endian u32 at byte offsets 16 and 20.
    *  - JPEG (ITU T.81): SOI FF D8, then marker segments, each
    *    FF <marker> <u16 BE length incl. itself>; dimensions live in
    *    the frame header SOFn (C0-CF except C4 DHT / C8 JPG / CC DAC):
    *    height at segment offset +5, width at +7 (big-endian u16).
    *    Fill bytes FF before a marker are legal padding; the scan
    *    stops at SOS (DA) — dimensions always precede entropy data.
    *  - GIF (87a/89a): 6-byte version signature, then the logical
    *    screen descriptor — width and height little-endian u16 at
    *    offsets 6 and 8.
    */
  object ImageHeader {
    /** (mime, width, height), or None when the payload is not a
      * recognizable image container. Never throws on truncated or
      * hostile bytes — at 100 TB some payloads WILL be garbage and a
      * decode task must not die for it. */
    def parse(p: Array[Byte]): Option[(String, Int, Int)] = {
      def u8(i: Int): Int = p(i) & 0xFF
      def be32(i: Int): Long =
        (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)

      if (p.length >= 24 &&
          u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4E && u8(3) == 0x47 &&
          u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A) {
        // bytes 12..15 must name the IHDR chunk (always first per spec)
        if (u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R')
          Some(("image/png", be32(16).toInt, be32(20).toInt))
        else None
      } else if (p.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
        var i = 2
        while (i + 3 < p.length) {
          if (u8(i) != 0xFF) return None // desynced: not a marker stream
          var j = i
          while (j + 1 < p.length && u8(j + 1) == 0xFF) j += 1 // fill bytes
          val m = if (j + 1 < p.length) u8(j + 1) else return None
          if (m == 0xD9 || m == 0xDA) return None // EOI/SOS before any SOF
          if (m >= 0xD0 && m <= 0xD7) { i = j + 2 } // RSTn: no length field
          else {
            if (j + 3 >= p.length) return None
            val len = be16(j + 2)
            if (len < 2) return None
            val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
            if (isSof) {
              if (j + 8 >= p.length) return None
              return Some(("image/jpeg", be16(j + 7), be16(j + 5)))
            }
            i = j + 2 + len
          }
        }
        None
      } else if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
          p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') {
        Some(("image/gif", le16(6), le16(8)))
      } else if (p.length >= 20 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
          p(3) == 'F' && p(8) == 'W' && p(9) == 'E' && p(10) == 'B' && p(11) == 'P') {
        // WebP (RFC 9649): first chunk decides the flavor; dims per
        // the VP8 keyframe header / VP8L signature bits / VP8X canvas
        val fourcc = new String(p, 12, 4, "US-ASCII")
        val d = 20 // chunk data start
        fourcc match {
          case "VP8 " if p.length >= d + 10 &&
              u8(d + 3) == 0x9D && u8(d + 4) == 0x01 && u8(d + 5) == 0x2A =>
            Some(("image/webp", le16(d + 6) & 0x3FFF, le16(d + 8) & 0x3FFF))
          case "VP8L" if p.length >= d + 5 && u8(d) == 0x2F =>
            val b1 = u8(d + 1); val b2 = u8(d + 2); val b3 = u8(d + 3); val b4 = u8(d + 4)
            Some(("image/webp", 1 + (((b2 & 0x3F) << 8) | b1),
              1 + (((b4 & 0x0F) << 10) | (b3 << 2) | ((b2 & 0xC0) >> 6))))
          case "VP8X" if p.length >= d + 10 =>
            val w = 1 + (u8(d + 4) | (u8(d + 5) << 8) | (u8(d + 6) << 16))
            val h = 1 + (u8(d + 7) | (u8(d + 8) << 8) | (u8(d + 9) << 16))
            Some(("image/webp", w, h))
          case _ => None
        }
      } else if (p.length >= 8 &&
          ((u8(0) == 'I' && u8(1) == 'I' && u8(2) == 0x2A && u8(3) == 0) ||
           (u8(0) == 'M' && u8(1) == 'M' && u8(2) == 0 && u8(3) == 0x2A))) {
        // TIFF 6.0: endian-tagged IFD walk for ImageWidth/ImageLength
        val le = u8(0) == 'I'
        def r16(i: Int): Int = if (le) le16(i) else be16(i)
        def r32(i: Int): Long =
          if (le) u8(i).toLong | (u8(i + 1).toLong << 8) |
            (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
          else be32(i)
        val ifd = r32(4)
        if (ifd < 8 || ifd + 2 > p.length) None
        else {
          val n = r16(ifd.toInt)
          if (n <= 0 || n > 4096 || ifd + 2 + 12L * n > p.length) None
          else {
            var w = -1; var h = -1
            var e = 0
            while (e < n) {
              val at = ifd.toInt + 2 + 12 * e
              val tag = r16(at)
              val tpe = r16(at + 2)
              // inline values are left-justified in the 4-byte field:
              // SHORT reads 2 bytes at the field start, LONG all 4
              val v: Int =
                if (tpe == 3) r16(at + 8)
                else if (tpe == 4) r32(at + 8).toInt
                else -1
              if (tag == 256) w = v
              if (tag == 257) h = v
              e += 1
            }
            if (w > 0 && h > 0) Some(("image/tiff", w, h)) else None
          }
        }
      } else if (Heif.looksLike(p)) {
        // HEIF family (AVIF / HEIC): meta-box walk for the primary
        // item's DISPLAYED dims (ispe with irot applied — what the
        // reference libheif reports; see graft.ops.Heif)
        Heif.parse(p).map { m =>
          val mime =
            if (m.brand.startsWith("avi")) "image/avif"
            else if (m.brand.startsWith("hei") || m.brand.startsWith("hev")) "image/heic"
            else "image/heif"
          (mime, m.width, m.height)
        }
      } else if (p.length >= 3 && p(0) == 'P' &&
          (p(1) == '5' || p(1) == '6') &&
          (p(2) == ' ' || p(2) == '\t' || p(2) == '\n' || p(2) == '\r' || p(2) == '#')) {
        // netpbm P5/P6 (the venerable pnm header grammar): whitespace-
        // separated tokens with '#' comments running to end of line
        var i = 2
        def token(): Option[Int] = {
          while (i < p.length && (p(i) == ' ' || p(i) == '\t' || p(i) == '\n' ||
            p(i) == '\r' || p(i) == '#')) {
            if (p(i) == '#') { while (i < p.length && p(i) != '\n') i += 1 }
            else i += 1
          }
          val from = i
          while (i < p.length && p(i) >= '0' && p(i) <= '9') i += 1
          if (i == from || i - from > 9) None
          else Some(new String(p, from, i - from, "US-ASCII").toInt)
        }
        val mime = if (p(1) == '6') "image/x-portable-pixmap"
                   else "image/x-portable-graymap"
        for (w <- token(); h <- token(); _ <- token() if w > 0 && h > 0)
          yield (mime, w, h)
      } else if (p.length >= 6 && {
        var i = 0
        // skip a UTF-8 BOM and leading whitespace: SVG is text
        if (p.length >= 3 && u8(0) == 0xEF && u8(1) == 0xBB && u8(2) == 0xBF) i = 3
        while (i < p.length && (p(i) == ' ' || p(i) == '\t' || p(i) == '\n' || p(i) == '\r')) i += 1
        i < p.length && p(i) == '<'
      }) {
        // SVG: XML with an svg root; CSS px units accepted, relative
        // units fall back to the viewBox box (floored)
        val text = new String(p, java.nio.charset.StandardCharsets.UTF_8)
          .stripPrefix("﻿")
        Xml.parse(text).filter(_.local == "svg").flatMap { root =>
          def dim(a: String): Option[Int] =
            root.attr(a).map(_.trim.stripSuffix("px").trim)
              .filter(v => v.nonEmpty && v.forall(_.isDigit)).map(_.toInt)
          val fromAttrs = for (w <- dim("width"); h <- dim("height")) yield (w, h)
          val fromViewBox = root.attr("viewBox").flatMap { vb =>
            val parts = vb.trim.split("[ ,]+")
            if (parts.length == 4)
              try Some((parts(2).toDouble.toInt, parts(3).toDouble.toInt))
              catch { case _: Exception => None }
            else None
          }
          fromAttrs.orElse(fromViewBox).collect {
            case (w, h) if w > 0 && h > 0 => ("image/svg+xml", w, h)
          }
        }
      } else None
    }
  }

  /** RIFF/WAVE header parse — the audio sibling of [[ImageHeader]],
    * against the public WAV container layout: "RIFF" …"WAVE", then a
    * chunk list whose "fmt " chunk carries channels/sample-rate/
    * byte-rate and whose "data" chunk size gives the duration. Same
    * garbage-safety contract: truncated or hostile bytes return None,
    * never throw.
    */
  object AudioHeader {
    /** (mime, channels, sample_rate_hz, duration_ms) or None. */
    def parse(p: Array[Byte]): Option[(String, Int, Int, Long)] = {
      def u8(i: Int): Int = p(i) & 0xFF
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int): Long =
        u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      def tag(i: Int): String =
        if (i + 4 <= p.length) new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        else ""
      if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      // cursor is Long: a hostile declared chunk size near 2^31 must
      // advance past p.length and end the loop, never wrap an Int to
      // a negative offset that the `i + 8 <= p.length` guard would
      // re-admit (tag() would then throw, breaking the never-throw
      // contract on one crafted payload)
      var i = 12L
      var channels = 0; var rate = 0; var byteRate = 0L; var dataLen = -1L
      while (i + 8 <= p.length) {
        val at = i.toInt // safe: i + 8 <= p.length <= Int.MaxValue
        val id = tag(at)
        val len = le32(at + 4)
        if (id == "fmt " && at + 24 <= p.length) {
          channels = le16(at + 10)
          rate = le32(at + 12).toInt
          byteRate = le32(at + 16)
        } else if (id == "data") {
          // the DECLARED size drives duration — a truncated prefix
          // still names the intended audio length
          dataLen = len
        }
        i += 8L + len + (len & 1L) // le32 ≥ 0; chunks are word-aligned
        if (channels > 0 && dataLen >= 0) {
          val durMs = if (byteRate > 0) dataLen * 1000L / byteRate else 0L
          return Some(("audio/wav", channels, rate, durMs))
        }
      }
      None
    }
  }

  /** Distributed REAL decode through the same mapPartitions seam as
    * [[extractFeatures]]: payload bytes → sniffed mime + dimensions
    * (nulls for unrecognized payloads — kept, not dropped, so the
    * caller decides quarantine policy). Same scale shape: per-
    * partition streaming, no driver involvement, output ∝ input rows.
    */
  def decodeImageMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          ImageHeader.parse(payload) match {
            case Some((mime, w, h)) =>
              (id, payload.length.toLong, mime, Some(w), Some(h))
            case None =>
              (id, payload.length.toLong, null: String, None: Option[Int], None: Option[Int])
          }
        }
      }
      .toDF("id", "byte_len", "mime_detected", "width", "height")
  }

  /** Audio twin of [[decodeImageMeta]], same seam and nulls-for-
    * garbage contract: (id, byte_len, mime_detected, channels,
    * sample_rate, duration_ms). Dispatches by content sniff across
    * the audio-container ladder: RIFF/WAVE chunk walk
    * ([[AudioHeader]]), FLAC STREAMINFO ([[FlacCodec.streamInfo]] —
    * metadata blocks only, no frame decode), Ogg pages with
    * Vorbis/Opus identification headers ([[Ogg]]), and MPEG audio
    * frame sequences ([[Mp3]]). */
  def decodeAudioMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          AudioHeader.parse(payload) match {
            case Some((mime, ch, rate, durMs)) =>
              (id, payload.length.toLong, mime, Some(ch), Some(rate), Some(durMs))
            case None => FlacCodec.streamInfo(payload) match {
              case Some((ch, rate, totalSamples)) =>
                (id, payload.length.toLong, "audio/flac", Some(ch), Some(rate),
                  Some(totalSamples * 1000L / rate))
              case None => Ogg.parse(payload) match {
                case Some(m) =>
                  (id, payload.length.toLong, "audio/ogg", Some(m.channels),
                    Some(m.sampleRate), Some(m.durationMs))
                case None => Mp3.parse(payload) match {
                  case Some(m) =>
                    (id, payload.length.toLong, "audio/mpeg", Some(m.channels),
                      Some(m.sampleRate), Some(m.durationMs))
                  case None =>
                    (id, payload.length.toLong, null: String,
                      None: Option[Int], None: Option[Int], None: Option[Long])
                }
              }
            }
          }
        }
      }
      .toDF("id", "byte_len", "mime_detected", "channels", "sample_rate", "duration_ms")
  }

  /** Build REAL WAV media from a text column: the document's UTF-8
    * bytes become 8-bit PCM mono samples at 8 kHz under a spec-correct
    * RIFF/WAVE header. Like [[packTextPng]], the sample content is a
    * pure function of the text so an external oracle can verify the
    * whole decode + feature pipeline without parsing any WAV.
    */
  def packTextWav(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 8000, maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
        def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val wav = "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
            "WAVE".getBytes("US-ASCII") ++
            "fmt ".getBytes("US-ASCII") ++ le32(16) ++
            le16(1) ++ le16(1) ++ le32(sampleRate) ++ le32(sampleRate) ++
            le16(1) ++ le16(8) ++
            "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
          (id, wav)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("audio/wav").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** COMPRESSED-audio twin of [[packTextWav]]: the same per-byte
    * sample mapping ((b − 128)·256, mono), but encoded as a real FLAC
    * stream by the from-spec [[FlacCodec]] — fixed prediction + Rice
    * residuals, per-frame CRCs, and the STREAMINFO MD5 of the raw
    * samples. A small block size keeps typical documents spanning
    * several frames, so the multi-frame path (UTF-8 frame numbers,
    * short last block) is exercised by every row. Because the decoded
    * samples must be bit-identical to the WAV path's, the same oracle
    * arithmetic replays every feature — losslessness is the contract
    * under test.
    */
  def packTextFlac(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 8000, blockSize: Int = 256, maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val samples = new Array[Int](data.length)
          var i = 0
          while (i < data.length) { samples(i) = ((data(i) & 0xFF) - 128) << 8; i += 1 }
          (id, FlacCodec.encode(AudioPcm.Clip(1, sampleRate, 16, samples), blockSize))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("audio/flac").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** G.711 twin of [[packTextWav]]: the document's UTF-8 bytes ARE
    * the companded code bytes (fmt 7 μ-law / fmt 6 A-law, 8-bit,
    * mono), under a spec-correct header (18-byte fmt with cbSize 0 +
    * the `fact` chunk non-PCM formats carry). Decoded samples are the
    * G.711 expansion of each text byte — a pure per-byte function
    * ([[G711.mulawDecode]]/[[G711.alawDecode]]) the oracle replays
    * bit-for-bit in SQL.
    */
  def packTextG711Wav(df: DataFrame, idCol: String, textCol: String, alaw: Boolean,
      sampleRate: Int = 8000, maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fmtCode = if (alaw) 6 else 7
    val mime = if (alaw) "audio/alaw" else "audio/mulaw"
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
        def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val body = "WAVE".getBytes("US-ASCII") ++
            "fmt ".getBytes("US-ASCII") ++ le32(18) ++
            le16(fmtCode) ++ le16(1) ++ le32(sampleRate) ++ le32(sampleRate) ++
            le16(1) ++ le16(8) ++ le16(0) ++
            "fact".getBytes("US-ASCII") ++ le32(4) ++ le32(data.length) ++
            "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
          (id, "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit(mime).as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** IMA ADPCM twin of [[packTextWav]]: the same per-byte sample
    * mapping ((b − 128)·256, mono), encoded through the from-spec
    * [[ImaAdpcm]] encoder (fmt 0x11 blocks: per-block predictor +
    * step-index header, 4-bit adaptive nibbles, `fact` frame count).
    * ADPCM is LOSSY, so the gate for this path is the
    * [[adpcmParity]] verdict table, not a sample-exact oracle.
    */
  def packTextAdpcmWav(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 8000, blockAlign: Int = 256, maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val samples = new Array[Int](data.length)
          var i = 0
          while (i < data.length) { samples(i) = ((data(i) & 0xFF) - 128) << 8; i += 1 }
          (id, ImaAdpcm.encodeWav(AudioPcm.Clip(1, sampleRate, 16, samples), blockAlign))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("audio/adpcm").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** IMA ADPCM round-trip verdict table (the [[jpegParity]] pattern
    * for stateful lossy audio): per document, build the reference
    * samples from the text bytes, encode → decode through the WAV
    * fmt-0x11 path, and earn four booleans —
    * `decoded` (payload decodes at all), `meta_ok` (mono, declared
    * rate, 16-bit working depth, `fact`-trimmed frame count == text
    * length), and `reconstruction_exact` (decoder output equals the
    * encoder's tracked predictor path SAMPLE-EXACTLY — the ADPCM
    * analogue of FLAC's MD5 gate: any drift in block headers, nibble
    * packing, interleave, or state arithmetic breaks it). The oracle
    * is the all-true table this op must earn.
    *
    * There is deliberately NO SNR column: ADPCM is adaptive-step
    * lossy, and on a noise-like byte→sample mapping (±23k jumps
    * between adjacent samples) its honest SNR floor is ~7 dB — no
    * fixed dB bound is both meaningful and portable across corpora,
    * whereas bit-exact agreement with the encoder's own predictor
    * path is the contract that actually pins the codec.
    */
  def adpcmParity(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 8000, blockAlign: Int = 256, maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val samples = new Array[Int](data.length)
          var i = 0
          while (i < data.length) { samples(i) = ((data(i) & 0xFF) - 128) << 8; i += 1 }
          val wav = ImaAdpcm.encodeWav(AudioPcm.Clip(1, sampleRate, 16, samples), blockAlign)
          // the encoder's reconstruction path, re-tracked independently
          // of the byte layout (block restarts included)
          val spb = (blockAlign - 4) * 2 + 1
          val expect = new Array[Int](samples.length)
          var idx = 0
          var f = 0
          while (f < samples.length) {
            if (f % spb == 0) expect(f) = samples(f) // block header frame
            else {
              val (nib, p2) = ImaAdpcm.encodeStep(samples(f), expect(f - 1), idx)
              expect(f) = p2
              idx = math.max(0, math.min(88, idx + ImaAdpcm.IndexTable(nib & 7)))
            }
            f += 1
          }
          AudioPcm.decodeAny(wav) match {
            case Some(clip) =>
              val metaOk = clip.channels == 1 && clip.sampleRate == sampleRate &&
                clip.bitsPerSample == 16 && clip.samples.length == samples.length
              val exact = metaOk && java.util.Arrays.equals(clip.samples, expect)
              (id, true, metaOk, exact)
            case None => (id, false, false, false)
          }
        }
      }
      .toDF("id", "decoded", "meta_ok", "reconstruction_exact")
  }

  /** Distributed REAL audio decode + feature extraction: full
    * [[AudioPcm]] sample decode per payload, then the classic integer
    * clip features — peak amplitude, energy (Σ s², exact in Long),
    * zero-crossing count (sign changes, the standard voicing/noisiness
    * proxy) — all integer arithmetic, so an oracle can re-derive every
    * value from the source bytes. Undecodable payloads yield nulls
    * (kept, not dropped). Same seam and scale shape as
    * [[decodeImagePixels]].
    */
  def decodeAudioFeatures(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          AudioPcm.decodeAny(payload) match {
            case Some(clip) =>
              var peak = 0L; var sumSq = 0L; var zc = 0L
              var i = 0
              val s = clip.samples
              while (i < s.length) {
                val v = s(i)
                val a = math.abs(v.toLong)
                if (a > peak) peak = a
                sumSq += v.toLong * v
                if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
                i += 1
              }
              (id, Some(clip.channels), Some(clip.sampleRate), Some(clip.bitsPerSample),
                Some(s.length.toLong), Some(peak), Some(sumSq), Some(zc))
            case None =>
              (id, None: Option[Int], None: Option[Int], None: Option[Int],
                None: Option[Long], None: Option[Long], None: Option[Long], None: Option[Long])
          }
        }
      }
      .toDF("id", "channels", "sample_rate", "bits", "n_samples", "peak", "sum_sq",
        "zero_crossings")
  }

  /** Build REAL MP4 containers from a text column: a spec-correct
    * ftyp + moov(mvhd + trak(tkhd)) + mdat box tree whose movie
    * duration and track dimensions derive arithmetically from the
    * text length (duration = len·40 ms at timescale 1000 — 25 fps
    * frames; width = 16 + len mod 640, height = 16 + 7·len mod 480),
    * and whose mdat payload is the text bytes. The oracle re-derives
    * every metadata field from `octet_length(text)` alone.
    */
  def packTextMp4(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
        def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
        def box(t: String, body: Array[Byte]) =
          be32(body.length + 8L) ++ t.getBytes("US-ASCII") ++ body
        val matrix = be32(0x00010000L) ++ be32(0) ++ be32(0) ++
          be32(0) ++ be32(0x00010000L) ++ be32(0) ++
          be32(0) ++ be32(0) ++ be32(0x40000000L)
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val len = data.length
          val durUnits = len.toLong * 40 // timescale 1000 → ms directly
          val w = 16 + (len % 640); val h = 16 + ((len * 7) % 480)
          val mvhd = box("mvhd",
            Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
              be32(1000) ++ be32(durUnits) ++
              be32(0x00010000L) ++ be16(0x0100) ++ new Array[Byte](10) ++
              matrix ++ new Array[Byte](24) ++ be32(2))
          val tkhd = box("tkhd",
            Array[Byte](0, 0, 0, 7) ++ be32(0) ++ be32(0) ++
              be32(1) ++ be32(0) ++ be32(durUnits) ++
              new Array[Byte](8) ++ new Array[Byte](8) ++
              matrix ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
          val mp4 = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
              "isomiso2".getBytes("US-ASCII")) ++
            box("moov", mvhd ++ box("trak", tkhd)) ++
            box("mdat", data)
          (id, mp4)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/mp4").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Build REAL Matroska containers from a text column: a spec-correct
    * EBML tree (EBML header with DocType `matroska`, Segment with
    * Info(TimestampScale + Duration) and Tracks(TrackEntry(Video(
    * PixelWidth/PixelHeight)))) whose movie duration and track
    * dimensions derive arithmetically from the text length
    * (duration = len·20 ms at the default 1 ms timestamp scale —
    * 50 fps frames; width = 16 + 3·len mod 640, height =
    * 16 + 11·len mod 480), and whose payload rides in a Void element.
    * Every size vint is written at the spec-legal FIXED 8-byte width,
    * so the container overhead is a constant 268 bytes and the oracle
    * re-derives every field from `octet_length(text)` alone.
    */
  def packTextMkv(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // size vint at fixed 8-byte width: 0x01 marker byte + 7 value
        // bytes (RFC 8794 allows any width ≥ minimal)
        def size8(v: Long): Array[Byte] = {
          val b = new Array[Byte](8)
          b(0) = 0x01
          var k = 0
          while (k < 7) { b(7 - k) = ((v >> (8 * k)) & 0xFF).toByte; k += 1 }
          b
        }
        def el(id: Array[Byte], body: Array[Byte]): Array[Byte] =
          id ++ size8(body.length.toLong) ++ body
        def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
        def u(v: Long, w: Int): Array[Byte] =
          (0 until w).map(k => ((v >> (8 * (w - 1 - k))) & 0xFF).toByte).toArray
        def f64(v: Double): Array[Byte] = u(java.lang.Double.doubleToLongBits(v), 8)
        rows.map { case (docId, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                     else bytes0
          val len = data.length
          val w = 16 + ((len * 3) % 640); val h = 16 + ((len * 11) % 480)
          val header = el(id(0x1A, 0x45, 0xDF, 0xA3),
            el(id(0x42, 0x86), u(1, 1)) ++       // EBMLVersion
            el(id(0x42, 0xF7), u(1, 1)) ++       // EBMLReadVersion
            el(id(0x42, 0xF2), u(4, 1)) ++       // EBMLMaxIDLength
            el(id(0x42, 0xF3), u(8, 1)) ++       // EBMLMaxSizeLength
            el(id(0x42, 0x82), "matroska".getBytes("US-ASCII")) ++ // DocType
            el(id(0x42, 0x87), u(4, 1)) ++       // DocTypeVersion
            el(id(0x42, 0x85), u(2, 1)))         // DocTypeReadVersion
          val info = el(id(0x15, 0x49, 0xA9, 0x66),
            el(id(0x2A, 0xD7, 0xB1), u(1000000L, 4)) ++ // TimestampScale (ns)
            el(id(0x44, 0x89), f64(len.toDouble * 20))) // Duration (units = ms)
          val video = el(id(0xE0),
            el(id(0xB0), u(w.toLong, 2)) ++ el(id(0xBA), u(h.toLong, 2)))
          val track = el(id(0xAE),
            el(id(0xD7), u(1, 1)) ++             // TrackNumber
            el(id(0x73, 0xC5), u(1, 1)) ++       // TrackUID
            el(id(0x83), u(1, 1)) ++             // TrackType = video
            el(id(0x86), "V_UNCOMPRESSED".getBytes("US-ASCII")) ++ // CodecID
            video)
          val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), track)
          val segment = el(id(0x18, 0x53, 0x80, 0x67),
            info ++ tracks ++ el(id(0xEC), data)) // Void carries the payload
          (docId, header ++ segment)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/x-matroska").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Matroska sibling of [[packTextMjpegAvi]]/[[packTextMjpegMp4]]:
    * the same decodable 16×16 gradient JPEG frames as Cluster
    * SimpleBlocks (two frames per cluster — cluster timestamp 80·c ms
    * with relative offsets 0/40, so the reader must combine both
    * levels), keyframe flags on every third frame, codec `V_MJPEG`;
    * the LAST frame rides a BlockGroup instead, with a
    * ReferenceBlock present exactly when it is NOT a keyframe (the
    * Matroska keyframe rule for grouped blocks). */
  def packTextMjpegMkv(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        def size8(v: Long): Array[Byte] = {
          val b = new Array[Byte](8)
          b(0) = 0x01
          var k = 0
          while (k < 7) { b(7 - k) = ((v >> (8 * k)) & 0xFF).toByte; k += 1 }
          b
        }
        def el(id: Array[Byte], body: Array[Byte]): Array[Byte] =
          id ++ size8(body.length.toLong) ++ body
        def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
        def u(v: Long, w: Int): Array[Byte] =
          (0 until w).map(k => ((v >> (8 * (w - 1 - k))) & 0xFF).toByte).toArray
        def f64(v: Double): Array[Byte] = u(java.lang.Double.doubleToLongBits(v), 8)
        rows.map { case (docId, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val len = math.min(bytes0.length, maxBytes)
          val nFrames = 2 + (len % 4)
          val jpegs = (0 until nFrames).map { f =>
            val c = f * 80 + (docId % 5).toInt * 16
            val px = new Array[Byte](256)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                px(y * 16 + x) = ((17 * x + 17 * y + c) >> 2).toByte
                x += 1
              }
              y += 1
            }
            JpegEncoder.encode(PngCodec.Image(16, 16, 1, px), quality = 90)
          }
          val header = el(id(0x1A, 0x45, 0xDF, 0xA3),
            el(id(0x42, 0x86), u(1, 1)) ++
            el(id(0x42, 0xF7), u(1, 1)) ++
            el(id(0x42, 0xF2), u(4, 1)) ++
            el(id(0x42, 0xF3), u(8, 1)) ++
            el(id(0x42, 0x82), "matroska".getBytes("US-ASCII")) ++
            el(id(0x42, 0x87), u(4, 1)) ++
            el(id(0x42, 0x85), u(2, 1)))
          val info = el(id(0x15, 0x49, 0xA9, 0x66),
            el(id(0x2A, 0xD7, 0xB1), u(1000000L, 4)) ++
            el(id(0x44, 0x89), f64(nFrames.toDouble * 40)))
          val video = el(id(0xE0),
            el(id(0xB0), u(16L, 2)) ++ el(id(0xBA), u(16L, 2)))
          val track = el(id(0xAE),
            el(id(0xD7), u(1, 1)) ++
            el(id(0x73, 0xC5), u(1, 1)) ++
            el(id(0x83), u(1, 1)) ++
            el(id(0x86), "V_MJPEG".getBytes("US-ASCII")) ++
            video)
          val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), track)
          def blockBody(f: Int, key: Boolean): Array[Byte] = {
            val rel = (f % 2) * 40
            Array(0x81.toByte, ((rel >> 8) & 0xFF).toByte, (rel & 0xFF).toByte,
              (if (key) 0x80 else 0x00).toByte) ++ jpegs(f)
          }
          val clusters = (0 until (nFrames + 1) / 2).map { c =>
            val inCluster = Seq(2 * c) ++ (if (2 * c + 1 < nFrames) Seq(2 * c + 1) else Nil)
            val blocks = inCluster.flatMap { f =>
              val key = f % 3 == 0
              if (f == nFrames - 1) {
                // last frame as a BlockGroup: keyframe = no ReferenceBlock
                val grp = el(id(0xA1), blockBody(f, key = false)) ++
                  (if (key) Array.emptyByteArray
                   else el(id(0xFB), Array(0xD8.toByte)))
                el(id(0xA0), grp)
              } else el(id(0xA3), blockBody(f, key))
            }.toArray
            el(id(0x1F, 0x43, 0xB6, 0x75),
              el(id(0xE7), u(80L * c, 2)) ++ blocks)
          }
          val segment = el(id(0x18, 0x53, 0x80, 0x67),
            info ++ tracks ++ clusters.flatten.toArray)
          (docId, header ++ segment)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/x-matroska").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(16).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Matroska fixture with LACED SimpleBlocks (round 17) — six JPEG
    * frames in ONE cluster as three blocks exercising every lacing
    * mode: frames 0–1 Xiph-laced (255-continued size runs, keyframe
    * flag set), frames 2–3 fixed-size-laced (two copies of the same
    * frame bytes — fixed lacing requires equal sizes), frames 4–5
    * EBML-laced (first-size vint + signed-vint delta). Blocks at
    * relative times 0/40/80; laced frames share their block's time
    * and keyframe signal. */
  def packTextMjpegMkvLaced(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { rows =>
        def size8(v: Long): Array[Byte] = {
          val b = new Array[Byte](8)
          b(0) = 0x01
          var k = 0
          while (k < 7) { b(7 - k) = ((v >> (8 * k)) & 0xFF).toByte; k += 1 }
          b
        }
        def el(id: Array[Byte], body: Array[Byte]): Array[Byte] =
          id ++ size8(body.length.toLong) ++ body
        def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
        def u(v: Long, w: Int): Array[Byte] =
          (0 until w).map(k => ((v >> (8 * (w - 1 - k))) & 0xFF).toByte).toArray
        def f64(v: Double): Array[Byte] = u(java.lang.Double.doubleToLongBits(v), 8)
        // Xiph size run: 255-bytes then the remainder byte
        def xiphSize(s: Int): Array[Byte] =
          Array.fill(s / 255)(0xFF.toByte) :+ (s % 255).toByte
        // 2-byte EBML vint (marker 0x40, 14 value bits)
        def vint2(v: Int): Array[Byte] = {
          require(v >= 0 && v < (1 << 14) - 1)
          Array((0x40 | (v >> 8)).toByte, (v & 0xFF).toByte)
        }
        rows.map { docId =>
          def jpeg(f: Int): Array[Byte] = {
            val c = f * 80 + (docId % 5).toInt * 16
            val px = new Array[Byte](256)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                px(y * 16 + x) = ((17 * x + 17 * y + c) >> 2).toByte
                x += 1
              }
              y += 1
            }
            JpegEncoder.encode(PngCodec.Image(16, 16, 1, px), quality = 90)
          }
          val header = el(id(0x1A, 0x45, 0xDF, 0xA3),
            el(id(0x42, 0x86), u(1, 1)) ++
            el(id(0x42, 0xF7), u(1, 1)) ++
            el(id(0x42, 0xF2), u(4, 1)) ++
            el(id(0x42, 0xF3), u(8, 1)) ++
            el(id(0x42, 0x82), "matroska".getBytes("US-ASCII")) ++
            el(id(0x42, 0x87), u(4, 1)) ++
            el(id(0x42, 0x85), u(2, 1)))
          val info = el(id(0x15, 0x49, 0xA9, 0x66),
            el(id(0x2A, 0xD7, 0xB1), u(1000000L, 4)) ++
            el(id(0x44, 0x89), f64(240.0)))
          val video = el(id(0xE0),
            el(id(0xB0), u(16L, 2)) ++ el(id(0xBA), u(16L, 2)))
          val track = el(id(0xAE),
            el(id(0xD7), u(1, 1)) ++
            el(id(0x73, 0xC5), u(1, 1)) ++
            el(id(0x83), u(1, 1)) ++
            el(id(0x86), "V_MJPEG".getBytes("US-ASCII")) ++
            video)
          val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), track)
          def head(rel: Int, flags: Int): Array[Byte] =
            Array(0x81.toByte, ((rel >> 8) & 0xFF).toByte, (rel & 0xFF).toByte,
              flags.toByte)
          // Xiph (flags 0x02), frames 0–1, keyframe
          val (j0, j1) = (jpeg(0), jpeg(1))
          val xiph = el(id(0xA3), head(0, 0x80 | 0x02) ++
            Array(1.toByte) ++ xiphSize(j0.length) ++ j0 ++ j1)
          // fixed (flags 0x04), frames 2–3 = two copies
          val j2 = jpeg(2)
          val fixed = el(id(0xA3), head(40, 0x04) ++
            Array(1.toByte) ++ j2 ++ j2)
          // EBML (flags 0x06), frames 4–5
          val (j4, j5) = (jpeg(4), jpeg(5))
          val ebml = el(id(0xA3), head(80, 0x06) ++
            Array(1.toByte) ++ vint2(j4.length) ++ j4 ++ j5)
          val cluster = el(id(0x1F, 0x43, 0xB6, 0x75),
            el(id(0xE7), u(0L, 2)) ++ xiph ++ fixed ++ ebml)
          val segment = el(id(0x18, 0x53, 0x80, 0x67), info ++ tracks ++ cluster)
          (docId, header ++ segment)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/x-matroska").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(16).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** REAL frame-level Matroska decode: resolve the first video
    * track's block stream ([[Mkv.blocks]] — cluster timestamps +
    * SimpleBlock/BlockGroup walk, laced blocks unpacked per frame,
    * round 17), slice each block's frame bytes, decode with the
    * from-spec [[JpegCodec]] (V_MJPEG; other codecs refuse by
    * absence), and emit one row per decoded frame. Scan-local
    * flatMap. */
  def decodeMkvFrames(df: DataFrame, idCol: String, mediaCol: String,
      stride: Int = 1): DataFrame = {
    require(stride > 0, s"mkv frames: stride=$stride must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Mkv.blocks(payload).iterator.flatMap { bs =>
            bs.blocks.iterator.zipWithIndex
              .filter { case (_, i) => i % stride == 0 }
              .flatMap { case (b, i) =>
                val frame = java.util.Arrays.copyOfRange(payload, b.offset, b.offset + b.size)
                JpegCodec.decode(frame).map { img =>
                  var lumaSum = 0L
                  val n = img.width * img.height
                  var j = 0
                  if (img.channels == 1) {
                    while (j < n) { lumaSum += img.pixels(j) & 0xFF; j += 1 }
                  } else {
                    while (j < n) {
                      val r = img.pixels(j * 3) & 0xFF
                      val g = img.pixels(j * 3 + 1) & 0xFF
                      val bb = img.pixels(j * 3 + 2) & 0xFF
                      lumaSum += (299 * r + 587 * g + 114 * bb) / 1000
                      j += 1
                    }
                  }
                  (id, i, b.timeMs, b.keyframe, img.width, img.height,
                    img.channels, lumaSum.toDouble / n)
                }
              }
          }
        }
      }
      .toDF("id", "frame_idx", "time_ms", "keyframe", "width", "height",
        "channels", "mean_luma")
  }

  /** Build REAL Ogg-Vorbis streams from a text column — the streamed-
    * audio sibling of [[packTextMkv]]'s fixed-layout trick: a
    * beginning-of-stream page carrying a spec-correct Vorbis I
    * identification header, then one end-of-stream page whose packet
    * data is the document's UTF-8 bytes and whose granule position
    * (the Vorbis absolute sample count) is `16·len`. Channels
    * (`1 + len mod 2`) and sample rate (`8000·(1 + len mod 3)`)
    * derive from the text length, every page CRC is written for real
    * (RFC 3533 appendix A), and the container overhead is
    * `86 + ⌊len/255⌋` bytes (58-byte id page + 27-byte data-page
    * header + one lacing byte per started 255-byte segment), so the
    * oracle re-derives every metadata field from `octet_length(text)`
    * alone. Data is capped at 65025 bytes (the one-page maximum —
    * 255 segments of 255 bytes) so the page count stays fixed.
    */
  def packTextOggVorbis(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 255 * 255): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cap = math.min(maxBytes, 255 * 255)
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
        def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
        def le64(v: Long) = le32(v.toInt) ++ le32((v >> 32).toInt)
        /** One Ogg page with its CRC patched in post-hoc (the CRC is
          * computed over the page with its own field zeroed). */
        def page(flags: Int, granule: Long, seq: Int, lacing: Array[Byte],
            data: Array[Byte]): Array[Byte] = {
          val pg = "OggS".getBytes("US-ASCII") ++ Array[Byte](0, flags.toByte) ++
            le64(granule) ++ le32(0x6753) ++ le32(seq) ++ le32(0) ++
            Array[Byte](lacing.length.toByte) ++ lacing ++ data
          val crc = Ogg.pageCrc(pg, 0, pg.length, 22)
          System.arraycopy(le32(crc), 0, pg, 22, 4)
          pg
        }
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > cap) java.util.Arrays.copyOf(bytes0, cap)
                     else bytes0
          val len = data.length
          val channels = 1 + (len % 2)
          val rate = 8000 * (1 + (len % 3))
          // Vorbis I §4.2.2: type 1 + "vorbis" + version 0 + channels +
          // rate + bitrates (unset) + blocksize nibbles (256/2048) +
          // the framing bit
          val idHeader = Array[Byte](0x01) ++ "vorbis".getBytes("US-ASCII") ++
            le32(0) ++ Array[Byte](channels.toByte) ++ le32(rate) ++
            le32(0) ++ le32(0) ++ le32(0) ++ Array[Byte](0xB8.toByte, 0x01)
          val nSegs = len / 255 + 1
          val lacing = Array.fill[Byte](nSegs - 1)(255.toByte) :+ (len % 255).toByte
          val ogg = page(0x02, 0L, 0, Array[Byte](30), idHeader) ++
            page(0x04, len.toLong * 16, 1, lacing, data)
          (id, ogg)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("audio/ogg").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Build REAL MPEG-1 Layer III frame streams from a text column —
    * the frame-sequence sibling of [[packTextOggVorbis]]'s fixed-
    * layout trick: an ID3v2 tag of `len mod 7` payload bytes (real
    * syncsafe size — the skip path is load-bearing), then CBR 128 kbps
    * frames whose data bytes carry the document's UTF-8 bytes, then a
    * 128-byte ID3v1 trailer when `len mod 5 = 0`. The protection bit
    * is SET and every frame carries a real ISO 11172-3 CRC-16 over
    * its header tail + Layer III side-info span, so [[Mp3.parse]]
    * verifies a checksum on every frame it counts. Sample rate
    * (32000/44100/48000 by `len mod 3`) and channel mode (mono/stereo
    * by `len mod 2`) derive from the text length; frame length is the
    * spec's `⌊144·128000/rate⌋` with padding 0, each frame holding
    * `frameLen − 6` data bytes (header + CRC), so the oracle
    * re-derives byte_len, channels, rate, and the frame-count-exact
    * duration from `octet_length(text)` alone.
    */
  def packTextMp3(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cap = maxBytes
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val data = if (bytes0.length > cap) java.util.Arrays.copyOf(bytes0, cap)
                     else bytes0
          val len = data.length
          val srIdx = len % 3 match { case 0 => 2; case 1 => 0; case _ => 1 }
          val rate = Array(44100, 48000, 32000)(srIdx)
          val mono = len % 2 == 0
          val frameLen = 144 * 128000 / rate
          val perFrame = frameLen - 6 // header(4) + crc(2)
          val nFrames = math.max(1, (len + perFrame - 1) / perFrame)
          val tagPayload = len % 7
          val id3v1 = len % 5 == 0
          val out = new Array[Byte](10 + tagPayload + nFrames * frameLen +
            (if (id3v1) 128 else 0))
          // ID3v2.4 header, syncsafe size (tagPayload < 128 so one byte)
          out(0) = 'I'; out(1) = 'D'; out(2) = '3'; out(3) = 4
          out(9) = tagPayload.toByte
          var at = 10 + tagPayload
          val side = if (mono) 17 else 32
          var f = 0
          while (f < nFrames) {
            out(at) = 0xFF.toByte
            out(at + 1) = 0xFA.toByte // MPEG-1, Layer III, CRC present
            out(at + 2) = (0x90 | (srIdx << 2)).toByte // 128 kbps, no padding
            out(at + 3) = (if (mono) 0xC0 else 0x00).toByte
            val copy = math.min(perFrame, len - f * perFrame)
            if (copy > 0)
              System.arraycopy(data, f * perFrame, out, at + 6, copy)
            val crc = Mp3.crc16(out, Seq((at + 2, at + 4), (at + 6, at + 6 + side)))
            out(at + 4) = (crc >> 8).toByte
            out(at + 5) = crc.toByte
            at += frameLen
            f += 1
          }
          if (id3v1) { out(at) = 'T'; out(at + 1) = 'A'; out(at + 2) = 'G' }
          (id, out)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("audio/mpeg").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Video twin of [[decodeImageMeta]]/[[decodeAudioMeta]]: real MP4
    * box-tree parse ([[Mp4]]), RIFF/AVI demux ([[AviCodec]]) and EBML
    * Matroska walk ([[Mkv]]) per payload → container-derived mime,
    * duration, track dimensions; nulls for unrecognized payloads.
    */
  def decodeVideoMeta(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          Mp4.parse(payload) match {
            case Some(m) =>
              (id, payload.length.toLong, "video/mp4", m.brand,
                Some(m.durationMs), m.width, m.height)
            case None => AviCodec.demux(payload) match {
              case Some(a) =>
                (id, payload.length.toLong, "video/avi", a.handler,
                  Some(a.durationMs), Some(a.width), Some(a.height))
              case None => Mkv.parse(payload) match {
                case Some(m) =>
                  (id, payload.length.toLong, "video/x-matroska", m.docType,
                    Some(m.durationMs), m.width, m.height)
                case None =>
                  (id, payload.length.toLong, null: String, null: String,
                    None: Option[Long], None: Option[Int], None: Option[Int])
              }
            }
          }
        }
      }
      .toDF("id", "byte_len", "mime_detected", "brand", "duration_ms", "width", "height")
  }

  /** Build REAL MJPEG AVI clips from a text column — the video twin
    * of [[packTextMp4]], but with DECODABLE frames: 2 + len mod 4
    * grayscale 16×16 frames per document, each a smooth gradient
    * parameterized by (frame index, doc id) — pixel(x, y) =
    * (17x + 17y + 80·f + 16·(id mod 5)) >> 2, values ≤ 223 so no
    * clipping — encoded through [[JpegEncoder]] and muxed by
    * [[AviCodec]]. Every header field and the per-frame mean
    * luminance are arithmetic functions of octet_length(text) and
    * id, so gates can replay expectations exactly.
    */
  def packTextMjpegAvi(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // codec-heavy synthesis: fan out so JPEG encode/mux use the whole
    // machine even when the source parquet yields 1-2 splits
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val len = math.min(bytes0.length, maxBytes)
          val nFrames = 2 + (len % 4)
          val frames = (0 until nFrames).map { f =>
            val c = f * 80 + (id % 5).toInt * 16
            val px = new Array[Byte](256)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                px(y * 16 + x) = ((17 * x + 17 * y + c) >> 2).toByte
                x += 1
              }
              y += 1
            }
            JpegEncoder.encode(PngCodec.Image(16, 16, 1, px), quality = 90)
          }
          (id, AviCodec.encode(16, 16, fps = 25, frames))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/avi").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(16).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** MP4 sibling of [[packTextMjpegAvi]]: the same decodable 16×16
    * gradient JPEG frames (identical pixel formula, so the SAME luma
    * oracle applies), muxed into a spec-legal single-track MP4 by
    * [[Mp4.mux]] — full stts/stsc/stsz/stco sample tables at 25 fps
    * and an stss marking every third sample a sync sample. */
  def packTextMjpegMp4(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val len = math.min(bytes0.length, maxBytes)
          val nFrames = 2 + (len % 4)
          val frames = (0 until nFrames).map { f =>
            val c = f * 80 + (id % 5).toInt * 16
            val px = new Array[Byte](256)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                px(y * 16 + x) = ((17 * x + 17 * y + c) >> 2).toByte
                x += 1
              }
              y += 1
            }
            JpegEncoder.encode(PngCodec.Image(16, 16, 1, px), quality = 90)
          }
          (id, Mp4.mux(16, 16, fps = 25, frames))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/mp4").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(16).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** ICC color-profile metadata (round 17): extract the embedded
    * profile from JPEG APP2 / PNG iCCP / WebP ICCP (or raw profile
    * bytes) and parse its header through [[Icc]] — container tag,
    * presence, profile size, version, device class, color space, PCS,
    * rendering intent. Scan-local map; payloads without a profile (or
    * hostile bytes) come back icc_present = false with null fields. */
  def decodeImageIcc(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, p0) =>
          val p = if (p0 == null) Array.emptyByteArray else p0
          val container =
            if (p.length >= 2 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) "jpeg"
            else if (p.length >= 4 && (p(0) & 0xFF) == 0x89 && p(1) == 'P') "png"
            else if (p.length >= 12 && p(0) == 'R' && p(8) == 'W') "webp"
            else if (p.length >= 40 && p(36) == 'a' && p(37) == 'c' &&
              p(38) == 's' && p(39) == 'p') "raw"
            else "other"
          Icc.extract(p).flatMap(Icc.parseHeader) match {
            case Some(h) =>
              (id, container, true, Some(h.size),
                Some(s"${h.versionMajor}.${h.versionMinor}"),
                Some(h.deviceClass), Some(h.colorSpace), Some(h.pcs),
                Some(h.renderingIntent), h.description)
            case None =>
              (id, container, false, None: Option[Long], None: Option[String],
                None: Option[String], None: Option[String], None: Option[String],
                None: Option[Int], None: Option[String])
          }
        }
      }
      .toDF("id", "container", "icc_present", "profile_size", "icc_version",
        "device_class", "color_space", "pcs", "rendering_intent", "description")
  }

  /** FRAGMENTED-MP4 sibling (round 17): the same gradient frames in
    * the streaming layout — empty moov sample tables, trex defaults,
    * one moof+mdat per two frames with tfdt/trun runs — so the
    * decoder must resolve fragments, not stbl. Same luma oracle. */
  def packTextMjpegFmp4(df: DataFrame, idCol: String, textCol: String,
      maxBytes: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val len = math.min(bytes0.length, maxBytes)
          val nFrames = 2 + (len % 4)
          val frames = (0 until nFrames).map { f =>
            val c = f * 80 + (id % 5).toInt * 16
            val px = new Array[Byte](256)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                px(y * 16 + x) = ((17 * x + 17 * y + c) >> 2).toByte
                x += 1
              }
              y += 1
            }
            JpegEncoder.encode(PngCodec.Image(16, 16, 1, px), quality = 90)
          }
          (id, Mp4.muxFragmented(16, 16, fps = 25, frames, framesPerFragment = 2))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("video/mp4").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(16).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** REAL frame-level MP4 decode: resolve the first video track's
    * sample table ([[Mp4.samples]] — stts/stsc/stsz/stco/stss), slice
    * each sample out of the payload, decode it with the from-spec
    * [[JpegCodec]] (H.264/HEVC samples yield no row — refusal by
    * absence, never a guess), and emit one row per decoded frame with
    * its timing, sync flag, and pixel statistics. Scan-local flatMap. */
  def decodeMp4Frames(df: DataFrame, idCol: String, mediaCol: String,
      stride: Int = 1): DataFrame = {
    require(stride > 0, s"mp4 frames: stride=$stride must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Mp4.samples(payload).iterator.flatMap { track =>
            track.samples.iterator.zipWithIndex
              .filter { case (_, i) => i % stride == 0 }
              .flatMap { case (s, i) =>
                val frame = java.util.Arrays.copyOfRange(payload,
                  s.offset.toInt, (s.offset + s.size).toInt)
                JpegCodec.decode(frame).map { img =>
                  var lumaSum = 0L
                  val n = img.width * img.height
                  var j = 0
                  if (img.channels == 1) {
                    while (j < n) { lumaSum += img.pixels(j) & 0xFF; j += 1 }
                  } else {
                    while (j < n) {
                      val r = img.pixels(j * 3) & 0xFF
                      val g = img.pixels(j * 3 + 1) & 0xFF
                      val b = img.pixels(j * 3 + 2) & 0xFF
                      lumaSum += (299 * r + 587 * g + 114 * b) / 1000
                      j += 1
                    }
                  }
                  (id, i, s.timeMs, s.keyframe, img.width, img.height,
                    img.channels, lumaSum.toDouble / n)
                }
              }
          }
        }
      }
      .toDF("id", "frame_idx", "time_ms", "keyframe", "width", "height",
        "channels", "mean_luma")
  }

  /** REAL frame-level video decode for MJPEG AVI payloads: demux the
    * RIFF container ([[AviCodec]]), decode every `stride`-th frame
    * chunk with the from-spec [[JpegCodec]], and emit one row per
    * decoded frame with its pixel statistics — (id, frame_idx, width,
    * height, channels, mean_luma). Payloads that are not MJPEG AVIs
    * (or frames that fail to decode) produce no rows; pair with
    * [[frameSample]] when only payload segmentation is needed.
    *
    * Scale shape: pure flatMap — codec work is scan-local per
    * payload, output is one short row per frame, nothing shuffles.
    */
  def decodeMjpegFrames(df: DataFrame, idCol: String, mediaCol: String,
      stride: Int = 1): DataFrame = {
    require(stride > 0, s"mjpeg frames: stride=$stride must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AviCodec.demux(payload).iterator.flatMap { avi =>
            avi.frames.iterator.zipWithIndex
              .filter { case (_, i) => i % stride == 0 }
              .flatMap { case ((off, len), i) =>
                val frame = java.util.Arrays.copyOfRange(payload, off, off + len)
                JpegCodec.decode(frame).map { img =>
                  var lumaSum = 0L
                  val n = img.width * img.height
                  var j = 0
                  if (img.channels == 1) {
                    while (j < n) { lumaSum += img.pixels(j) & 0xFF; j += 1 }
                  } else {
                    // integer BT.601 luma on RGB frames (per mille)
                    while (j < n) {
                      val r = img.pixels(j * 3) & 0xFF
                      val g = img.pixels(j * 3 + 1) & 0xFF
                      val b = img.pixels(j * 3 + 2) & 0xFF
                      lumaSum += (299 * r + 587 * g + 114 * b) / 1000
                      j += 1
                    }
                  }
                  (id, i, img.width, img.height, img.channels,
                    lumaSum.toDouble / n)
                }
              }
          }
        }
      }
      .toDF("id", "frame_idx", "width", "height", "channels", "mean_luma")
  }

  /** Transcoder seam for resize: a real deployment wraps an image
    * codec; the stub emits a deterministic downsample of the payload
    * bytes with the declared target dimensions in the metadata, so
    * schema/partitioning/size-accounting behave exactly as the real
    * thing.
    */
  trait MediaResizer extends Serializable {
    def resize(payload: Array[Byte], width: Int, height: Int): Array[Byte]
  }
  final class FakeResizer extends MediaResizer {
    def resize(payload: Array[Byte], width: Int, height: Int): Array[Byte] = {
      if (payload.isEmpty) return payload
      val target = math.max(1, math.min(payload.length, width * height / 8))
      val out = new Array[Byte](target)
      var i = 0
      while (i < target) { out(i) = payload((i.toLong * payload.length / target).toInt); i += 1 }
      out
    }
  }

  /** Distributed resize: payload → resized payload + updated metadata
    * struct. Output keeps the canonical media layout so resize stages
    * compose with decode/feature stages.
    */
  def resize(df: DataFrame, idCol: String, mediaCol: String, width: Int, height: Int,
      resizer: MediaResizer = new FakeResizer()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"), col(mediaCol + ".mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, mime) =>
          val resized = resizer.resize(payload, width, height)
          (id, resized, mime, resized.length.toLong, width, height)
        }
      }
      .toDF("id", "payload", "mime", "byte_len", "width", "height")
  }

  /** REAL resizer for PNG payloads: decode ([[PngCodec]]), exact
    * box-average resample, re-encode. Non-PNG payloads fall back to
    * the deterministic stand-in — same seam, so a pipeline mixing
    * formats keeps working and the PNG rows get true pixel resampling.
    */
  final class PngResizer extends MediaResizer {
    private val fallback = new FakeResizer
    def resize(payload: Array[Byte], width: Int, height: Int): Array[Byte] =
      PngCodec.decode(payload) match {
        case Some(img) => PngCodec.encode(PngCodec.resizeBox(img, width, height))
        case None      => fallback.resize(payload, width, height)
      }
  }

  /** Build a REAL PNG media column from a text column: the document's
    * UTF-8 bytes become the pixels of a `width`-wide 8-bit greyscale
    * image (zero-padded to fill the last row; empty text → one zero
    * row), encoded through [[PngCodec.encode]] with the default
    * cycling per-row filter so every PNG filter type appears in the
    * corpus. The pixel content is a pure function of the text, which
    * is what lets an external oracle verify a full decode round-trip
    * byte-for-byte without itself decoding any PNG.
    */
  def packTextPng(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0, s"packTextPng: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          (id, PngCodec.encode(PngCodec.Image(width, h, 1, px)), h)
        }
      }
      .toDF("id", "__payload", "__h")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/png").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** WebP sibling of [[packTextPng]] (round 15): each document's
    * UTF-8 bytes become the GREEN channel of a `width`-wide VP8L
    * lossless image (red=blue=0, alpha=255), encoded through the
    * from-spec [[WebpCodec]] — a flat 8-bit prefix code declared via
    * the code-length code, so decoding runs the full normal-code
    * header path. */
  def packTextWebp(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0, s"packTextWebp: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          (id, WebpCodec.encodeGreen(width, h, px), h)
        }
      }
      .toDF("id", "__payload", "__h")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/webp").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Lossy-WebP parity verdict — the [[adpcmParity]] contract on the
    * image side: each document's UTF-8 bytes become the LUMA plane of
    * a VP8 keyframe (chroma derived arithmetically), encoded by the
    * in-repo [[Vp8Enc]] — which tracks its own reconstruction through
    * the decoder's exact inverse transforms — at a per-doc quantizer /
    * loop-filter / prediction configuration (qi = id mod 128, filter
    * level = id mod 64, sharpness = id mod 8, forced B_PRED submodes
    * on every third doc), then decoded back through the full
    * [[WebpCodec]] container walk. Lossy coding has no byte oracle a
    * SQL engine can replay, so the gate emits verdict columns: exact
    * YUV agreement with the encoder's tracked reconstruction, and RGB
    * agreement between the container path and [[Vp8.toRgb]] of the
    * tracked planes. The INDEPENDENCE pin (libwebp decodes these
    * streams to the identical planes; libwebp-encoded streams decode
    * byte-exactly) lives in WebpVp8Spec / Vp8EncSpec. */
  def webpLossyParity(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0 && width <= 16383, s"webpLossyParity: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val y = java.util.Arrays.copyOf(bytes, width * h)
          val uw = (width + 1) / 2; val uh = (h + 1) / 2
          val u = new Array[Byte](uw * uh); val v = new Array[Byte](uw * uh)
          var i = 0
          while (i < u.length) {
            val s = y(((i / uw) * 2) * width + (i % uw) * 2) & 0xFF
            u(i) = ((s >> 1) + 64).toByte
            v(i) = (191 - (s >> 1)).toByte
            i += 1
          }
          val params = Vp8Enc.Params(
            qi = (id % 128).toInt,
            filterLevel = (id % 64).toInt,
            sharpness = (id % 8).toInt,
            bModes = if (id % 3 == 0)
              Some((_, _) => Array.tabulate(16)(k => ((id + k) % 10).toInt))
            else None)
          val enc = Vp8Enc.encode(width, h, y, u, v, params)
          val yuvExact = Vp8.decode(enc.webp) match {
            case Some(fr) => fr.width == width && fr.height == h &&
              java.util.Arrays.equals(fr.y, enc.y) &&
              java.util.Arrays.equals(fr.u, enc.u) &&
              java.util.Arrays.equals(fr.v, enc.v)
            case None => false
          }
          val rgbExact = WebpCodec.decode(enc.webp) match {
            case Some(img) => img.width == width && img.height == h && img.channels == 3 &&
              java.util.Arrays.equals(img.pixels,
                Vp8.toRgb(Vp8.Frame(width, h, enc.y, enc.u, enc.v)))
            case None => false
          }
          (id, yuvExact, rgbExact, h)
        }
      }
      .toDF("id", "reconstruction_exact", "rgb_exact", "height")
  }

  /** Lossy-WebP-with-ALPHA parity verdict (the [[webpLossyParity]]
    * contract extended over the ALPH chunk): the same per-doc VP8
    * luma/chroma construction plus an alpha plane derived from the
    * text bytes, forward-filtered with the per-doc prediction method
    * (id mod 4) and stored raw or as a headerless VP8L green stream
    * (id mod 2), muxed as VP8X + ALPH + VP8. The gate asserts the
    * container decode is RGBA with RGB byte-equal to [[Vp8.toRgb]] of
    * the tracked reconstruction and alpha byte-equal to the original
    * plane (alpha coding is LOSSLESS even in lossy WebP). Every
    * (filter, compression) combination this builder writes was
    * cross-decoded against the system libwebp's `WebPDecodeRGBA`
    * with zero mismatches (Vp8Diff), and libwebp-ENCODED lossy+alpha
    * streams pin the decode side in WebpVp8Spec. */
  def webpAlphaParity(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0 && width <= 16383, s"webpAlphaParity: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val y = java.util.Arrays.copyOf(bytes, width * h)
          val uw = (width + 1) / 2; val uh = (h + 1) / 2
          val u = new Array[Byte](uw * uh); val v = new Array[Byte](uw * uh)
          var i = 0
          while (i < u.length) {
            val s = y(((i / uw) * 2) * width + (i % uw) * 2) & 0xFF
            u(i) = ((s >> 1) + 64).toByte
            v(i) = (191 - (s >> 1)).toByte
            i += 1
          }
          val alpha = Array.tabulate(width * h)(k =>
            (((y(k) & 0xFF) * 7 + k + id) % 256).toByte)
          val enc = Vp8Enc.encode(width, h, y, u, v, Vp8Enc.Params(qi = (id % 128).toInt))
          val vp8Payload = java.util.Arrays.copyOfRange(enc.webp, 20, enc.webp.length)
          val container = WebpCodec.encodeLossyAlphaWebp(vp8Payload,
            WebpCodec.encodeAlphaPayload(alpha, width, h,
              filter = (id % 4).toInt, compress = (id % 2).toInt), width, h)
          val (rgbExact, alphaExact) = WebpCodec.decode(container) match {
            case Some(img) if img.width == width && img.height == h && img.channels == 4 =>
              val rgb = Vp8.toRgb(Vp8.Frame(width, h, enc.y, enc.u, enc.v))
              var rOk = true; var aOk = true
              var k = 0
              while (k < alpha.length) {
                if (img.pixels(4 * k) != rgb(3 * k) ||
                  img.pixels(4 * k + 1) != rgb(3 * k + 1) ||
                  img.pixels(4 * k + 2) != rgb(3 * k + 2)) rOk = false
                if (img.pixels(4 * k + 3) != alpha(k)) aOk = false
                k += 1
              }
              (rOk, aOk)
            case _ => (false, false)
          }
          (id, rgbExact, alphaExact, h)
        }
      }
      .toDF("id", "rgb_exact", "alpha_exact", "height")
  }

  /** Build animated WebP clips from a text column — the animation
    * sibling of [[packTextWebp]]: the document's UTF-8 bytes become a
    * film strip on a 16-wide canvas, frame k a 16×2 lossless (VP8L
    * green) tile at (0, 2k) carrying bytes [32k, 32k+32) zero-padded,
    * duration 10·(k+1) ms, alternating blend flags (opaque frames, so
    * parse-only), and every FOURTH frame disposing to background —
    * the composed canvas at frame k therefore shows exactly the
    * frames {k} ∪ {j < k : j mod 4 ≠ 3}, an arithmetic fact a SQL
    * oracle replays byte-for-byte. Frame count caps at `maxFrames`
    * (bytes beyond 32·maxFrames are ignored — mirror with LEAST in
    * oracles). */
  def packTextWebpAnim(df: DataFrame, idCol: String, textCol: String,
      maxFrames: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > 32 * maxFrames)
            java.util.Arrays.copyOf(bytes0, 32 * maxFrames) else bytes0
          val n = math.max(1, (bytes.length + 31) / 32)
          val frames = (0 until n).map { k =>
            val tile = new Array[Byte](32)
            val from = 32 * k
            val len = math.max(0, math.min(32, bytes.length - from))
            if (len > 0) System.arraycopy(bytes, from, tile, 0, len)
            WebpCodec.AnimFrameSpec(0, 2 * k, 16, 2, durationMs = 10 * (k + 1),
              blend = k % 2 == 0, disposeToBg = k % 4 == 3,
              data = WebpCodec.chunkBytes("VP8L", WebpCodec.encodeGreenPayload(16, 2, tile)))
          }
          (id, WebpCodec.encodeAnim(16, 2 * n, loopCount = 3, bgColor = 0, frames))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/webp").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** GIF sibling of [[packTextWebpAnim]]: the text bytes as a film
    * strip of 16×1 rows stacked down a 16-wide canvas (GIF allows odd
    * offsets, so one row per frame), identity grayscale global
    * palette (index v → (v,v,v)), delay (k+1) centiseconds, every
    * FOURTH frame disposing to background — the same composed-canvas
    * visibility arithmetic as the WebP gate, byte-replayable in SQL. */
  def packTextGifAnim(df: DataFrame, idCol: String, textCol: String,
      maxFrames: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gct = Array.tabulate(256 * 3)(i => (i / 3).toByte)
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > 16 * maxFrames)
            java.util.Arrays.copyOf(bytes0, 16 * maxFrames) else bytes0
          val n = math.max(1, (bytes.length + 15) / 16)
          val frames = (0 until n).map { k =>
            val row = new Array[Byte](16)
            val from = 16 * k
            val len = math.max(0, math.min(16, bytes.length - from))
            if (len > 0) System.arraycopy(bytes, from, row, 0, len)
            GifCodec.GifFrameSpec(0, k, 16, 1, delayCs = k + 1,
              disposal = if (k % 4 == 3) 2 else 0, transparent = None, indices = row)
          }
          (id, GifCodec.encodeAnim(16, n, loop = Some(2), gct, frames))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/gif").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(16).as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** REAL frame-level animated-GIF decode: demux every image block
    * with its graphic control extension, decode the LZW indices, and
    * COMPOSE the canvas with the renderer-consensus disposal rules
    * ([[GifCodec.decodeAnim]]); one row per frame with placement,
    * timing, disposal, and the composed canvas's pixel statistics
    * (same rolling hash as [[decodeImagePixels]], over canvas RGBA).
    * Undecodable payloads yield a single null-stats row. */
  def decodeGifAnimFrames(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          GifCodec.decodeAnim(payload) match {
            case Some(anim) =>
              anim.frames.zipWithIndex.map { case (f, k) =>
                val canvas = anim.canvases(k)
                var sum = 0L; var hash = 17L
                var i = 0
                while (i < canvas.length) {
                  val v = canvas(i) & 0xFF
                  sum += v
                  hash = (hash * 31 + v) % 16777216
                  i += 1
                }
                (id, k, anim.width, anim.height, anim.loopCount,
                  f.x, f.y, f.width, f.height, f.delayCs, f.disposal,
                  Some(canvas.length.toLong), Some(sum), Some(hash))
              }
            case None =>
              Seq((id, -1, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                None: Option[Long], None: Option[Long], None: Option[Long]))
          }
        }
      }
      .toDF("id", "frame_idx", "canvas_width", "canvas_height", "loop_count",
        "x", "y", "width", "height", "delay_cs", "disposal",
        "pixel_len", "pixel_sum", "pixel_hash")
  }

  /** REAL frame-level animated-WebP decode: demux the VP8X/ANIM/ANMF
    * container, decode every frame through the pinned VP8/VP8L/ALPH
    * paths, COMPOSE the canvas per the spec's blend/dispose rules
    * ([[WebpCodec.decodeAnim]]), and emit one row per frame with its
    * placement, timing, flags, and the composed canvas's verifiable
    * pixel statistics (length / sum / the same order-sensitive
    * rolling hash as [[decodeImagePixels]], over canvas RGBA).
    * Undecodable payloads yield a single null-stats row (kept, not
    * dropped). Scan-local flatMap — no shuffle, no driver state. */
  def decodeWebpAnimFrames(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          WebpCodec.decodeAnim(payload) match {
            case Some(anim) =>
              anim.frames.zipWithIndex.map { case (f, k) =>
                val canvas = anim.canvases(k)
                var sum = 0L; var hash = 17L
                var i = 0
                while (i < canvas.length) {
                  val v = canvas(i) & 0xFF
                  sum += v
                  hash = (hash * 31 + v) % 16777216
                  i += 1
                }
                (id, k, anim.width, anim.height, anim.loopCount,
                  f.x, f.y, f.width, f.height, f.durationMs, f.blend, f.disposeToBg,
                  Some(canvas.length.toLong), Some(sum), Some(hash))
              }
            case None =>
              Seq((id, -1, 0, 0, 0, 0, 0, 0, 0, 0, false, false,
                None: Option[Long], None: Option[Long], None: Option[Long]))
          }
        }
      }
      .toDF("id", "frame_idx", "canvas_width", "canvas_height", "loop_count",
        "x", "y", "width", "height", "duration_ms", "blend", "dispose",
        "pixel_len", "pixel_sum", "pixel_hash")
  }

  /** TIFF sibling of [[packTextPng]] (round 15): each document's
    * UTF-8 bytes become an 8-bit greyscale baseline TIFF —
    * PackBits-compressed strips, little-endian IFD — packed through
    * the from-spec [[TiffCodec]] encoder. */
  def packTextTiff(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0, s"packTextTiff: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          (id, TiffCodec.encodeGrey(width, h, px), h)
        }
      }
      .toDF("id", "__payload", "__h")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/tiff").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Planted-class PNG payloads for perceptual-hash gates: document
    * id mod `classes` selects one of `classes` FIXED 32×32 blocky
    * images (4×4 super-pixel grid, each super-pixel black/white by a
    * bit of md5(class)) — so same-class payloads are byte-identical,
    * the class images are strongly low-frequency-distinct (blocky =
    * energy inside pHash's kept 8×8 DCT corner), and an oracle knows
    * the full pair structure from ids alone.
    */
  def packClassPng(df: DataFrame, idCol: String, classes: Int = 10): DataFrame = {
    require(classes >= 2 && classes <= 64, s"packClassPng: classes=$classes")
    val spark = df.sparkSession
    import spark.implicits._
    val nClasses = classes
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { rows =>
        val cache = new Array[Array[Byte]](nClasses)
        def payload(c: Int): Array[Byte] = {
          if (cache(c) == null) {
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(s"phash_class_$c".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val px = new Array[Byte](32 * 32)
            var y = 0
            while (y < 32) {
              var x = 0
              while (x < 32) {
                val bitIdx = (y / 8) * 4 + (x / 8)
                val bit = (md(bitIdx / 8) >> (bitIdx % 8)) & 1
                px(y * 32 + x) = if (bit == 1) 228.toByte else 28.toByte
                x += 1
              }
              y += 1
            }
            cache(c) = PngCodec.encode(PngCodec.Image(32, 32, 1, px))
          }
          cache(c)
        }
        rows.map { id =>
          val c = ((id % nClasses) + nClasses).toInt % nClasses
          (id, payload(c))
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/png").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(32).as("width"),
          lit(32).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Build REAL GIF payloads from a text column — pixels are the
    * document's UTF-8 bytes as a `width`-wide greyscale-palette
    * indexed image (zero-padded last row, empty text → one zero row),
    * written by the JDK's ImageIO GIF encoder. Deliberately NOT an
    * in-repo encoder: [[GifCodec.decode]] is then verified against
    * bytes an independent implementation produced, the strongest
    * cross-check available in-environment. (Stat contracts survive any
    * palette reordering the writer might do: they read decoded RGB
    * values, not palette indices.)
    */
  def packTextGif(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0, s"packTextGif: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        val grey = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, grey, grey, grey)
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          val img = new java.awt.image.BufferedImage(width, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          img.getRaster.setDataElements(0, 0, width, h, px)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "gif", bos)
          (id, bos.toByteArray, h)
        }
      }
      .toDF("id", "__payload", "__h")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/gif").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** BMP twin of [[packTextGif]]: the same grey-palette indexed
    * raster (pixels = the doc's UTF-8 bytes, 32 wide, zero-padded
    * last row) written by the JDK's OWN ImageIO BMP writer — so
    * [[BmpCodec]]'s from-spec DIB parse (header walk, palette
    * expansion, 4-byte row padding, bottom-up rows) is always
    * exercised against an independent implementation's bytes, never
    * its own. The grey palette is the identity map, so the decoded
    * RGB triplets are (v,v,v) whichever bit depth the writer picks —
    * the oracle flattens each expected byte into three, exactly like
    * the GIF gate.
    */
  def packTextBmp(df: DataFrame, idCol: String, textCol: String, width: Int = 32,
      maxBytes: Int = 1 << 20): DataFrame = {
    require(width > 0, s"packTextBmp: width=$width")
    val spark = df.sparkSession
    import spark.implicits._
    // fan out (the round-8 codec-packer lesson: small parquet inputs
    // yield 1-2 splits and serialize encode-heavy packers) and hold
    // ONE ImageIO writer per partition — ImageIO.write re-runs the
    // writer-SPI lookup per call, which dominated this gate's wall
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        val grey = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, grey, grey, grey)
        val w = javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next()
        rows.map { case (id, text) =>
          val bytes0 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bytes = if (bytes0.length > maxBytes) java.util.Arrays.copyOf(bytes0, maxBytes)
                      else bytes0
          val h = math.max(1, (bytes.length + width - 1) / width)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          val img = new java.awt.image.BufferedImage(width, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          img.getRaster.setDataElements(0, 0, width, h, px)
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          w.setOutput(ios)
          w.write(null, new javax.imageio.IIOImage(img, null, null), null)
          ios.flush()
          (id, bos.toByteArray, h)
        }
      }
      .toDF("id", "__payload", "__h")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/bmp").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** zstd twin of [[packTextBmp]]'s independent-encoder discipline,
    * for COMPRESSED TEXT: each document's UTF-8 bytes are compressed
    * by zstd-jni — the reference C implementation Spark itself ships
    * for parquet/shuffle codecs, an independent codebase from
    * [[ZstdCodec]] — with the per-document level cycling 1/3/19 by
    * id so one corpus exercises fast-mode, default, and max-entropy
    * frame shapes (raw vs compressed blocks, direct vs
    * FSE-compressed Huffman trees, treeless repeats), and content
    * checksums ON so decode proves its XXH64 as well.
    */
  def packTextZstd(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val level = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 19 }
          val ctx = new com.github.luben.zstd.ZstdCompressCtx()
          val z = try ctx.setLevel(level).setChecksum(true).compress(bytes)
                  finally ctx.close()
          (id, z)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("application/zstd").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** gzip twin of [[packTextZstd]]: each document's UTF-8 bytes are
    * compressed by `java.util.zip.Deflater` — the JDK's bundled
    * zlib, an independent codebase from [[GzipCodec]] — into a
    * single-member .gz with the level cycling 1/6/9 by id (fast /
    * default / max match-finding produce genuinely different block
    * and tree shapes) and every fourth document using HUFFMAN_ONLY
    * (no matches: pure literal trees). Header and CRC-32/ISIZE
    * trailer are framed here around the raw deflate stream, with
    * the JDK's own CRC32 supplying the integrity fields.
    */
  def packTextGzip(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val level = (id % 3) match { case 0 => 1; case 1 => 6; case _ => 9 }
          val d = new java.util.zip.Deflater(level, true)
          if (id % 4 == 3) d.setStrategy(java.util.zip.Deflater.HUFFMAN_ONLY)
          d.setInput(bytes); d.finish()
          val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
          bos.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, 0, 0, 0, 0, 0, 0, 0xFF.toByte))
          val buf = new Array[Byte](8192)
          while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
          d.end()
          val crc = new java.util.zip.CRC32(); crc.update(bytes)
          var k = 0
          while (k < 4) { bos.write(((crc.getValue >> (8 * k)) & 0xFF).toInt); k += 1 }
          k = 0
          while (k < 4) { bos.write(((bytes.length.toLong >> (8 * k)) & 0xFF).toInt); k += 1 }
          (id, bos.toByteArray)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("application/gzip").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** gzip twin of [[decodeZstdText]]: decompress a .gz payload
    * column through [[GzipCodec]] (multi-member
    * concatenation included) and surface the decoded text with the
    * same quarantine contract. */
  def decodeGzipText(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          GzipCodec.gunzip(payload) match {
            case Some(bytes) =>
              (id, payload.length.toLong, true, bytes.length.toLong,
                new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            case None =>
              (id, payload.length.toLong, false, 0L, null: String)
          }
        }
      }
      .toDF("id", "byte_len", "decoded", "n_bytes", "text")
  }

  /** Decompress a zstd payload column through [[ZstdCodec]]
    * (zstd-jni) and surface the DECODED TEXT — the ingest seam
    * for `.zst`-shipped corpora: downstream quality/dedup/packing
    * ops run on the `text` column as if the corpus were plain.
    * (id, byte_len, decoded, n_bytes, text); refused payloads keep
    * their row with decoded=false and a null text, the same
    * quarantine contract as the image/audio decoders.
    */
  def decodeZstdText(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          ZstdCodec.decode(payload) match {
            case Some(bytes) =>
              (id, payload.length.toLong, true, bytes.length.toLong,
                new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            case None =>
              (id, payload.length.toLong, false, 0L, null: String)
          }
        }
      }
      .toDF("id", "byte_len", "decoded", "n_bytes", "text")
  }

  /** Deterministic grayscale JPEG fixtures: LCG pixels seeded by id
    * (smoothed so high-quality JPEG stays close), encoded by the
    * JDK's OWN ImageIO JPEG writer — so [[JpegCodec]] is always
    * exercised against an independent implementation's bytes, never
    * its own. Same media-struct shape as [[packTextGif]].
    */
  def packGrayJpeg(df: DataFrame, idCol: String, width: Int = 24, height: Int = 16,
      quality: Float = 0.95f): DataFrame = {
    require(width > 0 && height > 0, s"packGrayJpeg: ${width}x$height")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        System.setProperty("java.awt.headless", "true")
        ids.map { id =>
          val img = new java.awt.image.BufferedImage(width, height,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          var s = id * 6364136223846793005L + 1442695040888963407L
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              s = s * 6364136223846793005L + 1442695040888963407L
              img.getRaster.setSample(x, y, 0,
                ((((s >>> 33) & 0xFF).toInt / 2) + (x * 7 + y * 5) % 128) & 0xFF)
              x += 1
            }
            y += 1
          }
          val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
          val prm = w.getDefaultWriteParam
          prm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          prm.setCompressionQuality(quality)
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          w.setOutput(ios)
          w.write(null, new javax.imageio.IIOImage(img, null, null), prm)
          ios.flush(); w.dispose()
          (id, bos.toByteArray)
        }
      }
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("image/jpeg").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(width).as("width"),
          lit(height).as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Decoder-parity harness for the lossy codec: decode each payload
    * with [[JpegCodec]] AND the JDK's ImageIO decoder and emit the
    * agreement verdicts — JPEG pins no single IDCT, so cross-decoder
    * equality is a BAND, not a hash ([[JpegCodec]] scaladoc); the
    * verifiable contract is "dims exact, every sample within `band`".
    * GRAYSCALE payloads only (the [[packGrayJpeg]] fixtures):
    * `dims_ok` requires channels == 1 because color comparison would
    * also fold in chroma-upsampling differences, which are
    * PSNR-checked in JpegSpec instead, not banded here. Distributed
    * mapPartitions, same seam as [[decodeImagePixels]].
    */
  def jpegParity(df: DataFrame, idCol: String, mediaCol: String, band: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        rows.map { case (id, payload) =>
          val mine = JpegCodec.decode(payload)
          val ref =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
            catch { case _: Exception => None }
          (mine, ref) match {
            case (Some(m), Some(r)) =>
              val dimsOk = m.width == r.getWidth && m.height == r.getHeight && m.channels == 1
              var maxDiff = 0
              if (dimsOk) {
                var y = 0
                while (y < m.height) {
                  var x = 0
                  while (x < m.width) {
                    val d = math.abs((m.pixels(y * m.width + x) & 0xFF) -
                      r.getRaster.getSample(x, y, 0))
                    if (d > maxDiff) maxDiff = d
                    x += 1
                  }
                  y += 1
                }
              }
              (id, true, dimsOk, dimsOk && maxDiff <= band)
            case _ => (id, false, false, false)
          }
        }
      }
      .toDF("id", "decoded", "dims_ok", "within_band")
  }

  /** Distributed REAL pixel decode: full [[PngCodec]] (inflate +
    * unfilter + palette expansion), [[GifCodec]] (LZW + color table),
    * [[JpegCodec]] (Huffman + IDCT baseline), or [[BmpCodec]] (DIB
    * raster + palette + RLE8) decode per payload —
    * dispatched by content, like any curation
    * decode stage — summarized to verifiable per-image statistics:
    * dimensions, channels, byte count, byte sum, and an
    * order-sensitive rolling hash (h = 31·h + byte mod 2^24, seed 17 —
    * same recurrence the [[FakeDecoder]] oracle uses), so any single
    * wrong pixel anywhere breaks the hash. Undecodable payloads yield
    * nulls (kept, not dropped). Same seam and scale shape as
    * [[decodeImageMeta]].
    */
  def decodeImagePixels(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          PngCodec.decode(payload).orElse(GifCodec.decode(payload))
              .orElse(JpegCodec.decode(payload))
              .orElse(BmpCodec.decode(payload))
              .orElse(WebpCodec.decode(payload))
              .orElse(TiffCodec.decode(payload)) match {
            case Some(img) =>
              var h = 17L; var sum = 0L; var i = 0
              while (i < img.pixels.length) {
                val b = img.pixels(i) & 0xFF
                h = (31L * h + b) % 16777216L
                sum += b
                i += 1
              }
              (id, Some(img.width), Some(img.height), Some(img.channels),
                Some(img.pixels.length.toLong), Some(sum), Some(h))
            case None =>
              (id, None: Option[Int], None: Option[Int], None: Option[Int],
                None: Option[Long], None: Option[Long], None: Option[Long])
          }
        }
      }
      .toDF("id", "width", "height", "channels", "pixel_len", "pixel_sum", "pixel_hash")
  }

  /** Frame sampling for video-like payloads: emit every `stride`-th of
    * `nFrames` equal payload segments as its own row (id, frame_idx,
    * frame bytes). One input row fans out to ≤ nFrames/stride rows —
    * the explode shape real frame extraction has; the segmenting stub
    * stands in for a container demuxer.
    */
  def frameSample(df: DataFrame, idCol: String, mediaCol: String,
      nFrames: Int, stride: Int = 1): DataFrame = {
    require(nFrames > 0 && stride > 0, "frameSample: nFrames and stride must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        if (payload.isEmpty) Iterator.empty
        else {
          val segLen = math.max(1, payload.length / nFrames)
          (0 until nFrames by stride).iterator
            .filter(i => i * segLen < payload.length)
            .map { i =>
              val start = i * segLen
              val end = math.min(start + segLen, payload.length)
              (id, i, java.util.Arrays.copyOfRange(payload, start, end))
            }
        }
      }
      .toDF("id", "frame_idx", "frame")
  }
}
