package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Partitioning.PackOps

/** WARC (ISO 28500 / WARC 1.1) — the wire format web-crawl corpora
  * actually arrive in: Common Crawl ships `.warc.gz` files with one
  * gzip MEMBER per record (the seam [[GzipCodec.gunzipMembers]]
  * surfaces), each record framed as a version line, named headers, a
  * `Content-Length`-measured body, and a CRLF CRLF separator;
  * `response` records carry an HTTP/1.1 message whose body is the
  * page HTML. This file is the ingest chain from those bytes to the
  * `text` column the rest of the engine runs on:
  *
  *   .warc.gz → gzip members → WARC records → HTTP split →
  *   [[TextAnalysis.htmlExtract]] → quality / dedup / packing.
  *
  * Parser contract (the codec discipline): streaming walk, bounds-
  * checked, case-insensitive header names, WARC/1.0 and 1.1 both
  * accepted, and a malformed FILE quarantines as a single
  * `rec_index = -1` row rather than throwing — one bad file must
  * never kill a 100 TB scan. Scale shape: files are the unit of
  * parallelism (one task per file, records streamed within), so
  * wall-clock follows file count, not file size skew, as long as the
  * writer shards sanely — which [[packDocsWarcGz]] demonstrates by
  * hashing documents over `n_files` buckets.
  */
object Warc {

  // ------------------------------------------------------------------
  // deterministic fixture builders (replayed verbatim by the SQL
  // oracle in SparkEntry — keep string templates in exact sync)
  // ------------------------------------------------------------------

  private val CRLF = "\r\n"

  /** The planted page: pure concatenation of corpus columns, so an
    * external engine derives the identical bytes. */
  def pageFor(id: Long, source: String, text: String): String =
    s"<html><head><title>Doc $id</title></head><body><p>From $source</p><div>$text</div></body></html>"

  /** Minimal valid HTTP/1.1 response around the page. */
  def httpFor(page: String): Array[Byte] = {
    val body = page.getBytes("UTF-8")
    (s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html; charset=utf-8$CRLF" +
      s"Content-Length: ${body.length}$CRLF$CRLF").getBytes("UTF-8") ++ body
  }

  /** HTTP/1.1 response with caller-chosen Content-Type and raw body
    * bytes — the charset-variant fixture seam. */
  def httpWith(body: Array[Byte], contentType: String): Array[Byte] =
    (s"HTTP/1.1 200 OK${CRLF}Content-Type: $contentType$CRLF" +
      s"Content-Length: ${body.length}$CRLF$CRLF").getBytes("UTF-8") ++ body

  /** Deterministic urn:uuid from a seed string: md5 hex grouped
    * 8-4-4-4-12 (a stable, oracle-replayable stand-in for the random
    * UUIDs real crawlers mint). */
  def uuidFor(seed: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(seed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  private val WarcDate = "2026-01-01T00:00:00Z"

  private def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.1").append(CRLF)
    headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append(CRLF) }
    head.append("Content-Length: ").append(body.length).append(CRLF).append(CRLF)
    head.toString.getBytes("UTF-8") ++ body ++ (CRLF + CRLF).getBytes("UTF-8")
  }

  def warcinfoBody: Array[Byte] =
    s"software: graft${CRLF}format: WARC File Format 1.1$CRLF".getBytes("UTF-8")

  def responseRecord(id: Long, source: String, text: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(s"doc-$id")}>",
      "WARC-Date" -> WarcDate,
      "WARC-Target-URI" -> s"https://example.com/doc/$id",
      "Content-Type" -> "application/http; msgtype=response"),
      httpFor(pageFor(id, source, text)))

  def warcinfoRecord(fileId: Long): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(s"warcinfo-$fileId")}>",
      "WARC-Date" -> WarcDate,
      "Content-Type" -> "application/warc-fields"),
      warcinfoBody)

  /** One gzip member around one record — JDK zlib as the encoder,
    * level cycling with the id so the inflate sees varied block
    * shapes. */
  private def gzipMember(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, true)
    d.setInput(data); d.finish()
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    bos.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, 0, 0, 0, 0, 0, 0, 0xFF.toByte))
    val buf = new Array[Byte](8192)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32(); crc.update(data)
    var k = 0
    while (k < 4) { bos.write(((crc.getValue >> (8 * k)) & 0xFF).toInt); k += 1 }
    k = 0
    while (k < 4) { bos.write(((data.length.toLong >> (8 * k)) & 0xFF).toInt); k += 1 }
    bos.toByteArray
  }

  /** Shard documents over `nFiles` WARC files (bucket = id mod
    * nFiles), each file a leading warcinfo record then the bucket's
    * response records in id order, every record its OWN gzip member
    * — the Common Crawl layout byte for byte (the warcinfo member
    * uses the stored-mode encoder, so both DEFLATE paths appear in
    * every file). Output: (file_id, payload). */
  def packDocsWarcGz(df: DataFrame, idCol: String, sourceCol: String,
                     textCol: String, nFiles: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(sourceCol), lit("")),
        coalesce(col(textCol), lit("")))
      .as[(Long, String, String)]
      .packGroups(nFiles)(_._1 % nFiles) { (fileId, rows) =>
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(GzipCodec.gzipStored(warcinfoRecord(fileId)))
        rows.toSeq.sortBy(_._1).foreach { case (id, src, text) =>
          bos.write(gzipMember(responseRecord(id, src, text), (id % 9 + 1).toInt))
        }
        (fileId, bos.toByteArray)
      }
      .toDF("file_id", "payload")
  }

  /** HTTP message with wire encodings for the x_warc_http_decode
    * gate, variant = id mod 6: 0 identity, 1 chunked (with a chunk
    * extension and a trailer — both skip paths are load-bearing),
    * 2 gzip, 3 gzip-then-chunked (the composition order real
    * servers emit: CE applies first, TE wraps it), 4 deflate — half
    * the ids zlib-wrapped as RFC 9110 names it, half RAW deflate,
    * the classic server bug the decode ladder must absorb — and
    * 5 `br`, cycling by id/6 mod 3: real brotli in compressed
    * framing, real brotli in uncompressed-meta-block framing, and
    * junk bytes under the br label (corrupt stream: the reader must
    * refuse, not mojibake). Encoders are the JDK's for gzip/deflate
    * (independent of the from-spec decode side); the br plants are
    * the in-repo conforming builder whose framing BrotliSpec pins
    * against the reference C implementation. Chunked messages omit
    * Content-Length as real ones do. */
  def httpEncoded(id: Long, page: String): Array[Byte] = {
    val body = page.getBytes("UTF-8")
    def deflate(raw: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
      d.setInput(body); d.finish()
      val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    def gzipped: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(body); g.close(); bos.toByteArray
    }
    def chunked(data: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(data.length + 128)
      var at = 0
      var first = true
      while (at < data.length) {
        val n = math.min(100, data.length - at)
        val ext = if (first) ";planted=1" else ""
        bos.write(s"${n.toHexString}$ext$CRLF".getBytes("UTF-8"))
        bos.write(data, at, n)
        bos.write(CRLF.getBytes("UTF-8"))
        at += n; first = false
      }
      bos.write(s"0${CRLF}X-Planted-Trailer: ok$CRLF$CRLF".getBytes("UTF-8"))
      bos.toByteArray
    }
    val ct = "Content-Type: text/html; charset=utf-8"
    val v = (id % 6).toInt
    val (extraHeaders, payload) = v match {
      case 0 => (Seq.empty[String], body)
      case 1 => (Seq("Transfer-Encoding: chunked"), chunked(body))
      case 2 => (Seq("Content-Encoding: gzip"), gzipped)
      case 3 => (Seq("Content-Encoding: gzip", "Transfer-Encoding: chunked"),
        chunked(gzipped))
      case 4 => (Seq("Content-Encoding: deflate"), deflate(raw = (id / 6) % 2 == 1))
      case _ => (Seq("Content-Encoding: br"), ((id / 6) % 3) match {
        case 0 => Brotli.encodeFlat(body)
        case 1 => Brotli.encodeRaw(body)
        case _ => "not actually brotli bytes".getBytes("UTF-8")
      })
    }
    val cl = if (v == 1 || v == 3) Seq.empty
             else Seq(s"Content-Length: ${payload.length}")
    ((Seq("HTTP/1.1 200 OK", ct) ++ extraHeaders ++ cl).mkString(CRLF) +
      CRLF + CRLF).getBytes("UTF-8") ++ payload
  }

  /** [[packDocsWarcGz]] with [[httpEncoded]] message bodies — the
    * wire-encoding fixture packer. */
  def packDocsWarcGzHttpEncoded(df: DataFrame, idCol: String, sourceCol: String,
                                textCol: String, nFiles: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(sourceCol), lit("")),
        coalesce(col(textCol), lit("")))
      .as[(Long, String, String)]
      .packGroups(nFiles)(_._1 % nFiles) { (fileId, rows) =>
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(GzipCodec.gzipStored(warcinfoRecord(fileId)))
        rows.toSeq.sortBy(_._1).foreach { case (id, src, text) =>
          val rec = record(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(s"doc-$id")}>",
            "WARC-Date" -> WarcDate,
            "WARC-Target-URI" -> s"https://example.com/doc/$id",
            "Content-Type" -> "application/http; msgtype=response"),
            httpEncoded(id, pageFor(id, src, text)))
          bos.write(gzipMember(rec, (id % 9 + 1).toInt))
        }
        (fileId, bos.toByteArray)
      }
      .toDF("file_id", "payload")
  }

  /** WET generation — the extracted-text sidecar of the Common Crawl
    * trio (WARC shards + [[Cdx]] lookup index + WET text): one WET
    * file per input WARC file, a leading warcinfo record then one
    * `WARC-Type: conversion` record per HTTP response, in record
    * order — `WARC-Refers-To` carrying the source record's id (the
    * provenance link WET consumers join on), `Content-Type:
    * text/plain`, body = the response's charset-decoded,
    * [[graft.ops.TextAnalysis.htmlExtract]]-extracted text as UTF-8.
    * Undecodable payloads (`payload_decoded = false`) are SKIPPED —
    * a WET record of mojibake is worse than absence.
    *
    * Scale shape: the text surface and the record-id columns join on
    * (file, rec_index) — broadcast-sized per AQE at fixture scale,
    * an equi-join at corpus scale — then one group per output file
    * (the file is the write unit, exactly like [[packDocsWarcGz]]).
    * Input: a [[records]]/[[recordsByPath]] frame. Output:
    * (file_id, payload) .warc.gz bytes, readable back by this very
    * parser (WET files ARE WARC files). */
  def packWet(recordsDf: DataFrame, pathCol: Boolean = false): DataFrame = {
    val spark = recordsDf.sparkSession
    import spark.implicits._
    val keyName = if (pathCol) "path" else "file_id"
    val txt = responseText(recordsDf, pathCol)
      .where(col("payload_decoded"))
      .select(col(keyName).cast("string").as("__k"), col("rec_index"),
        TextAnalysis.htmlExtract(col("text")).as("__wet"))
    val meta = recordsDf
      .where(col("warc_type") === "response" && col("http_status").isNotNull)
      .select(col(keyName).cast("string").as("__k"), col("rec_index"),
        col("record_id"), col("target_uri"), col("warc_date"))
    txt.join(meta, Seq("__k", "rec_index"))
      .select(col("__k"), col("rec_index"), col("record_id"),
        col("target_uri"), col("warc_date"), col("__wet"))
      .as[(String, Int, String, String, String, String)]
      .groupByKey(_._1)
      .mapGroups { (key, rows) =>
        val bos = new java.io.ByteArrayOutputStream()
        val infoSeed = s"wetinfo-$key"
        bos.write(GzipCodec.gzipStored(record(Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(infoSeed)}>",
          "WARC-Date" -> WarcDate,
          "Content-Type" -> "application/warc-fields"),
          warcinfoBody)))
        rows.toSeq.sortBy(_._2).foreach {
          case (_, recIndex, refersTo, uri, date, wet) =>
            val body = Option(wet).getOrElse("").getBytes("UTF-8")
            val rec = record(Seq(
              "WARC-Type" -> "conversion",
              "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(s"wet-$key-$recIndex")}>",
              "WARC-Refers-To" -> refersTo,
              "WARC-Target-URI" -> uri,
              "WARC-Date" -> (if (date != null && date.nonEmpty) date else WarcDate),
              "Content-Type" -> "text/plain"),
              body)
            bos.write(gzipMember(rec, (recIndex % 9 + 1)))
        }
        (key, bos.toByteArray)
      }
      .toDF(keyName, "payload")
      .withColumn(keyName,
        if (pathCol) col(keyName) else col(keyName).cast("long"))
  }

  // ------------------------------------------------------------------
  // parser
  // ------------------------------------------------------------------

  /** One parsed record. `httpStatus`/`httpBody` are filled only when
    * the record carries an HTTP response message. */
  private[ops] case class Rec(recIndex: Int, warcType: String,
                         recordId: String, targetUri: String, warcDate: String,
                         contentType: String, contentLength: Long,
                         httpStatus: Option[Int], body: Array[Byte])

  private def findCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse every record in one (decompressed) WARC stream; None on
    * any framing violation. */
  private[ops] def parseStream(b: Array[Byte]): Option[Seq[Rec]] = {
    val out = Seq.newBuilder[Rec]
    var pos = 0
    var idx = 0
    while (pos < b.length) {
      val headEnd = findCrlfCrlf(b, pos)
      if (headEnd < 0) return None
      val head = new String(b, pos, headEnd - pos, "UTF-8")
      val lines = head.split("\r\n", -1)
      if (lines.isEmpty || !(lines(0) == "WARC/1.0" || lines(0) == "WARC/1.1")) return None
      var warcType, recordId, targetUri, warcDate, contentType: String = null
      var contentLength = -1L
      for (line <- lines.drop(1)) {
        val colonAt = line.indexOf(':')
        if (colonAt <= 0) return None
        val k = line.substring(0, colonAt).trim.toLowerCase(java.util.Locale.ROOT)
        val v = line.substring(colonAt + 1).trim
        k match {
          case "warc-type"       => warcType = v
          case "warc-record-id"  => recordId = v
          case "warc-target-uri" => targetUri = v
          case "warc-date"       => warcDate = v
          case "content-type"    => contentType = v
          case "content-length"  =>
            if (!v.forall(_.isDigit) || v.isEmpty) return None
            contentLength = v.toLong
          case _ => // unknown headers are legal; keep walking
        }
      }
      if (warcType == null || contentLength < 0) return None
      val bodyStart = headEnd + 4
      if (bodyStart + contentLength + 4 > b.length) return None
      val body = java.util.Arrays.copyOfRange(b, bodyStart, bodyStart + contentLength.toInt)
      val sepAt = bodyStart + contentLength.toInt
      if (!(b(sepAt) == '\r' && b(sepAt + 1) == '\n' && b(sepAt + 2) == '\r' && b(sepAt + 3) == '\n'))
        return None
      val status: Option[Int] =
        if (contentType != null && contentType.startsWith("application/http")) {
          val eol = body.indexWhere(_ == '\r')
          if (eol < 0) None
          else {
            val parts = new String(body, 0, eol, "UTF-8").split(" ")
            if (parts.length >= 2 && parts(0).startsWith("HTTP/") && parts(1).forall(_.isDigit))
              Some(parts(1).toInt)
            else None
          }
        } else None
      out += Rec(idx, warcType, recordId, targetUri, warcDate,
        contentType, contentLength, status, body)
      idx += 1
      pos = sepAt + 4
    }
    Some(out.result())
  }

  private def parsePayload(payload: Array[Byte]): Option[Seq[Rec]] = {
    val stream: Option[Array[Byte]] =
      if (payload.length >= 2 && (payload(0) & 0xFF) == 0x1F && (payload(1) & 0xFF) == 0x8B)
        GzipCodec.gunzip(payload)
      else Some(payload)
    stream.flatMap(parseStream)
  }

  /** Records of every WARC file in `df` — gzip (multi-member or
    * whole-file) and uncompressed payloads both accepted. One row
    * per record; a malformed file quarantines as a single
    * `rec_index = -1` row with null fields, the codec contract. */
  def records(df: DataFrame, fileIdCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(fileIdCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (fileId, payload) =>
        parsePayload(payload) match {
          case Some(recs) => recs.map { r =>
            (fileId, r.recIndex, r.warcType, r.recordId, r.targetUri, r.warcDate,
              r.contentType, r.contentLength, r.httpStatus, r.body)
          }
          case None =>
            Seq((fileId, -1, null: String, null: String, null: String, null: String,
              null: String, -1L, None: Option[Int], null: Array[Byte]))
        }
      }
      .toDF("file_id", "rec_index", "warc_type", "record_id", "target_uri",
        "warc_date", "content_type", "content_length", "http_status", "body")
  }

  /** [[records]] keyed by file PATH — the disk-ingest shape the
    * `warc` source uses over `binaryFile` rows. */
  def recordsByPath(df: DataFrame, pathCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(pathCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (path, payload) =>
        parsePayload(payload) match {
          case Some(recs) => recs.map { r =>
            (path, r.recIndex, r.warcType, r.recordId, r.targetUri, r.warcDate,
              r.contentType, r.contentLength, r.httpStatus, r.body)
          }
          case None =>
            Seq((path, -1, null: String, null: String, null: String, null: String,
              null: String, -1L, None: Option[Int], null: Array[Byte]))
        }
      }
      .toDF("path", "rec_index", "warc_type", "record_id", "target_uri",
        "warc_date", "content_type", "content_length", "http_status", "body")
  }

  // ------------------------------------------------------------------
  // charset-aware body decode
  // ------------------------------------------------------------------

  /** Strict UTF-8 validity of a byte range: RFC 3629 sequences only —
    * no overlongs, no surrogates, nothing above U+10FFFF, no
    * truncated tails. */
  private[graft] def strictUtf8(b: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val (need, min) =
          if (c >= 0xC2 && c <= 0xDF) (1, 0x80)
          else if (c >= 0xE0 && c <= 0xEF) (2, 0x800)
          else if (c >= 0xF0 && c <= 0xF4) (3, 0x10000)
          else return false // 0x80-0xC1 stray/overlong lead, 0xF5+ out of range
        if (i + need >= until) return false // truncated tail
        var v = c & (0x3F >> need)
        var k = 1
        while (k <= need) {
          val cc = b(i + k) & 0xFF
          if ((cc & 0xC0) != 0x80) return false
          v = (v << 6) | (cc & 0x3F)
          k += 1
        }
        if (v < min || v > 0x10FFFF || (v >= 0xD800 && v <= 0xDFFF)) return false
        i += need + 1
      }
    }
    true
  }

  /** WHATWG-style label → JVM charset: UTF-8 family stays UTF-8;
    * the Latin-1 family (iso-8859-1 / us-ascii / latin1) maps to
    * windows-1252 exactly as browsers treat it (the 0x80–0x9F rows
    * are what the publisher really meant). Unrecognized labels →
    * None, falling through to content detection. */
  private def charsetFor(label: String): Option[String] =
    label.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "utf-8" | "utf8" => Some("UTF-8")
      case "us-ascii" | "ascii" => Some("UTF-8") // ASCII is a UTF-8 subset
      case "iso-8859-1" | "iso8859-1" | "iso_8859-1" | "latin-1" | "latin1" | "l1" =>
        Some("windows-1252")
      case "windows-1252" | "cp1252" | "x-cp1252" | "cp-1252" => Some("windows-1252")
      case _ => None
    }

  private def charsetParam(contentType: String): Option[String] = {
    val lower = contentType.toLowerCase(java.util.Locale.ROOT)
    val at = lower.indexOf("charset=")
    if (at < 0) None
    else {
      val v = lower.substring(at + 8).trim.stripPrefix("\"").stripPrefix("'")
      val end = v.indexWhere(c => c == ';' || c == '"' || c == '\'' || c == ' ')
      Some(if (end < 0) v else v.substring(0, end)).filter(_.nonEmpty)
    }
  }

  private val MetaCharsetRe =
    java.util.regex.Pattern.compile(
      """<meta[^>]*charset\s*=\s*["']?([a-zA-Z0-9_\-]+)""",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /** The decode ladder for one HTTP body (the real-crawl contract —
    * a large minority of live pages are legacy-encoded):
    *
    *  1. `charset` parameter of the Content-Type header;
    *  2. HTML `<meta charset=…>` / `<meta http-equiv … charset=…>`
    *     sniffed in the first 1024 body bytes (ASCII-superset scan,
    *     the WHATWG prescan);
    *  3. strict UTF-8 validation of the whole body;
    *  4. windows-1252 fallback (never fails — all 256 bytes map).
    *
    * A recognized declared charset wins even if the bytes disagree
    * (the declaration is the publisher's contract; Java decoders
    * substitute U+FFFD rather than throw). Returns (text, charset,
    * charset_src) with src ∈ header|meta|valid-utf8|fallback.
    */
  private[graft] def decodeBody(body: Array[Byte], from: Int, contentType: String): (String, String, String) = {
    val len = body.length - from
    def str(cs: String) = new String(body, from, len, java.nio.charset.Charset.forName(cs))
    val fromHeader = Option(contentType).flatMap(charsetParam).flatMap(charsetFor)
    fromHeader match {
      case Some(cs) => (str(cs), cs, "header")
      case None =>
        val prefix = new String(body, from, math.min(1024, len),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val m = MetaCharsetRe.matcher(prefix)
        val fromMeta = if (m.find()) charsetFor(m.group(1)) else None
        fromMeta match {
          case Some(cs) => (str(cs), cs, "meta")
          case None =>
            if (strictUtf8(body, from, body.length)) (str("UTF-8"), "UTF-8", "valid-utf8")
            else (str("windows-1252"), "windows-1252", "fallback")
        }
    }
  }

  // ------------------------------------------------------------------
  // HTTP payload decode: transfer- and content-encoding
  // ------------------------------------------------------------------

  /** De-chunk an RFC 9112 §7.1 chunked body: hex size lines (chunk
    * extensions after `;` ignored), each chunk's trailing CRLF
    * verified, terminated by a zero-size chunk whose trailer section
    * (header lines then a blank line, or nothing — lenient, some
    * writers omit it) is skipped. None on any framing violation;
    * per-chunk size cap guards crafted lengths. */
  private[graft] def dechunk(b: Array[Byte], from: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = from
    def lineEnd(at: Int): Int = {
      var j = at
      while (j + 1 < b.length && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 < b.length) j else -1
    }
    while (true) {
      val le = lineEnd(i)
      if (le < 0) return None
      val line = new String(b, i, le - i, java.nio.charset.StandardCharsets.ISO_8859_1)
      val semi = line.indexOf(';')
      val hex = (if (semi >= 0) line.substring(0, semi) else line).trim
      if (hex.isEmpty || !hex.forall(c => Character.digit(c, 16) >= 0)) return None
      if (hex.length > 8) return None // crafted length
      val sizeL = java.lang.Long.parseLong(hex, 16)
      if (sizeL > (1L << 28)) return None // 256 MiB chunk cap
      val size = sizeL.toInt
      i = le + 2
      if (size == 0) {
        // trailer section: lines until a blank line or end of body
        var done = i >= b.length
        while (!done) {
          val te = lineEnd(i)
          if (te < 0) { if (i >= b.length) done = true else return None }
          else if (te == i) done = true // blank line terminates
          else i = te + 2
        }
        return Some(out.toByteArray)
      }
      if (i + size + 2 > b.length) return None
      out.write(b, i, size.toInt)
      if (!(b(i + size) == '\r' && b(i + size + 1) == '\n')) return None
      i += size.toInt + 2
    }
    None // unreachable
  }

  /** Apply one Content-Encoding token via the in-repo from-spec
    * codecs. `deflate` tries zlib first, then raw DEFLATE — the
    * classic server bug the label name caused (RFC 9110 §8.4.1.2
    * names zlib, a long tail of servers send raw). None = token
    * unsupported or stream corrupt. */
  private def contentDecode1(token: String, bytes: Array[Byte]): Option[Array[Byte]] =
    token match {
      case "identity" | "" => Some(bytes)
      case "gzip" | "x-gzip" => GzipCodec.gunzip(bytes)
      case "deflate" => GzipCodec.unzlib(bytes).orElse(GzipCodec.inflate(bytes))
      case "zstd" => ZstdCodec.decode(bytes)
      case "br" => Brotli.decode(bytes).toOption
      case _ => None // unknown tokens: refused, surfaced via payload_decoded
    }

  /** Apply a (possibly comma-listed) Content-Encoding header value,
    * rightmost-first (encodings compose in application order). */
  private[graft] def contentDecode(enc: String, bytes: Array[Byte]): Option[Array[Byte]] = {
    val tokens = enc.toLowerCase(java.util.Locale.ROOT).split(',').map(_.trim)
    tokens.reverse.foldLeft(Option(bytes)) { (acc, t) =>
      acc.flatMap(contentDecode1(t, _))
    }
  }

  /** The response-record text surface: HTTP headers stripped, the
    * body taken through the PAYLOAD ladder — `Transfer-Encoding:
    * chunked` de-chunked (RFC 9112 §7.1), then `Content-Encoding`
    * decompressed via the engine's codecs (gzip, deflate with the
    * zlib/raw server-bug fallback, zstd, brotli) —
    * then the charset ladder ([[decodeBody]]) into a `text` column,
    * what downstream html_extract / quality / dedup stages consume.
    * Crawl archives store the raw wire bytes, so both encodings are
    * routine on real WARCs. `content_encoding` surfaces the header
    * verbatim (null when absent); `payload_decoded` is false when
    * the chunk framing is malformed or an encoding is unsupported —
    * then `text` is EMPTY, the refuse-don't-guess stance (mojibake
    * of compressed bytes is worse than nothing downstream).
    * `pathCol` picks the file-key column ([[recordsByPath]] output
    * vs [[records]]). */
  def responseText(recordsDf: DataFrame, pathCol: Boolean = false): DataFrame = {
    val spark = recordsDf.sparkSession
    import spark.implicits._
    val keyName = if (pathCol) "path" else "file_id"
    val base = recordsDf
      .where(col("warc_type") === "response" && col("http_status").isNotNull)
      .select(col(keyName).cast("string"), col("rec_index"), col("target_uri"),
        col("http_status"), col("body"))
      .as[(String, Int, String, Int, Array[Byte])]
      .map { case (key, recIndex, uri, status, body) =>
        val headEnd = {
          var i = 0; var at = -1
          while (at < 0 && i + 3 < body.length) {
            if (body(i) == '\r' && body(i + 1) == '\n' && body(i + 2) == '\r' && body(i + 3) == '\n') at = i
            i += 1
          }
          at
        }
        if (headEnd < 0)
          (key, recIndex, uri, status, "", null: String, null: String,
            null: String, true)
        else {
          // headers of the HTTP message (not the WARC record)
          val lines = new String(body, 0, headEnd,
            java.nio.charset.StandardCharsets.ISO_8859_1)
            .split("\r\n").drop(1)
          def header(name: String): Option[String] = lines.collectFirst {
            case line if line.toLowerCase(java.util.Locale.ROOT).startsWith(name + ":") =>
              line.substring(line.indexOf(':') + 1).trim
          }
          val httpContentType = header("content-type").orNull
          val transferEnc = header("transfer-encoding")
          val contentEnc = header("content-encoding")
          // payload ladder: de-chunk, then content-decode
          val raw = java.util.Arrays.copyOfRange(body, headEnd + 4, body.length)
          val unchunked: Option[Array[Byte]] =
            if (transferEnc.exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
              dechunk(raw, 0)
            else Some(raw)
          val payload: Option[Array[Byte]] = unchunked.flatMap { u =>
            contentEnc match {
              case Some(enc) => contentDecode(enc, u)
              case None => Some(u)
            }
          }
          payload match {
            case Some(p) =>
              val (text, cs, src) = decodeBody(p, 0, httpContentType)
              (key, recIndex, uri, status, text, cs, src,
                contentEnc.orNull, true)
            case None =>
              (key, recIndex, uri, status, "", null: String, null: String,
                contentEnc.orNull, false)
          }
        }
      }
      .toDF(keyName, "rec_index", "target_uri", "http_status", "text", "charset",
        "charset_src", "content_encoding", "payload_decoded")
    if (pathCol) base
    else base.withColumn("file_id", col("file_id").cast("long"))
  }

  // ------------------------------------------------------------------
  // charset-variant fixture packer (gate: x_warc_charset)
  // ------------------------------------------------------------------

  /** ASCII-only projection of corpus text — `[^ -~]` stripped, the
    * SQL-replayable sanitize both engines compute identically. */
  private def asciiOnly(s: String): String = s.filter(c => c >= ' ' && c <= '~')

  /** The planted page for charset variant `v` (doc_id % 5). Markers
    * deliberately pick bytes that separate the rungs: the latin rows
    * avoid 0x80–0x9F (so latin-1 == cp1252 on them), variant 1 adds
    * € (0x80 in cp1252, absent from latin-1), variant 4's bare é is
    * the classic invalid-UTF-8 single byte. */
  def charsetPage(id: Long, v: Int, asciiText: String): String = v match {
    case 1 => s"<html><head><title>Doc $id</title></head><body>cp1252 café €½ $asciiText</body></html>"
    case 2 => s"""<html><head><meta charset="iso-8859-1"><title>Doc $id</title></head><body>latin café ±½ $asciiText</body></html>"""
    case 3 => s"<html><head><title>Doc $id</title></head><body>utf8 π☃ $asciiText</body></html>"
    case _ => s"<html><head><title>Doc $id</title></head><body>fallback café $asciiText</body></html>"
  }

  /** One response record in charset variant `v`; see
    * [[packDocsWarcCharsets]] for the variant table. */
  def charsetResponseRecord(id: Long, source: String, text: String): Array[Byte] = {
    val v = (id % 5).toInt
    val http: Array[Byte] = v match {
      case 0 => httpFor(pageFor(id, source, text)) // the existing utf-8-declared page
      case 1 => httpWith(charsetPage(id, 1, asciiOnly(text)).getBytes("windows-1252"),
        "text/html; charset=windows-1252")
      case 2 => httpWith(charsetPage(id, 2, asciiOnly(text)).getBytes("ISO-8859-1"),
        "text/html")
      case 3 => httpWith(charsetPage(id, 3, asciiOnly(text)).getBytes("UTF-8"),
        "text/html")
      case _ => httpWith(charsetPage(id, 4, asciiOnly(text)).getBytes("windows-1252"),
        "text/html")
    }
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:uuid:${uuidFor(s"doc-$id")}>",
      "WARC-Date" -> WarcDate,
      "WARC-Target-URI" -> s"https://example.com/doc/$id",
      "Content-Type" -> "application/http; msgtype=response"),
      http)
  }

  /** [[packDocsWarcGz]] with bodies cycling the five charset-ladder
    * variants by doc_id % 5: (0) header-declared utf-8, (1)
    * header-declared windows-1252, (2) no header charset + HTML meta
    * iso-8859-1, (3) nothing declared + valid UTF-8 bytes, (4)
    * nothing declared + invalid-UTF-8 cp1252 bytes (the fallback
    * rung). Every rung of [[decodeBody]] appears in every corpus. */
  def packDocsWarcCharsets(df: DataFrame, idCol: String, sourceCol: String,
                           textCol: String, nFiles: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(sourceCol), lit("")),
        coalesce(col(textCol), lit("")))
      .as[(Long, String, String)]
      .packGroups(nFiles)(_._1 % nFiles) { (fileId, rows) =>
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(GzipCodec.gzipStored(warcinfoRecord(fileId)))
        rows.toSeq.sortBy(_._1).foreach { case (id, src, text) =>
          bos.write(gzipMember(charsetResponseRecord(id, src, text), (id % 9 + 1).toInt))
        }
        (fileId, bos.toByteArray)
      }
      .toDF("file_id", "payload")
  }

  // ------------------------------------------------------------------
  // member-split scan (round 11): unbounded file sizes, intra-file
  // parallelism — the scale path above the whole-file binaryFile seam
  // ------------------------------------------------------------------

  /** Sequential byte reader over an InputStream that can feed a JDK
    * Inflater and logically UNREAD the bytes the inflater did not
    * consume from its last chunk — the machinery a member-boundary
    * walk needs to land `pos` exactly on each member's trailer.
    * O(chunk) memory regardless of stream length. */
  private final class CountingReader(in: java.io.InputStream) {
    private val chunk = new Array[Byte](64 << 10)
    private var len = 0
    private var off = 0
    /** absolute offset of the next unconsumed byte */
    var pos: Long = 0L
    private def refill(): Unit = { len = in.read(chunk); off = 0 }
    /** next byte, or -1 at EOF */
    def readByte(): Int = {
      if (off >= len) { refill(); if (len <= 0) return -1 }
      val b = chunk(off) & 0xFF; off += 1; pos += 1; b
    }
    def atEof: Boolean = {
      if (off < len) false else { refill(); len <= 0 }
    }
    /** hand every currently-buffered (or freshly read) byte to the
      * inflater; false at EOF. Safe because the inflater only asks
      * for input after fully consuming the previous chunk. */
    def feed(inf: java.util.zip.Inflater): Boolean = {
      if (off >= len) { refill(); if (len <= 0) return false }
      inf.setInput(chunk, off, len - off)
      pos += len - off
      off = len
      true
    }
    /** give back the tail of the LAST fed chunk (still intact). */
    def unread(n: Int): Unit = { off -= n; pos -= n }
  }

  /** Streaming gzip member index: walk the stream ONCE with O(64 KiB)
    * memory, recording each member's [start, end) offsets and
    * coalescing consecutive members into ranges of ≤ `targetBytes`
    * compressed (always ≥ 1 member — an oversized single member
    * becomes its own range). The JDK inflater is only the boundary
    * SCOUT here (it is the streaming decoder; the from-spec
    * [[GzipCodec]] is array-based by design) — every range is
    * re-decoded and CRC/ISIZE-verified from-spec in the read pass.
    * Returns (offset, length) ranges; None on malformed bytes. */
  def gzipMemberRanges(in: java.io.InputStream, targetBytes: Long): Option[Vector[(Long, Long)]] = {
    try {
      val r = new CountingReader(in)
      val members = Vector.newBuilder[(Long, Long)]
      var any = false
      while (!r.atEof) {
        val start = r.pos
        if (r.readByte() != 0x1F || r.readByte() != 0x8B) return None
        if (r.readByte() != 8) return None
        val flg = r.readByte()
        if (flg < 0 || (flg & 0xE0) != 0) return None
        var k = 0
        while (k < 6) { if (r.readByte() < 0) return None; k += 1 } // MTIME XFL OS
        if ((flg & 4) != 0) { // FEXTRA
          val a = r.readByte(); val b = r.readByte()
          if (a < 0 || b < 0) return None
          var n = a | (b << 8)
          while (n > 0) { if (r.readByte() < 0) return None; n -= 1 }
        }
        if ((flg & 8) != 0) { // FNAME
          var c = r.readByte()
          while (c > 0) c = r.readByte()
          if (c < 0) return None
        }
        if ((flg & 16) != 0) { // FCOMMENT
          var c = r.readByte()
          while (c > 0) c = r.readByte()
          if (c < 0) return None
        }
        if ((flg & 2) != 0) { // FHCRC
          if (r.readByte() < 0 || r.readByte() < 0) return None
        }
        val inf = new java.util.zip.Inflater(true)
        try {
          val scratch = new Array[Byte](64 << 10)
          while (!inf.finished()) {
            if (inf.needsInput() && !r.feed(inf)) return None // EOF mid-member
            if (inf.inflate(scratch) == 0 && inf.needsDictionary()) return None
          }
          r.unread(inf.getRemaining)
        } finally inf.end()
        k = 0
        while (k < 8) { if (r.readByte() < 0) return None; k += 1 } // CRC32+ISIZE
        members += ((start, r.pos))
        any = true
      }
      if (!any) return None
      val out = Vector.newBuilder[(Long, Long)]
      var rs = -1L; var re = -1L
      members.result().foreach { case (s, e) =>
        if (rs < 0) { rs = s; re = e }
        else if (e - rs <= targetBytes) re = e
        else { out += ((rs, re - rs)); rs = s; re = e }
      }
      out += ((rs, re - rs))
      Some(out.result())
    } catch { case _: java.util.zip.DataFormatException => None }
  }

  /** Member-split .warc.gz scan — the scale path above the
    * whole-file `binaryFile` seam: pass 1 streams each file once to
    * index gzip member ranges ([[gzipMemberRanges]], O(buffer)
    * memory — a 10 GiB shard never materializes anywhere), pass 2
    * fans the RANGES out across the cluster, each task doing a
    * ranged FS read + from-spec CRC-verified decode + record parse.
    * Parallelism = ranges, not files; file size is unbounded
    * (offsets are Long), so the 2 GiB binary-row limit simply does
    * not apply. Output = [[recordsByPath]] schema plus `offset`
    * (the range's first byte); `(path, offset, rec_index)` is the
    * stable record key — rec_index restarts per range by design
    * (a global index would serialize on the file). Unindexable
    * files and undecodable ranges quarantine as rec_index = -1
    * rows carrying the offset. */
  /** The driver-side hadoop conf as a plain serializable map
    * (Configuration itself is not serializable — it rides closures
    * as entries and is rebuilt per task). */
  private[ops] def confEntriesOf(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result()
  }

  private[ops] def confOf(entries: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A single gzip member above the Int.MaxValue byte-array limit
    * cannot pass through [[readRange]]'s buffer — such a range
    * becomes an offset = -1 quarantine row instead of a task crash,
    * keeping the never-throw contract at unbounded file sizes. */
  private[graft] def rangeReadable(len: Long): Boolean =
    len >= 0 && len <= Int.MaxValue.toLong

  /** Ranged FS read: `len` bytes at `off` of `p`. */
  private[ops] def readRange(conf: org.apache.hadoop.conf.Configuration,
                             p: String, off: Long, len: Long): Array[Byte] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val buf = new Array[Byte](len.toInt)
    val stream = path.getFileSystem(conf).open(path)
    try stream.readFully(off, buf) finally stream.close()
    buf
  }

  /** Pass 1 of the split scan, exposed for [[Cdx]]: (path, offset,
    * range_len) member ranges per file (streamed index), quarantine
    * rows at offset = -1, repartitioned so one file's ranges spread
    * across the cluster. */
  private[ops] def splitRanges(paths: DataFrame, pathCol: String,
                               targetBytes: Long): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    val confEntries = confEntriesOf(spark)
    paths.select(col(pathCol).cast("string")).as[String]
      .flatMap { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val stream = path.getFileSystem(confOf(confEntries)).open(path)
        try {
          gzipMemberRanges(stream, targetBytes) match {
            case Some(rs) => rs.map { case (off, len) =>
              if (rangeReadable(len)) (p, off, len) else (p, -1L, -1L)
            }
            case None     => Seq((p, -1L, -1L))
          }
        } finally stream.close()
      }
      .toDF("path", "offset", "range_len")
      // one file's ranges would otherwise stay in one task — spread
      .repartition(col("path"), col("offset"))
  }

  def splitRecords(paths: DataFrame, pathCol: String,
                   targetBytes: Long = 64L << 20): DataFrame = {
    val spark = paths.sparkSession
    import spark.implicits._
    val confEntries = confEntriesOf(spark)
    splitRanges(paths, pathCol, targetBytes).as[(String, Long, Long)]
      .mapPartitions { rows =>
        val conf = confOf(confEntries) // once per partition, not per range
        rows.flatMap { case (p, off, len) =>
        def quarantine = Seq((p, off, -1, null: String, null: String, null: String,
          null: String, null: String, -1L, None: Option[Int], null: Array[Byte]))
        if (off < 0) quarantine
        else {
          val buf = readRange(conf, p, off, len)
          GzipCodec.gunzipMembers(buf)
            .map { ms =>
              val n = ms.map(_.length).sum
              val all = new Array[Byte](n)
              var o = 0
              ms.foreach { m => System.arraycopy(m, 0, all, o, m.length); o += m.length }
              all
            }
            .flatMap(parseStream) match {
            case Some(recs) => recs.map { r =>
              (p, off, r.recIndex, r.warcType, r.recordId, r.targetUri, r.warcDate,
                r.contentType, r.contentLength, r.httpStatus, r.body)
            }
            case None => quarantine
          }
        }
        }
      }
      .toDF("path", "offset", "rec_index", "warc_type", "record_id", "target_uri",
        "warc_date", "content_type", "content_length", "http_status", "body")
  }
}
