package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Partitioning.PackOps

/** From-spec ZIP reader/writer (the PKWARE APPNOTE layout) — the
  * remaining everyday archive format for document dumps
  * (`corpus.zip` of per-document files). Reuses the codec ladder:
  * DEFLATE members decode through [[GzipCodec.inflate]] (the JDK's
  * zlib), and every member CRC-32 is verified here with
  * `java.util.zip.CRC32`.
  *
  * Reader scope: end-of-central-directory located by signature scan
  * from the tail (comment tolerated), central-directory walk
  * (method, sizes, CRC, local offset, name), per-member local-header
  * parse with its OWN name/extra lengths honored (they legally
  * differ from the central ones), stored (0) and DEFLATE (8)
  * methods, data-descriptor streams (flag bit 3 — central sizes
  * remain authoritative), member CRC-32 VERIFIED, and ZIP64
  * (round 11): EOCD64 locator + record for the directory geometry
  * and the 0x0001 extra field for masked per-entry sizes/offsets —
  * the structures Python's zipfile, Hadoop writers and HF dataset
  * zips emit even for small archives (and required past 65535
  * members; the archive itself stays under the binary seam's 2 GiB
  * row bound). Refused, declared: encryption (flag bit 0),
  * multi-disk archives, other compression methods.
  *
  * Writer: stored-mode members + correct central directory — the
  * gzipStored discipline: spec-legal output any unzip accepts, with
  * the reference libraries (commons-compress, java.util.zip)
  * supplying the DEFLATE-compressed hostile fixtures in ZipSpec,
  * pinned in both directions.
  *
  * Spark seam mirrors [[Tar]]: files are the parallelism unit,
  * malformed files quarantine as `member_index = -1` rows.
  */
object Zip {

  private object Refuse extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def refuse(): Nothing = throw Refuse

  final case class Entry(name: String, method: Int, data: Array[Byte])

  private def u16(b: Array[Byte], i: Int): Int = {
    if (i < 0 || i + 2 > b.length) refuse()
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  }
  private def u32(b: Array[Byte], i: Int): Long = {
    if (i < 0 || i + 4 > b.length) refuse()
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  }
  private def u64(b: Array[Byte], i: Int): Long = {
    if (i < 0 || i + 8 > b.length) refuse()
    var v = 0L
    var k = 0
    while (k < 8) { v |= (b(i + k) & 0xFFL) << (8 * k); k += 1 }
    if (v < 0) refuse() // > 2^63: cannot be a position in a byte array
    v
  }

  /** Values of the ZIP64 0x0001 extra field for the MASKED central
    * fields, in the order the spec stores them (uncompressed size,
    * compressed size, local offset); disk number ignored (multi-disk
    * refused at the EOCD). Fields that were not masked keep their
    * 32-bit values. */
  private def zip64Extra(p: Array[Byte], extraOff: Int, extraLen: Int,
      unp: Long, comp: Long, localOff: Long): (Long, Long, Long) = {
    var (u, c, o) = (unp, comp, localOff)
    var i = extraOff
    val end = extraOff + extraLen
    while (i + 4 <= end) {
      val id = u16(p, i)
      val len = u16(p, i + 2)
      if (i + 4 + len > end) refuse()
      if (id == 0x0001) {
        var j = i + 4
        if (u == 0xFFFFFFFFL) { u = u64(p, j); j += 8 }
        if (c == 0xFFFFFFFFL) { c = u64(p, j); j += 8 }
        if (o == 0xFFFFFFFFL) { o = u64(p, j); j += 8 }
        if (j > i + 4 + len) refuse()
      }
      i += 4 + len
    }
    if (u == 0xFFFFFFFFL || c == 0xFFFFFFFFL || o == 0xFFFFFFFFL) refuse()
    (u, c, o)
  }

  /** Parse all members; None on any structural violation. */
  def entries(p: Array[Byte]): Option[Seq[Entry]] =
    try {
      // EOCD: scan back for PK\5\6 (up to 64k of trailing comment)
      var eocd = -1
      var i = p.length - 22
      val stop = math.max(0, p.length - 22 - 0xFFFF)
      while (eocd < 0 && i >= stop) {
        if (p(i) == 'P' && p(i + 1) == 'K' && p(i + 2) == 5 && p(i + 3) == 6) eocd = i
        i -= 1
      }
      if (eocd < 0) refuse()
      // ZIP64: the EOCD64 locator sits immediately before the EOCD
      val loc = eocd - 20
      val hasZip64 = loc >= 0 && u32(p, loc) == 0x07064b50L
      val (nEntries, cdSize, cdOff, cdEnd) =
        if (hasZip64) {
          if (u32(p, loc + 4) != 0L || u32(p, loc + 16) != 1L) refuse() // single disk only
          val e64 = u64(p, loc + 8)
          if (e64 > Int.MaxValue) refuse()
          val e = e64.toInt
          if (u32(p, e) != 0x06064b50L) refuse() // EOCD64 record sig
          if (u32(p, e + 16) != 0L || u32(p, e + 20) != 0L) refuse() // disks
          val n = u64(p, e + 24)
          if (n != u64(p, e + 32)) refuse()
          (n, u64(p, e + 40), u64(p, e + 48), e64)
        } else {
          val n = u16(p, eocd + 10)
          if (u16(p, eocd + 8) != n) refuse() // multi-disk out of scope
          if (n == 0xFFFF) refuse() // zip64 count without a locator
          val sz = u32(p, eocd + 12)
          val off = u32(p, eocd + 16)
          if (off == 0xFFFFFFFFL || sz == 0xFFFFFFFFL) refuse()
          (n.toLong, sz, off, eocd.toLong)
        }
      if (cdOff + cdSize != cdEnd) refuse()
      if (cdOff > Int.MaxValue) refuse()

      val out = Seq.newBuilder[Entry]
      var pos = cdOff.toInt
      var k = 0L
      while (k < nEntries) {
        if (u32(p, pos) != 0x02014b50L) refuse() // central header sig
        val flags = u16(p, pos + 8)
        if ((flags & 1) != 0) refuse() // encrypted
        val method = u16(p, pos + 10)
        val wantCrc = u32(p, pos + 16)
        val compSize0 = u32(p, pos + 20)
        val unpSize0 = u32(p, pos + 24)
        val nameLen = u16(p, pos + 28)
        val extraLen = u16(p, pos + 30)
        val commentLen = u16(p, pos + 32)
        val localOff0 = u32(p, pos + 42)
        if (pos + 46 + nameLen + extraLen > p.length) refuse()
        val (unpSize, compSize, localOff) =
          if (compSize0 == 0xFFFFFFFFL || unpSize0 == 0xFFFFFFFFL || localOff0 == 0xFFFFFFFFL)
            zip64Extra(p, pos + 46 + nameLen, extraLen, unpSize0, compSize0, localOff0)
          else (unpSize0, compSize0, localOff0)
        if (localOff > Int.MaxValue || compSize > Int.MaxValue) refuse()
        val name = new String(p, pos + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)

        // local header: its own name/extra lengths apply
        val lh = localOff.toInt
        if (u32(p, lh) != 0x04034b50L) refuse()
        val dataStart = lh + 30 + u16(p, lh + 26) + u16(p, lh + 28)
        if (dataStart + compSize > p.length) refuse()
        val data: Array[Byte] = method match {
          case 0 => // stored
            if (compSize != unpSize) refuse()
            java.util.Arrays.copyOfRange(p, dataStart, dataStart + compSize.toInt)
          case 8 => // DEFLATE via GzipCodec.inflate
            val slice = java.util.Arrays.copyOfRange(p, dataStart, dataStart + compSize.toInt)
            GzipCodec.inflate(slice) match {
              case Some(d) if d.length.toLong == unpSize => d
              case _ => refuse()
            }
          case _ => refuse()
        }
        if (GzipCodec.crc32(data, 0, data.length) != wantCrc) refuse()
        out += Entry(name, method, data)
        pos += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      Some(out.result())
    } catch { case Refuse => None case _: ArrayIndexOutOfBoundsException => None }

  // ------------------------------------------------------------------
  // writer (stored members + central directory)
  // ------------------------------------------------------------------

  private def w16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
  }
  private def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var k = 0
    while (k < 4) { o.write(((v >> (8 * k)) & 0xFF).toInt); k += 1 }
  }

  /** Spec-legal zip of (name, data) members — stored, or DEFLATE
    * through the from-spec [[Deflate]] encoder (method 8,
    * unconditionally: a DEFLATE member is spec-legal at any size, and
    * the deterministic method choice keeps gate oracles id-derivable;
    * the encoder's own stored-block mode already bounds expansion). */
  def zipOf(members: Seq[(String, Array[Byte])], deflate: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      val nameBytes = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val crc = GzipCodec.crc32(data, 0, data.length)
      val (method, body) =
        if (deflate) (8, Deflate.compress(data)) else (0, data)
      val off = out.size()
      w32(out, 0x04034b50L); w16(out, 20); w16(out, 0x800 /* UTF-8 names */)
      w16(out, method); w16(out, 0); w16(out, 0) // dos time/date 0
      w32(out, crc); w32(out, body.length); w32(out, data.length)
      w16(out, nameBytes.length); w16(out, 0)
      out.write(nameBytes); out.write(body)
      w32(central, 0x02014b50L); w16(central, 20); w16(central, 20); w16(central, 0x800)
      w16(central, method); w16(central, 0); w16(central, 0)
      w32(central, crc); w32(central, body.length); w32(central, data.length)
      w16(central, nameBytes.length); w16(central, 0); w16(central, 0)
      w16(central, 0); w16(central, 0); w32(central, 0)
      w32(central, off)
      central.write(nameBytes)
    }
    val cdOff = out.size()
    central.writeTo(out)
    val cdSize = out.size() - cdOff
    w32(out, 0x06054b50L); w16(out, 0); w16(out, 0)
    w16(out, members.length); w16(out, members.length)
    w32(out, cdSize); w32(out, cdOff); w16(out, 0)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark seam
  // ------------------------------------------------------------------

  /** Shard documents into `nFiles` zips of `doc/<id>.txt` members
    * (stored — the reference libraries provide deflated fixtures in
    * tests; the GATE exercises the DEFLATE path by re-zipping with
    * java.util.zip per bucket parity). */
  def packDocsZip(df: DataFrame, idCol: String, textCol: String, nFiles: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .packGroups(nFiles)(_._1 % nFiles) { (fileId, rows) =>
        val sorted = rows.toSeq.sortBy(_._1)
        val payload: Array[Byte] =
          if (fileId % 2 == 0)
            zipOf(sorted.map { case (id, text) =>
              (s"doc/$id.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            })
          else if (fileId % 4 == 1)
            // our from-spec DEFLATE writer (method 8) — same method
            // the oracle predicts for odd buckets, different encoder
            zipOf(sorted.map { case (id, text) =>
              (s"doc/$id.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }, deflate = true)
          else {
            // DEFLATE members via the JDK's independent zip writer
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            z.setLevel(6)
            sorted.foreach { case (id, text) =>
              z.putNextEntry(new java.util.zip.ZipEntry(s"doc/$id.txt"))
              z.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              z.closeEntry()
            }
            z.close()
            bos.toByteArray
          }
        (fileId, payload)
      }
      .toDF("file_id", "payload")
  }

  /** Members of every zip in `df`; malformed files quarantine. */
  def members(df: DataFrame, fileIdCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (fileId, payload) =>
        entries(payload) match {
          case Some(es) => es.zipWithIndex.map { case (e, i) =>
            (fileId, i, e.name, e.method, e.data.length.toLong, e.data)
          }
          case None => Seq((fileId, -1, null: String, -1, -1L, null: Array[Byte]))
        }
      }
      .toDF("file_id", "member_index", "name", "method", "size", "data")
  }

  /** Text surface of regular members. */
  def memberText(membersDf: DataFrame): DataFrame =
    membersDf.where(col("member_index") >= 0)
      .select(col("file_id"), col("member_index"), col("name"), col("size"),
        decode(col("data"), "UTF-8").as("text"))
}
