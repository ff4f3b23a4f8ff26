package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Partitioning.PackOps

/** From-spec tar (POSIX.1-1988 ustar, with the GNU longname
  * extension) — the archive format document dumps ship in when they
  * are not WARC: `corpus.tar.gz` with one file per document. Written
  * from the published header layout alone and pinned in TarSpec
  * against commons-compress (the independent implementation on the
  * Spark classpath) in BOTH directions: their writer's archives
  * parse here, and [[tarOf]]'s archives parse there.
  *
  * Parser scope: 512-byte headers with VERIFIED checksums (unsigned
  * sum per the spec; the historic signed-sum variant also accepted,
  * as every mainstream reader does), NUL/space-terminated octal
  * numerics, ustar (`ustar\0` POSIX and `ustar  ` GNU) magics,
  * name+prefix joining, regular/dir/symlink/hardlink entries, GNU
  * 'L' longname applied to the following entry, PAX 'x'/'g' headers
  * skipped as metadata, data runs padded to block boundary, and the
  * two-zero-block terminator (trailing padding tolerated, mid-stream
  * garbage refused). GNU base-256 numerics (> 8 GiB single members)
  * are declared out of scope and refuse.
  *
  * Hostile-bytes contract as the rest of the codec ladder: never
  * throws, bounds-checked, `None` on any malformed header.
  *
  * The Spark seam mirrors [[Warc]]: files are the unit of
  * parallelism (binaryFile rows), members stream within a task, a
  * malformed FILE quarantines as one `member_index = -1` row.
  */
object Tar {

  final case class Entry(name: String, typeflag: Char, size: Long,
                         mode: Int, mtime: Long, linkName: String, data: Array[Byte])

  private val Block = 512

  private def isZeroBlock(b: Array[Byte], at: Int): Boolean = {
    var i = at
    while (i < at + Block) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** NUL/space-terminated octal field; None on non-octal content. */
  private def octal(b: Array[Byte], at: Int, len: Int): Option[Long] = {
    var i = at
    val end = at + len
    while (i < end && (b(i) == ' ')) i += 1 // leading spaces
    if (i < end && (b(i) & 0x80) != 0) return None // GNU base-256: out of scope
    var v = 0L
    var any = false
    while (i < end && b(i) != 0 && b(i) != ' ') {
      val c = b(i)
      if (c < '0' || c > '7') return None
      v = (v << 3) | (c - '0')
      any = true
      i += 1
    }
    if (any) Some(v) else None
  }

  private def str(b: Array[Byte], at: Int, len: Int): String = {
    var end = at
    val limit = at + len
    while (end < limit && b(end) != 0) end += 1
    new String(b, at, end - at, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Header checksum: all 512 bytes summed with the chksum field
    * (148-155) read as spaces. Spec says unsigned bytes; the
    * historic signed variant is also accepted. */
  private def checksumOk(b: Array[Byte], at: Int, want: Long): Boolean = {
    var u = 0L; var s = 0L
    var i = 0
    while (i < Block) {
      val raw = if (i >= 148 && i < 156) ' '.toByte else b(at + i)
      u += raw & 0xFF
      s += raw
      i += 1
    }
    u == want || s == want
  }

  /** Parse a whole archive; None on any framing violation. */
  def entries(p: Array[Byte]): Option[Seq[Entry]] = {
    val out = Seq.newBuilder[Entry]
    var pos = 0
    var pendingLongName: String = null
    var sawTerminator = false
    while (pos + Block <= p.length && !sawTerminator) {
      if (isZeroBlock(p, pos)) {
        // terminator: a second zero block (or EOF); anything after
        // must be zero padding
        var i = pos + Block
        while (i < p.length) { if (p(i) != 0) return None; i += 1 }
        sawTerminator = true
      } else {
        val magic = str(p, pos + 257, 6)
        if (!(magic == "ustar" || magic.startsWith("ustar "))) return None
        val size = octal(p, pos + 124, 12) match { case Some(v) => v; case None => return None }
        val chksum = octal(p, pos + 148, 8) match { case Some(v) => v; case None => return None }
        if (!checksumOk(p, pos, chksum)) return None
        if (size < 0 || size > Int.MaxValue.toLong) return None
        val dataStart = pos + Block
        val dataBlocks = ((size + Block - 1) / Block).toInt
        if (dataStart + dataBlocks.toLong * Block > p.length) return None
        val typeflag = { val t = p(pos + 156); if (t == 0) '0' else t.toChar }
        val rawName = {
          val base = str(p, pos, 100)
          val prefix = str(p, pos + 345, 155)
          if (prefix.isEmpty) base else prefix + "/" + base
        }
        val name = if (pendingLongName != null) { val n = pendingLongName; pendingLongName = null; n }
                   else rawName
        typeflag match {
          case 'L' => // GNU longname: data is the NEXT entry's name
            val d = java.util.Arrays.copyOfRange(p, dataStart, dataStart + size.toInt)
            var end = d.length
            while (end > 0 && d(end - 1) == 0) end -= 1
            pendingLongName = new String(d, 0, end, java.nio.charset.StandardCharsets.UTF_8)
          case 'x' | 'g' => // PAX extended headers: metadata, skipped
          case t =>
            val mode = octal(p, pos + 100, 8).getOrElse(0L).toInt
            val mtime = octal(p, pos + 136, 12).getOrElse(0L)
            val data = java.util.Arrays.copyOfRange(p, dataStart, dataStart + size.toInt)
            out += Entry(name, t, size, mode, mtime, str(p, pos + 157, 100), data)
        }
        pos = dataStart + dataBlocks * Block
      }
    }
    if (!sawTerminator && pos != p.length) return None
    Some(out.result())
  }

  // ------------------------------------------------------------------
  // writer (POSIX ustar)
  // ------------------------------------------------------------------

  private def putOctal(h: Array[Byte], at: Int, len: Int, v: Long): Unit = {
    val s = java.lang.Long.toOctalString(v)
    val padded = ("0" * (len - 1 - s.length)) + s // NUL-terminated, zero-padded
    var i = 0
    while (i < len - 1) { h(at + i) = padded(i).toByte; i += 1 }
    h(at + len - 1) = 0
  }

  private def header(name: String, typeflag: Char, size: Long, mode: Int, mtime: Long): Array[Byte] = {
    val h = new Array[Byte](Block)
    val nameBytes = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nameBytes.length <= 100, s"name too long for ustar field: $name")
    System.arraycopy(nameBytes, 0, h, 0, nameBytes.length)
    putOctal(h, 100, 8, mode)
    putOctal(h, 108, 8, 0) // uid
    putOctal(h, 116, 8, 0) // gid
    putOctal(h, 124, 12, size)
    putOctal(h, 136, 12, mtime)
    h(156) = typeflag.toByte
    "ustar".getBytes.copyToArray(h, 257) // magic "ustar\0" + version "00"
    h(263) = '0'; h(264) = '0'
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    var i = 0
    while (i < Block) { sum += h(i) & 0xFF; i += 1 }
    val oct = java.lang.Long.toOctalString(sum)
    val padded = ("0" * (6 - oct.length)) + oct
    i = 0
    while (i < 6) { h(148 + i) = padded(i).toByte; i += 1 }
    h(154) = 0; h(155) = ' '
    h
  }

  /** A spec-legal ustar archive: (name, data) members in order, a
    * directory entry auto-emitted is NOT included — callers add
    * explicit ("dir/", null) members for directories. */
  def tarOf(members: Seq[(String, Array[Byte])], mtime: Long = 0L): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      if (data == null) bos.write(header(name, '5', 0, 0x1ED /* 755 */, mtime))
      else {
        bos.write(header(name, '0', data.length, 0x1A4 /* 644 */, mtime))
        bos.write(data)
        val pad = (Block - data.length % Block) % Block
        bos.write(new Array[Byte](pad))
      }
    }
    bos.write(new Array[Byte](2 * Block))
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark seam
  // ------------------------------------------------------------------

  /** Shard documents over `nFiles` .tar.gz archives (bucket = id mod
    * nFiles): a leading `doc/` directory entry, then `doc/<id>.txt`
    * members in id order, the whole archive one gzip member with the
    * level cycling by bucket. Output: (file_id, payload). */
  def packDocsTarGz(df: DataFrame, idCol: String, textCol: String, nFiles: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .packGroups(nFiles)(_._1 % nFiles) { (fileId, rows) =>
        val members = ("doc/", null: Array[Byte]) +: rows.toSeq.sortBy(_._1).map { case (id, text) =>
          (s"doc/$id.txt", text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val tar = tarOf(members)
        if (fileId % 2 == 0) {
          // even buckets: our from-spec RFC 1951 encoder inside the
          // gzip framing (GzipCodec.gzip) — the write half this round
          // added; odd buckets keep the JDK as the independent encoder
          (fileId, GzipCodec.gzip(tar))
        } else {
        val d = new java.util.zip.Deflater((fileId % 9 + 1).toInt, true)
        d.setInput(tar); d.finish()
        val bos = new java.io.ByteArrayOutputStream(tar.length / 2 + 64)
        bos.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, 0, 0, 0, 0, 0, 0, 0xFF.toByte))
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end()
        val crc = new java.util.zip.CRC32(); crc.update(tar)
        var k = 0
        while (k < 4) { bos.write(((crc.getValue >> (8 * k)) & 0xFF).toInt); k += 1 }
        k = 0
        while (k < 4) { bos.write(((tar.length.toLong >> (8 * k)) & 0xFF).toInt); k += 1 }
        (fileId, bos.toByteArray)
        }
      }
      .toDF("file_id", "payload")
  }

  /** Members of every archive in `df` — .tar and compressed .tar.*
    * payloads both accepted (the wrapper sniffed by magic and stripped
    * by [[Sniff.decompress]]). One row per member; a malformed file
    * quarantines as a single `member_index = -1` row. */
  def members(df: DataFrame, fileIdCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(fileIdCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (fileId, payload) =>
        Sniff.decompress(payload).flatMap(entries) match {
          case Some(es) => es.zipWithIndex.map { case (e, i) =>
            (fileId, i, e.name, e.typeflag.toString, e.size, e.data)
          }
          case None =>
            Seq((fileId, -1, null: String, null: String, -1L, null: Array[Byte]))
        }
      }
      .toDF("file_id", "member_index", "name", "typeflag", "size", "data")
  }

  /** The text surface: regular-file members decoded as UTF-8 — what
    * a `corpus.tar.gz` of per-document text files ingests as. */
  def memberText(membersDf: DataFrame): DataFrame =
    membersDf.where(col("typeflag") === "0")
      .select(col("file_id"), col("member_index"), col("name"), col("size"),
        decode(col("data"), "UTF-8").as("text"))
}
