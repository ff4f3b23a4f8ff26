package graft.ops

import net.jpountz.lz4.LZ4Factory
import net.jpountz.xxhash.XXHashFactory
import org.xerial.snappy.{Snappy, SnappyFramedInputStream}

/** Snappy and LZ4 — the two short-window LZ77 formats the columnar
  * world actually runs on (Snappy is parquet's default codec; LZ4 is
  * Spark's shuffle/TorrentBroadcast codec and a common shard
  * wrapper), in both their raw BLOCK forms and their STREAM layers
  * (the snappy FRAMING format and the LZ4 FRAME format, which is what
  * .sz/.lz4 FILES in the wild are). Decoding goes through the
  * libraries on the Spark classpath: snappy-java (block validation
  * before allocation; framed streams with every masked CRC-32C
  * verified) and lz4-java's pure-Java safe decompressor for raw
  * blocks; LZ4 FRAMES keep the engine's own walk and block decoder
  * (see [[unlz4Framed]] for why), with lz4-java's xxHash32. The
  * engine itself refuses empty input, a block whose declared size is
  * past [[MaxOutput]] (before allocating it) or that does not decode
  * to exactly its declared size, and caps total output ([[Drain]]).
  *
  * Encoders are the spec-legal literal-only forms (one big literal
  * run) plus framed writers exercising every chunk type, enough to
  * WRITE streams any decoder accepts — the reference libraries supply
  * the hostile-grade compressed fixtures.
  */
object ShortCodecs {

  val MaxOutput: Int = 1 << 28

  // ------------------------------------------------------------------
  // Snappy raw block (format_description.txt)
  // ------------------------------------------------------------------

  /** Decode a raw snappy block: the whole block is validated before
    * its declared length is allocated. */
  def unsnappy(p: Array[Byte]): Option[Array[Byte]] =
    Drain.guard(p) {
      require(Snappy.isValidCompressedBuffer(p) && Snappy.uncompressedLength(p) <= MaxOutput)
      Snappy.uncompress(p)
    }

  /** Spec-legal literal-only snappy block. */
  def snappyLiteral(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length + 8)
    var v = data.length
    while ((v & ~0x7F) != 0) { bos.write((v & 0x7F) | 0x80); v >>>= 7 }
    bos.write(v)
    var i = 0
    while (i < data.length) {
      val n = math.min(data.length - i, 65536)
      // length 61: 2 extra bytes (n-1 LE)
      bos.write((61 << 2)); bos.write((n - 1) & 0xFF); bos.write(((n - 1) >> 8) & 0xFF)
      bos.write(data, i, n)
      i += n
    }
    if (data.length == 0) () // just the 0 uvarint
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Snappy FRAMING format (framing_format.txt) — the checksummed
  // stream layer hadoop-land wraps blocks in. Chunks: 1-byte type +
  // 3-byte LE length; 0x00 compressed / 0x01 uncompressed (each led by
  // the masked CRC-32C of the UNCOMPRESSED data — the same
  // rotate-15-plus-constant mask as TFRecord), 0x80–0xFE skippable
  // (0xFE is padding), 0x02–0x7F unskippable reserved, 0xFF the
  // stream identifier.
  // ------------------------------------------------------------------

  private val FrameMagic = Array[Byte](0xFF.toByte, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y')

  /** Decode a framed snappy stream: every data chunk's masked
    * CRC-32C verified before its bytes join the output. */
  def unsnappyFramed(p: Array[Byte]): Option[Array[Byte]] =
    Drain(p, MaxOutput)(in => new SnappyFramedInputStream(in, true))

  /** Framed writer for fixtures: chunks alternate UNCOMPRESSED and
    * COMPRESSED (literal-only blocks), with a padding chunk between —
    * every chunk type the decoder must walk. Empty input is the bare
    * stream identifier: snappy-java refuses a zero-length data chunk. */
  def snappyFramed(data: Array[Byte], chunkSize: Int = 16384): Array[Byte] = {
    require(chunkSize >= 1 && chunkSize <= 65536)
    val bos = new java.io.ByteArrayOutputStream(data.length + 64)
    bos.write(FrameMagic, 0, 10)
    var i = 0
    var k = 0
    def w32(v: Int): Unit = { var j = 0; while (j < 4) { bos.write((v >> (8 * j)) & 0xFF); j += 1 } }
    while (i < data.length) {
      val n = math.min(chunkSize, data.length - i)
      val crc = TfRecord.maskedCrc(data, i, n)
      if (k % 2 == 0) {
        bos.write(0x01); val l = n + 4
        bos.write(l & 0xFF); bos.write((l >> 8) & 0xFF); bos.write((l >> 16) & 0xFF)
        w32(crc); bos.write(data, i, n)
      } else {
        val block = snappyLiteral(java.util.Arrays.copyOfRange(data, i, i + n))
        bos.write(0x00); val l = block.length + 4
        bos.write(l & 0xFF); bos.write((l >> 8) & 0xFF); bos.write((l >> 16) & 0xFF)
        w32(crc); bos.write(block, 0, block.length)
      }
      if (k == 0) { bos.write(0xFE); bos.write(2); bos.write(0); bos.write(0); bos.write(0); bos.write(0) }
      i += n
      k += 1
    }
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // LZ4 raw block (lz4_Block_format.md)
  // ------------------------------------------------------------------

  private val lz4 = LZ4Factory.safeInstance()
  private val xxh32 = XXHashFactory.safeInstance().hash32()

  /** Decode a raw LZ4 block into exactly `declaredLen` bytes (LZ4
    * blocks do not carry their decoded size — the container does). */
  def unlz4(p: Array[Byte], declaredLen: Int): Option[Array[Byte]] =
    Drain.guard(p) {
      require(declaredLen >= 0 && declaredLen <= MaxOutput)
      val out = lz4.safeDecompressor().decompress(p, declaredLen)
      require(out.length == declaredLen)
      out
    }

  // ------------------------------------------------------------------
  // LZ4 FRAME format (lz4_Frame_format.md) — the .lz4 FILE layer:
  // magic 0x184D2204, an xxHash32-checked frame descriptor, 4-byte-
  // LE-sized blocks (high bit = stored uncompressed), an EndMark, and
  // an optional content checksum; skippable frames (0x184D2A5x) skip
  // and frames concatenate.
  // ------------------------------------------------------------------

  /** Decode an LZ4 frame stream with the engine's own frame walk:
    * neither library on the classpath decodes liblz4's default
    * LINKED-block frames (pyarrow's LZ4_FRAME buffers among them) at
    * speed — lz4-java's frame reader refuses them and its block
    * decoders cannot reach into earlier output, and commons-compress
    * decodes them at a few MB/s. Blocks decode into one rolling buffer
    * (matches may reach back to the frame start in linked frames, to
    * the block start in independent ones); the descriptor, block and
    * content xxHash32 checksums are verified with lz4-java's XXHash32;
    * each frame's declared content size must match; skippable frames
    * skip but a stream of them alone is refused; legacy, dictionary-id
    * and reserved-bit frames are refused. */
  def unlz4Framed(p: Array[Byte]): Option[Array[Byte]] = Drain.guard(p) {
    var pos = 0
    var out = new Array[Byte](math.min(MaxOutput, math.max(1024, p.length * 4)))
    var o = 0
    def u8(): Int = { require(pos < p.length); val v = p(pos) & 0xFF; pos += 1; v }
    def u32(): Int = {
      require(pos + 4 <= p.length)
      val v = (p(pos) & 0xFF) | ((p(pos + 1) & 0xFF) << 8) | ((p(pos + 2) & 0xFF) << 16) |
        ((p(pos + 3) & 0xFF) << 24)
      pos += 4; v
    }
    def ensure(n: Int): Unit = if (o + n > out.length) {
      require(o.toLong + n <= MaxOutput)
      out = java.util.Arrays.copyOf(out,
        math.min(MaxOutput.toLong, math.max(out.length.toLong * 2, o.toLong + n)).toInt)
    }
    var sawFrame = false
    while (pos < p.length) {
      val magic = u32()
      if ((magic & 0xFFFFFFF0) == 0x184D2A50) { // skippable frame
        val size = u32()
        require(size >= 0 && size <= p.length - pos)
        pos += size
      } else {
        require(magic == 0x184D2204) // the legacy 0x184C2102 frame included
        sawFrame = true
        val descStart = pos
        val flg = u8()
        val bd = u8()
        require((flg >>> 6) == 1 && (flg & 0x03) == 0) // version 01; no reserved bit, no dict id
        val independent = (flg & 0x20) != 0
        val bChecksum = (flg & 0x10) != 0
        val cChecksum = (flg & 0x04) != 0
        val bmaxCode = (bd >>> 4) & 0x07
        require(bmaxCode >= 4 && (bd & 0x8F) == 0)
        val blockMax = 1 << (8 + 2 * bmaxCode) // 4→64 KiB … 7→4 MiB
        val contentSize =
          if ((flg & 0x08) == 0) -1L
          else {
            require(pos + 8 <= p.length)
            var v = 0L; var i = 0
            while (i < 8) { v |= (p(pos + i) & 0xFFL) << (8 * i); i += 1 }
            pos += 8; v
          }
        val hc = u8()
        require(((xxh32.hash(p, descStart, pos - 1 - descStart, 0) >>> 8) & 0xFF) == hc)
        val frameStart = o
        var size = u32()
        while (size != 0) {
          val len = size & 0x7FFFFFFF
          require(len <= blockMax && pos + len <= p.length)
          if ((size & 0x80000000) != 0) { // stored
            ensure(len)
            System.arraycopy(p, pos, out, o, len)
            o += len
          } else {
            ensure(blockMax)
            o = lz4BlockInto(p, pos, pos + len, out, o,
              floor = if (independent) o else frameStart, cap = o + blockMax)
          }
          pos += len
          if (bChecksum) require(xxh32.hash(p, pos - len, len, 0) == u32())
          size = u32()
        }
        if (cChecksum) require(xxh32.hash(out, frameStart, o - frameStart, 0) == u32())
        require(contentSize < 0 || contentSize == o - frameStart)
      }
    }
    require(sawFrame)
    java.util.Arrays.copyOf(out, o)
  }

  /** Decode one raw LZ4 block from p[from, until) APPENDING into `out`
    * at `o0`; matches may reach back to `floor` and the block may not
    * write past `cap`. Returns the new write position. */
  private def lz4BlockInto(p: Array[Byte], from: Int, until: Int,
      out: Array[Byte], o0: Int, floor: Int, cap: Int): Int = {
    var pos = from
    var o = o0
    def u8(): Int = { require(pos < until); val v = p(pos) & 0xFF; pos += 1; v }
    if (from == until) return o // empty block: no sequences
    var done = false
    while (!done) {
      val token = u8()
      var litLen = token >>> 4
      if (litLen == 15) { var b = 255; while (b == 255) { b = u8(); litLen += b } }
      require(pos + litLen <= until && o + litLen <= cap)
      System.arraycopy(p, pos, out, o, litLen)
      pos += litLen; o += litLen
      if (pos == until) done = true // last sequence: literals only
      else {
        val offset = u8() | (u8() << 8)
        var matchLen = (token & 0x0F) + 4
        if ((token & 0x0F) == 15) { var b = 255; while (b == 255) { b = u8(); matchLen += b } }
        require(offset > 0 && offset <= o - floor && o + matchLen <= cap)
        var i = 0
        while (i < matchLen) { out(o) = out(o - offset); o += 1; i += 1 }
      }
    }
    o
  }

  /** Framed writer for fixtures: a leading skippable frame, then one
    * frame with content size + both checksum layers, blocks
    * alternating STORED and compressed (literal-only). */
  def lz4Framed(data: Array[Byte], chunkSize: Int = 16384): Array[Byte] = {
    require(chunkSize >= 1 && chunkSize <= 65536)
    val bos = new java.io.ByteArrayOutputStream(data.length + 64)
    def w32(v: Int): Unit = { var j = 0; while (j < 4) { bos.write((v >> (8 * j)) & 0xFF); j += 1 } }
    w32(0x184D2A50); w32(3); bos.write(Array[Byte](9, 9, 9)) // skippable
    w32(0x184D2204)
    val desc = Array[Byte](0x7C.toByte, 0x40, // FLG: v01+indep+bsum+csize+csum; BD: 64 KiB
      0, 0, 0, 0, 0, 0, 0, 0)
    var i = 0
    while (i < 8) { desc(2 + i) = ((data.length.toLong >> (8 * i)) & 0xFF).toByte; i += 1 }
    bos.write(desc, 0, 10)
    bos.write((xxh32.hash(desc, 0, 10, 0) >>> 8) & 0xFF)
    i = 0
    var k = 0
    while (i < data.length) {
      val n = math.min(chunkSize, data.length - i)
      if (k % 2 == 0) {
        w32(n | 0x80000000) // stored
        bos.write(data, i, n)
        w32(xxh32.hash(data, i, n, 0))
      } else {
        val block = lz4Literal(java.util.Arrays.copyOfRange(data, i, i + n))
        w32(block.length)
        bos.write(block, 0, block.length)
        w32(xxh32.hash(block, 0, block.length, 0))
      }
      i += n
      k += 1
    }
    w32(0) // EndMark
    w32(xxh32.hash(data, 0, data.length, 0))
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark seam (the packTextZstd/decodeZstdText contract)
  // ------------------------------------------------------------------

  /** Per-doc blocks compressed by the REFERENCE libraries — snappy
    * for even ids, lz4 (fast/high alternating) for odd — with the
    * original byte length carried alongside (LZ4 blocks don't store
    * it, the container does; here the row is the container). */
  def packTextShort(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance()
        rows.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (id % 2 == 0)
            (id, "snappy", bytes.length.toLong, org.xerial.snappy.Snappy.compress(bytes))
          else {
            val comp = if (id % 4 == 1) lz4.fastCompressor() else lz4.highCompressor()
            (id, "lz4", bytes.length.toLong, comp.compress(bytes))
          }
        }
      }
      .toDF("id", "codec", "orig_len", "payload")
  }

  /** Decode back through [[unsnappy]] / [[unlz4]]; the quarantine
    * contract of the other codec seams. */
  def decodeShortText(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("codec"),
        org.apache.spark.sql.functions.col("orig_len"),
        org.apache.spark.sql.functions.col("payload"))
      .as[(Long, String, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, codec, origLen, payload) =>
        val decoded = codec match {
          case "snappy" => unsnappy(payload)
          case "lz4" => unlz4(payload, origLen.toInt)
          case _ => None
        }
        decoded match {
          case Some(bytes) => (id, codec, true, bytes.length.toLong,
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          case None => (id, codec, false, 0L, null: String)
        }
      })
      .toDF("id", "codec", "decoded", "n_bytes", "text")
  }

  /** FRAMED fixture packer (round 14): per-doc streams through the
    * INDEPENDENT reference frame writers — snappy-java's
    * SnappyFramedOutputStream on even ids, lz4-java's
    * LZ4FrameOutputStream on odd — so the gate decodes frames this
    * repo never wrote. */
  def packTextFramed(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bos = new java.io.ByteArrayOutputStream()
        if (id % 2 == 0) {
          val w = new org.xerial.snappy.SnappyFramedOutputStream(bos)
          w.write(bytes); w.close()
          (id, "snappy-framed", bos.toByteArray)
        } else {
          // smallest frame block covering the input: the parameterless
          // constructor declares 4 MB blocks, and LZ4FrameOutputStream
          // ALLOCATES+zeroes two block-sized heap buffers per instance
          // — ~8 MB of churn per ~300-byte document (thread dumps:
          // every executor in the constructor / Arrays.fill; the
          // bzip2/xz declared-size trap, round 18). Multi-block frames
          // for inputs > the chosen size decode identically; only the
          // BD byte + descriptor checksum differ, and the oracle
          // surface is the DECODED text.
          val bs =
            if (bytes.length <= 64 * 1024)
              net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB
            else if (bytes.length <= 256 * 1024)
              net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_256KB
            else if (bytes.length <= 1024 * 1024)
              net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_1MB
            else net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_4MB
          val w = new net.jpountz.lz4.LZ4FrameOutputStream(bos, bs)
          w.write(bytes); w.close()
          (id, "lz4-framed", bos.toByteArray)
        }
      })
      .toDF("id", "codec", "payload")
  }

  /** Decode framed streams back — the payloads carry no out-of-band
    * length (the frame layer owns it), so this also proves the frame
    * walk end to end. Codec re-derived by SNIFF, not trusted from
    * the column. */
  def decodeFramedText(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val codec = Sniff.detect(payload)
        val decoded = codec match {
          case "snappy-framed" => unsnappyFramed(payload)
          case "lz4-framed" => unlz4Framed(payload)
          case _ => None
        }
        decoded match {
          case Some(bytes) => (id, codec, true, bytes.length.toLong,
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          case None => (id, codec, false, 0L, null: String)
        }
      })
      .toDF("id", "codec", "decoded", "n_bytes", "text")
  }

  /** Spec-legal literal-only LZ4 block (one final sequence). */
  def lz4Literal(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length + 8)
    val lit = data.length
    if (lit < 15) bos.write(lit << 4)
    else {
      bos.write(15 << 4)
      var rest = lit - 15
      while (rest >= 255) { bos.write(255); rest -= 255 }
      bos.write(rest)
    }
    bos.write(data, 0, data.length)
    bos.toByteArray
  }
}
