package graft.ops

import com.github.luben.zstd.{RecyclingBufferPool, ZstdDictDecompress, ZstdInputStreamNoFinalizer}

/** Zstandard (RFC 8878) — the compressed-TEXT rung of the codec
  * ladder: real LLM corpora ship as `.zst` (jsonl.zst / warc.zst).
  * Decoding goes through zstd-jni, the library Spark itself ships
  * for parquet/shuffle compression: the full frame format, content
  * checksums verified, skippable frames skipped, multi-frame inputs
  * concatenated, and dictionary frames decoded against a matching
  * [[Dictionary]]. The engine itself refuses empty input and caps the
  * decoded size at [[MaxOutput]] ([[Drain]]), and refuses a structured
  * dictionary with the reserved id 0.
  *
  * Encoder scope: a spec-legal store-mode encoder (raw blocks, RLE
  * blocks for constant runs, single-segment header, content
  * checksum) — enough to WRITE valid `.zst` any decoder accepts;
  * entropy-coded encoding is zstd-jni's job.
  *
  * Hostile-bytes contract as everywhere in this package: `None`
  * rather than a guess on any malformed frame, checksum mismatch,
  * truncation, trailing garbage, or missing/wrong dictionary.
  */
object ZstdCodec {

  /** Hard cap on total decoded output (all frames) — hostile frames
    * declare absurd sizes; a curation pipeline's documents are far
    * below this. */
  val MaxOutput: Int = 1 << 28

  private val BlockMax = 1 << 17 // 128 KiB: Block_Maximum_Size ceiling

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 3) & 0xFFL) << 24)

  /** Decompress every frame in `p` and concatenate. None on anything
    * malformed, any checksum mismatch, trailing garbage, dictionary
    * references, or output beyond [[MaxOutput]]. */
  def decode(p: Array[Byte]): Option[Array[Byte]] = decode(p, None)

  /** Decode with an optional dictionary: frames that declare a
    * Dictionary_ID require the dictionary with that id; a raw-content
    * dictionary is reachable as window prefix. */
  def decode(p: Array[Byte], dict: Option[Dictionary]): Option[Array[Byte]] =
    Drain(p, MaxOutput) { in =>
      val z = new ZstdInputStreamNoFinalizer(in, RecyclingBufferPool.INSTANCE)
      try { dict.foreach(d => z.setDict(d.ddict)); z }
      catch { case e: Throwable => z.close(); throw e }
    }

  /** A zstd dictionary accepted by the decoder — opaque outside this
    * object. A STRUCTURED dictionary (magic 0xEC30A437) carries an id
    * and entropy tables ahead of its content; a RAW-content
    * dictionary is bare prefix bytes with id 0. It holds zstd-jni's
    * digested form, so the entropy tables are built once per
    * dictionary, not once per frame. `contentSize` is the size of the
    * dictionary in bytes; for a raw-content dictionary all of it is
    * window content. */
  final class Dictionary private[ZstdCodec] (val dictId: Long, val contentSize: Int,
      private[ZstdCodec] val ddict: ZstdDictDecompress)

  private val DictMagic = 0xEC30A437L

  /** Parse dictionary bytes: the structured format when the magic
    * leads, else a raw-content dictionary (the zstd convention).
    * None on a malformed structured dictionary — zstd-jni digests it
    * here, so decode never meets a corrupt one. */
  def parseDictionary(b: Array[Byte]): Option[Dictionary] =
    if (b == null || b.length == 0) None
    else {
      val structured = b.length >= 8 && le32(b, 0) == DictMagic
      if (structured && le32(b, 4) == 0) None // the spec reserves 0 for "no dictionary"
      else
        try Some(new Dictionary(if (structured) le32(b, 4) else 0L, b.length, new ZstdDictDecompress(b)))
        catch { case scala.util.control.NonFatal(_) => None }
    }

  // ------------------------------------------------------------------
  // store-mode encoder
  // ------------------------------------------------------------------

  /** Spec-legal zstd frame writer: single-segment header with exact
    * frame content size, XXH64 content checksum, raw blocks (RLE
    * blocks for ≥ 32-byte constant runs aligned to block starts).
    * Output is valid input for ANY zstd decoder; compression is the
    * ecosystem encoder's job (see the class doc). */
  def encode(data: Array[Byte]): Array[Byte] = {
    val xxh64 = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()
    val outBuf = new java.io.ByteArrayOutputStream(data.length + 32)
    def w8(v: Int): Unit = outBuf.write(v & 0xFF)
    def wle(v: Long, n: Int): Unit = { var k = 0; while (k < n) { w8((v >> (8 * k)).toInt); k += 1 } }
    wle(0xFD2FB528L, 4)
    // FHD: single-segment + checksum + FCS field sized to the content
    val fcsFlag =
      if (data.length <= 255) 0
      else if (data.length.toLong - 256 <= 0xFFFF) 1
      else 2
    w8((fcsFlag << 6) | 0x20 | 0x04)
    fcsFlag match {
      case 0 => wle(data.length.toLong, 1)
      case 1 => wle(data.length.toLong - 256, 2)
      case 2 => wle(data.length.toLong, 4)
    }
    var pos = 0
    val maxRaw = BlockMax
    if (data.length == 0) {
      // a frame must contain at least one block: an empty raw last block
      wle(1L, 3)
    }
    while (pos < data.length) {
      // constant-run probe: RLE block when the next stretch repeats
      var run = pos
      val b0 = data(pos)
      while (run < data.length && run - pos < maxRaw && data(run) == b0) run += 1
      if (run - pos >= 32) {
        val n = run - pos
        val last = run == data.length
        wle(((n.toLong << 3) | 2L | (if (last) 1L else 0L)), 3)
        w8(b0)
        pos = run
      } else {
        val n = math.min(maxRaw, data.length - pos)
        val last = pos + n == data.length
        wle(((n.toLong << 3) | 0L | (if (last) 1L else 0L)), 3)
        outBuf.write(data, pos, n)
        pos += n
      }
    }
    wle(xxh64.hash(data, 0, data.length, 0L) & 0xFFFFFFFFL, 4)
    outBuf.toByteArray
  }

  // ------------------------------------------------------------------
  // dictionary Spark seams
  // ------------------------------------------------------------------

  /** Gate packer: each document's text compressed by zstd-jni at
    * level 19 against a per-row RAW-CONTENT dictionary built from the
    * text's own prefix, so every frame leans on its dictionary
    * window. (id, dict, payload). Structured (trained) dictionaries
    * are pinned in ZstdSpec with ZstdDictTrainer. */
  def packTextZstdDict(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val dict = java.util.Arrays.copyOfRange(bytes, 0,
          math.min(bytes.length, 256 + (id % 7).toInt * 32))
        val cctx = new com.github.luben.zstd.ZstdCompressCtx()
        try {
          cctx.setLevel(19)
          if (dict.nonEmpty) cctx.loadDict(dict)
          (id, dict, cctx.compress(bytes))
        } finally cctx.close()
      })
      .toDF("id", "dict", "payload")
  }

  /** Decode (payload, dictionary) rows: (id, decoded, n_bytes,
    * text). A null/empty dictionary column decodes dictionary-free;
    * refused payloads keep their row with decoded=false (the
    * quarantine contract). */
  def decodeDictText(df: org.apache.spark.sql.DataFrame, idCol: String,
      payloadCol: String, dictCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(idCol).cast("long"), col(payloadCol), col(dictCol))
      .as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions { rows =>
        // dictionaries repeat across rows (one trained dict per
        // corpus shard is the real-world shape): memoize the parse.
        // Compared by CONTENT — each deserialized row materializes a
        // fresh array, so a reference compare would never hit.
        var lastRef: Array[Byte] = null
        var lastParsed: Option[Dictionary] = None
        rows.map { case (id, payload, dictBytes) =>
          val dict =
            if (dictBytes == null || dictBytes.isEmpty) None
            else if (lastRef != null && java.util.Arrays.equals(dictBytes, lastRef)) lastParsed
            else {
              lastParsed.foreach(_.ddict.close()) // only this memo holds it
              lastRef = dictBytes
              lastParsed = parseDictionary(dictBytes)
              lastParsed
            }
          ZstdCodec.decode(if (payload == null) Array.emptyByteArray else payload, dict) match {
            case Some(bytes) =>
              (id, true, bytes.length.toLong,
                new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            case None => (id, false, 0L, null: String)
          }
        }
      }
      .toDF("id", "decoded", "n_bytes", "text")
  }
}
