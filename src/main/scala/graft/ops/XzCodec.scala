package graft.ops

import org.tukaani.xz.{BasicArrayCache, LZMAInputStream, XZInputStream}

/** XZ / LZMA2 and the legacy `.lzma` container — the last of the
  * big-four archive codecs (.tar.xz release tarballs, HF dataset
  * shards, kernel sources). Decoding goes through XZ for Java
  * (org.tukaani.xz, on the Spark classpath): stream header/footer and
  * index cross-checks, every flag and header CRC32, the per-block
  * integrity check in all four check types (None, CRC32, CRC64,
  * SHA-256), and multi-stream concatenation with 4-aligned stream
  * padding. The engine itself refuses empty input, caps the decoded
  * size at [[MaxOutput]] ([[Drain]]), and bounds the LZMA dictionary
  * a header may ask the decoder to allocate by the same cap.
  *
  * Decode-only, like [[Bzip2Codec]]: XZ for Java is also the fixture
  * encoder. Hostile-bytes contract as the whole ladder: `None` on any
  * malformed construct or failed check, never a throw.
  */
object XzCodec {

  val MaxOutput: Int = 1 << 28

  /** Decoder memory limit in KiB: a header declaring a dictionary
    * larger than the output cap is refused before allocation. */
  private val MemLimitKiB = MaxOutput >> 10

  /** Reuses the dictionary buffers across decodes: a stream's LZMA
    * dictionary (8 MiB at the default preset) would otherwise be
    * allocated and zeroed for every payload, however small. */
  private def cache = BasicArrayCache.getInstance()

  // ------------------------------------------------------------------
  // Spark seam (the packTextZstd/decodeZstdText contract)
  // ------------------------------------------------------------------

  /** Per-doc .xz payloads compressed by XZ for Java — the
    * independent encoder — preset cycling 0/6/9 and the check type
    * cycling CRC32/CRC64/SHA-256 by id, so one corpus exercises
    * every chunk shape and every integrity path. */
  def packTextXz(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val preset = (id % 3) match { case 0 => 0; case 1 => 6; case _ => 9 }
        val check = (id % 3) match {
          case 0 => org.tukaani.xz.XZ.CHECK_CRC32
          case 1 => org.tukaani.xz.XZ.CHECK_CRC64
          case _ => org.tukaani.xz.XZ.CHECK_SHA256
        }
        val opts = new org.tukaani.xz.LZMA2Options(preset.toInt)
        // cap the dictionary at the input size: presets 6/9 otherwise
        // allocate-and-zero 8-64 MiB PER DOCUMENT (measured 90 ms/doc
        // vs 1.3 ms capped — the per-call-allocation trap again);
        // spec-legal since the dict only bounds match distances
        opts.setDictSize(math.max(1 << 12, math.min(1 << 20,
          java.lang.Integer.highestOneBit(math.max(1, bytes.length)) << 1)))
        val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        val z = new org.tukaani.xz.XZOutputStream(bos, opts, check)
        z.write(bytes); z.close()
        (id, bos.toByteArray)
      })
      .toDF("id", "payload")
  }

  /** Decode .xz payloads; quarantine contract as the other codec
    * seams. */
  def decodeXzText(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        decode(payload) match {
          case Some(bytes) => (id, true, bytes.length.toLong,
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          case None => (id, false, 0L, null: String)
        }
      })
      .toDF("id", "decoded", "n_bytes", "text")
  }

  /** The legacy `.lzma` ALONE format (the pre-xz container 7-Zip and
    * old release tarballs still carry): 1 props byte, LE32 dictionary
    * size, LE64 uncompressed size (all-FF = unknown → decode to the
    * end-of-stream marker), then one raw LZMA1 stream. */
  def decodeLzmaAlone(p: Array[Byte], maxOut: Int = MaxOutput): Option[Array[Byte]] =
    Drain(p, maxOut)(in => new LZMAInputStream(in, MemLimitKiB, cache))

  /** Per-doc `.lzma` payloads written by XZ for Java's own
    * LZMAOutputStream (the independent encoder): even ids the
    * known-size header, odd ids the streamed unknown-size form with
    * the end marker — both termination disciplines in one corpus. */
  def packTextLzma(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val opts = new org.tukaani.xz.LZMA2Options(1)
        opts.setDictSize(math.max(1 << 12, math.min(1 << 20,
          java.lang.Integer.highestOneBit(math.max(1, bytes.length)) << 1)))
        val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        val z =
          if (id % 2 == 0) new org.tukaani.xz.LZMAOutputStream(bos, opts, bytes.length.toLong)
          else new org.tukaani.xz.LZMAOutputStream(bos, opts, -1L) // unknown size + marker
        z.write(bytes); z.close()
        (id, bos.toByteArray)
      })
      .toDF("id", "payload")
  }

  /** Decode `.lzma` payloads; quarantine contract as the other codec
    * seams. */
  def decodeLzmaText(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        decodeLzmaAlone(payload) match {
          case Some(bytes) => (id, true, bytes.length.toLong,
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          case None => (id, false, 0L, null: String)
        }
      })
      .toDF("id", "decoded", "n_bytes", "text")
  }

  def decode(p: Array[Byte]): Option[Array[Byte]] =
    Drain(p, MaxOutput)(in => new XZInputStream(in, MemLimitKiB, cache))
}
