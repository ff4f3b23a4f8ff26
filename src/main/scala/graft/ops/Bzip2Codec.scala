package graft.ops

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream

/** bzip2 — the block-sorting member of the compressed-text ladder,
  * and the format the largest public text corpora actually ship in
  * (Wikipedia dumps are `.xml.bz2`; `.tar.bz2` archives remain
  * common). Decoding goes through commons-compress (on the Spark
  * classpath) with concatenated streams enabled: `BZh1`-`BZh9`
  * headers, multi-block streams, every per-block CRC and the combined
  * stream CRC verified, trailing garbage refused. The engine itself
  * refuses empty input and caps the decoded size at [[MaxOutput]]
  * ([[Drain]]).
  *
  * Decode-only by design: bzip2 has no stored/literal mode (every
  * block is the full transform stack), so unlike gzip/zstd there is
  * no spec-trivial write side to offer; commons-compress is the
  * fixture encoder. Hostile-bytes contract as the whole ladder:
  * `None` on any malformed construct or CRC mismatch, never a throw.
  */
object Bzip2Codec {

  val MaxOutput: Int = 1 << 28

  // ------------------------------------------------------------------
  // Spark seam (the packTextZstd/decodeZstdText contract)
  // ------------------------------------------------------------------

  /** Per-doc .bz2 payloads compressed by commons-compress — the
    * independent encoder — with the block size cycling 1/5/9 by id. */
  def packTextBzip2(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val level = (id % 3) match { case 0 => 1; case 1 => 5; case _ => 9 }
        // cap the declared block size at what the input needs: the
        // encoder zeroes ~5 MB of work arrays per 100 kB of block
        // size at construction, so a 9-block for a 300-byte document
        // is pure allocation churn (the xz gate's LZMA2-dictionary
        // trap, commit 094a1ad; measured 55 s -> ~1 s at sf0.1 under
        // 32-way concurrency). A block only has to cover the input:
        // the DECODED output is identical for any block size >= input
        // length (the compressed bytes differ in the "BZh<digit>"
        // header digit — ADVICE r18 #3), so the gate's oracle surface
        // (decoded text, n_bytes, digest) is unchanged. Sub-100 kB
        // docs therefore all carry level-1 headers; 5/9-declared
        // streams are exercised by Bzip2Spec (which pins levels 1, 5
        // and 9) and by inputs larger than 100 kB, which keep the
        // id-cycled 1/5/9 contract.
        val cappedLevel = math.min(level, math.max(1L, (bytes.length + 99999L) / 100000L))
        val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        val z = new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorOutputStream(bos, cappedLevel.toInt)
        z.write(bytes); z.close()
        (id, bos.toByteArray)
      })
      .toDF("id", "payload")
  }

  /** Decode .bz2 payloads; quarantine contract as the other codec
    * seams. */
  def decodeBzip2Text(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
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

  def decode(p: Array[Byte]): Option[Array[Byte]] =
    Drain(p, MaxOutput)(in => new BZip2CompressorInputStream(in, true))
}
