package graft

import graft.ops.{Bzip2Codec, GzipCodec, ShortCodecs, XzCodec, ZstdCodec}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, OutputStream}

/** The decompression-bomb defence: every decoder refuses, with `None`
  * and no throw, a small stream whose output passes its cap. Each bomb
  * repeats one compressed unit of zeros (gzip members, zstd/lz4
  * frames, xz/bzip2 streams, snappy chunks, LZ77 matches) until the
  * decoded size is one unit past the cap, so no fixture needs the
  * decoded bytes in memory to build.
  */
class CodecCapSpec extends AnyFunSuite {

  private val Unit1M = 1 << 20

  /** `unit` (decoding to `unitOut` bytes) repeated until the total
    * passes `cap`. */
  private def repeated(unit: Array[Byte], unitOut: Int, cap: Int): Array[Byte] = {
    val n = cap / unitOut + 1
    val out = new Array[Byte](unit.length * n)
    var i = 0
    while (i < n) { System.arraycopy(unit, 0, out, i * unit.length, unit.length); i += 1 }
    out
  }

  /** What `wrap` encodes from `n` zero bytes, written 1 MiB at a time. */
  private def zerosThrough(n: Long)(wrap: OutputStream => OutputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = wrap(bos)
    val chunk = new Array[Byte](Unit1M)
    var left = n
    while (left > 0) { val k = math.min(left, Unit1M.toLong).toInt; z.write(chunk, 0, k); left -= k }
    z.close()
    bos.toByteArray
  }

  private def mib(wrap: OutputStream => OutputStream): Array[Byte] = zerosThrough(Unit1M)(wrap)

  private def deflated(n: Long, nowrap: Boolean): Array[Byte] =
    zerosThrough(n)(o => new java.util.zip.DeflaterOutputStream(o,
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION, nowrap), 1 << 16))

  /** A valid raw snappy block of `n` zeros: one literal, then 64-byte
    * copies at offset 1 (3 bytes each), then the remainder. */
  private def snappyZeros(n: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream(n / 20)
    var v = n
    while ((v & ~0x7F) != 0) { bos.write((v & 0x7F) | 0x80); v >>>= 7 }
    bos.write(v)
    bos.write(0); bos.write(0) // literal of length 1: a zero byte
    var left = n - 1
    while (left > 0) {
      val k = math.min(left, 64)
      if (k >= 4) { bos.write(((k - 1) << 2) | 2); bos.write(1); bos.write(0); left -= k }
      else { bos.write(0); bos.write(0); left -= 1 }
    }
    bos.toByteArray
  }

  private val cases: Seq[(String, Int, () => Array[Byte], Array[Byte] => Option[Array[Byte]])] = Seq(
    ("gzip members", GzipCodec.MaxOutput,
      () => repeated(mib(new java.util.zip.GZIPOutputStream(_)), Unit1M, GzipCodec.MaxOutput),
      GzipCodec.gunzip),
    ("zlib stream", GzipCodec.MaxOutput,
      () => deflated(GzipCodec.MaxOutput + 1L, nowrap = false), GzipCodec.unzlib),
    ("raw deflate stream", GzipCodec.MaxOutput,
      () => deflated(GzipCodec.MaxOutput + 1L, nowrap = true), GzipCodec.inflate),
    ("zstd frames", ZstdCodec.MaxOutput,
      () => repeated(com.github.luben.zstd.Zstd.compress(new Array[Byte](Unit1M)), Unit1M,
        ZstdCodec.MaxOutput),
      ZstdCodec.decode(_: Array[Byte])),
    ("xz streams", XzCodec.MaxOutput,
      () => repeated(mib(o => new org.tukaani.xz.XZOutputStream(o, new org.tukaani.xz.LZMA2Options(0))),
        Unit1M, XzCodec.MaxOutput),
      XzCodec.decode),
    ("lzma alone (caller cap)", 4 * Unit1M,
      () => zerosThrough(4L * Unit1M + 1)(o =>
        new org.tukaani.xz.LZMAOutputStream(o, new org.tukaani.xz.LZMA2Options(0), -1L)),
      XzCodec.decodeLzmaAlone(_, 4 * Unit1M)),
    ("bzip2 streams", Bzip2Codec.MaxOutput,
      () => repeated(mib(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_, 9)),
        Unit1M, Bzip2Codec.MaxOutput),
      Bzip2Codec.decode),
    ("snappy block", ShortCodecs.MaxOutput,
      () => snappyZeros(ShortCodecs.MaxOutput + 1), ShortCodecs.unsnappy),
    ("snappy framed chunks", ShortCodecs.MaxOutput,
      () => {
        // stream identifier + one 64 KiB compressed chunk, the chunk repeated
        val one = zerosThrough(1 << 16)(new org.xerial.snappy.SnappyFramedOutputStream(_))
        one.take(10) ++ repeated(one.drop(10), 1 << 16, ShortCodecs.MaxOutput)
      },
      ShortCodecs.unsnappyFramed),
    ("lz4 block (declared size)", ShortCodecs.MaxOutput,
      () => net.jpountz.lz4.LZ4Factory.safeInstance().fastCompressor().compress(new Array[Byte](Unit1M)),
      ShortCodecs.unlz4(_, ShortCodecs.MaxOutput + 1)),
    ("lz4 frames", ShortCodecs.MaxOutput,
      () => repeated(mib(new net.jpountz.lz4.LZ4FrameOutputStream(_)), Unit1M, ShortCodecs.MaxOutput),
      ShortCodecs.unlz4Framed)
  )

  for ((name, cap, bomb, decode) <- cases)
    test(s"output cap: $name past the cap returns None without throwing") {
      val b = bomb()
      assert(b.length < cap / 16, s"$name bomb is ${b.length} bytes, not small")
      assert(decode(b).isEmpty, s"$name decoded past its cap of $cap bytes")
    }
}
