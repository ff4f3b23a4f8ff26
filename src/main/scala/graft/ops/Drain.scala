package graft.ops

import java.io.{ByteArrayInputStream, InputStream}
import scala.util.control.NonFatal

/** The hostile-bytes contract of the library-backed decoders
  * ([[ZstdCodec]], [[XzCodec]], [[Bzip2Codec]], [[GzipCodec]],
  * [[ShortCodecs]]), kept in one place. A decode of untrusted bytes
  * returns `None` and never throws; empty input is refused (an empty
  * stream is not a valid frame in any of these formats, though some
  * libraries read it as zero frames); and output past the codec's
  * cap is refused. Library streams inflate without limit, so this
  * copy loop is the whole decompression-bomb defence.
  */
private[ops] object Drain {

  /** Decode `p` through the stream `open` wraps around it, copying at
    * most `max` bytes. */
  def apply(p: Array[Byte], max: Int)(open: InputStream => InputStream): Option[Array[Byte]] =
    if (p == null || p.isEmpty) None
    else stream(max, 4L * p.length)(open(new ByteArrayInputStream(p)))

  /** Copy at most `max` bytes out of the stream `open` makes, then
    * close it; the first buffer is sized to `sizeHint` bytes. */
  def stream(max: Int, sizeHint: Long)(open: => InputStream): Option[Array[Byte]] =
    try {
      val in = open
      try copy(in, max, sizeHint) finally in.close()
    } catch { case NonFatal(_) => None }

  /** The contract for a decoder that returns its whole output at once
    * (and checks the cap itself before it allocates). */
  def guard(p: Array[Byte])(decode: => Array[Byte]): Option[Array[Byte]] =
    if (p == null || p.isEmpty) None
    else try Some(decode) catch { case NonFatal(_) => None }

  private def copy(in: InputStream, max: Int, sizeHint: Long): Option[Array[Byte]] = {
    val limit = max.toLong + 1 // one byte past the cap proves the overflow
    var buf = new Array[Byte](math.min(limit, math.max(8192L, sizeHint)).toInt)
    var n = 0
    var r = in.read(buf, 0, buf.length)
    while (r >= 0) {
      n += r
      if (n > max) return None
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, math.min(limit, n * 2L).toInt)
      r = in.read(buf, n, buf.length - n)
    }
    Some(if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n))
  }
}
