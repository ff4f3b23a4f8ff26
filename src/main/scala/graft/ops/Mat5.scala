package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MATLAB Level-5 MAT-file reader — the third scientific container
  * beside [[Hdf5]] and [[Netcdf]] (round 15 continuation): the .mat
  * files scipy's `savemat`/`loadmat` and pre-7.3 MATLAB write.
  * Everything from the PUBLISHED "MAT-File Format" document
  * (MathWorks, the normative Level 5 description) alone. (7.3+
  * .mat files ARE HDF5 and already read through that walk.)
  *
  * Format: a 128-byte header (116 text + 8 subsys + u16 version +
  * the `IM`/`MI` endian indicator — BOTH endiannesses read), then
  * tagged data elements `[u32 type][u32 bytes][data pad-8]` with the
  * SMALL DATA ELEMENT packing (type's upper 16 bits = byte count,
  * payload inside the tag's second word) honored everywhere:
  *  - miCOMPRESSED (15): a zlib stream holding exactly one element,
  *    inflated through [[GzipCodec.unzlib]] (the JDK's zlib);
  *  - miMATRIX (14): array flags (class + the complex/logical bits),
  *    dimensions (miINT32), name (miINT8), real part — a NUMERIC
  *    storage element whose mi type may be NARROWER than the class
  *    (the format's integer down-packing), decoded by the STORAGE
  *    type. Numeric real matrices of every integer width and
  *    single/double surface; complex, sparse, char, cell, struct,
  *    object, and opaque arrays are skipped by omission (never
  *    guessed at).
  *
  * Values surface as doubles in the STORED (column-major) order with
  * the dims alongside — MATLAB's layout is part of the data's
  * meaning and silently transposing would corrupt row/column
  * semantics downstream.
  *
  * Hostile-bytes contract as everywhere: bounds-checked, capped
  * (64 arrays, 2^22 elements, rank ≤ 4), never throws.
  */
object Mat5 {

  final case class MatVar(name: String, className: String, dims: Seq[Long],
      values: Array[Double])

  private object Bad extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def bad(): Nothing = throw Bad

  private val ClassNames = Map(
    6 -> "double", 7 -> "single", 8 -> "int8", 9 -> "uint8",
    10 -> "int16", 11 -> "uint16", 12 -> "int32", 13 -> "uint32",
    14 -> "int64", 15 -> "uint64")

  private def miSize(t: Int): Int = t match {
    case 1 | 2 => 1 // INT8 / UINT8
    case 3 | 4 => 2 // INT16 / UINT16
    case 5 | 6 => 4 // INT32 / UINT32
    case 7 => 4 // SINGLE
    case 9 => 8 // DOUBLE
    case 12 | 13 => 8 // INT64 / UINT64
    case _ => bad()
  }

  private final class R(val b: Array[Byte], val be: Boolean) {
    def u16(i: Int): Int = {
      if (i < 0 || i + 2 > b.length) bad()
      if (be) ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
      else (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    }
    def u32(i: Int): Long = {
      if (i < 0 || i + 4 > b.length) bad()
      if (be) ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
      else (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
    }
    def word(i: Int, width: Int): Long = {
      if (i < 0 || i + width > b.length) bad()
      var v = 0L
      var k = 0
      while (k < width) {
        v = if (be) (v << 8) | (b(i + k) & 0xFFL)
        else v | ((b(i + k) & 0xFFL) << (8 * k))
        k += 1
      }
      v
    }
  }

  /** One element tag at `at`: (miType, dataStart, dataLen, next). */
  private def tag(r: R, at: Int): (Int, Int, Int, Int) = {
    val w0 = r.u32(at)
    val small = (w0 >>> 16).toInt
    if (small != 0) { // small data element: ≤ 4 bytes inline
      val t = (w0 & 0xFFFF).toInt
      if (small > 4) bad()
      (t, at + 4, small, at + 8)
    } else {
      val t = w0.toInt
      val len = r.u32(at + 4)
      if (len < 0 || len > Int.MaxValue - 8) bad()
      val next = at + 8 + ((len + 7) & ~7L).toInt
      (t, at + 8, len.toInt, next)
    }
  }

  private def decodeNumeric(r: R, t: Int, at: Int, len: Int, n: Int): Array[Double] = {
    val w = miSize(t)
    if (len < n.toLong * w) bad()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val bits = r.word(at + i * w, w)
      out(i) = t match {
        case 7 => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
        case 9 => java.lang.Double.longBitsToDouble(bits)
        case 1 | 3 | 5 | 12 => // signed widths
          val shift = 64 - w * 8
          ((bits << shift) >> shift).toDouble
        case _ => bits.toDouble // unsigned
      }
      i += 1
    }
    out
  }

  private def parseMatrix(r: R, at0: Int, end: Int,
      out: scala.collection.mutable.Builder[MatVar, Seq[MatVar]]): Unit = {
    // array flags: miUINT32 ×2
    val (ft, fAt, fLen, afterFlags) = tag(r, at0)
    if (ft != 6 || fLen < 8) bad()
    val flags = r.u32(fAt)
    val cls = (flags & 0xFF).toInt
    val complex = (flags & 0x0800) != 0
    // dimensions: miINT32
    val (dt, dAt, dLen, afterDims) = tag(r, afterFlags)
    if (dt != 5) bad()
    val rank = dLen / 4
    if (rank < 1 || rank > 4) bad()
    val dims = (0 until rank).map(i => r.u32(dAt + 4 * i))
    // name: miINT8
    val (nt, nAt, nLen, afterName) = tag(r, afterDims)
    if (nt != 1) bad()
    val name = new String(r.b, nAt, nLen, java.nio.charset.StandardCharsets.UTF_8)
    if (afterName > end) bad()
    ClassNames.get(cls) match {
      case Some(className) if !complex =>
        val n0 = dims.foldLeft(1L)(_ * _)
        if (n0 < 0 || n0 > (1L << 22)) bad()
        // real part: a numeric storage element (possibly narrower
        // than the class — decode by STORAGE type)
        val (rt, rAt, rLen, _) = tag(r, afterName)
        out += MatVar(name, className, dims,
          decodeNumeric(r, rt, rAt, rLen, n0.toInt))
      case _ => () // complex/sparse/char/cell/struct/…: skip, never guess
    }
  }

  def parse(bytes: Array[Byte]): Option[Seq[MatVar]] =
    try {
      if (bytes.length < 136) return None
      // endian indicator at 126: 'IM' little, 'MI' big
      val (be, ok) = (bytes(126).toChar, bytes(127).toChar) match {
        case ('I', 'M') => (false, true)
        case ('M', 'I') => (true, true)
        case _ => (false, false)
      }
      if (!ok) return None
      val r = new R(bytes, be)
      if (r.u16(124) != 0x0100) return None // version
      val out = Seq.newBuilder[MatVar]
      var at = 128
      var count = 0
      while (at + 8 <= bytes.length) {
        count += 1
        if (count > 64) bad()
        val (t, dAt, dLen, next) = tag(r, at)
        t match {
          case 14 => parseMatrix(r, dAt, dAt + dLen, out)
          case 15 => // miCOMPRESSED: one zlib-wrapped element
            val plain = GzipCodec.unzlib(
              java.util.Arrays.copyOfRange(bytes, dAt, dAt + dLen)).getOrElse(bad())
            val r2 = new R(plain, be)
            val (t2, dAt2, dLen2, _) = tag(r2, 0)
            if (t2 == 14) parseMatrix(r2, dAt2, dAt2 + dLen2, out)
          // anything else at top level: skip the element
          case _ => ()
        }
        at = next
      }
      Some(out.result().sortBy(_.name))
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
    }

  /** One row per numeric real array: (id, name, class, dims,
    * n_values, values in stored column-major order). */
  def decodeVars(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(coalesce(col(idCol).cast("long"), lit(0L)), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        parse(if (payload == null) Array.emptyByteArray else payload)
          .getOrElse(Seq.empty)
          .map(v => (id, v.name, v.className,
            v.dims.mkString("[", ",", "]"), v.values.length.toLong, v.values))
      }
      .toDF("id", "name", "class", "dims", "n_values", "values")
  }

  // ------------------------------------------------------------ builder

  /** Spec-legal builder (fixture side): little-endian by default,
    * big-endian when `be`; `compress` wraps the matrix in a
    * miCOMPRESSED element via the JDK's zlib (the independent
    * encoder). */
  private[graft] def buildMatrix(name: String, cls: Int, storageT: Int,
      dims: Seq[Int], values: Seq[Double], be: Boolean): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (be) { o.write((v >> 8) & 0xFF); o.write(v & 0xFF) }
      else { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit =
      if (be) { w16(((v >> 16) & 0xFFFF).toInt); w16((v & 0xFFFF).toInt) }
      else { w16((v & 0xFFFF).toInt); w16(((v >> 16) & 0xFFFF).toInt) }
    def word(v: Long, width: Int): Unit = {
      var k = 0
      while (k < width) {
        val shift = if (be) 8 * (width - 1 - k) else 8 * k
        o.write(((v >> shift) & 0xFF).toInt)
        k += 1
      }
    }
    def pad8(): Unit = while (o.size() % 8 != 0) o.write(0)
    // array flags element
    w32(6L); w32(8L); w32(cls.toLong); w32(0L)
    // dimensions
    w32(5L); w32(4L * dims.length)
    dims.foreach(d => w32(d.toLong))
    pad8()
    // name
    val nb = name.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (nb.length <= 4) { // small data element
      if (be) { w16(nb.length); w16(1) } else { w16(1); w16(nb.length) }
      o.write(nb)
      (nb.length until 4).foreach(_ => o.write(0))
    } else {
      w32(1L); w32(nb.length.toLong); o.write(nb); pad8()
    }
    // real part by STORAGE type
    val w = storageT match {
      case 1 | 2 => 1; case 3 | 4 => 2; case 5 | 6 => 4
      case 7 => 4; case 9 => 8; case 12 | 13 => 8
    }
    w32(storageT.toLong); w32((values.length * w).toLong)
    values.foreach { v =>
      val bits: Long = storageT match {
        case 7 => java.lang.Float.floatToIntBits(v.toFloat).toLong & 0xFFFFFFFFL
        case 9 => java.lang.Double.doubleToLongBits(v)
        case _ => v.toLong
      }
      word(bits, w)
    }
    pad8()
    val body = o.toByteArray
    // wrap in the miMATRIX tag
    val out = new java.io.ByteArrayOutputStream()
    def w32o(v: Long): Unit = {
      if (be) { out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
        out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt) }
      else { out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
        out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt) }
    }
    w32o(14L); w32o(body.length.toLong)
    out.write(body)
    out.toByteArray
  }

  /** Build a whole .mat file holding `elements` (already-tagged
    * matrix bytes), optionally each zlib-compressed. */
  private[graft] def buildFile(elements: Seq[Array[Byte]], be: Boolean,
      compress: Boolean): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val text = "MATLAB 5.0 MAT-file, graft fixture".getBytes("US-ASCII")
    o.write(text, 0, math.min(text.length, 116))
    (o.size() until 124).foreach(_ => o.write(' '))
    if (be) { o.write(1); o.write(0); o.write('M'); o.write('I') }
    else { o.write(0); o.write(1); o.write('I'); o.write('M') }
    elements.foreach { el =>
      if (!compress) o.write(el)
      else {
        val deflater = new java.util.zip.Deflater(6, false)
        deflater.setInput(el); deflater.finish()
        // loop until finished(): an incompressible element can exceed
        // any fixed slack, and a single deflate() call would silently
        // truncate the miCOMPRESSED stream
        val grow = new java.io.ByteArrayOutputStream(el.length + 64)
        val chunk = new Array[Byte](8192)
        while (!deflater.finished()) {
          val k = deflater.deflate(chunk)
          grow.write(chunk, 0, k)
        }
        deflater.end()
        val buf = grow.toByteArray
        val m = buf.length
        def w32(v: Long): Unit =
          if (be) { o.write(((v >> 24) & 0xFF).toInt); o.write(((v >> 16) & 0xFF).toInt)
            o.write(((v >> 8) & 0xFF).toInt); o.write((v & 0xFF).toInt) }
          else { o.write((v & 0xFF).toInt); o.write(((v >> 8) & 0xFF).toInt)
            o.write(((v >> 16) & 0xFF).toInt); o.write(((v >> 24) & 0xFF).toInt) }
        w32(15L); w32(m.toLong)
        o.write(buf, 0, m)
        while (o.size() % 8 != 0) o.write(0)
      }
    }
    o.toByteArray
  }

  /** Gate packer: per document, a 3×4 double matrix "A" (column-
    * major plant), an int16-STORED 5-vector "b" (the down-packed
    * storage path), and a single-precision 2×3 "c"; id%2 selects
    * miCOMPRESSED wrapping, id%3==2 selects big-endian. */
  def packDocsMat(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df.where(col(idCol).isNotNull))
      .select(coalesce(col(idCol).cast("long"), lit(0L)))
      .as[Long]
      .mapPartitions(_.map { id =>
        val be = id % 3 == 2
        val a = buildMatrix("A", 6, 9, Seq(3, 4),
          (0 until 12).map(i => ((id + i) % 23 - 11) * 0.25), be)
        val bvec = buildMatrix("b", 10, 3, Seq(5, 1),
          (0 until 5).map(i => ((id + i) % 301 - 150).toDouble), be)
        val c = buildMatrix("c", 7, 7, Seq(2, 3),
          (0 until 6).map(i => ((id + i) % 17 - 8) * 0.25), be)
        (id, buildFile(Seq(a, bvec, c), be, compress = id % 2 == 1))
      })
      .toDF("id", "payload")
  }
}
