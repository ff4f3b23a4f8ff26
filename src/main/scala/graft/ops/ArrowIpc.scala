package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Apache Arrow IPC reader/writer — the columnar interchange rung of
  * the tensor tier (round 15): embedding shards and feature tables
  * increasingly ship as Arrow streams/files. Everything below is
  * from the PUBLISHED formats alone: the Arrow columnar spec
  * (arrow.apache.org/docs/format/Columnar.html — encapsulated
  * message framing, validity bitmaps, buffer layouts per type) and
  * the FlatBuffers wire format (google.github.io/flatbuffers/
  * — root uoffset, vtables, back-to-front construction), with the
  * frozen field/union orders of Schema.fbs / Message.fbs.
  * The reference repo has no analogue (`main.py` is row-JSON only).
  *
  * Framing: `[0xFFFFFFFF continuation][int32 LE metadata size]
  * [Message flatbuffer, padded to 8][body]`, EOS = size 0; the
  * pre-1.0 unmarked framing (no continuation word) also reads. The
  * file wrapper (`ARROW1\0\0` magic) is accepted by skipping the
  * magic — stream messages are self-describing, the footer is
  * redundant for a full scan.
  *
  * Column types decoded: Int (8/16/32/64, signed/unsigned), Float32/
  * Float64, Utf8, and List/FixedSizeList of Float32 (the embedding
  * shapes). Dictionary-encoded top-level columns read too (round 15
  * continuation): the Field's DictionaryEncoding (id + index width),
  * DictionaryBatch messages decoded against the field's VALUE type,
  * delta batches appended and replacements replacing in stream
  * order, record-batch index columns resolved with hard bounds
  * checks. Body compression reads per the BodyCompression member of
  * RecordBatch: codec LZ4_FRAME or ZSTD, method BUFFER, each buffer
  * `[int64 uncompressed length][compressed bytes]` with the spec's
  * -1 raw-passthrough marker — decompressed by the engine's codecs
  * ([[ShortCodecs.unlz4Framed]], whose own frame walk decodes the
  * linked-block frames liblz4 writes by default, and
  * [[ZstdCodec.decode]] through zstd-jni), so pyarrow's default feather-v2
  * (LZ4-compressed Arrow file) layout reads through this walk. Everything else — nested dictionaries,
  * other codecs/methods, other types — REFUSES by name: silently
  * misreading a column beats nothing only if it is right.
  *
  * Scale shape: pure bytes→rows functions inside `mapPartitions`
  * (the safetensors/NPZ seam); a shard decodes where it lands, no
  * driver involvement, no shared state.
  */
object ArrowIpc {

  private object Bad extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def bad(): Nothing = throw Bad

  // ------------------------------------------------------------ flatbuffer read

  private final class Buf(val b: Array[Byte]) {
    def u8(p: Int): Int = { if (p < 0 || p >= b.length) bad(); b(p) & 0xFF }
    def u16(p: Int): Int = u8(p) | (u8(p + 1) << 8)
    def i32(p: Int): Int = u16(p) | (u16(p + 2) << 16)
    def i64(p: Int): Long = (i32(p) & 0xFFFFFFFFL) | (i32(p + 4).toLong << 32)
  }

  /** One flatbuffer table: vtable-indirected field access. Slot
    * numbering is the .fbs field order (unions take two slots). */
  private final class Tab(val buf: Buf, val pos: Int) {
    private val vt = pos - buf.i32(pos)
    private val vtSize = buf.u16(vt)
    def fieldPos(slot: Int): Int = {
      val o = 4 + 2 * slot
      if (o + 2 > vtSize) 0
      else {
        val fo = buf.u16(vt + o)
        if (fo == 0) 0 else pos + fo
      }
    }
    def i8(slot: Int, dflt: Int): Int = {
      val p = fieldPos(slot); if (p == 0) dflt else buf.u8(p)
    }
    def i16(slot: Int, dflt: Int): Int = {
      val p = fieldPos(slot); if (p == 0) dflt
      else (buf.u16(p) << 16) >> 16
    }
    def i32f(slot: Int, dflt: Int): Int = {
      val p = fieldPos(slot); if (p == 0) dflt else buf.i32(p)
    }
    def i64f(slot: Int, dflt: Long): Long = {
      val p = fieldPos(slot); if (p == 0) dflt else buf.i64(p)
    }
    def bool(slot: Int): Boolean = i8(slot, 0) != 0
    def indirect(slot: Int): Int = {
      val p = fieldPos(slot); if (p == 0) 0 else p + buf.i32(p)
    }
    def table(slot: Int): Option[Tab] = {
      val p = indirect(slot); if (p == 0) None else Some(new Tab(buf, p))
    }
    def string(slot: Int): Option[String] = {
      val p = indirect(slot)
      if (p == 0) None
      else {
        val len = buf.i32(p)
        if (len < 0 || p + 4 + len > buf.b.length) bad()
        Some(new String(buf.b, p + 4, len, java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    /** (element base position, length) of a vector field. */
    def vector(slot: Int): Option[(Int, Int)] = {
      val p = indirect(slot)
      if (p == 0) None else Some((p + 4, buf.i32(p)))
    }
  }

  // ------------------------------------------------------------ schema model

  sealed trait ColType { def label: String }
  final case class TInt(bits: Int, signed: Boolean) extends ColType {
    def label = s"${if (signed) "int" else "uint"}$bits"
  }
  final case class TFloat(bits: Int) extends ColType { def label = s"float$bits" }
  case object TUtf8 extends ColType { def label = "utf8" }
  final case class TFixedList(size: Int, child: ColType) extends ColType {
    def label = s"fixed_size_list<${child.label}>[$size]"
  }
  final case class TList(child: ColType) extends ColType {
    def label = s"list<${child.label}>"
  }
  /** A field's dictionary declaration: the shared dictionary id and
    * the integer width its record-batch index column uses. */
  final case class Dict(id: Long, indexType: TInt)
  final case class Col(name: String, tpe: ColType, dict: Option[Dict] = None)

  // Type union member ids (Schema.fbs, frozen order)
  private val TypeInt = 2
  private val TypeFloat = 3
  private val TypeUtf8 = 5
  private val TypeList = 12
  private val TypeFixedSizeList = 16

  /** Field table slots: name 0, nullable 1, type_type 2, type 3,
    * dictionary 4, children 5. DictionaryEncoding slots: id 0,
    * indexType 1 (an Int table), isOrdered 2, dictionaryKind 3. */
  private def parseField(f: Tab): Col = {
    val dict = f.table(4).map { d =>
      val idx = d.table(1) match {
        case None => TInt(32, signed = true) // spec default index type
        case Some(t) =>
          TInt(t.i32f(0, 0), t.bool(1)) match {
            case ok @ TInt(8 | 16 | 32 | 64, _) => ok
            case other => throw new graft.GraftAnalysisException(
              s"arrow: dictionary index type ${other.label} unsupported")
          }
      }
      Dict(d.i64f(0, 0L), idx)
    }
    val name = f.string(0).getOrElse("")
    val tt = f.i8(2, 0)
    def children: Seq[Col] = f.vector(5) match {
      case Some((base, n)) =>
        (0 until n).map(i => parseField(new Tab(f.buf, base + 4 * i + f.buf.i32(base + 4 * i))))
      case None => Seq.empty
    }
    val tpe: ColType = tt match {
      case TypeInt =>
        val t = f.table(3).getOrElse(bad())
        TInt(t.i32f(0, 0), t.bool(1)) match {
          case ok @ TInt(8 | 16 | 32 | 64, _) => ok
          case other => throw new graft.GraftAnalysisException(
            s"arrow: ${other.label} unsupported")
        }
      case TypeFloat =>
        val t = f.table(3).getOrElse(bad())
        t.i16(0, 0) match { // Precision: HALF 0, SINGLE 1, DOUBLE 2
          case 1 => TFloat(32)
          case 2 => TFloat(64)
          case p => throw new graft.GraftAnalysisException(
            s"arrow: float precision code $p unsupported")
        }
      case TypeUtf8 => TUtf8
      case TypeList =>
        children match {
          case Seq(Col(_, c @ TFloat(32), None)) => TList(c)
          case _ => throw new graft.GraftAnalysisException(
            "arrow: list children other than plain float32 unsupported")
        }
      case TypeFixedSizeList =>
        val t = f.table(3).getOrElse(bad())
        val n = t.i32f(0, 0)
        if (n <= 0) bad()
        children match {
          case Seq(Col(_, c @ TFloat(32), None)) => TFixedList(n, c)
          case _ => throw new graft.GraftAnalysisException(
            "arrow: fixed-size-list children other than plain float32 unsupported")
        }
      case other => throw new graft.GraftAnalysisException(
        s"arrow: type union member $other unsupported")
    }
    dict.foreach { d =>
      tpe match {
        case TInt(_, _) | TFloat(_) | TUtf8 => ()
        case other => throw new graft.GraftAnalysisException(
          s"arrow: dictionary-encoded ${other.label} unsupported")
      }
      if (d.id < 0) bad()
    }
    Col(name, tpe, dict)
  }

  // ------------------------------------------------------------ stream read

  /** A decoded column: name, type, values (null entries = null). */
  final case class Column(name: String, tpe: ColType, values: IndexedSeq[Any])

  /** Decode a full IPC stream (or file — magic skipped) into its
    * schema and per-batch column values. Throws GraftAnalysisException
    * with a named reason on unsupported features; [[Bad]]-class
    * malformations surface as None from the DataFrame seam. */
  private[graft] def readStream(bytes: Array[Byte]): (Seq[Col], Seq[Seq[Column]]) = {
    val buf = new Buf(bytes)
    var p = 0
    if (bytes.length >= 8 && bytes(0) == 'A' && bytes(1) == 'R' && bytes(2) == 'R' &&
      bytes(3) == 'O' && bytes(4) == 'W' && bytes(5) == '1') p = 8
    var schema: Seq[Col] = null
    val batches = Seq.newBuilder[Seq[Column]]
    val dicts = scala.collection.mutable.Map.empty[Long, IndexedSeq[Any]]
    var done = false
    while (!done && p + 4 <= bytes.length) {
      var metaLen = buf.i32(p)
      var metaStart = p + 4
      if (metaLen == -1) { // continuation marker
        if (p + 8 > bytes.length) bad()
        metaLen = buf.i32(p + 4); metaStart = p + 8
      }
      if (metaLen == 0) done = true
      else {
        if (metaLen < 0 || metaStart + metaLen > bytes.length) bad()
        val msg = new Tab(buf, metaStart + buf.i32(metaStart))
        val headerType = msg.i8(1, 0)
        val bodyLen = msg.i64f(3, 0L)
        val bodyStart = metaStart + metaLen
        if (bodyLen < 0 || bodyStart + bodyLen > bytes.length) bad()
        headerType match {
          case 1 => // Schema
            schema = msg.table(2).getOrElse(bad()).vector(1) match {
              case Some((base, n)) =>
                (0 until n).map { i =>
                  val o = base + 4 * i
                  parseField(new Tab(buf, o + buf.i32(o)))
                }
              case None => Seq.empty
            }
          case 2 => // DictionaryBatch { id 0, data 1, isDelta 2 }
            if (schema == null) bad()
            val db = msg.table(2).getOrElse(bad())
            val id = db.i64f(0, 0L)
            val valueType = schema.collectFirst {
              case Col(_, t, Some(d)) if d.id == id => t
            }.getOrElse(throw new graft.GraftAnalysisException(
              s"arrow: dictionary batch for undeclared id $id"))
            val vals = decodeBatch(buf, db.table(1).getOrElse(bad()),
              Seq(Col("", valueType)), bodyStart.toInt, dicts).head.values
            dicts(id) =
              if (db.bool(2)) dicts.getOrElse(id, Vector.empty) ++ vals // delta appends
              else vals // replacement (or first) dictionary
          case 3 => // RecordBatch
            if (schema == null) bad()
            batches += decodeBatch(buf, msg.table(2).getOrElse(bad()), schema, bodyStart.toInt, dicts)
          case other => throw new graft.GraftAnalysisException(
            s"arrow: message header type $other unsupported")
        }
        p = (bodyStart + bodyLen).toInt
      }
    }
    if (schema == null) bad()
    (schema, batches.result())
  }

  /** RecordBatch slots: length 0, nodes 1, buffers 2, compression 3.
    * Nodes/buffers are consumed in depth-first flattened field
    * order, exactly as the columnar spec lays them out. When a
    * BodyCompression member is present each buffer body is
    * `[int64 LE uncompressed length][compressed bytes]` (-1 length =
    * raw passthrough), decompressed here buffer-by-buffer through
    * the engine's codecs. A dictionary-encoded column's
    * record-batch presence is its index column (validity + indices
    * of the declared width); values resolve against `dicts` with
    * hard bounds checks. */
  private def decodeBatch(buf: Buf, rb: Tab, schema: Seq[Col], body: Int,
      dicts: collection.Map[Long, IndexedSeq[Any]]): Seq[Column] = {
    // BodyCompression { codec: i8 slot 0 (0 LZ4_FRAME / 1 ZSTD),
    //                   method: i8 slot 1 (0 BUFFER) }
    val codec: Option[Int] = rb.table(3).map { c =>
      val method = c.i8(1, 0)
      if (method != 0) throw new graft.GraftAnalysisException(
        s"arrow: body compression method $method unsupported")
      c.i8(0, 0) match {
        case ok @ (0 | 1) => ok
        case other => throw new graft.GraftAnalysisException(
          s"arrow: body compression codec $other unsupported")
      }
    }
    val (nodeBase, nNodes) = rb.vector(1).getOrElse(bad())
    val (bufBase, nBufs) = rb.vector(2).getOrElse(bad())
    var node = 0
    var bi = 0
    def nextNode(): (Long, Long) = {
      if (node >= nNodes) bad()
      val p = nodeBase + 16 * node; node += 1
      (buf.i64(p), buf.i64(p + 8))
    }
    def nextBufRaw(): (Int, Int) = {
      if (bi >= nBufs) bad()
      val p = bufBase + 16 * bi; bi += 1
      val off = buf.i64(p); val len = buf.i64(p + 8)
      if (off < 0 || len < 0 || body + off + len > buf.b.length) bad()
      ((body + off).toInt, len.toInt)
    }
    /** Consume one buffer and return a readable (buf, base) view of
      * its UNCOMPRESSED bytes plus their length. */
    def nextBuf(): (Buf, Int, Int) = {
      val (off, len) = nextBufRaw()
      codec match {
        case None => (buf, off, len)
        case Some(_) if len == 0 => (buf, off, 0)
        case Some(c) =>
          if (len < 8) bad()
          val ulen = buf.i64(off)
          if (ulen == -1L) (buf, off + 8, len - 8) // spec: raw passthrough
          else {
            if (ulen < 0 || ulen > Int.MaxValue) bad()
            val comp = java.util.Arrays.copyOfRange(buf.b, off + 8, off + len)
            val plain = (if (c == 0) ShortCodecs.unlz4Framed(comp)
                         else ZstdCodec.decode(comp)).getOrElse(bad())
            if (plain.length.toLong != ulen) bad()
            (new Buf(plain), 0, plain.length)
          }
      }
    }
    def validity(n: Long, nullCount: Long): Int => Boolean =
      if (nullCount == 0L) { nextBufRaw(); _ => true } // skip even the decompression
      else {
        val (vb, off, len) = nextBuf()
        if (len == 0) _ => true
        else { i => (vb.b(off + (i >> 3)) & (1 << (i & 7))) != 0 }
      }
    def readValues(tpe: ColType): IndexedSeq[Any] = {
      val (n0, nullCount) = nextNode()
      val n = n0.toInt
      if (n0 < 0 || n0 > Int.MaxValue) bad()
      val valid = validity(n0, nullCount)
      tpe match {
        case TInt(bits, signed) =>
          val (db, off, _) = nextBuf()
          (0 until n).map { i =>
            if (!valid(i)) null
            else bits match {
              case 8 => val v = db.b(off + i).toLong; if (signed) v else v & 0xFF
              case 16 => val v = db.u16(off + 2 * i); if (signed) ((v << 16) >> 16).toLong else v.toLong
              case 32 => val v = db.i32(off + 4 * i); if (signed) v.toLong else v & 0xFFFFFFFFL
              case _ => db.i64(off + 8 * i) // unsigned 64 reads as the same bits
            }
          }
        case TFloat(bits) =>
          val (db, off, _) = nextBuf()
          (0 until n).map { i =>
            if (!valid(i)) null
            else if (bits == 32) java.lang.Float.intBitsToFloat(db.i32(off + 4 * i))
            else java.lang.Double.longBitsToDouble(db.i64(off + 8 * i))
          }
        case TUtf8 =>
          val (ob, ooff, _) = nextBuf()
          val (dbuf, doff, _) = nextBuf()
          (0 until n).map { i =>
            if (!valid(i)) null
            else {
              val b0 = ob.i32(ooff + 4 * i); val b1 = ob.i32(ooff + 4 * i + 4)
              if (b0 < 0 || b1 < b0 || doff + b1 > dbuf.b.length) bad()
              new String(dbuf.b, doff + b0, b1 - b0, java.nio.charset.StandardCharsets.UTF_8)
            }
          }
        case TFixedList(size, child) =>
          val childVals = readValues(child)
          (0 until n).map { i =>
            if (!valid(i)) null
            else childVals.slice(i * size, (i + 1) * size)
          }
        case TList(child) =>
          val (ob, ooff, _) = nextBuf()
          val offs = (0 to n).map(i => ob.i32(ooff + 4 * i))
          val childVals = readValues(child)
          (0 until n).map { i =>
            if (!valid(i)) null
            else {
              if (offs(i) < 0 || offs(i + 1) < offs(i) || offs(i + 1) > childVals.length) bad()
              childVals.slice(offs(i), offs(i + 1))
            }
          }
      }
    }
    def readColumn(c: Col): IndexedSeq[Any] = c.dict match {
      case None => readValues(c.tpe)
      case Some(Dict(id, idxT)) =>
        val values = dicts.getOrElse(id, throw new graft.GraftAnalysisException(
          s"arrow: record batch uses dictionary $id before any dictionary batch"))
        readValues(idxT).map {
          case null => null
          case ix: Long =>
            if (ix < 0 || ix >= values.length) bad()
            values(ix.toInt)
          case _ => bad()
        }
    }
    schema.map(c => Column(c.name, c.tpe, readColumn(c)))
  }

  // ------------------------------------------------------------ flatbuffer build

  /** Minimal back-to-front FlatBuffers builder (the wire format's
    * canonical construction order): scalars aligned to size, strings
    * NUL-terminated with int32 length, vectors length-prefixed,
    * vtables per table. Enough to write Arrow Schema/RecordBatch
    * messages for the fixture packer. */
  private[graft] final class FbBuilder {
    private var buf = new Array[Byte](1024)
    private var head = buf.length
    private def offset(): Int = buf.length - head
    private def grow(need: Int): Unit =
      if (head < need) {
        val old = buf
        buf = new Array[Byte]((old.length * 2 + need + 7) & ~7)
        System.arraycopy(old, 0, buf, buf.length - old.length, old.length)
        head += buf.length - old.length
      }
    private def pad(n: Int): Unit = { grow(n); head -= n }
    private def align(size: Int, extra: Int): Unit = {
      grow(size + extra)
      while (((offset() + extra) % size) != 0) { head -= 1; buf(head) = 0 }
    }
    private def put8(v: Int): Unit = { grow(1); head -= 1; buf(head) = v.toByte }
    def push8(v: Int): Unit = { align(1, 1); put8(v) }
    def push16(v: Int): Unit = { align(2, 2); put8(v >> 8); put8(v) }
    def push32(v: Int): Unit = { align(4, 4); put8(v >> 24); put8(v >> 16); put8(v >> 8); put8(v) }
    def push64(v: Long): Unit = { align(8, 8); push32NoAlign((v >> 32).toInt); push32NoAlign(v.toInt) }
    private def push32NoAlign(v: Int): Unit = { put8(v >> 24); put8(v >> 16); put8(v >> 8); put8(v) }
    // NOTE: put8 writes bytes back-to-front, so pushing MSB first
    // lands the value little-endian in the final forward read.
    def pushUoffset(target: Int): Unit = { align(4, 4); push32NoAlign(offset() + 4 - target) }

    def createString(s: String): Int = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // align FIRST (pad lands after the string in forward order):
      // the i32 length must be immediately followed by the bytes
      align(4, bytes.length + 1 + 4)
      grow(bytes.length + 1)
      head -= 1; buf(head) = 0 // NUL terminator
      var i = bytes.length - 1
      while (i >= 0) { head -= 1; buf(head) = bytes(i); i -= 1 }
      push32NoAlign(bytes.length)
      offset()
    }

    /** Reserve a vector of `count` elements of `elemSize` and fill it
      * FORWARD via the returned writer position callback. */
    def createStructVector(elemSize: Int, count: Int, alignTo: Int)(
        write: (Array[Byte], Int) => Unit): Int = {
      // one up-front alignment covering elements AND the i32 count —
      // nothing may pad between the count and the first element
      align(alignTo, elemSize * count + 4)
      grow(elemSize * count)
      head -= elemSize * count
      write(buf, head)
      push32NoAlign(count)
      offset()
    }

    /** Vector of uoffsets to already-built objects. */
    def createOffsetVector(targets: Seq[Int]): Int = {
      align(4, 4 * (targets.length + 1))
      var i = targets.length - 1
      while (i >= 0) { pushUoffsetNoOuterAlign(targets(i)); i -= 1 }
      push32NoAlign(targets.length)
      offset()
    }
    private def pushUoffsetNoOuterAlign(target: Int): Unit = {
      grow(4); head -= 4
      val v = offset() - target
      buf(head) = v.toByte; buf(head + 1) = (v >> 8).toByte
      buf(head + 2) = (v >> 16).toByte; buf(head + 3) = (v >> 24).toByte
    }

    // table construction
    private var slots: Array[Int] = null
    private var objectStart = 0
    def startTable(numSlots: Int): Unit = {
      slots = new Array[Int](numSlots)
      objectStart = offset()
    }
    def slot8(i: Int, v: Int): Unit = { push8(v); slots(i) = offset() }
    def slot16(i: Int, v: Int): Unit = { push16(v); slots(i) = offset() }
    def slot32(i: Int, v: Int): Unit = { push32(v); slots(i) = offset() }
    def slot64(i: Int, v: Long): Unit = { push64(v); slots(i) = offset() }
    def slotOffset(i: Int, target: Int): Unit = { pushUoffset(target); slots(i) = offset() }
    def endTable(): Int = {
      push32(0) // soffset placeholder
      val tableStart = offset()
      // vtable, back to front: slots reversed, then the two sizes
      var i = slots.length - 1
      while (i >= 0) {
        push16(if (slots(i) == 0) 0 else tableStart - slots(i))
        i -= 1
      }
      push16(tableStart - objectStart)
      push16(4 + 2 * slots.length)
      val vtStart = offset()
      // patch the table's soffset = vtStart - tableStart (vtable is
      // at a LOWER absolute address)
      val p = buf.length - tableStart
      val so = vtStart - tableStart
      buf(p) = so.toByte; buf(p + 1) = (so >> 8).toByte
      buf(p + 2) = (so >> 16).toByte; buf(p + 3) = (so >> 24).toByte
      slots = null
      tableStart
    }

    def finish(root: Int): Array[Byte] = {
      pushUoffset(root)
      java.util.Arrays.copyOfRange(buf, head, buf.length)
    }
  }

  // ------------------------------------------------------------ stream write

  private def pad8(n: Int): Int = (n + 7) & ~7

  private[graft] def message(headerType: Int, headerTable: FbBuilder => Int,
      bodyLength: Long): Array[Byte] = {
    val fb = new FbBuilder
    val header = headerTable(fb)
    fb.startTable(4) // version 0, header_type 1, header 2, bodyLength 3
    fb.slot16(0, 4) // MetadataVersion V5
    fb.slot8(1, headerType)
    fb.slotOffset(2, header)
    fb.slot64(3, bodyLength)
    val meta = fb.finish(fb.endTable())
    val padded = pad8(8 + meta.length) - 8
    val out = new Array[Byte](8 + padded)
    out(0) = -1; out(1) = -1; out(2) = -1; out(3) = -1 // continuation
    out(4) = padded.toByte; out(5) = (padded >> 8).toByte
    out(6) = (padded >> 16).toByte; out(7) = (padded >> 24).toByte
    System.arraycopy(meta, 0, out, 8, meta.length)
    out
  }

  /** Schema message for (key: int64, vec: fixed_size_list<float32>[dim]). */
  private def schemaMessage(keyName: String, vecName: String, dim: Int,
      fixedList: Boolean = true): Array[Byte] =
    message(1, { fb =>
      // Int { bitWidth 0, is_signed 1 }
      fb.startTable(2); fb.slot32(0, 64); fb.slot8(1, 1)
      val int64 = fb.endTable()
      val keyNameOff = fb.createString(keyName)
      fb.startTable(6) // Field
      fb.slotOffset(0, keyNameOff); fb.slot8(1, 1)
      fb.slot8(2, TypeInt); fb.slotOffset(3, int64)
      val keyField = fb.endTable()
      // FloatingPoint { precision 0 } = SINGLE
      fb.startTable(1); fb.slot16(0, 1)
      val f32 = fb.endTable()
      val itemNameOff = fb.createString("item")
      fb.startTable(6)
      fb.slotOffset(0, itemNameOff); fb.slot8(1, 1)
      fb.slot8(2, TypeFloat); fb.slotOffset(3, f32)
      val itemField = fb.endTable()
      val children = fb.createOffsetVector(Seq(itemField))
      val listType =
        if (fixedList) { fb.startTable(1); fb.slot32(0, dim); fb.endTable() }
        else { fb.startTable(0); fb.endTable() } // List {} — no fields
      val vecNameOff = fb.createString(vecName)
      fb.startTable(6)
      fb.slotOffset(0, vecNameOff); fb.slot8(1, 1)
      fb.slot8(2, if (fixedList) TypeFixedSizeList else TypeList)
      fb.slotOffset(3, listType)
      fb.slotOffset(5, children)
      val vecField = fb.endTable()
      val fields = fb.createOffsetVector(Seq(keyField, vecField))
      fb.startTable(2) // Schema { endianness 0, fields 1 }
      fb.slot16(0, 0) // little-endian
      fb.slotOffset(1, fields)
      fb.endTable()
    }, 0L)

  /** One RecordBatch message + body for `keys`/`vecs` (dim-wide);
    * `fixedList = false` writes the variable List layout with its
    * int32 offsets buffer instead. */
  private def batchMessage(keys: Array[Long], vecs: Array[Array[Float]],
      dim: Int, fixedList: Boolean = true): Array[Byte] = {
    val n = keys.length
    val keyBytes = n * 8
    val offsOff = pad8(keyBytes)
    val offsBytes = if (fixedList) 0 else (n + 1) * 4
    val childOff = pad8(offsOff + offsBytes)
    val childBytes = n * dim * 4
    val bodyLen = pad8(childOff + childBytes)
    val body = new Array[Byte](bodyLen)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < 8) { body(8 * i + j) = ((keys(i) >> (8 * j)) & 0xFF).toByte; j += 1 }
      i += 1
    }
    if (!fixedList) {
      i = 0
      while (i <= n) {
        val v = i * dim
        val at = offsOff + 4 * i
        body(at) = v.toByte; body(at + 1) = (v >> 8).toByte
        body(at + 2) = (v >> 16).toByte; body(at + 3) = (v >> 24).toByte
        i += 1
      }
    }
    i = 0
    while (i < n) {
      var k = 0
      while (k < dim) {
        val bits = java.lang.Float.floatToIntBits(vecs(i)(k))
        val at = childOff + 4 * (i * dim + k)
        body(at) = bits.toByte; body(at + 1) = (bits >> 8).toByte
        body(at + 2) = (bits >> 16).toByte; body(at + 3) = (bits >> 24).toByte
        k += 1
      }
      i += 1
    }
    // buffers in flattened order: key [validity, data]; the list
    // [validity] (+ [offsets] for variable List); child float
    // [validity, data]
    val buffers =
      if (fixedList)
        Seq((0L, 0L), (0L, keyBytes.toLong), (keyBytes.toLong, 0L),
          (childOff.toLong, 0L), (childOff.toLong, childBytes.toLong))
      else
        Seq((0L, 0L), (0L, keyBytes.toLong), (offsOff.toLong, 0L),
          (offsOff.toLong, offsBytes.toLong),
          (childOff.toLong, 0L), (childOff.toLong, childBytes.toLong))
    val nodes = Seq((n.toLong, 0L), (n.toLong, 0L), ((n * dim).toLong, 0L))
    val meta = message(3, { fb =>
      val nodeVec = fb.createStructVector(16, nodes.length, 8) { (b, at) =>
        nodes.zipWithIndex.foreach { case ((len, nc), ix) =>
          var j = 0
          while (j < 8) {
            b(at + 16 * ix + j) = ((len >> (8 * j)) & 0xFF).toByte
            b(at + 16 * ix + 8 + j) = ((nc >> (8 * j)) & 0xFF).toByte
            j += 1
          }
        }
      }
      val bufVec = fb.createStructVector(16, buffers.length, 8) { (b, at) =>
        buffers.zipWithIndex.foreach { case ((off, len), ix) =>
          var j = 0
          while (j < 8) {
            b(at + 16 * ix + j) = ((off >> (8 * j)) & 0xFF).toByte
            b(at + 16 * ix + 8 + j) = ((len >> (8 * j)) & 0xFF).toByte
            j += 1
          }
        }
      }
      fb.startTable(4) // RecordBatch { length, nodes, buffers, compression }
      fb.slot64(0, n.toLong)
      fb.slotOffset(1, nodeVec)
      fb.slotOffset(2, bufVec)
      fb.endTable()
    }, bodyLen.toLong)
    val out = new Array[Byte](meta.length + bodyLen)
    System.arraycopy(meta, 0, out, 0, meta.length)
    System.arraycopy(body, 0, out, meta.length, bodyLen)
    out
  }

  private val Eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)

  /** Write a complete IPC stream: schema + one batch per key split +
    * EOS. Fixture-side (tests + the gate packer); also pins
    * [[readStream]] by round-trip. */
  private[graft] def writeVecStream(keyName: String, vecName: String, dim: Int,
      rows: Seq[(Long, Array[Float])], batchRows: Int,
      fixedList: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(schemaMessage(keyName, vecName, dim, fixedList))
    rows.grouped(math.max(1, batchRows)).foreach { g =>
      out.write(batchMessage(g.map(_._1).toArray, g.map(_._2).toArray, dim, fixedList))
    }
    out.write(Eos)
    out.toByteArray
  }

  // ------------------------------------------------------------ spark surfaces

  /** Gate packer: embeddings grouped into `groups` shards by
    * key % groups, each shard one Arrow IPC stream (multi-batch). */
  def packVecs(df: DataFrame, keyCol: String, vecCol: String,
      groups: Int = 8, batchRows: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long"), col(vecCol).cast("array<float>"))
      .where(col(keyCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val rows = it.toSeq.sortBy(_._1)
        val dim = rows.head._2.length
        (g, writeVecStream("vec_id", "embedding", dim, rows, batchRows))
      }
      .toDF("shard", "payload")
  }

  /** Gate packer for the COMPRESSED read path: the same embedding
    * shards, written by the INDEPENDENT Apache Arrow Java writer
    * (arrow-vector + arrow-compression, already on the Spark
    * classpath) with real body compression — LZ4_FRAME on even
    * shards, ZSTD on odd — so [[readStream]]'s buffer-by-buffer
    * decompression is pinned against the reference implementation's
    * bytes, not our own writer's. Multi-batch streams (batchRows per
    * batch) keep the framing walk honest. */
  def packVecsCompressedRef(df: DataFrame, keyCol: String, vecCol: String,
      groups: Int = 8, batchRows: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long"), col(vecCol).cast("array<float>"))
      .where(col(keyCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val rows = it.toSeq.sortBy(_._1)
        val codecType =
          if (g % 2 == 0) org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME
          else org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD
        val alloc = new org.apache.arrow.memory.RootAllocator()
        try {
          val keyField = new org.apache.arrow.vector.types.pojo.Field("vec_id",
            org.apache.arrow.vector.types.pojo.FieldType.nullable(
              new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)), null)
          val itemField = new org.apache.arrow.vector.types.pojo.Field("item",
            org.apache.arrow.vector.types.pojo.FieldType.nullable(
              new org.apache.arrow.vector.types.pojo.ArrowType.FloatingPoint(
                org.apache.arrow.vector.types.FloatingPointPrecision.SINGLE)), null)
          val vecField = new org.apache.arrow.vector.types.pojo.Field("embedding",
            org.apache.arrow.vector.types.pojo.FieldType.nullable(
              new org.apache.arrow.vector.types.pojo.ArrowType.List()),
            java.util.Collections.singletonList(itemField))
          val schema = new org.apache.arrow.vector.types.pojo.Schema(
            java.util.Arrays.asList(keyField, vecField))
          val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
          try {
            val bos = new java.io.ByteArrayOutputStream()
            val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
              root, null, java.nio.channels.Channels.newChannel(bos),
              org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
              org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE, codecType)
            try {
              writer.start()
              rows.grouped(math.max(1, batchRows)).foreach { batch =>
                root.allocateNew()
                val kv = root.getVector("vec_id")
                  .asInstanceOf[org.apache.arrow.vector.BigIntVector]
                val lv = root.getVector("embedding")
                  .asInstanceOf[org.apache.arrow.vector.complex.ListVector]
                val lw = lv.getWriter
                batch.zipWithIndex.foreach { case ((k, vec), i) =>
                  kv.setSafe(i, k)
                  lw.setPosition(i)
                  lw.startList()
                  vec.foreach(v => lw.float4().writeFloat4(v))
                  lw.endList()
                }
                lw.setValueCount(batch.length)
                root.setRowCount(batch.length)
                writer.writeBatch()
              }
              writer.end()
            } finally writer.close()
            (g, if (g % 2 == 0) "lz4" else "zstd", bos.toByteArray)
          } finally root.close()
        } finally alloc.close()
      }
      .toDF("shard", "codec", "payload")
  }

  /** Gate packer for the DICTIONARY read path: (doc_id, source) with
    * `source` dictionary-encoded, written by the Arrow Java writer's
    * own DictionaryProvider machinery (dictionary batch first, index
    * columns in the record batches) — the reference bytes our
    * dictionary resolution is pinned against. */
  def packDocsDictRef(df: DataFrame, idCol: String, strCol: String,
      groups: Int = 8, batchRows: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), coalesce(col(strCol), lit("")))
      .where(col(idCol).isNotNull)
      .as[(Long, String)]
      .groupByKey(_._1 % groups)
      .mapGroups { (g, it) =>
        val rows = it.toSeq.sortBy(_._1)
        val alloc = new org.apache.arrow.memory.RootAllocator()
        try {
          // distinct values, first-appearance order, as the dictionary
          val values = rows.map(_._2).distinct.toIndexedSeq
          val index = values.zipWithIndex.toMap
          val dictVec = new org.apache.arrow.vector.VarCharVector("dict", alloc)
          try {
            dictVec.allocateNew()
            values.zipWithIndex.foreach { case (v, i) =>
              dictVec.setSafe(i, v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            dictVec.setValueCount(values.length)
            val encoding = new org.apache.arrow.vector.types.pojo.DictionaryEncoding(
              7L, false, new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true))
            val provider = new org.apache.arrow.vector.dictionary.DictionaryProvider
              .MapDictionaryProvider(
                new org.apache.arrow.vector.dictionary.Dictionary(dictVec, encoding))
            val idField = new org.apache.arrow.vector.types.pojo.Field("doc_id",
              org.apache.arrow.vector.types.pojo.FieldType.nullable(
                new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)), null)
            // the field carries the encoding; its storage is the index ints
            val strField = new org.apache.arrow.vector.types.pojo.Field("source",
              new org.apache.arrow.vector.types.pojo.FieldType(true,
                new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true),
                encoding, null), null)
            val schema = new org.apache.arrow.vector.types.pojo.Schema(
              java.util.Arrays.asList(idField, strField))
            val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
            try {
              val bos = new java.io.ByteArrayOutputStream()
              val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
                root, provider, java.nio.channels.Channels.newChannel(bos))
              try {
                writer.start()
                rows.grouped(math.max(1, batchRows)).foreach { batch =>
                  root.allocateNew()
                  val idVec = root.getVector("doc_id")
                    .asInstanceOf[org.apache.arrow.vector.BigIntVector]
                  val ixVec = root.getVector("source")
                    .asInstanceOf[org.apache.arrow.vector.IntVector]
                  batch.zipWithIndex.foreach { case ((id, s), i) =>
                    idVec.setSafe(i, id)
                    ixVec.setSafe(i, index(s))
                  }
                  root.setRowCount(batch.length)
                  writer.writeBatch()
                }
                writer.end()
              } finally writer.close()
              (g, bos.toByteArray)
            } finally root.close()
          } finally dictVec.close()
        } finally alloc.close()
      }
      .toDF("shard", "payload")
  }

  /** Decode (key, string) rows out of IPC payloads — the dictionary
    * gate's read surface: (id, key, value). The string column may be
    * plain or dictionary-encoded; both resolve through the same
    * [[readStream]] walk. */
  def decodeKeyStrRows(df: DataFrame, idCol: String, payloadCol: String,
      keyCol: String, strCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val parsed =
          try Some(readStream(if (payload == null) Array.emptyByteArray else payload))
          catch {
            case Bad | _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
          }
        parsed.iterator.flatMap { case (schema, batches) =>
          val ki = schema.indexWhere(_.name == keyCol)
          val vi = schema.indexWhere(_.name == strCol)
          if (ki < 0 || vi < 0) Iterator.empty
          else batches.iterator.flatMap { cols =>
            val keys = cols(ki).values
            val strs = cols(vi).values
            keys.indices.iterator.collect {
              case i if keys(i) != null && strs(i) != null =>
                (id, keys(i).asInstanceOf[Long], strs(i).asInstanceOf[String])
            }
          }
        }
      }
      .toDF("id", "key", "value")
  }

  /** Decode (key, vector) rows back out of IPC stream payloads:
    * (id, key, dim, values). Hostile bytes yield nothing for that
    * payload; UNSUPPORTED-feature payloads raise with the named
    * reason (analysis-grade refusal, not a quiet drop). */
  def decodeVecRows(df: DataFrame, idCol: String, payloadCol: String,
      keyCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val parsed =
          try Some(readStream(if (payload == null) Array.emptyByteArray else payload))
          catch {
            case Bad | _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
          }
        parsed.iterator.flatMap { case (schema, batches) =>
          val ki = schema.indexWhere(_.name == keyCol)
          val vi = schema.indexWhere(_.name == vecCol)
          if (ki < 0 || vi < 0) Iterator.empty
          else batches.iterator.flatMap { cols =>
            val keys = cols(ki).values
            val vecs = cols(vi).values
            keys.indices.iterator.collect {
              case i if keys(i) != null && vecs(i) != null =>
                val vs = vecs(i).asInstanceOf[IndexedSeq[Any]]
                  .map(_.asInstanceOf[Float]).toArray
                (id, keys(i).asInstanceOf[Long], vs.length.toLong, vs)
            }
          }
        }
      }
      .toDF("id", "key", "dim", "values")
  }
}
