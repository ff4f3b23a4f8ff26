package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** From-spec PDF text extraction (ISO 32000-1 / PDF 1.4 subset) —
  * the document format a large share of book/paper corpora arrive
  * in. Scope is the TEXT-bearing core of the spec, written from the
  * published standard alone:
  *
  *  - object syntax: dictionaries, arrays, names (with #xx escapes),
  *    numbers, booleans, null, literal strings (all escape forms:
  *    \n \r \t \b \f \( \) \\, 1-3 digit octal, line continuations,
  *    raw-EOL → \n normalization per §7.3.4.2), hex strings,
  *    indirect references, streams (/Length-measured);
  *  - cross-reference walk, BOTH spec generations: classic tables
  *    (startxref → xref subsections → trailer /Root, /Prev chains)
  *    and PDF 1.5 CROSS-REFERENCE STREAMS (§7.5.8: /Type /XRef, /W
  *    field widths, /Index subsections, type 0/1/2 entries, /Prev
  *    chains, the hybrid-file /XRefStm bridge), including the
  *    LZW-era predictor wrappers xref streams ship with (/DecodeParms
  *    /Predictor 2 TIFF horizontal and 10–15 PNG None/Sub/Up/
  *    Average/Paeth per §7.4.4.4); objects stored inside
  *    /Type /ObjStm OBJECT STREAMS (§7.5.7: N/First header, offset
  *    pair table, bare direct objects) resolve through type-2
  *    entries — the layout essentially every post-2007 PDF keeps its
  *    page tree in. A linear object-scan fallback salvages files
  *    whose xref is damaged — a corpus scan must salvage what it
  *    can — and the scan path ALSO expands any ObjStm it finds, so
  *    a modern PDF with a wrecked xref still yields its text;
  *  - /FlateDecode content streams through [[GzipCodec.unzlib]]
  *    (the JDK's zlib: RFC 1950 with verified Adler-32, exact framing
  *    and the output cap checked by the engine), plus unfiltered
  *    streams;
  *  - page tree walk (Pages/Kids recursion, /Contents ref or array,
  *    inherited /Resources) and content-stream text collection: Tj,
  *    ' , " and TJ string operands in stream order, a newline per
  *    Td/TD/T* line move, pages joined by newline;
  *  - font text mapping (round 14): string bytes decode through the
  *    CURRENT font (Tf-tracked) — its /ToUnicode CMap when present
  *    (codespacerange widths, bfchar, both bfrange forms — the
  *    subset-embedded-font case where raw codes are meaningless), a
  *    /Differences array resolved through a bounded Adobe-glyph-list
  *    subset + the uniXXXX/uXXXX families, or a named WinAnsi /
  *    MacRoman base encoding. Fonts with none of these stay
  *    byte-transparent (UTF-8 documents round-trip exactly), as do
  *    unmapped codes and unknown glyph names — never invent, never
  *    drop.
  *
  * No independent PDF implementation exists on this classpath, so
  * the cross-validation discipline is the [[Mkv]] one: the packer
  * emits spec-legal files (correct xref byte offsets, measured
  * /Length, balanced structure) that any external reader opens, the
  * spec suite additionally parses HAND-ASSEMBLED fixtures using
  * constructs the packer never writes (hex strings, octal escapes,
  * split-content arrays, comments, damaged xref), and the gate
  * oracle replays the full extraction from corpus columns.
  *
  * Hostile-bytes contract as the whole codec ladder: never throws,
  * bounds-checked, `None` on malformed files.
  */
object Pdf {

  private object Refuse extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def refuse(): Nothing = throw Refuse

  // ------------------------------------------------------------------
  // object model
  // ------------------------------------------------------------------

  sealed trait PObj
  final case class PNum(v: Double) extends PObj
  final case class PName(s: String) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj
  final case class PRef(num: Int, gen: Int) extends PObj
  final case class PStream(dict: PDict, data: Array[Byte]) extends PObj
  final case class PBool(b: Boolean) extends PObj
  case object PNull extends PObj
  /** bare keyword in a content stream (an operator) */
  final case class POp(op: String) extends PObj

  private def isWhite(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Tokenizing cursor over the file bytes. */
  private final class Cur(val b: Array[Byte], var pos: Int) {
    def eof: Boolean = pos >= b.length
    def peek: Int = if (eof) -1 else b(pos) & 0xFF
    def next(): Int = { val c = peek; if (c < 0) refuse(); pos += 1; c }
    def skipWs(): Unit = {
      var go = true
      while (go && !eof) {
        val c = peek
        if (isWhite(c)) pos += 1
        else if (c == '%') { while (!eof && peek != '\n' && peek != '\r') pos += 1 } // comment
        else go = false
      }
    }
    def matches(s: String): Boolean =
      pos + s.length <= b.length && {
        var i = 0
        while (i < s.length && b(pos + i) == s.charAt(i).toByte) i += 1
        i == s.length
      }
    def expect(s: String): Unit = { if (!matches(s)) refuse(); pos += s.length }
  }

  /** One object at the cursor (content-stream mode also yields bare
    * operators as [[POp]]). */
  private def parseObj(c: Cur, contentMode: Boolean): PObj = {
    c.skipWs()
    if (c.eof) refuse()
    val ch = c.peek
    ch match {
      case '/' =>
        c.next()
        val sb = new StringBuilder
        while (!c.eof && !isWhite(c.peek) && !isDelim(c.peek)) {
          var v = c.next()
          if (v == '#' && !c.eof) { // #xx hex escape in names
            val h1 = Character.digit(c.next(), 16)
            val h2 = Character.digit(c.next(), 16)
            if (h1 < 0 || h2 < 0) refuse()
            v = h1 * 16 + h2
          }
          sb.append(v.toChar)
        }
        PName(sb.toString)
      case '(' =>
        c.next()
        val out = new java.io.ByteArrayOutputStream()
        var depth = 1
        while (depth > 0) {
          val v = c.next()
          v match {
            case '\\' =>
              val e = c.next()
              e match {
                case 'n' => out.write('\n')
                case 'r' => out.write('\r')
                case 't' => out.write('\t')
                case 'b' => out.write('\b')
                case 'f' => out.write(12)
                case '(' => out.write('(')
                case ')' => out.write(')')
                case '\\' => out.write('\\')
                case '\r' => if (c.peek == '\n') c.next() // line continuation
                case '\n' => // line continuation
                case d if d >= '0' && d <= '7' =>
                  var v2 = d - '0'
                  var n = 1
                  while (n < 3 && c.peek >= '0' && c.peek <= '7') { v2 = v2 * 8 + (c.next() - '0'); n += 1 }
                  out.write(v2 & 0xFF)
                case other => out.write(other) // spec: backslash ignored
              }
            case '(' => depth += 1; out.write('(')
            case ')' => depth -= 1; if (depth > 0) out.write(')')
            case '\r' => // raw EOL normalizes to \n (§7.3.4.2)
              if (c.peek == '\n') c.next()
              out.write('\n')
            case other => out.write(other)
          }
        }
        PStr(out.toByteArray)
      case '<' if c.matches("<<") =>
        c.pos += 2
        val m = Map.newBuilder[String, PObj]
        var done = false
        while (!done) {
          c.skipWs()
          if (c.matches(">>")) { c.pos += 2; done = true }
          else parseObj(c, contentMode) match {
            case PName(k) => m += (k -> parseObj(c, contentMode))
            case _ => refuse()
          }
        }
        PDict(m.result())
      case '<' =>
        c.next()
        val out = new java.io.ByteArrayOutputStream()
        var hi = -1
        var done = false
        while (!done) {
          val v = c.next()
          if (v == '>') { if (hi >= 0) out.write(hi * 16); done = true }
          else if (!isWhite(v)) {
            val d = Character.digit(v, 16)
            if (d < 0) refuse()
            if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
          }
        }
        PStr(out.toByteArray)
      case '[' =>
        c.next()
        val items = Vector.newBuilder[PObj]
        var done = false
        while (!done) {
          c.skipWs()
          if (c.peek == ']') { c.next(); done = true }
          else items += parseObj(c, contentMode)
        }
        PArr(items.result())
      case d if (d >= '0' && d <= '9') || d == '+' || d == '-' || d == '.' =>
        val start = c.pos
        while (!c.eof && !isWhite(c.peek) && !isDelim(c.peek)) c.next()
        val s = new String(c.b, start, c.pos - start, "US-ASCII")
        // try "N G R" indirect reference (object mode only)
        if (!contentMode && s.forall(_.isDigit)) {
          val save = c.pos
          c.skipWs()
          val gStart = c.pos
          while (!c.eof && c.peek >= '0' && c.peek <= '9') c.next()
          if (c.pos > gStart) {
            val g = new String(c.b, gStart, c.pos - gStart, "US-ASCII")
            c.skipWs()
            if (c.peek == 'R' && (c.pos + 1 >= c.b.length || isWhite(c.b(c.pos + 1)) || isDelim(c.b(c.pos + 1) & 0xFF))) {
              c.next()
              return PRef(s.toInt, g.toInt)
            }
          }
          c.pos = save
        }
        val v = try s.toDouble catch { case _: NumberFormatException => refuse() }
        PNum(v)
      case _ =>
        val start = c.pos
        while (!c.eof && !isWhite(c.peek) && !isDelim(c.peek)) c.next()
        if (c.pos == start) refuse()
        new String(c.b, start, c.pos - start, "US-ASCII") match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case kw if contentMode => POp(kw)
          case _ => refuse()
        }
    }
  }

  // ------------------------------------------------------------------
  // document load: xref walk with linear-scan fallback
  // ------------------------------------------------------------------

  final case class Doc(objects: Map[Int, PObj], root: Option[PRef], version: String)

  /** "N G obj ... endobj" at `off`; streams read their /Length
    * (resolving an indirect length via `lookup`). */
  private def parseIndirect(b: Array[Byte], off: Int,
      lookup: Int => Option[PObj]): (Int, PObj) = {
    val c = new Cur(b, off)
    c.skipWs()
    val numStart = c.pos
    while (c.peek >= '0' && c.peek <= '9') c.next()
    if (c.pos == numStart) refuse()
    val num = new String(b, numStart, c.pos - numStart, "US-ASCII").toInt
    c.skipWs()
    while (c.peek >= '0' && c.peek <= '9') c.next() // generation
    c.skipWs()
    c.expect("obj")
    val obj = parseObj(c, contentMode = false)
    c.skipWs()
    if (c.matches("stream")) {
      c.pos += "stream".length
      if (c.peek == '\r') c.next()
      if (c.peek == '\n') c.next() else refuse()
      val dict = obj match { case d: PDict => d; case _ => refuse() }
      val len = dict.m.get("Length") match {
        case Some(PNum(v)) => v.toInt
        case Some(PRef(n, _)) => lookup(n) match {
          case Some(PNum(v)) => v.toInt
          case _ => refuse()
        }
        case _ => refuse()
      }
      if (len < 0 || c.pos + len > b.length) refuse()
      val data = java.util.Arrays.copyOfRange(b, c.pos, c.pos + len)
      c.pos += len
      c.skipWs()
      c.expect("endstream")
      c.skipWs()
      c.expect("endobj")
      (num, PStream(dict, data))
    } else {
      c.skipWs()
      c.expect("endobj")
      (num, obj)
    }
  }

  private def findLast(b: Array[Byte], s: String): Int = {
    var i = b.length - s.length
    while (i >= 0) {
      var k = 0
      while (k < s.length && b(i + k) == s.charAt(k).toByte) k += 1
      if (k == s.length) return i
      i -= 1
    }
    -1
  }

  /** Undo the /DecodeParms predictor wrapper on decoded stream data
    * (§7.4.4.4): 1 = none, 2 = TIFF horizontal differencing, 10–15 =
    * the PNG per-row filters (tag byte + None/Sub/Up/Average/Paeth).
    * `columns` samples per row, `colors`×`bpc` bits per sample — the
    * xref-stream case is colors=1 bpc=8, but the framing is generic.
    */
  private def unpredict(data: Array[Byte], predictor: Int,
      columns: Int, colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    if (columns <= 0 || colors <= 0 || !(bpc == 8)) refuse() // sub-byte depths out of scope
    val bpp = colors // bytes per pixel at bpc=8
    val rowBytes = columns * colors
    if (predictor == 2) { // TIFF: each byte += byte one pixel left
      if (data.length % rowBytes != 0) refuse()
      val out = data.clone()
      var r = 0
      while (r < out.length) {
        var i = bpp
        while (i < rowBytes) { out(r + i) = (out(r + i) + out(r + i - bpp)).toByte; i += 1 }
        r += rowBytes
      }
      out
    } else if (predictor >= 10 && predictor <= 15) {
      if (data.length % (rowBytes + 1) != 0) refuse()
      val nRows = data.length / (rowBytes + 1)
      val out = new Array[Byte](nRows * rowBytes)
      def paeth(a: Int, bb: Int, cc: Int): Int = {
        val p = a + bb - cc
        val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - cc)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else cc
      }
      var r = 0
      while (r < nRows) {
        val tag = data(r * (rowBytes + 1)) & 0xFF
        val src = r * (rowBytes + 1) + 1
        val dst = r * rowBytes
        val prv = dst - rowBytes
        var i = 0
        while (i < rowBytes) {
          val raw = data(src + i) & 0xFF
          val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
          val up = if (r > 0) out(prv + i) & 0xFF else 0
          val ul = if (r > 0 && i >= bpp) out(prv + i - bpp) & 0xFF else 0
          val v = tag match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + (left + up) / 2
            case 4 => raw + paeth(left, up, ul)
            case _ => refuse()
          }
          out(dst + i) = v.toByte
          i += 1
        }
        r += 1
      }
      out
    } else refuse()
  }

  private def dictInt(d: PDict, key: String, default: Int): Int =
    d.m.get(key) match {
      case Some(PNum(v)) => v.toInt
      case None => default
      case _ => refuse()
    }

  /** Decode a stream whose dict values are DIRECT (the xref-stream /
    * ObjStm contract, §7.5.8.2): no filter or /FlateDecode, with the
    * optional /DecodeParms (alias /DP) predictor undone.
    */
  private def directStreamBytes(s: PStream): Array[Byte] = {
    val plain = s.dict.m.getOrElse("Filter", PNull) match {
      case PNull => s.data
      case PName("FlateDecode") => GzipCodec.unzlib(s.data).getOrElse(refuse())
      case PArr(Vector(PName("FlateDecode"))) => GzipCodec.unzlib(s.data).getOrElse(refuse())
      case _ => refuse()
    }
    s.dict.m.get("DecodeParms").orElse(s.dict.m.get("DP")) match {
      case Some(p: PDict) =>
        unpredict(plain, dictInt(p, "Predictor", 1), dictInt(p, "Columns", 1),
          dictInt(p, "Colors", 1), dictInt(p, "BitsPerComponent", 8))
      case Some(PArr(Vector(p: PDict))) =>
        unpredict(plain, dictInt(p, "Predictor", 1), dictInt(p, "Columns", 1),
          dictInt(p, "Colors", 1), dictInt(p, "BitsPerComponent", 8))
      case _ => plain
    }
  }

  /** Objects packed inside a /Type /ObjStm object stream (§7.5.7):
    * header of N (objnum, offset) integer pairs, then bare direct
    * objects at /First + offset. */
  private def objStmObjects(stm: PStream): Seq[(Int, PObj)] = {
    if (!stm.dict.m.get("Type").contains(PName("ObjStm"))) refuse()
    val data = directStreamBytes(stm)
    val n = dictInt(stm.dict, "N", -1)
    val first = dictInt(stm.dict, "First", -1)
    if (n < 0 || first < 0 || first > data.length) refuse()
    val c = new Cur(data, 0)
    def int(): Int = {
      c.skipWs()
      val s = c.pos
      while (c.peek >= '0' && c.peek <= '9') c.next()
      if (c.pos == s || c.pos > first) refuse()
      new String(data, s, c.pos - s, "US-ASCII").toInt
    }
    val pairs = Vector.fill(n)((int(), int()))
    pairs.map { case (num, off) =>
      if (first + off >= data.length) refuse()
      (num, parseObj(new Cur(data, first + off), contentMode = false))
    }
  }

  /** xref-driven load: startxref → table(s) and/or xref stream(s) →
    * offsets + in-ObjStm locations → objects. First-wins across the
    * /Prev chain (newest section is authoritative), hybrid files'
    * /XRefStm processed before the classic /Prev. */
  private def loadViaXref(b: Array[Byte]): Doc = {
    val sx = findLast(b, "startxref")
    if (sx < 0) refuse()
    val c0 = new Cur(b, sx + "startxref".length)
    c0.skipWs()
    val oStart = c0.pos
    while (c0.peek >= '0' && c0.peek <= '9') c0.next()
    if (c0.pos == oStart) refuse()
    val offsets = scala.collection.mutable.Map[Int, Int]()        // type 1: objnum → byte offset
    val inStream = scala.collection.mutable.Map[Int, (Int, Int)]() // type 2: objnum → (container, idx)
    var root: Option[PRef] = None
    def known(num: Int): Boolean = offsets.contains(num) || inStream.contains(num)
    val pending = scala.collection.mutable.Queue[Int](
      new String(b, oStart, c0.pos - oStart, "US-ASCII").toInt)
    val seen = scala.collection.mutable.Set[Int]()
    var guard = 0
    while (pending.nonEmpty && guard < 64) {
      guard += 1
      val xrefAt = pending.dequeue()
      if (xrefAt >= 0 && xrefAt < b.length && !seen(xrefAt)) {
        seen += xrefAt
        val c = new Cur(b, xrefAt)
        c.skipWs()
        if (c.matches("xref")) {
          // ---- classic cross-reference table + trailer ----
          c.expect("xref")
          var inSections = true
          while (inSections) {
            c.skipWs()
            if (c.matches("trailer")) inSections = false
            else {
              val s1 = c.pos
              while (c.peek >= '0' && c.peek <= '9') c.next()
              if (c.pos == s1) refuse()
              val first = new String(b, s1, c.pos - s1, "US-ASCII").toInt
              c.skipWs()
              val s2 = c.pos
              while (c.peek >= '0' && c.peek <= '9') c.next()
              val count = new String(b, s2, c.pos - s2, "US-ASCII").toInt
              c.skipWs()
              var i = 0
              while (i < count) {
                // 20-byte entries: 10-digit offset, 5-digit gen, f/n
                if (c.pos + 18 > b.length) refuse()
                val off = new String(b, c.pos, 10, "US-ASCII").toInt
                val kind = b(c.pos + 17).toChar
                if (kind == 'n' && !known(first + i)) offsets(first + i) = off
                c.pos += 18
                while (!c.eof && isWhite(c.peek)) c.pos += 1
                i += 1
              }
            }
          }
          c.expect("trailer")
          val trailer = parseObj(c, contentMode = false) match {
            case d: PDict => d; case _ => refuse()
          }
          if (root.isEmpty) trailer.m.get("Root") match {
            case Some(r: PRef) => root = Some(r)
            case _ =>
          }
          // hybrid bridge first (its entries cover the ObjStm objects
          // this table marks free), then the previous section
          trailer.m.get("XRefStm") match {
            case Some(PNum(v)) => pending += v.toInt
            case _ =>
          }
          trailer.m.get("Prev") match {
            case Some(PNum(v)) => pending += v.toInt
            case _ =>
          }
        } else {
          // ---- PDF 1.5 cross-reference stream (§7.5.8) ----
          val stm = parseIndirect(b, xrefAt, _ => None)._2 match {
            case s: PStream if s.dict.m.get("Type").contains(PName("XRef")) => s
            case _ => refuse()
          }
          val d = stm.dict
          val size = dictInt(d, "Size", -1)
          if (size < 0) refuse()
          val w = d.m.get("W") match {
            case Some(PArr(ws)) if ws.length == 3 =>
              ws.map { case PNum(v) => v.toInt; case _ => refuse() }
            case _ => refuse()
          }
          if (w.exists(x => x < 0 || x > 4)) refuse()
          val index: Vector[(Int, Int)] = d.m.get("Index") match {
            case Some(PArr(items)) if items.length % 2 == 0 =>
              items.map { case PNum(v) => v.toInt; case _ => refuse() }
                .grouped(2).map { case Vector(s, n) => (s, n) }.toVector
            case None => Vector((0, size))
            case _ => refuse()
          }
          val data = directStreamBytes(stm)
          val entryLen = w.sum
          if (entryLen <= 0 || index.map(_._2.toLong).sum * entryLen > data.length) refuse()
          var pos = 0
          def field(width: Int, default: Long): Long = {
            if (width == 0) return default
            var v = 0L
            var i = 0
            while (i < width) { v = (v << 8) | (data(pos + i) & 0xFF); i += 1 }
            pos += width
            v
          }
          index.foreach { case (start, count) =>
            var i = 0
            while (i < count) {
              val typ = field(w(0), 1L)
              val f2 = field(w(1), 0L)
              val f3 = field(w(2), 0L)
              val num = start + i
              typ match {
                case 1L => if (!known(num)) offsets(num) = f2.toInt
                case 2L => if (!known(num)) inStream(num) = (f2.toInt, f3.toInt)
                case _ => // type 0 (free) and unknown types: skip (spec: treat as free)
              }
              i += 1
            }
          }
          if (root.isEmpty) d.m.get("Root") match {
            case Some(r: PRef) => root = Some(r)
            case _ =>
          }
          d.m.get("Prev") match {
            case Some(PNum(v)) => pending += v.toInt
            case _ =>
          }
        }
      }
    }
    // two passes so streams with indirect /Length resolve
    val firstPass = scala.collection.mutable.Map[Int, PObj]()
    offsets.foreach { case (num, off) =>
      try {
        val (n, o) = parseIndirect(b, off, _ => None)
        if (n == num) firstPass(n) = o
      } catch { case Refuse => } // picked up in second pass if length was indirect
    }
    val objects = scala.collection.mutable.Map[Int, PObj]() ++ firstPass
    offsets.foreach { case (num, off) =>
      if (!objects.contains(num)) {
        val (n, o) = parseIndirect(b, off, firstPass.get)
        if (n == num) objects(n) = o
      }
    }
    // expand object streams: every type-2 entry resolves through its
    // container's (objnum, offset) table. A damaged container refuses
    // only its own objects — the rest of the file still loads.
    inStream.values.map(_._1).toSet.foreach { (container: Int) =>
      objects.get(container) match {
        case Some(s: PStream) =>
          try objStmObjects(s).foreach { case (num, o) =>
            if (!objects.contains(num) && inStream.get(num).exists(_._1 == container))
              objects(num) = o
          } catch { case Refuse => }
        case _ =>
      }
    }
    if (objects.isEmpty) refuse()
    Doc(objects.toMap, root, version(b))
  }

  /** Fallback: linear scan for "N G obj" headers — salvages files
    * with a damaged cross-reference. Any /Type /ObjStm stream the
    * scan turns up is expanded too, so a modern PDF whose xref is
    * wrecked still yields the objects packed inside its object
    * streams. */
  private def loadViaScan(b: Array[Byte]): Doc = {
    val objects = scala.collection.mutable.Map[Int, PObj]()
    val lengths = scala.collection.mutable.Map[Int, PObj]()
    var i = 0
    // first pass records plain objects (for indirect /Length)
    while (i + 3 < b.length) {
      if (b(i) == 'o' && b(i + 1) == 'b' && b(i + 2) == 'j' &&
          (i + 3 >= b.length || isWhite(b(i + 3) & 0xFF) || isDelim(b(i + 3) & 0xFF))) {
        // walk back over "N G "
        var j = i - 1
        while (j >= 0 && isWhite(b(j) & 0xFF)) j -= 1
        val gEnd = j + 1
        while (j >= 0 && b(j) >= '0' && b(j) <= '9') j -= 1
        val gStart = j + 1
        while (j >= 0 && isWhite(b(j) & 0xFF)) j -= 1
        val nEnd = j + 1
        while (j >= 0 && b(j) >= '0' && b(j) <= '9') j -= 1
        val nStart = j + 1
        if (gEnd > gStart && nEnd > nStart) {
          try {
            val (num, o) = parseIndirect(b, nStart, n => lengths.get(n).orElse(objects.get(n)))
            objects(num) = o
            o match { case PNum(_) => lengths(num) = o; case _ => }
          } catch { case Refuse => }
        }
      }
      i += 1
    }
    if (objects.isEmpty) refuse()
    // expand any object stream the scan found (absent entries only:
    // a top-level object, if one exists, outranks a packed copy)
    objects.values.toVector.foreach {
      case s: PStream if s.dict.m.get("Type").contains(PName("ObjStm")) =>
        try objStmObjects(s).foreach { case (num, o) =>
          if (!objects.contains(num)) objects(num) = o
        } catch { case Refuse => }
      case _ =>
    }
    // root from any /Type /Catalog object (possibly just expanded)
    val root = objects.collectFirst {
      case (n, PDict(m)) if m.get("Type").contains(PName("Catalog")) => PRef(n, 0)
    }
    Doc(objects.toMap, root, version(b))
  }

  private def version(b: Array[Byte]): String = {
    if (b.length < 8 || !(new Cur(b, 0)).matches("%PDF-")) refuse()
    new String(b, 5, 3, "US-ASCII")
  }

  def load(b: Array[Byte]): Option[Doc] =
    try Some(loadViaXref(b))
    catch { case Refuse => try Some(loadViaScan(b)) catch { case Refuse => None } }

  // ------------------------------------------------------------------
  // text extraction
  // ------------------------------------------------------------------

  private def resolve(doc: Doc, o: PObj): PObj = o match {
    case PRef(n, _) => doc.objects.getOrElse(n, PNull)
    case other => other
  }

  private def streamBytes(doc: Doc, s: PStream): Array[Byte] =
    resolve(doc, s.dict.m.getOrElse("Filter", PNull)) match {
      case PNull => s.data
      case PName("FlateDecode") => GzipCodec.unzlib(s.data).getOrElse(refuse())
      case PArr(Vector(PName("FlateDecode"))) => GzipCodec.unzlib(s.data).getOrElse(refuse())
      case _ => refuse() // other filters out of scope
    }

  // ------------------------------------------------------------------
  // font text decoding: /ToUnicode CMaps and /Encoding /Differences
  // (round 14). Without these, subset-embedded fonts extract as
  // garbage codepoints — the gap a corpus ingester hits on most
  // post-2000 PDFs. Preference order per font: a /ToUnicode CMap
  // (the authoritative text mapping, §9.10.3) > /Encoding with
  // /Differences glyph names resolved through a bounded Adobe-glyph-
  // list subset > a named base encoding (WinAnsi/MacRoman via the
  // JDK's own single-byte charsets) > byte-transparent (the previous
  // behavior, kept for unmapped codes and unknown glyph names —
  // refuse-don't-guess applied to text: never invent, never drop).
  // ------------------------------------------------------------------

  private sealed trait FontDec
  private case object Transparent extends FontDec
  /** single-byte code → string; null entry = keep the byte. */
  private final case class ByteTable(table: Array[String]) extends FontDec
  /** CMap: codespace widths (nbytes, lo, hi) + (width<<32|code) → dst. */
  private final case class CMapDec(widths: Seq[(Int, Long, Long)],
      map: java.util.HashMap[Long, String]) extends FontDec

  /** The Adobe Glyph List subset covering the Standard / WinAnsi /
    * MacRoman repertoires (Latin-1 letters, punctuation, the cp1252
    * quotes row) — what /Differences arrays reference in real latin
    * documents. Unknown names keep their code byte. */
  private lazy val glyphUnicode: Map[String, String] = {
    val named = Seq(
      "space" -> 0x20, "exclam" -> 0x21, "quotedbl" -> 0x22, "numbersign" -> 0x23,
      "dollar" -> 0x24, "percent" -> 0x25, "ampersand" -> 0x26, "quotesingle" -> 0x27,
      "parenleft" -> 0x28, "parenright" -> 0x29, "asterisk" -> 0x2A, "plus" -> 0x2B,
      "comma" -> 0x2C, "hyphen" -> 0x2D, "period" -> 0x2E, "slash" -> 0x2F,
      "zero" -> 0x30, "one" -> 0x31, "two" -> 0x32, "three" -> 0x33, "four" -> 0x34,
      "five" -> 0x35, "six" -> 0x36, "seven" -> 0x37, "eight" -> 0x38, "nine" -> 0x39,
      "colon" -> 0x3A, "semicolon" -> 0x3B, "less" -> 0x3C, "equal" -> 0x3D,
      "greater" -> 0x3E, "question" -> 0x3F, "at" -> 0x40,
      "bracketleft" -> 0x5B, "backslash" -> 0x5C, "bracketright" -> 0x5D,
      "asciicircum" -> 0x5E, "underscore" -> 0x5F, "grave" -> 0x60,
      "braceleft" -> 0x7B, "bar" -> 0x7C, "braceright" -> 0x7D, "asciitilde" -> 0x7E,
      "exclamdown" -> 0xA1, "cent" -> 0xA2, "sterling" -> 0xA3, "currency" -> 0xA4,
      "yen" -> 0xA5, "brokenbar" -> 0xA6, "section" -> 0xA7, "dieresis" -> 0xA8,
      "copyright" -> 0xA9, "ordfeminine" -> 0xAA, "guillemotleft" -> 0xAB,
      "logicalnot" -> 0xAC, "registered" -> 0xAE, "macron" -> 0xAF,
      "degree" -> 0xB0, "plusminus" -> 0xB1, "twosuperior" -> 0xB2,
      "threesuperior" -> 0xB3, "acute" -> 0xB4, "mu" -> 0xB5, "paragraph" -> 0xB6,
      "periodcentered" -> 0xB7, "cedilla" -> 0xB8, "onesuperior" -> 0xB9,
      "ordmasculine" -> 0xBA, "guillemotright" -> 0xBB, "onequarter" -> 0xBC,
      "onehalf" -> 0xBD, "threequarters" -> 0xBE, "questiondown" -> 0xBF,
      "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acircumflex" -> 0xC2, "Atilde" -> 0xC3,
      "Adieresis" -> 0xC4, "Aring" -> 0xC5, "AE" -> 0xC6, "Ccedilla" -> 0xC7,
      "Egrave" -> 0xC8, "Eacute" -> 0xC9, "Ecircumflex" -> 0xCA, "Edieresis" -> 0xCB,
      "Igrave" -> 0xCC, "Iacute" -> 0xCD, "Icircumflex" -> 0xCE, "Idieresis" -> 0xCF,
      "Eth" -> 0xD0, "Ntilde" -> 0xD1, "Ograve" -> 0xD2, "Oacute" -> 0xD3,
      "Ocircumflex" -> 0xD4, "Otilde" -> 0xD5, "Odieresis" -> 0xD6, "multiply" -> 0xD7,
      "Oslash" -> 0xD8, "Ugrave" -> 0xD9, "Uacute" -> 0xDA, "Ucircumflex" -> 0xDB,
      "Udieresis" -> 0xDC, "Yacute" -> 0xDD, "Thorn" -> 0xDE, "germandbls" -> 0xDF,
      "agrave" -> 0xE0, "aacute" -> 0xE1, "acircumflex" -> 0xE2, "atilde" -> 0xE3,
      "adieresis" -> 0xE4, "aring" -> 0xE5, "ae" -> 0xE6, "ccedilla" -> 0xE7,
      "egrave" -> 0xE8, "eacute" -> 0xE9, "ecircumflex" -> 0xEA, "edieresis" -> 0xEB,
      "igrave" -> 0xEC, "iacute" -> 0xED, "icircumflex" -> 0xEE, "idieresis" -> 0xEF,
      "eth" -> 0xF0, "ntilde" -> 0xF1, "ograve" -> 0xF2, "oacute" -> 0xF3,
      "ocircumflex" -> 0xF4, "otilde" -> 0xF5, "odieresis" -> 0xF6, "divide" -> 0xF7,
      "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA, "ucircumflex" -> 0xFB,
      "udieresis" -> 0xFC, "yacute" -> 0xFD, "thorn" -> 0xFE, "ydieresis" -> 0xFF,
      // the WinAnsi / typographic row
      "quoteleft" -> 0x2018, "quoteright" -> 0x2019, "quotedblleft" -> 0x201C,
      "quotedblright" -> 0x201D, "quotesinglbase" -> 0x201A, "quotedblbase" -> 0x201E,
      "bullet" -> 0x2022, "endash" -> 0x2013, "emdash" -> 0x2014,
      "ellipsis" -> 0x2026, "dagger" -> 0x2020, "daggerdbl" -> 0x2021,
      "perthousand" -> 0x2030, "guilsinglleft" -> 0x2039, "guilsinglright" -> 0x203A,
      "trademark" -> 0x2122, "fi" -> 0xFB01, "fl" -> 0xFB02, "florin" -> 0x192,
      "circumflex" -> 0x2C6, "tilde" -> 0x2DC, "Scaron" -> 0x160, "scaron" -> 0x161,
      "Zcaron" -> 0x17D, "zcaron" -> 0x17E, "OE" -> 0x152, "oe" -> 0x153,
      "Ydieresis" -> 0x178, "Euro" -> 0x20AC, "minus" -> 0x2212, "fraction" -> 0x2044,
      "dotlessi" -> 0x131, "breve" -> 0x2D8, "dotaccent" -> 0x2D9, "ring" -> 0x2DA,
      "ogonek" -> 0x2DB, "hungarumlaut" -> 0x2DD, "caron" -> 0x2C7)
    val letters = (('A' to 'Z') ++ ('a' to 'z')).map(ch => ch.toString -> ch.toString)
    (named.map { case (n, cp) => n -> new String(Character.toChars(cp)) } ++ letters).toMap
  }

  /** Glyph name → text: the AGL subset, then the algorithmic
    * uniXXXX / uXXXX[XX] families. None = unknown (keep the byte). */
  private def glyphToUnicode(g: String): Option[String] = glyphUnicode.get(g).orElse {
    def hex(s: String): Option[Int] =
      if (s.nonEmpty && s.length <= 6 && s.forall(c => Character.digit(c, 16) >= 0))
        Some(Integer.parseInt(s, 16)) else None
    if (g.startsWith("uni") && g.length >= 7 && (g.length - 3) % 4 == 0)
      g.drop(3).grouped(4).foldLeft(Option(new StringBuilder)) { (acc, h) =>
        acc.flatMap(sb => hex(h).map(cp => sb.append(cp.toChar)))
      }.map(_.toString)
    else if (g.startsWith("u") && g.length >= 5 && g.length <= 7)
      hex(g.drop(1)).filter(Character.isValidCodePoint)
        .map(cp => new String(Character.toChars(cp)))
    else None
  }

  /** code → string table through a JDK single-byte charset (the
    * WinAnsi ≈ windows-1252 and MacRoman ≈ x-MacRoman equivalences). */
  private def charsetTable(name: String): Array[String] = {
    val cs = java.nio.charset.Charset.forName(name)
    Array.tabulate(256) { b =>
      val s = new String(Array(b.toByte), cs)
      if (s.length == 1 && s.charAt(0) != '�') s else null
    }
  }

  /** Build the decoder for an /Encoding entry: a named base encoding,
    * or a dict with /BaseEncoding + /Differences (glyph names applied
    * over the base; codes not listed stay base/transparent). */
  private def encodingDec(doc: Doc, enc: PObj): FontDec = resolve(doc, enc) match {
    case PName("WinAnsiEncoding") => ByteTable(charsetTable("windows-1252"))
    case PName("MacRomanEncoding") => ByteTable(charsetTable("x-MacRoman"))
    case PDict(m) =>
      val base: Array[String] = resolve(doc, m.getOrElse("BaseEncoding", PNull)) match {
        case PName("WinAnsiEncoding") => charsetTable("windows-1252")
        case PName("MacRomanEncoding") => charsetTable("x-MacRoman")
        case _ => new Array[String](256) // font-built-in: transparent base
      }
      resolve(doc, m.getOrElse("Differences", PNull)) match {
        case PArr(items) =>
          var code = 0
          items.foreach {
            case PNum(n) => code = n.toInt
            case PName(g) =>
              if (code >= 0 && code < 256)
                glyphToUnicode(g).foreach(base(code) = _)
              code += 1
            case _ =>
          }
          ByteTable(base)
        case _ if base.exists(_ != null) => ByteTable(base)
        case _ => Transparent
      }
    case _ => Transparent
  }

  /** Parse a /ToUnicode CMap stream (§9.10.3): codespacerange blocks
    * give the code byte widths, bfchar/bfrange blocks the code →
    * UTF-16BE mappings (range destinations increment; the array form
    * enumerates). Tokenized with the content-stream parser — CMap
    * syntax is the PDF object syntax plus PostScript keywords. */
  private def parseToUnicode(data: Array[Byte]): FontDec = {
    val c = new Cur(data, 0)
    val widths = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    val map = new java.util.HashMap[Long, String]()
    val buf = scala.collection.mutable.ArrayBuffer[PObj]()
    var mode: String = null
    def hexVal(b: Array[Byte]): Long = b.foldLeft(0L)((a, x) => (a << 8) | (x & 0xFF))
    def dst(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    def key(w: Int, code: Long): Long = (w.toLong << 32) | code
    def flush(): Unit = {
      mode match {
        case "codespace" => buf.grouped(2).foreach {
          case scala.collection.mutable.ArrayBuffer(PStr(lo), PStr(hi)) if lo.length == hi.length =>
            widths += ((lo.length, hexVal(lo), hexVal(hi)))
          case _ =>
        }
        case "bfchar" => buf.grouped(2).foreach {
          case scala.collection.mutable.ArrayBuffer(PStr(src), PStr(d)) =>
            map.put(key(src.length, hexVal(src)), dst(d))
          case _ =>
        }
        case "bfrange" => buf.grouped(3).foreach {
          case scala.collection.mutable.ArrayBuffer(PStr(lo), PStr(hi), d) if lo.length == hi.length =>
            val w = lo.length
            val (l, h) = (hexVal(lo), hexVal(hi))
            if (h >= l && h - l < 65536) d match {
              case PStr(d0) =>
                // incrementing destination: the LAST UTF-16 unit steps
                var i = 0L
                while (i <= h - l) {
                  val s = dst(d0)
                  val stepped =
                    if (s.isEmpty) s
                    else s.substring(0, s.length - 1) +
                      (s.charAt(s.length - 1) + i).toChar
                  map.put(key(w, l + i), stepped)
                  i += 1
                }
              case PArr(ds) =>
                var i = 0
                while (i < ds.length && l + i <= h) {
                  ds(i) match {
                    case PStr(d0) => map.put(key(w, l + i), dst(d0))
                    case _ =>
                  }
                  i += 1
                }
              case _ =>
            }
          case _ =>
        }
        case _ =>
      }
      buf.clear()
      mode = null
    }
    try {
      while ({ c.skipWs(); !c.eof }) {
        parseObj(c, contentMode = true) match {
          case POp(op) => op match {
            case "begincodespacerange" => buf.clear(); mode = "codespace"
            case "beginbfchar" => buf.clear(); mode = "bfchar"
            case "beginbfrange" => buf.clear(); mode = "bfrange"
            case "endcodespacerange" | "endbfchar" | "endbfrange" => flush()
            case _ => if (mode == null) buf.clear()
          }
          case operand => buf += operand
        }
      }
    } catch { case Refuse => () } // keep whatever parsed; trailing junk tolerated
    if (map.isEmpty && widths.isEmpty) Transparent
    else {
      if (widths.isEmpty) {
        // no codespacerange: infer widths from the mapping keys
        val ws = new java.util.HashSet[Int]()
        map.keySet().forEach(k => { ws.add((k >> 32).toInt); () })
        ws.forEach(w => { widths += ((w, 0L, (1L << (8 * w)) - 1)); () })
      }
      CMapDec(widths.toSeq.sortBy(_._1), map)
    }
  }

  /** Decode one string operand through the font's decoder. */
  private def decodeWith(dec: FontDec, s: Array[Byte],
      out: java.io.ByteArrayOutputStream): Unit = dec match {
    case Transparent => out.write(s)
    case ByteTable(table) =>
      var i = 0
      while (i < s.length) {
        val b = s(i) & 0xFF
        val m = table(b)
        if (m == null) out.write(b)
        else out.write(m.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
    case CMapDec(widths, map) =>
      var i = 0
      while (i < s.length) {
        var advanced = false
        val it = widths.iterator
        while (!advanced && it.hasNext) {
          val (w, lo, hi) = it.next()
          if (i + w <= s.length) {
            var code = 0L
            var k = 0
            while (k < w) { code = (code << 8) | (s(i + k) & 0xFF); k += 1 }
            val m = map.get((w.toLong << 32) | code)
            if (m != null) {
              out.write(m.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              i += w; advanced = true
            } else if (code >= lo && code <= hi) {
              // in-codespace but unmapped: keep the code bytes
              out.write(s, i, w)
              i += w; advanced = true
            }
          }
        }
        if (!advanced) { out.write(s(i) & 0xFF); i += 1 }
      }
  }

  /** Decoder for font `name` in the page's /Resources /Font dict. */
  private def buildFontDec(doc: Doc, resources: Option[PDict], name: String): FontDec = {
    val fontDict = resources.flatMap(res =>
      resolve(doc, res.m.getOrElse("Font", PNull)) match {
        case PDict(fonts) => resolve(doc, fonts.getOrElse(name, PNull)) match {
          case d: PDict => Some(d)
          case _ => None
        }
        case _ => None
      })
    fontDict match {
      case Some(f) =>
        resolve(doc, f.m.getOrElse("ToUnicode", PNull)) match {
          case s: PStream =>
            try parseToUnicode(streamBytes(doc, s)) catch { case Refuse => Transparent }
          case _ => encodingDec(doc, f.m.getOrElse("Encoding", PNull))
        }
      case None => Transparent
    }
  }

  /** Text of one content stream: Tj / ' / " / TJ string operands in
    * order, decoded through the CURRENT font (Tf tracks it; fonts
    * resolve against the page's inherited /Resources); newline per
    * Td/TD/T* (and the ' / " implicit line move). */
  private def contentText(doc: Doc, resources: Option[PDict],
      data: Array[Byte], out: java.io.ByteArrayOutputStream): Unit = {
    val c = new Cur(data, 0)
    val stack = scala.collection.mutable.ArrayBuffer[PObj]()
    var wroteAny = false
    var cur: FontDec = Transparent
    val cache = scala.collection.mutable.Map[String, FontDec]()
    def nl(): Unit = { if (wroteAny) out.write('\n') }
    def emit(s: Array[Byte]): Unit = { decodeWith(cur, s, out); wroteAny = true }
    while ({ c.skipWs(); !c.eof }) {
      parseObj(c, contentMode = true) match {
        case POp(op) =>
          op match {
            case "Tj" => stack.lastOption match {
              case Some(PStr(s)) => emit(s)
              case _ =>
            }
            case "'" | "\"" => stack.lastOption match {
              case Some(PStr(s)) => nl(); emit(s)
              case _ =>
            }
            case "TJ" => stack.lastOption match {
              case Some(PArr(items)) =>
                items.foreach { case PStr(s) => emit(s); case _ => }
              case _ =>
            }
            case "Tf" => stack.collectFirst { case PName(f) => f }.foreach { f =>
              cur = cache.getOrElseUpdate(f, buildFontDec(doc, resources, f))
            }
            case "Td" | "TD" | "T*" => nl()
            case _ => // positioning/style operators: no text effect
          }
          stack.clear()
        case operand => stack += operand
      }
    }
  }

  /** All text of the document, pages in tree order joined by
    * newlines. */
  def extractText(b: Array[Byte]): Option[String] =
    load(b).flatMap { doc =>
      try {
        val out = new java.io.ByteArrayOutputStream()
        var firstPage = true
        def resOf(m: Map[String, PObj], inherited: Option[PDict]): Option[PDict] =
          resolve(doc, m.getOrElse("Resources", PNull)) match {
            case d: PDict => Some(d)
            case _ => inherited // /Resources is an inheritable attribute (§7.7.3.4)
          }
        def walkPages(o: PObj, depth: Int, inherited: Option[PDict]): Unit = {
          if (depth > 64) refuse()
          resolve(doc, o) match {
            case PDict(m) if m.get("Type").contains(PName("Pages")) =>
              val res = resOf(m, inherited)
              resolve(doc, m.getOrElse("Kids", PNull)) match {
                case PArr(kids) => kids.foreach(walkPages(_, depth + 1, res))
                case _ =>
              }
            case d @ PDict(m) if m.get("Type").contains(PName("Page")) =>
              if (!firstPage) out.write('\n')
              firstPage = false
              val res = resOf(m, inherited)
              resolve(doc, m.getOrElse("Contents", PNull)) match {
                case s: PStream => contentText(doc, res, streamBytes(doc, s), out)
                case PArr(parts) =>
                  // split content: one logical stream, concatenated
                  val joined = new java.io.ByteArrayOutputStream()
                  parts.foreach { p =>
                    resolve(doc, p) match {
                      case s: PStream => joined.write(streamBytes(doc, s)); joined.write(' ')
                      case _ =>
                    }
                  }
                  contentText(doc, res, joined.toByteArray, out)
                case _ =>
              }
            case _ =>
          }
        }
        val rootObj = doc.root.map(resolve(doc, _)).getOrElse(refuse())
        rootObj match {
          case PDict(m) => walkPages(m.getOrElse("Pages", PNull), 0, None)
          case _ => refuse()
        }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } catch { case Refuse => None }
    }

  /** Structural metadata: version, object count, page count, whether
    * any stream is Flate-compressed. */
  def meta(b: Array[Byte]): Option[(String, Int, Int, Boolean)] =
    load(b).map { doc =>
      val pages = doc.objects.values.count {
        case PDict(m) => m.get("Type").contains(PName("Page"))
        case _ => false
      }
      val flate = doc.objects.values.exists {
        case PStream(d, _) => d.m.get("Filter").contains(PName("FlateDecode"))
        case _ => false
      }
      (doc.version, doc.objects.size, pages, flate)
    }

  // ------------------------------------------------------------------
  // packer (spec-legal writer for fixtures and gates)
  // ------------------------------------------------------------------

  private def escapeString(s: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length + 16)
    s.foreach { b =>
      val v = b & 0xFF
      if (v == '(' || v == ')' || v == '\\') { out.write('\\'); out.write(v) }
      else if (v < 0x20) out.write(f"\\${v}%03o".getBytes("US-ASCII"))
      else out.write(v)
    }
    out.toByteArray
  }

  /** JDK zlib (the independent encoder) — packer-side compression
    * for content, ObjStm, and xref streams. */
  private def zlibDeflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6, false) // zlib wrapper
    d.setInput(data); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  private def contentFor(text: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("BT /F1 12 Tf 72 720 Td (".getBytes("US-ASCII"))
    bos.write(escapeString(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    bos.write(") Tj ET".getBytes("US-ASCII"))
    bos.toByteArray
  }

  /** One spec-legal single-page PDF showing `text` as one literal
    * string (arbitrary bytes escape-safe); `flate` compresses the
    * content stream with the JDK's zlib (the independent encoder).
    */
  def pdfOf(text: String, flate: Boolean): Array[Byte] = {
    val content = contentFor(text)
    val streamData = if (!flate) content else zlibDeflate(content)
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>".getBytes("US-ASCII"),
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>".getBytes("US-ASCII"),
      ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>").getBytes("US-ASCII"),
      null, // stream, handled below
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>".getBytes("US-ASCII"))
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes("US-ASCII"))
    val offsets = new Array[Int](objs.length + 1)
    for (i <- objs.indices) {
      offsets(i + 1) = out.size()
      out.write(s"${i + 1} 0 obj\n".getBytes("US-ASCII"))
      if (objs(i) != null) out.write(objs(i))
      else {
        val filter = if (flate) " /Filter /FlateDecode" else ""
        out.write(s"<< /Length ${streamData.length}$filter >>\nstream\n".getBytes("US-ASCII"))
        out.write(streamData)
        out.write("\nendstream".getBytes("US-ASCII"))
      }
      out.write("\nendobj\n".getBytes("US-ASCII"))
    }
    val xrefAt = out.size()
    out.write(s"xref\n0 ${objs.length + 1}\n".getBytes("US-ASCII"))
    out.write("0000000000 65535 f \n".getBytes("US-ASCII"))
    for (i <- objs.indices)
      out.write(f"${offsets(i + 1)}%010d 00000 n \n".getBytes("US-ASCII"))
    out.write(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
      .getBytes("US-ASCII"))
    out.toByteArray
  }

  /** The same single-page document in the PDF 1.5 layout essentially
    * every modern producer emits: catalog/pages/page/font packed
    * inside a Flate'd /Type /ObjStm object stream, located through a
    * /Type /XRef CROSS-REFERENCE STREAM (W [1 4 2], type-2 entries,
    * Flate + PNG Up predictor /Predictor 12) — no classic table, no
    * trailer keyword. `flate` toggles the CONTENT stream's filter so
    * both content paths appear in every corpus; the ObjStm and xref
    * stream are always compressed, as in the wild.
    */
  def pdfOf15(text: String, flate: Boolean): Array[Byte] = {
    val content = contentFor(text)
    val contentData = if (!flate) content else zlibDeflate(content)
    // ---- object stream: objects 1 (catalog), 2 (pages), 3 (page), 5 (font)
    val packed = Vector(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val bodies = packed.map(_._2 + " ")
    val offs = bodies.scanLeft(0)(_ + _.length)
    val header = packed.zip(offs).map { case ((num, _), off) => s"$num $off" }
      .mkString("", " ", "\n")
    val objStmPlain = (header + bodies.mkString).getBytes("US-ASCII")
    val objStmData = zlibDeflate(objStmPlain)
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.5\n".getBytes("US-ASCII"))
    // ---- object 4: the content stream
    val off4 = out.size()
    val filter4 = if (flate) " /Filter /FlateDecode" else ""
    out.write(s"4 0 obj\n<< /Length ${contentData.length}$filter4 >>\nstream\n".getBytes("US-ASCII"))
    out.write(contentData)
    out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    // ---- object 6: the ObjStm
    val off6 = out.size()
    out.write((s"6 0 obj\n<< /Type /ObjStm /N ${packed.length} /First ${header.length} " +
      s"/Length ${objStmData.length} /Filter /FlateDecode >>\nstream\n").getBytes("US-ASCII"))
    out.write(objStmData)
    out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    // ---- object 7: the xref stream (self-referential offset)
    val off7 = out.size()
    val entries = Array(
      Array(0L, 0L, 65535L),        // 0: free
      Array(2L, 6L, 0L),            // 1: in ObjStm 6, index 0
      Array(2L, 6L, 1L),
      Array(2L, 6L, 2L),
      Array(1L, off4.toLong, 0L),   // 4: content stream
      Array(2L, 6L, 3L),            // 5: font
      Array(1L, off6.toLong, 0L),   // 6: the ObjStm itself
      Array(1L, off7.toLong, 0L))   // 7: this xref stream
    val rowBytes = 7 // W [1 4 2]
    val raw = entries.map { e =>
      val r = new Array[Byte](rowBytes)
      r(0) = e(0).toByte
      var i = 0
      while (i < 4) { r(1 + i) = ((e(1) >> (8 * (3 - i))) & 0xFF).toByte; i += 1 }
      r(5) = ((e(2) >> 8) & 0xFF).toByte; r(6) = (e(2) & 0xFF).toByte
      r
    }
    // PNG Up filter (predictor 12): tag 2, row minus previous raw row
    val filtered = new java.io.ByteArrayOutputStream()
    raw.zipWithIndex.foreach { case (row, r) =>
      filtered.write(2)
      var i = 0
      while (i < rowBytes) {
        val up = if (r > 0) raw(r - 1)(i) & 0xFF else 0
        filtered.write(((row(i) & 0xFF) - up) & 0xFF)
        i += 1
      }
    }
    val xrefData = zlibDeflate(filtered.toByteArray)
    out.write((s"7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 2] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowBytes >> " +
      s"/Length ${xrefData.length} >>\nstream\n").getBytes("US-ASCII"))
    out.write(xrefData)
    out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    out.write(s"startxref\n$off7\n%%EOF\n".getBytes("US-ASCII"))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark seam
  // ------------------------------------------------------------------

  /** Per-document PDFs in the engine's media schema, cycling all four
    * writer layouts with the id so every corpus exercises every decode
    * path: id%4 = 0 → 1.4 Flate content, 1 → 1.4 raw, 2 → 1.5
    * (ObjStm + xref stream) with Flate content, 3 → 1.5 raw content. */
  def packTextPdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Partitioning.fanOut(df)
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val flate = id % 2 == 0
        (id, if (id % 4 >= 2) pdfOf15(text, flate) else pdfOf(text, flate))
      })
      .toDF("id", "__payload")
      .select(col("id"), struct(
        col("__payload").as("payload"),
        lit("application/pdf").as("mime"),
        struct(
          octet_length(col("__payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
  }

  /** Extract text + structural metadata from a PDF payload column;
    * refused payloads quarantine with decoded=false. */
  def extractPdfText(df: DataFrame, idCol: String, mediaCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol + ".payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (extractText(payload), meta(payload)) match {
          case (Some(text), Some((ver, nObj, nPages, flate))) =>
            (id, true, ver, nObj, nPages, flate, text)
          case _ =>
            (id, false, null: String, 0, 0, false, null: String)
        }
      })
      .toDF("id", "decoded", "version", "n_objects", "n_pages", "flate", "text")
  }
}
