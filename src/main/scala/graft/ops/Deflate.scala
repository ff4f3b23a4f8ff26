package graft.ops

import java.io.ByteArrayOutputStream

/** DEFLATE compressor from RFC 1951 — the encode half of the
  * [[GzipCodec]] pair, completing the last of the big-four archive
  * codecs whose write side was stored-mode only (zstd writes store
  * frames by design; bzip2/xz are decode-only by design; gzip/zip now
  * COMPRESS). Like the FLAC encoder, every block picks the cheapest
  * of the three RFC block types by EXACT bit cost — stored (§3.2.4),
  * fixed Huffman (§3.2.6), dynamic Huffman (§3.2.7) — so the output
  * is never larger than stored-mode plus one block header.
  *
  * Shape:
  *  - LZ77 with the full 32 KiB window: hash chains over 3-byte
  *    prefixes, bounded chain walk, zlib-style lazy matching (defer a
  *    match one byte when the next position matches longer).
  *  - Token stream cut into blocks of ≤ 64 Ki tokens; per block,
  *    literal/length and distance histograms → optimal LENGTH-LIMITED
  *    Huffman codes via package-merge (15-bit limit; 7-bit for the
  *    code-length alphabet) — deterministic tie-breaks, so the same
  *    input gives the same bytes on any JVM.
  *  - Code-length sequences RLE'd with symbols 16/17/18 exactly as
  *    §3.2.7 prescribes; HLIT/HDIST/HCLEN trimmed.
  *
  * Pinned in DeflateSpec against java.util.zip.Inflater (the
  * independent decoder, also behind [[GzipCodec.inflate]]): every
  * adversarial corpus must round-trip byte-exact, and repetitive text
  * must actually compress.
  */
object Deflate {

  // RFC 1951 §3.2.5 length/distance code tables
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27,
    31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
    3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
    129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193,
    12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  // §3.2.7 code-length symbol transmission order
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  private def lenCode(len: Int): Int = {
    var c = LenBase.length - 1
    while (LenBase(c) > len) c -= 1
    c
  }
  private def distCode(dist: Int): Int = {
    var c = DistBase.length - 1
    while (DistBase(c) > dist) c -= 1
    c
  }

  // ------------------------------------------------------------------
  // bit writer (LSB-first; Huffman codes written bit-reversed, §3.1.1)
  // ------------------------------------------------------------------

  private final class BitW {
    val out = new ByteArrayOutputStream()
    private var cur = 0L
    private var n = 0
    def bits(v: Int, len: Int): Unit = {
      cur |= (v.toLong & ((1L << len) - 1)) << n
      n += len
      while (n >= 8) { out.write((cur & 0xFF).toInt); cur >>>= 8; n -= 8 }
    }
    def huff(code: Int, len: Int): Unit = {
      var r = 0
      var i = 0
      while (i < len) { r = (r << 1) | ((code >> i) & 1); i += 1 }
      bits(r, len)
    }
    def alignByte(): Unit = if (n > 0) { out.write((cur & 0xFF).toInt); cur = 0; n = 0 }
    def bitLength: Long = out.size().toLong * 8 + n
    def finish(): Array[Byte] = { alignByte(); out.toByteArray }
  }

  // ------------------------------------------------------------------
  // length-limited Huffman (package-merge), canonical code assignment
  // ------------------------------------------------------------------

  /** Optimal code lengths under `limit` bits via package-merge.
    * Deterministic: ties break on (weight, lowest symbol). Symbols
    * with zero frequency get length 0.
    */
  private[graft] def lengthLimited(freqs: Array[Long], limit: Int): Array[Int] = {
    val out = new Array[Int](freqs.length)
    val syms = (0 until freqs.length).filter(freqs(_) > 0)
    if (syms.isEmpty) return out
    if (syms.length == 1) { out(syms.head) = 1; return out }
    require(syms.length <= (1 << limit), "too many symbols for limit")
    final case class Pk(weight: Long, minSym: Int, symbols: List[Int])
    val leaves = syms.map(s => Pk(freqs(s), s, List(s)))
      .sortBy(p => (p.weight, p.minSym)).toVector
    var prev: Vector[Pk] = Vector.empty
    var level = 0
    while (level < limit) {
      val merged = prev.grouped(2).collect {
        case Seq(a, b) => Pk(a.weight + b.weight, math.min(a.minSym, b.minSym),
          a.symbols ::: b.symbols)
      }.toVector
      prev = (merged ++ leaves).sortBy(p => (p.weight, p.minSym))
      level += 1
    }
    prev.take(2 * (syms.length - 1))
      .foreach(_.symbols.foreach(s => out(s) += 1))
    out
  }

  /** Canonical codes from lengths (RFC 1951 §3.2.2). Returns
    * MSB-first code values ([[BitW.huff]] reverses on write).
    */
  private[graft] def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = lengths.max
    val codes = new Array[Int](lengths.length)
    if (maxLen == 0) return codes
    val blCount = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    val nextCode = new Array[Int](maxLen + 1)
    var code = 0
    var b = 1
    while (b <= maxLen) {
      code = (code + blCount(b - 1)) << 1
      nextCode(b) = code
      b += 1
    }
    var s = 0
    while (s < lengths.length) {
      val l = lengths(s)
      if (l > 0) { codes(s) = nextCode(l); nextCode(l) += 1 }
      s += 1
    }
    codes
  }

  // ------------------------------------------------------------------
  // LZ77 hash-chain matcher with lazy evaluation
  // ------------------------------------------------------------------

  private val MinMatch = 3
  private val MaxMatch = 258
  private val WindowSize = 32768
  private val HashBits = 15
  private val MaxChain = 256

  // ------------------------------------------------------------------
  // block emission
  // ------------------------------------------------------------------

  /** Compress `data` as a raw DEFLATE stream (RFC 1951). */
  def compress(data: Array[Byte]): Array[Byte] = {
    val w = new BitW
    if (data.isEmpty) {
      // single fixed-Huffman block holding only end-of-block
      w.bits(1, 1); w.bits(1, 2)
      w.huff(0, 7) // EOB (symbol 256) in the fixed code: 7 bits, value 0
      return w.finish()
    }
    val toks = tokenizeSafe(data)
    val blockTokens = 1 << 16
    var t0 = 0
    var byte0 = 0
    while (t0 < toks.length) {
      val t1 = math.min(toks.length, t0 + blockTokens)
      val isLast = t1 == toks.length
      // byte span of this block (for the stored-mode option)
      var span = 0
      var i = t0
      while (i < t1) {
        val t = toks(i)
        span += (if (t < 0) -t >>> 16 else 1)
        i += 1
      }
      emitBlock(w, data, byte0, span, toks, t0, t1, isLast)
      byte0 += span
      t0 = t1
    }
    w.finish()
  }

  /** Tokenizer with the SAFE match encoding: literal = byte value
    * (≥ 0); match = -((len << 16) | dist) (< 0).
    */
  private def tokenizeSafe(data: Array[Byte]): Array[Int] = {
    val n = data.length
    val toks = new java.util.ArrayList[Int](math.max(16, n / 3))
    val head = new Array[Int](1 << HashBits)
    java.util.Arrays.fill(head, -1)
    val chain = new Array[Int](math.max(1, n))

    def hash(i: Int): Int =
      (((data(i) & 0xFF) << 10) ^ ((data(i + 1) & 0xFF) << 5) ^ (data(i + 2) & 0xFF)) & ((1 << HashBits) - 1)

    def insert(i: Int): Unit = {
      val h = hash(i)
      chain(i) = head(h)
      head(h) = i
    }

    def matchLen(a: Int, b: Int): Int = {
      var l = 0
      val cap = math.min(MaxMatch, n - b)
      while (l < cap && data(a + l) == data(b + l)) l += 1
      l
    }

    def findMatch(i: Int): Int = { // (len << 16) | dist, or 0
      if (i + MinMatch > n) return 0
      var best = MinMatch - 1
      var bestDist = 0
      var cand = head(hash(i))
      var steps = 0
      val minPos = i - WindowSize
      while (cand >= 0 && cand >= minPos && steps < MaxChain) {
        val l = matchLen(cand, i)
        if (l > best) { best = l; bestDist = i - cand; if (l >= MaxMatch) steps = MaxChain }
        cand = chain(cand)
        steps += 1
      }
      if (best >= MinMatch) (best << 16) | bestDist else 0
    }

    var i = 0
    var pendingInsert = -1 // position already inserted by a lazy probe
    while (i < n) {
      if (i + MinMatch <= n) {
        val m = findMatch(i)
        val len = m >>> 16
        if (len >= MinMatch) {
          var deferred = false
          if (len < MaxMatch && i + 1 + MinMatch <= n) {
            insert(i)
            pendingInsert = i
            val m2 = findMatch(i + 1)
            if ((m2 >>> 16) > len) deferred = true
          }
          if (deferred) {
            toks.add(data(i) & 0xFF)
            i += 1
          } else {
            toks.add(-m)
            var k = i
            val end = math.min(i + len, n - MinMatch + 1)
            while (k < end) {
              if (k != pendingInsert) insert(k)
              k += 1
            }
            i += len
          }
        } else {
          if (i != pendingInsert) insert(i)
          toks.add(data(i) & 0xFF)
          i += 1
        }
      } else {
        toks.add(data(i) & 0xFF)
        i += 1
      }
    }
    val arr = new Array[Int](toks.size())
    var k = 0
    while (k < arr.length) { arr(k) = toks.get(k); k += 1 }
    arr
  }

  // fixed-Huffman lengths (§3.2.6)
  private val FixedLitLen: Array[Int] = Array.tabulate(288) { s =>
    if (s < 144) 8 else if (s < 256) 9 else if (s < 280) 7 else 8
  }
  private val FixedDistLen: Array[Int] = Array.fill(30)(5)

  private def emitBlock(w: BitW, data: Array[Byte], byte0: Int, span: Int,
      toks: Array[Int], t0: Int, t1: Int, isLast: Boolean): Unit = {
    // histograms
    val litFreq = new Array[Long](286)
    val distFreq = new Array[Long](30)
    var i = t0
    while (i < t1) {
      val t = toks(i)
      if (t >= 0) litFreq(t) += 1
      else {
        val m = -t
        litFreq(257 + lenCode(m >>> 16)) += 1
        distFreq(distCode(m & 0xFFFF)) += 1
      }
      i += 1
    }
    litFreq(256) += 1 // end-of-block

    val litLen = lengthLimited(litFreq, 15)
    val distLen = lengthLimited(distFreq, 15)
    // at least one distance code must be describable; if no matches,
    // HDIST=1 with a zero-length code is legal (we emit one 0 length)

    def tokenCost(ll: Array[Int], dl: Array[Int]): Long = {
      var bits = 0L
      var j = t0
      while (j < t1) {
        val t = toks(j)
        if (t >= 0) bits += ll(t)
        else {
          val m = -t
          val lc = lenCode(m >>> 16)
          val dc = distCode(m & 0xFFFF)
          bits += ll(257 + lc) + LenExtra(lc) + dl(dc) + DistExtra(dc)
        }
        j += 1
      }
      bits + ll(256)
    }

    // dynamic header cost (computed by building the header plan)
    val (clTokens, hlit, hdist) = buildClTokens(litLen, distLen)
    val clFreq = new Array[Long](19)
    clTokens.foreach { case (sym, _) => clFreq(sym) += 1 }
    val clLen = lengthLimited(clFreq, 7)
    var hclen = 19
    while (hclen > 4 && clLen(ClOrder(hclen - 1)) == 0) hclen -= 1
    val dynHeaderBits = 5 + 5 + 4 + hclen * 3 + clTokens.map { case (sym, _) =>
      clLen(sym) + (sym match { case 16 => 2; case 17 => 3; case 18 => 7; case _ => 0 })
    }.sum.toLong
    val dynCost = 3 + dynHeaderBits + tokenCost(litLen, distLen)
    val fixCost = 3 + tokenCost(FixedLitLen, FixedDistLen)
    // stored: align + 4 len bytes + span (may need several 65535 chunks)
    val nChunks = math.max(1, (span + 65534) / 65535)
    val alignPad = (8 - ((w.bitLength + 3) % 8)) % 8
    val storedCost = 3 + alignPad + nChunks * 32L + span.toLong * 8 +
      (nChunks - 1) * 35L // subsequent chunk headers re-align by construction

    if (storedCost <= dynCost && storedCost <= fixCost) {
      var off = byte0
      var remaining = span
      var first = true
      while (first || remaining > 0) {
        first = false
        val nb = math.min(remaining, 65535)
        val lastChunk = isLast && remaining == nb
        w.bits(if (lastChunk) 1 else 0, 1)
        w.bits(0, 2)
        w.alignByte()
        w.bits(nb & 0xFF, 8); w.bits((nb >> 8) & 0xFF, 8)
        w.bits(~nb & 0xFF, 8); w.bits((~nb >> 8) & 0xFF, 8)
        var k = 0
        while (k < nb) { w.bits(data(off + k) & 0xFF, 8); k += 1 }
        off += nb
        remaining -= nb
      }
    } else if (fixCost <= dynCost) {
      w.bits(if (isLast) 1 else 0, 1)
      w.bits(1, 2)
      emitTokens(w, toks, t0, t1, FixedLitLen, canonicalCodes(FixedLitLen),
        FixedDistLen, canonicalCodes(FixedDistLen))
    } else {
      w.bits(if (isLast) 1 else 0, 1)
      w.bits(2, 2)
      w.bits(hlit - 257, 5)
      w.bits(hdist - 1, 5)
      w.bits(hclen - 4, 4)
      val clCodes = canonicalCodes(clLen)
      var k = 0
      while (k < hclen) { w.bits(clLen(ClOrder(k)), 3); k += 1 }
      clTokens.foreach { case (sym, extra) =>
        w.huff(clCodes(sym), clLen(sym))
        sym match {
          case 16 => w.bits(extra, 2)
          case 17 => w.bits(extra, 3)
          case 18 => w.bits(extra, 7)
          case _ => ()
        }
      }
      emitTokens(w, toks, t0, t1, litLen, canonicalCodes(litLen),
        distLen, canonicalCodes(distLen))
    }
  }

  /** RLE the concatenated litlen+dist code-length sequence with
    * symbols 16/17/18 (§3.2.7). Returns (tokens, HLIT, HDIST).
    */
  private def buildClTokens(litLen: Array[Int], distLen: Array[Int]): (Vector[(Int, Int)], Int, Int) = {
    var hlit = 286
    while (hlit > 257 && litLen(hlit - 1) == 0) hlit -= 1
    var hdist = 30
    while (hdist > 1 && distLen(hdist - 1) == 0) hdist -= 1
    val seq = litLen.take(hlit) ++ distLen.take(hdist)
    val toks = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < seq.length) {
      val v = seq(i)
      var run = 1
      while (i + run < seq.length && seq(i + run) == v) run += 1
      if (v == 0) {
        var left = run
        while (left >= 11) { val n = math.min(left, 138); toks += ((18, n - 11)); left -= n }
        if (left >= 3) { toks += ((17, left - 3)); left = 0 }
        while (left > 0) { toks += ((0, 0)); left -= 1 }
      } else {
        toks += ((v, 0))
        var left = run - 1
        while (left >= 3) { val n = math.min(left, 6); toks += ((16, n - 3)); left -= n }
        while (left > 0) { toks += ((v, 0)); left -= 1 }
      }
      i += run
    }
    (toks.result(), hlit, hdist)
  }

  private def emitTokens(w: BitW, toks: Array[Int], t0: Int, t1: Int,
      litLen: Array[Int], litCodes: Array[Int],
      distLen: Array[Int], distCodes: Array[Int]): Unit = {
    var i = t0
    while (i < t1) {
      val t = toks(i)
      if (t >= 0) w.huff(litCodes(t), litLen(t))
      else {
        val m = -t
        val len = m >>> 16
        val dist = m & 0xFFFF
        val lc = lenCode(len)
        w.huff(litCodes(257 + lc), litLen(257 + lc))
        if (LenExtra(lc) > 0) w.bits(len - LenBase(lc), LenExtra(lc))
        val dc = distCode(dist)
        w.huff(distCodes(dc), distLen(dc))
        if (DistExtra(dc) > 0) w.bits(dist - DistBase(dc), DistExtra(dc))
      }
      i += 1
    }
    w.huff(litCodes(256), litLen(256))
  }
}
