package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document text profile — every count and score behind
  * [[graft.ops.TextAnalysis.profile]] — from one pass over the UTF-8
  * bytes of the text and one over the bytes of Spark's `lower(text)`.
  * This object holds the one definition of each value:
  *
  *  - `token_count`: the maximal `[a-z0-9]` runs of the lowered text
  *    (the word tokens of [[graft.ops.TextAnalysis.tokens]]);
  *  - `bpeish_token_count`: one per maximal `[a-zA-Z0-9]` run of the
  *    text, plus one per UTF-16 code unit of every other character that
  *    is not Java `\s` (`[ \t\n\x0B\f\r]`), so a supplementary
  *    character such as an emoji counts 2;
  *  - `lang_id`: `zh` if any character is in U+4E00–U+9FFF; else the
  *    language whose marker words match the most tokens, ties going to
  *    the first of en, de, fr, es; `und` when no marker matches;
  *  - `avg_token_len`, `stopword_ratio`: token length sum and stopword
  *    tokens over the token count (0.0 without tokens);
  *  - `punct_ratio`: characters other than `[a-zA-Z0-9 ]` over all
  *    characters (0.0 for empty text);
  *  - `quality_score`: `1 - |avg_token_len - 5| / 10 - punct_ratio +
  *    stopword_ratio / 2`, and 0.0 without tokens.
  *
  * The lowered bytes come from Spark's own `lower`, so the Kelvin sign,
  * `İ` and every other case mapping tokenize exactly as `tokens` does;
  * the word tokens are ASCII, so a token never spans a multi-byte
  * character. Characters are counted as `length` counts them (one per
  * UTF-8 lead byte). NULL text yields NULL counts, `und`, and the
  * scores of an empty token list over an empty text (quality 0.5).
  */
object TextProfileKernel {

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que"))

  private val stopwords = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")

  private val Langs = langMarkers.map(l => UTF8String.fromString(l._1)).toArray
  private val Und = UTF8String.fromString("und")
  private val Zh = UTF8String.fromString("zh")
  private val StopBit = 1 << Langs.length

  /** Word → bit mask (bit i: a marker of language i; [[StopBit]]: a
    * stopword), keyed by the word's bytes packed little-endian into a
    * long. Open addressing over 128 slots; key 0 (no word) is empty. */
  private val Slots = 128
  private val keys = new Array[Long](Slots)
  private val masks = new Array[Int](Slots)

  private def slot(key: Long): Int = ((key * 0x9E3779B97F4A7C15L) >>> 57).toInt

  private def pack(word: String): Long =
    word.getBytes("US-ASCII").zipWithIndex.map { case (b, i) => (b & 0xFFL) << (8 * i) }.sum

  private def add(word: String, bit: Int): Unit = {
    val key = pack(word)
    var i = slot(key)
    while (keys(i) != 0 && keys(i) != key) i = (i + 1) & (Slots - 1)
    keys(i) = key
    masks(i) |= bit
  }

  for (((_, words), li) <- langMarkers.zipWithIndex; w <- words) add(w, 1 << li)
  for (w <- stopwords) add(w, StopBit)

  private def maskOf(key: Long): Int = {
    var i = slot(key)
    while (keys(i) != 0) {
      if (keys(i) == key) return masks(i)
      i = (i + 1) & (Slots - 1)
    }
    0
  }

  /** The result struct. The counts are NULL exactly when the text is;
    * `lang_id` never is. The scores are never NULL either, but are
    * declared nullable: that is the schema the profile columns have
    * always had. */
  def schema(textNullable: Boolean): StructType = StructType(Seq(
    StructField("token_count", LongType, textNullable),
    StructField("bpeish_token_count", LongType, textNullable),
    StructField("lang_id", StringType, nullable = false),
    StructField("avg_token_len", DoubleType),
    StructField("punct_ratio", DoubleType),
    StructField("stopword_ratio", DoubleType),
    StructField("quality_score", DoubleType)))

  private def isAsciiAlnum(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Java's `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isJavaSpace(b: Int): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  def profile(text: UTF8String, lowered: UTF8String): InternalRow = {
    if (text == null)
      return new GenericInternalRow(Array[Any](null, null, Und, 0.0, 0.0, 0.0, 0.5))

    // the text: characters, [a-zA-Z0-9 ] characters, bpeish pieces, CJK
    var chars = 0L
    var kept = 0L
    var bpeish = 0L
    var cjk = false
    var inRun = false
    var i = 0
    val n = text.numBytes
    while (i < n) {
      val b = text.getByte(i)
      if (b >= 0) {
        if (isAsciiAlnum(b)) {
          kept += 1
          if (!inRun) bpeish += 1
          inRun = true
        } else {
          inRun = false
          if (b == ' ') kept += 1
          else if (!isJavaSpace(b)) bpeish += 1
        }
        i += 1
      } else {
        inRun = false
        val len = UTF8String.numBytesForFirstByte(b)
        bpeish += (if (len == 4) 2 else 1)
        if (len == 3 && i + 2 < n) {
          val cp = ((b & 0x0F) << 12) | ((text.getByte(i + 1) & 0x3F) << 6) |
            (text.getByte(i + 2) & 0x3F)
          if (cp >= 0x4E00 && cp <= 0x9FFF) cjk = true
        }
        i += len
      }
      chars += 1
    }

    // the lowered text: [a-z0-9] tokens, their lengths, marker and
    // stopword hits; the position past the end closes the last token
    var tokens = 0L
    var tokenLen = 0L
    val hits = new Array[Int](Langs.length)
    var stops = 0L
    var run = 0
    var key = 0L
    val ln = lowered.numBytes
    i = 0
    while (i <= ln) {
      val b = if (i < ln) lowered.getByte(i) else 0
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (run < 8) key |= b.toLong << (8 * run)
        run += 1
      } else if (run > 0) {
        tokens += 1
        tokenLen += run
        val m = if (run <= 8) maskOf(key) else 0
        var li = 0
        while (li < hits.length) { hits(li) += (m >>> li) & 1; li += 1 }
        if ((m & StopBit) != 0) stops += 1
        run = 0
        key = 0L
      }
      i += 1
    }

    val lang =
      if (cjk) Zh
      else {
        var best = 0
        var li = 0
        while (li < hits.length) { if (hits(li) > hits(best)) best = li; li += 1 }
        if (hits(best) > 0) Langs(best) else Und
      }
    val avgTokenLen = if (tokens > 0) tokenLen.toDouble / tokens else 0.0
    val charLen = chars.toDouble
    val punctRatio = if (charLen > 0) (charLen - kept.toDouble) / charLen else 0.0
    val stopRatio = if (tokens > 0) stops.toDouble / tokens else 0.0
    val score =
      if (tokens == 0) 0.0
      else 1.0 - math.abs(avgTokenLen - 5.0) / 10.0 - punctRatio + stopRatio * 0.5
    new GenericInternalRow(Array[Any](tokens, bpeish, lang, avgTokenLen, punctRatio,
      stopRatio, score))
  }
}

/** (text, lower(text)) → the [[TextProfileKernel]] struct (codegen'd).
  * Never NULL: NULL text has its own profile. */
case class TextProfileExpr(text: Expression, lowered: Expression) extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = lowered
  override def nullable: Boolean = false
  override def dataType: DataType = TextProfileKernel.schema(text.nullable)
  override def eval(input: InternalRow): Any =
    TextProfileKernel.profile(text.eval(input).asInstanceOf[UTF8String],
      lowered.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val l = lowered.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      ${l.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.expr.TextProfileKernel.profile(
        ${t.isNull} ? null : ${t.value}, ${l.isNull} ? null : ${l.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TextProfileExpr =
    copy(text = newLeft, lowered = newRight)
  override def prettyName: String = "text_profile"
}

object TextProfile {
  import org.apache.spark.sql.functions.lower
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def apply(text: Column): Column = column(TextProfileExpr(expression(text), expression(lower(text))))
}
