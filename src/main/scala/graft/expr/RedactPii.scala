package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** PII redaction — [[graft.ops.TextAnalysis.redactPii]] — in one pass
  * over the UTF-8 bytes of the text. The result is exactly that of
  * four leftmost, non-overlapping regex replacements run in this
  * order, each on the output of the one before:
  *
  *  1. `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` → `<EMAIL>`
  *  1. `\b\d{3}-\d{2}-\d{4}\b` → `<SSN>`
  *  1. `\+\d{7,15}\b` → `<PHONE>`
  *  1. `\b(\d{1,3}\.){3}\d{1,3}\b` → `<IP>`
  *
  * where `\d` is `[0-9]` and `\b` is the ASCII word boundary: a word
  * character is `[A-Za-z0-9_]` (RE2's rule), so a letter or digit
  * outside ASCII is a boundary like any other non-word character.
  *
  * Every pattern character is ASCII, so a multi-byte character never
  * matches. One left-to-right scan gives the sequential result:
  *  - each email is found ahead of the scan (the next `@` with the
  *    maximal local run before it and the longest domain after it),
  *    and the scan replaces it when it reaches its first byte. A
  *    later pattern is made of local-part bytes too, so it can never
  *    reach into an email; right after a placeholder the boundary
  *    holds, as it does after the `>` of the replaced text;
  *  - SSN, phone and IP matches never overlap one another, except an
  *    IP whose last number is the first group of an SSN; the SSN
  *    rule runs first, so that IP is dropped.
  *
  * Text without `@` and without a digit comes back as the same
  * instance. Malformed UTF-8 comes back re-encoded from its decoded
  * Java string (each malformed sequence becomes U+FFFD), as
  * `regexp_replace` does with every row.
  */
object RedactPiiKernel {

  private val Email = "<EMAIL>".getBytes("US-ASCII")
  private val Ssn = "<SSN>".getBytes("US-ASCII")
  private val Phone = "<PHONE>".getBytes("US-ASCII")
  private val Ip = "<IP>".getBytes("US-ASCII")

  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  private def isLetter(b: Int): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isWord(b: Int): Boolean = isLetter(b) || isDigit(b) || b == '_'
  /** `[A-Za-z0-9.-]` */
  private def isDomain(b: Int): Boolean = isLetter(b) || isDigit(b) || b == '.' || b == '-'
  /** `[A-Za-z0-9._%+-]` */
  private def isLocal(b: Int): Boolean = isDomain(b) || b == '_' || b == '%' || b == '+'

  /** The digits in a row from `i`, counting no further than `max`. */
  private def digits(t: UTF8String, i: Int, n: Int, max: Int): Int = {
    var j = i
    while (j < n && j - i < max && isDigit(t.getByte(j))) j += 1
    j - i
  }

  /** The end of the email whose `@` is at `at`, or -1. The domain part
    * takes the longest `[A-Za-z0-9.-]+` that a `.` and two letters
    * follow; the letters then run as far as they go. */
  private def emailEnd(t: UTF8String, at: Int, n: Int): Int = {
    var end = at + 1
    while (end < n && isDomain(t.getByte(end))) end += 1
    var dot = end - 3
    while (dot >= at + 2) {
      if (t.getByte(dot) == '.' && isLetter(t.getByte(dot + 1)) && isLetter(t.getByte(dot + 2))) {
        var e = dot + 3
        while (e < n && isLetter(t.getByte(e))) e += 1
        return e
      }
      dot -= 1
    }
    -1
  }

  /** The next email at or after `from`, as start << 32 | end, or -1.
    * Its local part starts no earlier than `from`, the end of the
    * email before it. */
  private def nextEmail(t: UTF8String, from: Int, n: Int): Long = {
    var at = from
    while (at < n) {
      if (t.getByte(at) == '@') {
        var start = at
        while (start > from && isLocal(t.getByte(start - 1))) start -= 1
        if (start < at) {
          val end = emailEnd(t, at, n)
          if (end >= 0) return (start.toLong << 32) | end
        }
      }
      at += 1
    }
    -1L
  }

  /** Whether an SSN starts at `s`, whose previous byte is not a word
    * byte. */
  private def ssnAt(t: UTF8String, s: Int, n: Int): Boolean =
    s + 11 <= n && digits(t, s, n, 3) == 3 && t.getByte(s + 3) == '-' &&
      digits(t, s + 4, n, 2) == 2 && t.getByte(s + 6) == '-' &&
      digits(t, s + 7, n, 4) == 4 && (s + 11 == n || !isWord(t.getByte(s + 11)))

  /** The end of the phone number whose `+` is at `s`, or -1: 7 to 15
    * digits, and no word byte after them. */
  private def phoneEnd(t: UTF8String, s: Int, n: Int): Int = {
    val r = digits(t, s + 1, n, 16)
    val end = s + 1 + r
    if (r >= 7 && r <= 15 && (end == n || !isWord(t.getByte(end)))) end else -1
  }

  /** The end of the IPv4 address that starts at `s`, whose previous
    * byte is not a word byte, or -1. Each number is a whole digit run
    * of 1 to 3 digits. An address whose last number begins an SSN is
    * no match: the SSN rule has taken those digits. */
  private def ipEnd(t: UTF8String, s: Int, n: Int): Int = {
    var p = s
    var group = 0
    while (group < 3) {
      val r = digits(t, p, n, 4)
      if (r < 1 || r > 3 || p + r >= n || t.getByte(p + r) != '.') return -1
      p += r + 1
      group += 1
    }
    val r = digits(t, p, n, 4)
    val end = p + r
    if (r < 1 || r > 3 || (end < n && isWord(t.getByte(end)))) -1
    else if (r == 3 && end < n && t.getByte(end) == '-' && ssnAt(t, p, n)) -1
    else end
  }

  /** The output, made at the first replacement: the text's bytes up to
    * each match, then its placeholder. A placeholder is never longer
    * than one byte more than its match (`<EMAIL>` for `a@b.cc`), and
    * an email is at least six bytes, so the buffer never grows. */
  private final class Out(t: UTF8String) {
    private val n = t.numBytes
    private val buf = new Array[Byte](n + n / 6 + 1)
    private var len = 0
    private var copied = 0

    private def copy(from: Int, until: Int): Unit = {
      Platform.copyMemory(t.getBaseObject, t.getBaseOffset + from, buf,
        Platform.BYTE_ARRAY_OFFSET + len, until - from)
      len += until - from
    }

    def replace(start: Int, end: Int, token: Array[Byte]): Unit = {
      copy(copied, start)
      System.arraycopy(token, 0, buf, len, token.length)
      len += token.length
      copied = end
    }

    def result(): UTF8String = {
      copy(copied, n)
      UTF8String.fromBytes(buf, 0, len)
    }
  }

  /** The text re-encoded from its decoded Java string. */
  private def reencoded(t: UTF8String): UTF8String = UTF8String.fromString(t.toString)

  def redact(t: UTF8String): UTF8String = {
    val n = t.numBytes
    // up to the first `@` or digit: no match can start much before it
    var ascii = true
    var first = 0
    var b = 0
    while (first < n && { b = t.getByte(first); b != '@' && !isDigit(b) }) {
      if (b < 0) ascii = false
      first += 1
    }
    if (first == n) return if (ascii || t.isValid) t else reencoded(t)

    var out: Out = null
    var email = nextEmail(t, 0, n)
    var emailStart = if (email < 0) n else (email >>> 32).toInt
    // a phone's `+` sits right before its first digit
    var i = math.min(emailStart, math.max(first - 1, 0))
    var prevWord = i > 0 && isWord(t.getByte(i - 1))
    while (i < n) {
      if (i == emailStart) {
        if (out == null) out = new Out(t)
        val end = email.toInt
        out.replace(i, end, Email)
        i = end
        prevWord = false
        email = nextEmail(t, i, n)
        emailStart = if (email < 0) n else (email >>> 32).toInt
      } else {
        b = t.getByte(i)
        var end = -1
        var token: Array[Byte] = null
        if (b == '+') {
          end = phoneEnd(t, i, n)
          token = Phone
        } else if (!prevWord && isDigit(b)) {
          if (ssnAt(t, i, n)) {
            end = i + 11
            token = Ssn
          } else {
            end = ipEnd(t, i, n)
            token = Ip
          }
        }
        if (end >= 0) {
          if (out == null) out = new Out(t)
          out.replace(i, end, token)
          i = end
          prevWord = false
        } else {
          if (b < 0) ascii = false
          prevWord = isWord(b)
          i += 1
        }
      }
    }
    if (!ascii && !t.isValid) redact(reencoded(t))
    else if (out == null) t
    else out.result()
  }
}

/** text → [[RedactPiiKernel]] (codegen'd); NULL stays NULL. A
  * non-string field is cast to a string first, as `regexp_replace`
  * casts it. */
case class RedactPiiExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[StringType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    RedactPiiKernel.redact(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.RedactPiiKernel.redact($c)")
  override protected def withNewChildInternal(newChild: Expression): RedactPiiExpr =
    copy(child = newChild)
  override def prettyName: String = "redact_pii"
}

object RedactPii {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def apply(text: Column): Column = column(RedactPiiExpr(expression(text)))
}
