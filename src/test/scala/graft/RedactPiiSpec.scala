package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.RedactPiiKernel
import graft.ops.TextAnalysis

/** The PII redaction kernel ([[graft.expr.RedactPiiKernel]]) against
  * the four regex replacements it replaced, kept here as the reference
  * with each `\b` spelled as the ASCII lookarounds, compared byte for
  * byte over edge cases, seeded random text and malformed UTF-8, with
  * whole-stage codegen and with interpreted evaluation. */
class RedactPiiSpec extends SparkSuite {
  import spark.implicits._

  private def rules(word: String): Seq[(String, String)] = {
    val (before, after) = (s"(?<!$word)", s"(?!$word)")
    Seq("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
      s"$before\\d{3}-\\d{2}-\\d{4}$after" -> "<SSN>",
      s"\\+\\d{7,15}$after" -> "<PHONE>",
      s"$before(\\d{1,3}\\.){3}\\d{1,3}$after" -> "<IP>")
  }

  /** The reference: `\b` is the ASCII word boundary, RE2's rule. */
  private def reference(text: Column): Column =
    rules("[A-Za-z0-9_]").foldLeft(text) { case (t, (p, r)) => regexp_replace(t, lit(p), lit(r)) }

  /** JDK 17's `\b`, which counts every Unicode letter or digit as a
    * word character. */
  private def unicodeBoundary(text: String): String =
    rules("[\\p{L}\\p{Nd}_]").foldLeft(text) { case (t, (p, r)) => t.replaceAll(p, r) }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def utf8(s: String): Array[Byte] = Option(s).map(_.getBytes("UTF-8")).orNull

  /** (input bytes, kernel bytes, reference bytes) per row. The binary
    * input is cast to a string as-is, so malformed UTF-8 reaches both
    * sides; the exchange keeps the projection out of local-relation
    * folding, so it runs as a task. */
  private def compared(inputs: Seq[Array[Byte]]): Seq[(Array[Byte], Array[Byte], Array[Byte])] = {
    val t = col("bytes").cast("string")
    inputs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes").repartition(3)
      .select(col("id"), col("bytes"), TextAnalysis.redactPii(t).cast("binary"),
        reference(t).cast("binary"))
      .collect().sortBy(_.getLong(0)).toSeq
      .map(r => (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
  }

  private def show(b: Array[Byte]): String =
    Option(b).map(_.map(x => f"${x & 0xFF}%02x").mkString(" ")).getOrElse("NULL")

  private def assertSame(inputs: Seq[Array[Byte]]): Unit = {
    val diffs = compared(inputs).filterNot { case (_, k, ref) => java.util.Arrays.equals(k, ref) }
    assert(diffs.isEmpty, diffs.take(5).map { case (in, k, ref) =>
      s"${show(in)}: kernel ${show(k)}, reference ${show(ref)}" }.mkString("\n"))
  }

  private def redacted(inputs: Seq[String]): Seq[String] =
    compared(inputs.map(utf8)).map { case (_, k, _) => Option(k).map(new String(_, "UTF-8")).orNull }

  /** Inputs with the outputs DuckDB's RE2 gives for the same four
    * patterns. */
  private val pinned: Seq[(String, String)] = Seq(
    "a@b.cc123-45-6789" -> "<EMAIL><SSN>",
    "1.2.3.4.5" -> "<IP>.5",
    "+1234567890123456 x" -> "+1234567890123456 x",
    "a@b.cd.e" -> "<EMAIL>.e",
    "x@.cc" -> "x@.cc",
    "1.2.3.123-45-6789" -> "1.2.3.<SSN>",
    "9.1.2.3.123-45-6789" -> "<IP>.<SSN>",
    "123-45-6789@ex.com" -> "<EMAIL>",
    "seen <EMAIL> and <SSN> before, then b@c.de" -> "seen <EMAIL> and <SSN> before, then <EMAIL>",
    "" -> "",
    (null: String) -> (null: String))

  /** PII next to non-ASCII letters: RE2's ASCII `\b` sees a boundary,
    * JDK 17's `\b` does not. */
  private val nonAsciiNeighbours: Seq[(String, String)] = Seq(
    "私のSSNは123-45-6789です" -> "私のSSNは<SSN>です",
    "電話+4915123456789まで" -> "電話<PHONE>まで",
    "IPは192.168.0.1です" -> "IPは<IP>です",
    "é1.2.3.4 x" -> "é<IP> x")

  /** Seeded random documents: near-miss and real emails, SSNs, phones
    * and IPs glued to CJK, Latin-1 and supplementary characters,
    * digits, `_`, letters, `.` / `-` / `+` / `@` runs and whitespace,
    * with and without separators. */
  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick(s: String): Char = s(rnd.nextInt(s.length))
    def run(chars: String, min: Int, max: Int): String =
      Seq.fill(min + rnd.nextInt(max - min + 1))(pick(chars)).mkString
    val letters = "abcxyzABCXYZ"
    val digits = "0123456789"
    val local = letters + digits + "._%+-"
    val domain = letters + digits + ".-"
    val specials = Seq("\u00E9", "\u00FC", "\u00DF", "\u00C4", "\u00B5", "\u00B2", "\u4E2D", "\u6587",
      "\u79C1", "\u3067", "\uFF11", "\u0661", "\uD83D\uDE00", "\uD835\uDD18", "\uD840\uDC00",
      "\u00A0", "\u2028", "\u0301")
    def number(maxLen: Int): String = run(digits, 1, maxLen)
    def piece(): String = rnd.nextInt(12) match {
      case 0 => run(local, 0, 6) + "@" + run(domain, 0, 6) +
        (if (rnd.nextBoolean()) "." + run(letters, 0, 4) else "")
      case 1 => Seq(number(4), number(3), number(5)).mkString("-")
      case 2 => s"${run(digits, 3, 3)}-${run(digits, 2, 2)}-${run(digits, 4, 4)}"
      case 3 => "+" + run(digits, 5, 17)
      case 4 => Seq.fill(3 + rnd.nextInt(3))(number(4)).mkString(".")
      case 5 => Seq.fill(4)(number(3)).mkString(".")
      case 6 => number(5)
      case 7 => run(".-+_@", 1, 3)
      case 8 => specials(rnd.nextInt(specials.size))
      case 9 => run(letters + "_", 1, 5)
      case 10 => Seq("<EMAIL>", "<SSN>", "<IP>")(rnd.nextInt(3))
      case _ => Seq(" ", " ", "\t", "\n", ",", ";")(rnd.nextInt(6))
    }
    Seq.fill(n) {
      Seq.fill(rnd.nextInt(30))(piece()).map(p => if (rnd.nextInt(3) == 0) p + " " else p).mkString
    }
  }

  /** Random documents with malformed UTF-8 spliced in: lone
    * continuation bytes, truncated sequences, overlongs, surrogates
    * and code points past U+10FFFF. */
  private def malformed(seed: Long, n: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val bad = Seq(Array(0x80), Array(0xBF), Array(0xFF), Array(0xFE), Array(0xC3),
      Array(0xE4, 0xB8), Array(0xF0, 0x9F, 0x98), Array(0xC0, 0xAF), Array(0xE0, 0x80, 0xAF),
      Array(0xED, 0xA0, 0x80), Array(0xED, 0xBF, 0xBF), Array(0xF4, 0x90, 0x80, 0x80),
      Array(0xF8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte))
    randomTexts(seed, n).map { s =>
      val b = s.getBytes("UTF-8")
      val at = rnd.nextInt(b.length + 1)
      b.take(at) ++ bad(rnd.nextInt(bad.size)) ++ b.drop(at)
    }
  }

  test("the rule order, the TLD rule, run lengths and NULL: pinned outputs") {
    val (in, want) = pinned.unzip
    assert(redacted(in) == want)
    withConf(interpreted: _*)(assert(redacted(in) == want))
    assertSame(in.map(utf8))
  }

  test("PII next to a non-ASCII letter is redacted: the word boundary is ASCII") {
    val (in, want) = nonAsciiNeighbours.unzip
    assert(redacted(in) == want)
    withConf(interpreted: _*)(assert(redacted(in) == want))
  }

  test("kernel equals the regex reference on seeded random text") {
    for (seed <- 1L to 3L) assertSame((null +: randomTexts(seed, 700)).map(utf8))
    withConf(interpreted: _*)(assertSame(randomTexts(4L, 700).map(utf8)))
  }

  test("the random text reaches every rule and the non-ASCII boundary") {
    val texts = randomTexts(1L, 700)
    val out = redacted(texts)
    for (p <- Seq("<EMAIL>", "<SSN>", "<PHONE>", "<IP>"))
      assert(texts.zip(out).count { case (t, o) => o.split(p, -1).length > t.split(p, -1).length } > 20, p)
    assert(texts.zip(out).count { case (t, o) => unicodeBoundary(t) != o } > 5)
  }

  test("malformed UTF-8 comes out as the regex path gives it: each bad sequence as U+FFFD") {
    val ff = Array(0xFF.toByte)
    val in = Seq(ff ++ utf8("1.2.3.4"), utf8("a@b.cc") ++ Array(0x80.toByte), ff ++ utf8(" no pii"))
    val want = Seq("\uFFFD<IP>", "<EMAIL>\uFFFD", "\uFFFD no pii").map(utf8)
    // the cast keeps the malformed bytes, so the kernel sees them
    val kept = in.toDF("bytes").select(col("bytes").cast("string").cast("binary")).as[Array[Byte]].collect()
    assert(kept.map(_.toSeq).toSeq == in.map(_.toSeq))
    assert(in.map(b => RedactPiiKernel.redact(UTF8String.fromBytes(b)).getBytes.toSeq) == want.map(_.toSeq))
    for (run <- Seq(() => compared(in), () => withConf(interpreted: _*)(compared(in))))
      assert(run().map(_._2.toSeq) == want.map(_.toSeq))
    assertSame(malformed(5L, 400))
    withConf(interpreted: _*)(assertSame(malformed(6L, 200)))
  }

  test("a non-string field is redacted as its string, as regexp_replace casts it") {
    val out = Seq((1234567890L, 1.5)).toDF("n", "d")
      .select(TextAnalysis.redactPii(col("n")), TextAnalysis.redactPii(col("d")))
      .as[(String, String)].head()
    assert(out == ("1234567890", "1.5"))
  }

  test("text without an @ or a digit comes back as the same instance") {
    val clean = UTF8String.fromString("no identifiers here at all, café + - .")
    assert(RedactPiiKernel.redact(clean) eq clean)
    val unmatched = UTF8String.fromString("v1.2 and 12-34 and +123")
    assert(RedactPiiKernel.redact(unmatched) eq unmatched)
  }
}
