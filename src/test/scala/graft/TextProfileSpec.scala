package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.TextAnalysis
import graft.ops.TextAnalysis.{bind, tokens}

/** The text-profile kernel ([[graft.expr.TextProfileKernel]]) against
  * the column formulations it replaced — regex counts, the bound token
  * array and its higher-order-function signals — kept here as the
  * reference, over tokenizer edge cases and seeded random text, with
  * whole-stage codegen and with interpreted evaluation. */
class TextProfileSpec extends SparkSuite {
  import spark.implicits._

  private val stopwords = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "que"))

  private def refBpeish(text: Column): Column =
    (regexp_count(text, lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]")) +
      regexp_count(text, lit("[\\x{10000}-\\x{10FFFF}]"))).cast("long")

  private def refQuality(text: Column): Column = {
    def named(cs: Column*): Column = struct(cs.zip(
      Seq("n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score"))
      .map { case (c, n) => c.as(n) }: _*)
    val stopCol = lit(stopwords.toArray)
    val bound = bind(tokens(text)) { toks =>
      val nTok = size(toks).cast("long")
      val charLen = length(text).cast("double")
      val avgTokLen = when(nTok > 0,
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
        .otherwise(lit(0.0))
      val punct = charLen - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")).cast("double")
      val punctRatio = when(charLen > 0, punct / charLen).otherwise(lit(0.0))
      val stopRatio = when(nTok > 0,
        size(filter(toks, t => array_contains(stopCol, t))).cast("double") / nTok)
        .otherwise(lit(0.0))
      bind(array(avgTokLen, punctRatio, stopRatio)) { r =>
        val (avg, punctR, stopR) = (r(0), r(1), r(2))
        val score =
          when(nTok === 0, lit(0.0)).otherwise(
            lit(1.0)
              - abs(avg - lit(5.0)) / lit(10.0)
              - punctR
              + stopR * lit(0.5))
        named(nTok, avg, punctR, stopR, score)
      }
    }
    coalesce(bound, named(lit(0L), lit(0.0), lit(0.0), lit(0.0), lit(0.0)))
  }

  private def refLangId(text: Column): Column = {
    val ordered = bind(tokens(text)) { toks =>
      bind(array(langMarkers.map { case (_, markers) =>
        size(filter(toks, t => array_contains(lit(markers.toArray), t)))
      }: _*)) { scores =>
        val best = array_max(scores)
        langMarkers.zipWithIndex.foldRight(lit("und"): Column) { case (((lang, _), i), els) =>
          when(scores(i) === best && best > 0, lit(lang)).otherwise(els)
        }
      }
    }
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh")).otherwise(coalesce(ordered, lit("und")))
  }

  /** The texts OpsSpec pins the profile on. */
  private val edges: Seq[String] = Seq(null, "", "!!! ... ?? -- ,,", "\u8fd9\u662f\u4e2d\u6587 the of and",
    "The der cat sat", "quick brown foxes jump high", "the of and to in is a",
    "Hello, World! It's 2024 -- the a\u00f1o of \u00fcn\u00efcode; a+b=c.\nline two\nline two",
    "The quick brown fox and the lazy dog in the yard.",
    "der hund und die katze und das haus ist nicht da",
    "le chat et la maison est une belle chose dans les rues", "the cat is on the mat",
    "a\u00e9b c\uD83D\uDE00d", "\uD83D\uDE00\uD83D\uDE00", "\uD83C\uDDFA\uD83C\uDDF8 flag", "v\u000Bt",
    "nb\u00A0sp", "\u2028ls", "\u212Aelvin", "\u0130stanbul", "x\uFFFDy", "a\u0000b",
    "\u00E9\u0301 combining")

  /** Seeded random documents: marker words and stopwords in mixed
    * case, ASCII runs and punctuation, Java and non-Java whitespace,
    * Latin-1, CJK in and out of U+4E00–U+9FFF, supplementary
    * characters, case-mapping specials, NUL and U+FFFD, glued with and
    * without separators. */
  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = (stopwords ++ langMarkers.flatMap(_._2)).distinct
    val specials = Seq("\u00e9", "\u00fc", "\u00f1", "\u00df", "\u00c4", "\u00ff", "\u00b5",
      "\u4e2d", "\u6587", "\u4e00", "\u9fff", "\u3400", "\uff21", "\uD83D\uDE00", "\uD835\uDD18",
      "\uD840\uDC00", "\uD83C\uDDFA\uD83C\uDDF8", "\u00A0", "\u2028", "\u3000", "\u212A",
      "\u0130", "\u03a3", "\u1e9e", "\u01c5", "\u212b", "\u0000", "\uFFFD", "\u0301")
    val punct = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
    val spaces = Seq(" ", " ", " ", "\t", "\n", "\r", "\f", "\u000B")
    def piece(): String = rnd.nextInt(6) match {
      case 0 | 1 =>
        val w = words(rnd.nextInt(words.size))
        rnd.nextInt(4) match { case 0 => w.capitalize; case 1 => w.toUpperCase; case _ => w }
      case 2 => rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
      case 3 => punct(rnd.nextInt(punct.length)).toString
      case 4 => specials(rnd.nextInt(specials.size))
      case _ => spaces(rnd.nextInt(spaces.size))
    }
    Seq.fill(n) {
      val pieces = Seq.fill(rnd.nextInt(40))(piece())
      pieces.map(p => if (rnd.nextInt(4) == 0) p else p + " ").mkString
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (text, kernel values, reference values) per row; the exchange
    * keeps the projection out of local-relation folding, so it runs as
    * a task. */
  private def compared(texts: Seq[String]): Seq[(String, Seq[Any], Seq[Any])] = {
    val t = col("text")
    val fields = Seq("token_count", "bpeish_token_count", "lang_id", "n_tokens",
      "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")
    val docs = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text").repartition(3)
    TextAnalysis.profile(docs)
      .select(col("id"), t, struct(fields.map(col): _*).as("kernel"),
        struct(TextAnalysis.tokenCount(t), TextAnalysis.bpeishTokenCount(t), TextAnalysis.langId(t),
          TextAnalysis.qualityStruct(t).as("q")).as("fns"),
        struct(size(tokens(t)).cast("long"), refBpeish(t), refLangId(t), refQuality(t).as("q")).as("ref"))
      .collect().sortBy(_.getLong(0)).toSeq.map { r =>
        def flat(s: org.apache.spark.sql.Row): Seq[Any] = s.toSeq.take(3) ++ s.getStruct(3).toSeq
        val (kernel, fns, ref) = (r.getStruct(2).toSeq, flat(r.getStruct(3)), flat(r.getStruct(4)))
        assert(kernel == fns, s"profile columns and the functions differ on ${r.getString(1)}")
        (r.getString(1), kernel, ref)
      }
  }

  private def assertSame(texts: Seq[String]): Unit = {
    val diffs = compared(texts).filter { case (_, k, ref) => k != ref }
    assert(diffs.isEmpty, diffs.take(5).map { case (s, k, ref) =>
      s"${Option(s).map(_.map(c => f"${c.toInt}%04x").mkString(" "))}: kernel $k, reference $ref" }.mkString("\n"))
  }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("kernel equals the reference formulations on the tokenizer edge cases") {
    assertSame(edges)
    withConf(interpreted: _*)(assertSame(edges))
  }

  test("kernel equals the reference formulations on seeded random text") {
    for (seed <- 1L to 3L) assertSame(null +: randomTexts(seed, 700))
    withConf(interpreted: _*)(assertSame(randomTexts(4L, 700)))
  }

  test("the random text reaches every language, zh, und, stopwords and punctuation") {
    val got = compared(randomTexts(1L, 700)).map(_._2)
    assert(got.map(_(2)).toSet == Set("en", "de", "fr", "es", "zh", "und"))
    assert(got.exists(k => k(6) != 0.0) && got.exists(k => k(5) != 0.0))
  }

  test("the kernel's count fields follow the text's nullability; the struct is never NULL") {
    def kernelType(df: DataFrame): (Boolean, Seq[Boolean]) = {
      val f = df.select(graft.expr.TextProfile(col("text")).as("k")).schema("k")
      (f.nullable, f.dataType.asInstanceOf[StructType].fields.map(_.nullable).toSeq)
    }
    val doubles = Seq(true, true, true, true)
    assert(kernelType(Seq[String]("a", null).toDF("text")) ==
      (false, Seq(true, true, false) ++ doubles))
    assert(kernelType(spark.range(1).select(lit("a b").as("text"))) ==
      (false, Seq(false, false, false) ++ doubles))
  }
}
