package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.CharGramBucketsKernel
import graft.ops.{LinearClassifier, TextAnalysis}

/** Trained language ID (verdict r10 #4): the char-n-gram + script
  * feature kernel pinned against an independent local re-derivation,
  * and the behavioral contracts — multi-script holdout accuracy, the
  * word-vs-char feature-space contrast on non-Latin text (the reason
  * the trained langid cannot ride the word-gram extractor), and the
  * langid_classify spec-op dispatch.
  */
class LangIdSpec extends SparkSuite {
  import spark.implicits._

  // ---- independent local re-derivation of the kernel contract ----

  private def refBuckets(text: String, nBuckets: Int): Seq[Int] = {
    // normalize: lowercase, whitespace runs -> one space, trim
    val s = text.toLowerCase
      .replaceAll("[ \t\r\n]+", " ").replaceAll("^ | $", "")
    val cps = s.codePoints().toArray
    val grams = (for {
      i <- cps.indices
      n <- 1 to 3 if i + n <= cps.length
    } yield new String(cps, i, n)) ++ {
      def has(sc: Character.UnicodeScript): Boolean =
        cps.exists(c => Character.isLetter(c) && Character.UnicodeScript.of(c) == sc)
      Seq(
        Character.UnicodeScript.LATIN -> " script:latin",
        Character.UnicodeScript.CYRILLIC -> " script:cyrillic",
        Character.UnicodeScript.HAN -> " script:han",
        Character.UnicodeScript.ARABIC -> " script:arabic")
        .collect { case (sc, g) if has(sc) => g }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    grams.map { g =>
      val d = md.digest(g.getBytes("UTF-8"))
      (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % nBuckets
    }.distinct.sorted
  }

  private def kernelBuckets(text: String, nBuckets: Int): Seq[Int] =
    CharGramBucketsKernel.buckets(UTF8String.fromString(text), nBuckets)
      .toIntArray().toSeq

  test("char-gram kernel matches the independent re-derivation on adversarial inputs") {
    val cases = Seq(
      "hello world",
      "  leading and   trailing  \t runs \n of whitespace  ",
      "это русский текст",
      "这是中文文本",
      "هذا نص عربي",
      "mixed Латинский 文 عرب text",
      "UPPER Case MiXeD",
      "a", "ab", "abc", "",
      "emoji 🙂 pair",           // surrogate pair (non-letter)
      "𝒜 math script letter",   // surrogate-pair LETTER (script COMMON-adjacent)
      "punctuation!!! only??? ---",
      "tabs\tand\nnewlines\r\neverywhere")
    for (c <- cases; n <- Seq(64, 2048)) {
      assert(kernelBuckets(c, n) == refBuckets(c, n), s"input=$c nBuckets=$n")
    }
  }

  test("script pseudo-features fire per script present") {
    def bucketOf(g: String, n: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
      (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % n
    }
    val n = 4096
    assert(kernelBuckets("привет", n).contains(bucketOf(" script:cyrillic", n)))
    assert(kernelBuckets("hello", n).contains(bucketOf(" script:latin", n)))
    assert(kernelBuckets("你好", n).contains(bucketOf(" script:han", n)))
    assert(kernelBuckets("سلام", n).contains(bucketOf(" script:arabic", n)))
    // digits/punctuation are no script at all
    assert(!kernelBuckets("1234 !!!", n).contains(bucketOf(" script:latin", n)))
  }

  // ---- behavioral contracts over a six-language mini-corpus ----

  private def corpus() = {
    val langs = graft.gates.Fixtures.langIdLangs
    val rows = for {
      id <- 0 until 240
      lang = langs(((id / 2) % 6).toInt)
      bank = graft.gates.Fixtures.langIdBanks(lang)
      text = bank((id / 12) % 8) + " " + bank(((id / 17) + 3) % 8)
    } yield (id.toLong, lang, text)
    rows.toDF("doc_id", "lang", "text")
  }

  test("langIdFit separates six languages on a held-out split") {
    val df = corpus()
    val m = TextAnalysis.langIdFit(df.where(col("doc_id") % 2 === 0),
      "doc_id", "lang", "text", nBuckets = 2048)
    assert(m.featureKind == "char")
    assert(m.classes.toSeq == Seq("de", "en", "es", "fr", "ru", "zh"))
    val test = df.where(col("doc_id") % 2 === 1)
    val acc = m.predict(test, "doc_id", "text")
      .join(test, Seq("doc_id"))
      .agg(avg(when(col("predicted") === col("lang"), 1.0).otherwise(0.0)))
      .first.getDouble(0)
    assert(acc >= 0.95, s"holdout accuracy $acc")
  }

  test("word-gram features cannot even see the non-Latin classes") {
    val df = corpus()
    // ru/zh text tokenizes to NOTHING under [^a-z0-9]+: the word-gram
    // extractor yields zero features, so scoring DROPS those docs
    val wordFeat = df.where(col("lang").isin("ru", "zh"))
      .select(graft.expr.HashedGramBucketsCol(col("text"), 2048).as("b"))
      .agg(max(size(col("b")))).first.getInt(0)
    assert(wordFeat == 0)
    val charFeat = df.where(col("lang").isin("ru", "zh"))
      .select(graft.expr.CharGramBucketsCol(col("text"), 2048).as("b"))
      .agg(min(size(col("b")))).first.getInt(0)
    assert(charFeat > 10)
  }

  test("fit rejects an unknown feature kind; model rejects bad construction") {
    intercept[GraftAnalysisException] {
      LinearClassifier.featuresOf("bogus", col("x"), 16)
    }
    intercept[IllegalArgumentException] {
      LinearClassifier.LinearTextModel(8, Array("a", "b"),
        Array(Array(0.0), Array(0.0)), "neither")
    }
  }

  test("langid_classify spec op dispatches (predict default true)") {
    import graft.spec._
    val df = corpus()
    val out = graft.transforms.Transforms(df,
      TransformSpec("lid", "langid_classify", Config.of(
        "id_field" -> "doc_id", "label_field" -> "lang")), Map.empty)
    assert(out.columns.toSeq == Seq("doc_id", "predicted", "score"))
    val acc = out.join(df, Seq("doc_id"))
      .agg(avg(when(col("predicted") === col("lang"), 1.0).otherwise(0.0)))
      .first.getDouble(0)
    // trained and scored on the same frame: must be near-perfect
    assert(acc >= 0.99, s"self accuracy $acc")
  }
}
