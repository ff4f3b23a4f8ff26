package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Extension operators: dedup family, similarity, text analysis,
  * multimodal plumbing (SURVEY §2.6).
  */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank again"),
    (3L, "completely different content about spark engines and distributed query planning"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("exact dedup by fingerprint keeps min id") {
    val out = Dedup.exactByFingerprint(docs, "text", "doc_id")
    // docs 1 and 4 are identical -> keep 1
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("exact dedup keeps NULL-text rows; min-tie keeps all tied rows (ADVICE r3)") {
    val withNulls = Seq(
      (1L, Option("same text here")), (2L, Option("same text here")),
      (3L, None: Option[String]), (4L, None: Option[String]))
      .toDF("doc_id", "text")
    // NULL text → NULL fingerprint: those rows group together and the
    // min-id one survives (null-safe join), instead of vanishing.
    val out = Dedup.exactByFingerprint(withNulls, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
    // duplicate tieBreak: documented contract — every tied row stays
    val tied = Seq((1L, "x", "dup"), (1L, "x", "dup2"), (2L, "x", "other")).toDF("tb", "text", "v")
    val kept = Dedup.exactByFingerprint(tied, "text", "tb").select("v").as[String].collect().toSet
    assert(kept == Set("dup", "dup2"))
  }

  test("TopKByScore totally orders NaN scores last (ADVICE r3)") {
    val df = Seq((1L, Double.NaN), (2L, 0.9), (3L, Double.NaN), (4L, 0.5), (5L, 0.7))
      .toDF("id", "score")
    val top = df.groupBy(lit(1)).agg(TopKByScore.of(col("score"), col("id"), 3).as("tk"))
      .select(explode(col("tk")).as("p")).select("p._2").as[Long].collect().toSeq
    assert(top == Seq(2L, 5L, 4L)) // NaN never displaces a real score
  }

  test("minhash near-dups find planted near-identical pair") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // one word different
    assert(pairs.contains((1L, 4L))) // identical
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("minhashDedupGroups: one row per doc, group = min reachable, chains close") {
    // 1~2 (near), 1=4 (exact) → {1,2,4} group 1; 3 singleton; and a
    // CHAIN 10~11~12 where the ends 10,12 are NOT direct near-dups —
    // groups must still merge them (the thing pair output can't say)
    val mid = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val chained = docs.union(Seq(
      (10L, s"$mid one two three four five six"),
      (11L, s"$mid one two three four xx yy"),
      (12L, s"$mid zz ww three four xx yy")).toDF("doc_id", "text"))
    val g = Dedup.minhashDedupGroups(chained, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(g.size == 7, "exactly one output row per document")
    assert(g(1L) == 1L && g(2L) == 1L && g(4L) == 1L)
    assert(g(3L) == 3L) // singleton keeps own id
    assert(g(10L) == 10L && g(11L) == 10L && g(12L) == 10L) // chain closed
    // consistency with the pair surface: groups = closure of pairs
    val pairs = Dedup.minhashNearDups(chained, "doc_id", "text", threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.contains((10L, 12L)), "chain ends are not direct pairs")
  }

  test("simhashDedupGroups + imageDedupGroups-shape: linear output on identical piles") {
    val n = 5000
    val docs5k = spark.range(n).select(col("id").as("doc_id"),
      lit("the same exact document body repeated many times over and over again").as("text"))
    // pair surface would emit n(n-1)/2 rows; groups must emit exactly n
    val g = Dedup.simhashDedupGroups(
      Dedup.simhash(docs5k, "doc_id", "text"), "doc_id")
    assert(g.count() == n)
    assert(g.where(col("group_id") =!= 0L).isEmpty, "all in the min-id=0 group")
    val gm = Dedup.minhashDedupGroups(docs5k, "doc_id", "text", threshold = 0.9)
    assert(gm.count() == n)
    assert(gm.where(col("group_id") =!= 0L).isEmpty)
  }

  test("simhash: identical docs at hamming 0, near docs close") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
    val m = sig.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(4L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(2L)) <= 8)
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 8)
    val pairs = Dedup.simhashNearDups(sig, "doc_id", maxDist = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    val df = Seq(("abcdef", "abcdef", "xyzw")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")).as("same"),
      Dedup.ngramJaccard(col("a"), col("c")).as("diff")).as[(Double, Double)].head()
    assert(r._1 == 1.0)
    assert(r._2 == 0.0)
  }

  test("cosine + brute-force top-k ranks by similarity with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.where($"vec_id" === 0), vecs, "vec_id", "vec_id", "embedding", k = 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toMap
    assert(out(3L) == 1L) // identical direction, rank 1
    assert(out(1L) == 2L)
    assert(out(2L) == 3L) // orthogonal last
  }

  test("embedding near-dups: identical vectors found, orthogonal not") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.99, bruteForce = true)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("minhash/simhash LSH survive 10k identical docs (exact-dup pre-collapse)") {
    val n = 10000
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("the same exact document body repeated many times over and over again").as("text"))
    val want = n.toLong * (n - 1) / 2
    // pre-collapse: ONE representative is banded; the n²/2 output pairs
    // come from the fingerprint self-join (work ∝ output), so this
    // finishes instead of exploding a 10k-wide LSH bucket
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.9)
    assert(mh.count() == want)
    assert(mh.where(col("jaccard") =!= 1.0).isEmpty)
    val sh = Dedup.simhashNearDups(Dedup.simhash(docs, "doc_id", "text"), "doc_id")
    assert(sh.count() == want)
  }

  test("embedding LSH dedup survives 5k identical vectors (pre-collapse)") {
    val n = 5000
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 8).map(i => lit(i.toFloat + 1f)): _*).as("embedding"))
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.9, planes = 4, bruteForce = false)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
  }

  test("minhash bucket cap drops oversized buckets, keeps exact-dup pairs") {
    // 40 near-identical but fingerprint-distinct docs (unique suffix) +
    // one exact duplicate pair; cap=5 kills the 40-wide buckets but the
    // exact pair survives via the fingerprint path
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = (0 until 40).map(i => (i.toLong, s"$base unique$i"))
    val docs = (near :+ (100L, near.head._2) ).toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val capped = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 5)
    val cappedPairs = capped.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(uncapped.count() > capped.count())
    assert(cappedPairs.contains((0L, 100L))) // exact dup found regardless of cap
  }

  test("embedding near-dups LSH path: dim probed from data, empty corpus OK") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // dim not passed: the op probes it (2) from the first row
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.99, planes = 2, bruteForce = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // parallel vectors share every sign bucket
    val empty = Dedup.embeddingNearDups(vecs.where(lit(false)), "vec_id", "embedding",
      bruteForce = false)
    assert(empty.columns.toSeq == Seq("a_id", "b_id", "cosine") && empty.count() == 0)
  }

  test("embeddingDedupGroups: closure over the LSH pair relation, linear output") {
    // three parallel-vector chains + one orthogonal singleton + an
    // identical-vector pile; parallel vectors share every sign bucket,
    // so recall is exact here and the group contract is the pair
    // relation's transitive closure
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), (7L, Array(3.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.0f, 5.0f)), (4L, Array(0.0f, 5.0f)), (5L, Array(0.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val groups = Dedup.embeddingDedupGroups(vecs, "vec_id", "embedding",
      threshold = 0.99, planes = 2)
      .as[(Long, Long)].collect().toMap
    assert(groups.size == 7, "one row per vector — the linear contract")
    assert(groups(0L) == 0L && groups(1L) == 0L && groups(7L) == 0L)
    assert(groups(2L) == 2L, "orthogonal singleton keeps its own id")
    // the identical pile and the y-axis singleton 2 are parallel
    // (cosine 1.0 ≥ 0.99) so they all chain to min id 2
    assert(groups(3L) == 2L && groups(4L) == 2L && groups(5L) == 2L)
    // empty corpus → empty frame with the right schema
    val empty = Dedup.embeddingDedupGroups(vecs.where(lit(false)), "vec_id", "embedding")
    assert(empty.columns.toSeq == Seq("vec_id", "group_id") && empty.count() == 0)
  }

  test("embeddingDedupGroups: zero vectors never group, even with identical copies") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.0f)), // identical zero vectors
      (2L, Array(1.0f, 0.0f)), (3L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val groups = Dedup.embeddingDedupGroups(vecs, "vec_id", "embedding",
      threshold = 0.5, planes = 2)
      .as[(Long, Long)].collect().toMap
    // zero vectors have NaN cosine — no edge, not even the identity
    // edge to their own copies (pair-surface parity)
    assert(groups(0L) == 0L && groups(1L) == 1L)
    assert(groups(2L) == 2L && groups(3L) == 2L)
  }

  test("sign-LSH kernel bit-matches the unrolled expression form") {
    val vecs = sf("embeddings")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val both = vecs.select(col("vec_id"),
      Similarity.hyperplaneBuckets(col("v"), 64, 8).as("k"),
      Similarity.hyperplaneBucketsUnrolled(col("v"), 64, 8).as("u"))
    assert(both.where(col("k") =!= col("u")).isEmpty)
    assert(both.select(countDistinct(col("k"))).as[Long].head() > 1)
  }

  test("lsh buckets: same-direction vectors share a bucket") {
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f)), (1L, Array.fill(8)(2.0f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val b = vecs.select($"vec_id",
      Similarity.hyperplaneBuckets(
        Similarity.toDoubleVec($"embedding"), dim = 8, planes = 4).as("bkt"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L)) // scaled copy: identical projections
  }

  test("text analysis: counts, lang, quality, fingerprint") {
    val df = Seq(
      (1L, "The quick brown fox and the lazy dog in the yard."),
      (2L, "der hund und die katze und das haus ist nicht da"),
      (3L, ""),
      (4L, "le chat et la maison est une belle chose dans les rues"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.profile(df)
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("token_count") == 11)
    assert(byId(3L).getAs[Long]("token_count") == 0)
    assert(byId(3L).getAs[Double]("quality_score") == 0.0)
    assert(byId(1L).getAs[String]("lang_id") == "en")
    assert(byId(2L).getAs[String]("lang_id") == "de")
    assert(byId(4L).getAs[String]("lang_id") == "fr")
    // fingerprint ignores case/punctuation differences
    val fp = df.select(TextAnalysis.fingerprint(lit("Hello, World!")).as("a"),
      TextAnalysis.fingerprint(lit("hello world")).as("b")).head()
    assert(fp.getString(0) == fp.getString(1))
  }

  test("text profile: values and schema nullability pinned over tokenizer edge cases") {
    // expected values recorded from the formulation that tokenized once
    // per use; the arithmetic order is unchanged, so doubles match exactly
    val df = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "!!! ... ?? -- ,,"), (4L, "这是中文 the of and"),
      (5L, "The der cat sat"), // en/de tie: en wins by declared order
      (6L, "quick brown foxes jump high"), (7L, "the of and to in is a"),
      (8L, "Hello, World! It's 2024 -- the año of ünïcode; a+b=c.\nline two\nline two"))
      .toDF("doc_id", "text")
    // token_count, bpeish_token_count, lang_id, n_tokens, avg_token_len,
    // punct_ratio, stopword_ratio, quality_score
    val expected = Map[Long, Seq[Any]](
      1L -> Seq(null, null, "und", null, 0.0, 0.0, 0.0, 0.5),
      2L -> Seq(0L, 0L, "und", 0L, 0.0, 0.0, 0.0, 0.0),
      3L -> Seq(0L, 12L, "und", 0L, 0.0, 0.75, 0.0, 0.0),
      4L -> Seq(3L, 7L, "zh", 3L, 2.6666666666666665, 0.26666666666666666, 1.0, 1.0),
      5L -> Seq(4L, 4L, "en", 4L, 3.0, 0.0, 0.25, 0.925),
      6L -> Seq(5L, 5L, "und", 5L, 4.6, 0.0, 0.0, 0.96),
      7L -> Seq(7L, 7L, "en", 7L, 2.142857142857143, 0.0, 1.0, 1.2142857142857144),
      8L -> Seq(18L, 30L, "en", 18L,
        2.5555555555555554, 0.19718309859154928, 0.2777777777777778, 0.6972613458528951))
    val out = TextAnalysis.profile(df)
    val pinned = Seq("token_count", "bpeish_token_count", "lang_id", "n_tokens",
      "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")
    val got = out.select((col("doc_id") +: pinned.map(col)): _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got == expected)
    // the functions themselves: lang_id and the struct never null, even for null text
    val fns = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityStruct(col("text")).as("q"))
    assert(fns.collect().map(r => r.getLong(0) -> (r.getString(1) +: r.getStruct(2).toSeq)).toMap ==
      expected.map { case (id, e) => id -> (e(2) +: e.drop(3)) })
    def nullability(d: org.apache.spark.sql.DataFrame): Seq[(String, Boolean)] =
      d.schema.fields.toSeq.flatMap { f =>
        (f.name -> f.nullable) +: (f.dataType match {
          case s: org.apache.spark.sql.types.StructType => s.fields.toSeq.map(g => s"${f.name}.${g.name}" -> g.nullable)
          case _ => Nil
        })
      }
    val doubles = Seq("avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")
    // nullable text: counts follow the text, lang_id never null
    assert(nullability(out) == Seq("doc_id" -> true, "text" -> true, "token_count" -> true,
      "bpeish_token_count" -> true, "lang_id" -> false, "fingerprint" -> true,
      "n_tokens" -> true) ++ doubles.map(_ -> true))
    assert(nullability(fns.drop("doc_id")) == Seq("l" -> false, "q" -> false,
      "q.n_tokens" -> true) ++ doubles.map(d => s"q.$d" -> true))
    // a non-nullable text column keeps lang_id and n_tokens required
    val lit1 = spark.range(1).select(lit("the cat is on the mat").as("text"))
    val litOut = TextAnalysis.profile(lit1)
    assert(nullability(litOut) == Seq("text" -> false, "token_count" -> false,
      "bpeish_token_count" -> false, "lang_id" -> false, "fingerprint" -> false,
      "n_tokens" -> false) ++ doubles.map(_ -> true))
    assert(nullability(lit1.select(TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityStruct(col("text")).as("q"))) == Seq("l" -> false, "q" -> false,
      "q.n_tokens" -> false) ++ doubles.map(d => s"q.$d" -> true))
    assert(litOut.select(pinned.map(col): _*).head().toSeq == Seq(6L, 6L, "en", 6L,
      2.6666666666666665, 0.0, 0.6666666666666666, 1.0999999999999999))
    // tokenizer edge cases: (text, tokens, token_count, bpeish_token_count).
    // bpeish counts UTF-16 code units of non-alphanumeric, non-`\s`
    // characters, so a supplementary character counts 2
    val edges = Seq[(String, Seq[String], java.lang.Long, java.lang.Long)](
      (null, null, null, null),
      ("aéb c\uD83D\uDE00d", Seq("a", "b", "c", "d"), 4L, 7L),
      ("\uD83D\uDE00\uD83D\uDE00", Nil, 0L, 4L),
      ("\uD83C\uDDFA\uD83C\uDDF8 flag", Seq("flag"), 1L, 5L),
      ("v\u000Bt", Seq("v", "t"), 2L, 2L), // VT is Java \s
      ("nb\u00A0sp", Seq("nb", "sp"), 2L, 3L), // NBSP is not
      ("\u2028ls", Seq("ls"), 1L, 2L),
      ("\u212Aelvin", Seq("kelvin"), 1L, 2L), // Kelvin sign lowercases to k
      ("\u0130stanbul", Seq("i", "stanbul"), 2L, 2L), // İ lowercases to i + U+0307
      ("x\uFFFDy", Seq("x", "y"), 2L, 3L),
      ("a\u0000b", Seq("a", "b"), 2L, 3L),
      ("\u00E9\u0301 combining", Seq("combining"), 1L, 3L))
    val edgeOut = TextAnalysis.profile(edges.map(_._1).toDF("text"))
      .select(col("text"), TextAnalysis.tokens(col("text")), col("token_count"),
        col("bpeish_token_count"))
    assert(edgeOut.collect().toSeq.map(r =>
      (r.getString(0), Option(r.getSeq[String](1)).map(_.toList).orNull, r.get(2), r.get(3))) ==
      edges.map { case (t, toks, n, b) => (t, Option(toks).map(_.toList).orNull, n, b) })
  }

  test("ngram contamination: exact shared n-gram flags, short docs out of domain") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "short doc")).toDF("doc_id", "text")
    val bench = Seq((10L, "xx alpha beta gamma yy")).toDF("doc_id", "text")
    val out = Dedup.ngramContamination(train, bench, "doc_id", "text", n = 3)
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(m.keySet == Set(1L, 2L)) // doc 3 has < 3 tokens: no n-grams, no row
    assert(m(1L) == ((4L, 1L, true))) // "alpha beta gamma" is the one hit
    assert(m(2L) == ((4L, 0L, false)))
  }

  test("repetition signals: duplicate lines, duplicate chars, symbol ratio") {
    val text = "hello world\nhello world\nunique line\n\n  hello world  "
    // trimmed non-empty lines: 4, distinct 2; repeats carry 22 of 44 chars
    val r = spark.range(1)
      .select(TextAnalysis.repetitionStruct(lit(text)).as("r")).select("r.*").head()
    assert(r.getAs[Long]("n_lines") == 4L)
    assert(math.abs(r.getAs[Double]("dup_line_frac") - 0.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("dup_line_char_frac") - 0.5) < 1e-9)
    val s = spark.range(1)
      .select(TextAnalysis.repetitionStruct(lit("a+b = c!")).as("r")).select("r.*").head()
    assert(math.abs(s.getAs[Double]("symbol_word_ratio") - 1.0) < 1e-9) // + = ! over a b c
    // null and empty text: zero signals, struct never null; the line
    // count keeps the text column's nullability
    val edge = Seq[(java.lang.Long, String)]((1L, null), (2L, ""))
      .toDF("id", "text").select(col("id"), TextAnalysis.repetitionStruct(col("text")).as("r"))
    assert(edge.collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap ==
      Map(1L -> Seq(null, 0.0, 0.0, 0.0), 2L -> Seq(0L, 0.0, 0.0, 0.0)))
    val rType = edge.schema("r")
    assert(!rType.nullable && rType.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(_.nullable).toSeq == Seq(true, true, true, true))
    val litType = spark.range(1).select(TextAnalysis.repetitionStruct(lit(text)).as("r")).schema("r")
    assert(!litType.nullable && litType.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(_.nullable).toSeq == Seq(false, true, true, true))
  }

  test("top-ngram stats: phrase-dominated doc maxes the fraction") {
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words differ here now")).toDF("doc_id", "text")
    val m = TextAnalysis.topNgramStats(df, "doc_id", "text", n = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((3L, 3L, 1.0))) // "spam spam" is every gram
    assert(m(2L)._1 == 4L && m(2L)._2 == 1L && math.abs(m(2L)._3 - 0.25) < 1e-9)
  }

  test("bigram LM: unseen-context pairs score worse than corpus-frequent ones") {
    val corpus = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat sat"),
      (4L, "a dog sat the")).toDF("doc_id", "text")
    val nll = graft.ops.TextAnalysis.bigramNll(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // every doc fully scored (LM trained on the same corpus: no drops)
    assert(nll.values.map(_._1).toSeq.sorted == Seq(3L, 3L, 3L, 4L))
    // "the cat sat" is the modal sentence; doc 4's pairs are singletons
    assert(nll(4L)._2 > nll(1L)._2)
    assert(nll(1L)._2 == nll(3L)._2) // identical docs, identical score
  }

  test("trigram LM: BOS padding scores every token; interpolation is exact") {
    // single doc "x y": positions (<s>,<s>)->x and (<s>,x)->y; every count
    // table entry is 1, unigrams are 1/2 each, so each position scores
    // -ln(0.5*1 + 0.3*1 + 0.2*0.5) = -ln(0.9)
    val tiny = Seq((1L, "x y")).toDF("doc_id", "text")
    val one = graft.ops.TextAnalysis.trigramNll(tiny, "doc_id", "text").collect()
    assert(one.length == 1)
    assert(one(0).getLong(1) == 2L) // both real tokens scored
    assert(math.abs(one(0).getDouble(2) - -math.log(0.9)) < 1e-12)

    val corpus = Seq(
      (1L, "the cat sat down"), (2L, "the cat sat down"), (3L, "the cat sat down"),
      (4L, "down sat cat the")).toDF("doc_id", "text")
    val nll = graft.ops.TextAnalysis.trigramNll(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(nll.values.map(_._1).toSeq.sorted == Seq(4L, 4L, 4L, 4L)) // no drops
    assert(nll(4L)._2 > nll(1L)._2) // reversed word order = unseen trigram contexts
    assert(nll(1L)._2 == nll(2L)._2) // identical docs, identical score
  }

  test("naive Bayes: hand-computed smoothed posteriors; deterministic argmax") {
    // V={x,y}, priors 1/2 each; counts: (x|a)=2, (y|b)=1
    // lp(x|a)=ln(3/4) lp(y|a)=ln(1/4) lp(x|b)=ln(1/3) lp(y|b)=ln(2/3)
    val docs = Seq((1L, "a", "x x"), (2L, "b", "y")).toDF("doc_id", "lab", "text")
    val s = graft.ops.TextAnalysis.nbScores(docs, "doc_id", "lab", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(s.size == 4) // 2 docs x 2 classes
    val h = math.log(0.5)
    assert(math.abs(s((1L, "a")) - (h + 2 * math.log(0.75))) < 1e-12)
    assert(math.abs(s((1L, "b")) - (h + 2 * math.log(1.0 / 3))) < 1e-12)
    assert(math.abs(s((2L, "a")) - (h + math.log(0.25))) < 1e-12)
    assert(math.abs(s((2L, "b")) - (h + math.log(2.0 / 3))) < 1e-12)

    val pred = graft.ops.TextAnalysis.nbPredict(
      graft.ops.TextAnalysis.nbScores(docs, "doc_id", "lab", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "a", 2L -> "b")) // each doc recovers its class

    // exact tie: doc from an unseen-token-free symmetric setup — both
    // classes score identically, argmax must pick the LAST class name
    val tied = Seq((1L, "a", "x"), (2L, "b", "x")).toDF("doc_id", "lab", "text")
    val tp = graft.ops.TextAnalysis.nbPredict(
      graft.ops.TextAnalysis.nbScores(tied, "doc_id", "lab", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tp == Map(1L -> "b", 2L -> "b"))
  }

  test("unigram LM: rare tokens raise a document's mean negative log-likelihood") {
    val corpus = Seq(
      (1L, "common common common common"),
      (2L, "common rare")).toDF("doc_id", "text")
    val lm = TextAnalysis.unigramLogProbs(corpus, "text")
    val lmRows = lm.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(lmRows("common") - math.log(5.0 / 6.0)) < 1e-12)
    assert(math.abs(lmRows("rare") - math.log(1.0 / 6.0)) < 1e-12)
    val nll = TextAnalysis.unigramNll(corpus, "doc_id", "text", lm).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(nll(2L) > nll(1L)) // the rare token makes doc 2 more surprising
    assert(math.abs(nll(1L) - -math.log(5.0 / 6.0)) < 1e-12)
  }

  test("url normalization: ports, tracking params, fragments, passthrough") {
    val cases = Seq(
      ("HTTP://Example.COM:80/A/b?utm_source=x&b=2&a=1#frag", "http://example.com/A/b?a=1&b=2"),
      ("https://Host.org:443/path", "https://host.org/path"),
      ("https://host.org:8443/p?x=1", "https://host.org:8443/p?x=1"),
      ("http://h.io", "http://h.io/"),
      ("ftp://Mixed.Case:21/f", "ftp://mixed.case:21/f"), // non-http port kept
      ("https://h.io?utm_a=1&utm_b=2", "https://h.io/"),  // all params tracked away
      ("not a url at all", "not a url at all"))
    val df = cases.toDF("url", "want")
    val got = df.select(col("want"),
      graft.ops.TextAnalysis.normalizeUrl(col("url")).as("got"),
      graft.ops.TextAnalysis.normalizeUrlDeclarative(col("url")).as("decl")).collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(0),
        s"normalized '${r.getString(1)}' != expected '${r.getString(0)}'")
      // kernel and the oracle-mirror declarative form must agree exactly
      assert(r.getString(1) == r.getString(2),
        s"kernel '${r.getString(1)}' != declarative '${r.getString(2)}'")
    }
  }

  test("multimodal: REAL audio codec parses WAV headers through the seam") {
    // a real minimal WAV: PCM, 2 channels, 8000 Hz, 16-bit → byte rate
    // 32000; data chunk declares 64000 bytes → 2000 ms
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16)
    val data = "data".getBytes("US-ASCII") ++ le32(64000) // declared, truncated body
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(36 + 64000) ++
      "WAVE".getBytes("US-ASCII") ++ fmt ++ data ++ Array.fill(16)(0.toByte)
    assert(Multimodal.AudioHeader.parse(wav).contains(("audio/wav", 2, 8000, 2000L)))
    assert(Multimodal.AudioHeader.parse(wav.take(20)).isEmpty)
    assert(Multimodal.AudioHeader.parse("RIFFxxxxJUNK".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.AudioHeader.parse(Array.empty[Byte]).isEmpty)
    // hostile declared chunk size near 2^31: the cursor must not wrap
    // an Int into a negative offset (would throw IndexOutOfBounds
    // inside tag(), violating the never-throw contract) — it advances
    // past the payload and the parse returns None
    val hostile = "RIFF".getBytes("US-ASCII") ++ le32(0x7FFFFFFF) ++
      "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ le32(0x7FFFFFF0) ++ Array.fill(64)(0.toByte)
    assert(Multimodal.AudioHeader.parse(hostile).isEmpty)
    // same hostile size on the LAST chunk after a valid fmt but no
    // data: must also return None without throwing
    val hostile2 = "RIFF".getBytes("US-ASCII") ++ le32(0x7FFFFFFF) ++
      "WAVE".getBytes("US-ASCII") ++ fmt ++
      "LIST".getBytes("US-ASCII") ++ le32(0x7FFFFFF8) ++ Array.fill(64)(0.toByte)
    assert(Multimodal.AudioHeader.parse(hostile2).isEmpty)

    // ---- REAL PCM sample decode (AudioPcm) ----
    def fmtChunk(format: Int, ch: Int, rate: Int, bits: Int) =
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(format) ++ le16(ch) ++
        le32(rate) ++ le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
    // 16-bit: declared 4 samples, all present
    val samples16 = Seq(1000, -1000, 32767, -32768)
    val d16 = samples16.flatMap(v => le16(v & 0xFFFF)).toArray
    val wav16 = "RIFF".getBytes("US-ASCII") ++ le32(36 + d16.length) ++
      "WAVE".getBytes("US-ASCII") ++ fmtChunk(1, 1, 8000, 16) ++
      "data".getBytes("US-ASCII") ++ le32(d16.length) ++ d16
    val c16 = graft.ops.AudioPcm.decode(wav16)
    assert(c16.exists(c => c.bitsPerSample == 16 && c.samples.toSeq == samples16))
    // 8-bit: bytes centered to 16-bit range
    val d8 = Array[Byte](0, 128.toByte, 255.toByte)
    val wav8 = "RIFF".getBytes("US-ASCII") ++ le32(36 + 3) ++
      "WAVE".getBytes("US-ASCII") ++ fmtChunk(1, 1, 8000, 8) ++
      "data".getBytes("US-ASCII") ++ le32(3) ++ d8
    assert(graft.ops.AudioPcm.decode(wav8).exists(_.samples.toSeq ==
      Seq(-128 * 256, 0, 127 * 256)))
    // truncated data: decodes the prefix that exists
    assert(graft.ops.AudioPcm.decode(wav16.dropRight(4)).exists(_.samples.toSeq ==
      samples16.take(2)))
    // non-PCM format refused
    val wavF = "RIFF".getBytes("US-ASCII") ++ le32(36 + 4) ++
      "WAVE".getBytes("US-ASCII") ++ fmtChunk(3, 1, 8000, 32) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++ Array.fill(4)(0.toByte)
    assert(graft.ops.AudioPcm.decode(wavF).isEmpty)
    assert(graft.ops.AudioPcm.decode(Array.emptyByteArray).isEmpty)

    val media = Seq((1L, wav), (2L, "not audio data here at all ok".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), struct(col("payload"),
        lit(null).cast("string").as("mime"),
        struct(length(col("payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
    val out = Multimodal.decodeAudioMeta(media, "doc_id", "media")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("mime_detected"), Option(r.get(r.fieldIndex("channels"))),
          Option(r.get(r.fieldIndex("sample_rate"))),
          Option(r.get(r.fieldIndex("duration_ms"))))).toMap
    assert(out(1L) == (("audio/wav", Some(2), Some(8000), Some(2000L))))
    assert(out(2L) == ((null, None, None, None)))
  }

  test("near-dup signature index: check == recompute, save/load identical, no corpus re-signature") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark engines and distributed query planning"),
      (3L, "yet another unrelated document body that shares nothing with the batch")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),  // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog near the river bank again"),  // near dup of 1
      (12L, "entirely novel ingest material mentioning neither foxes nor engines")).toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet

    // corpus parquet-backed (like a real standing corpus); batch local
    val corpusDir = java.nio.file.Files.createTempDirectory("graftndcorpus").toString + "/c"
    corpus.write.parquet(corpusDir)
    val corpusPq = spark.read.parquet(corpusDir)

    val ix = Dedup.NearDupIndex.build(corpusPq, "doc_id", "text")
    val viaIndex = Dedup.NearDupIndex.check(ix, batch, "doc_id", "text",
      corpusPq, "doc_id", "text", threshold = 0.5)
    val recompute = Dedup.minhashContamination(batch, corpus, "doc_id", "doc_id", "text",
      threshold = 0.5)
      .select(col("left_id").as("batch_id"), col("right_id").as("corpus_id"), col("jaccard"))
    assert(key(viaIndex) == key(recompute) && viaIndex.count() >= 2)

    val dir = java.nio.file.Files.createTempDirectory("graftndix").toString + "/ix"
    Dedup.NearDupIndex.save(ix, dir)
    val loaded = Dedup.NearDupIndex.load(spark, dir)
    assert(loaded.numHashes == ix.numHashes && loaded.seed == ix.seed)
    val viaLoaded = Dedup.NearDupIndex.check(loaded, batch, "doc_id", "text",
      corpusPq, "doc_id", "text", threshold = 0.5)
    assert(key(viaLoaded) == key(viaIndex))
    // the loaded-index plan never re-signatures the CORPUS: the local
    // batch's kernels are pre-evaluated by ConvertToLocalRelation, so
    // any signature kernel surviving optimization would sit on the
    // parquet-backed corpus side — there must be none
    val sigExprs = viaLoaded.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e: graft.expr.MinHashSignatureExpr => e
      })
    }.flatten
    assert(sigExprs.isEmpty, s"corpus side re-signatured: $sigExprs")

    // append folds the batch in; a re-check of the same batch now finds
    // its own members as verbatim matches too
    val ix2 = Dedup.NearDupIndex.append(loaded, batch, "doc_id", "text")
    val again = Dedup.NearDupIndex.check(ix2, batch, "doc_id", "text",
      corpus.unionByName(batch), "doc_id", "text", threshold = 0.5)
    assert(again.where(col("batch_id") === col("corpus_id")).count() == 3) // self matches
  }

  test("NearDupIndex selfCheck from stored signatures == minhashNearDups recompute") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank again"),
      (3L, "completely different content about spark engines and distributed query planning"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "completely different content about spark engines and distributed query planning"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    val ix = Dedup.NearDupIndex.build(corpus, "doc_id", "text")
    val viaIndex = Dedup.NearDupIndex
      .selfCheck(ix, ix.sig, corpus, "doc_id", "text", threshold = 0.5)
    val recompute = Dedup.minhashNearDups(corpus, "doc_id", "text", threshold = 0.5)
    assert(key(viaIndex) == key(recompute))
    assert(viaIndex.count() >= 3) // (1,2),(1,4),(2,4),(3,5) territory
    // signaturesFor + appendSig chain matches build on the union
    val more = Seq((10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val sigMore = Dedup.NearDupIndex.signaturesFor(ix, more, "doc_id", "text")
    val ix2 = Dedup.NearDupIndex.appendSig(ix, sigMore)
    val all = corpus.unionByName(more)
    assert(key(Dedup.NearDupIndex.selfCheck(ix2, ix2.sig, all, "doc_id", "text", 0.5))
      == key(Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.5)))
  }

  test("NearDupIndex appendCached: exactly one cached sig frame survives a chain") {
    import spark.implicits._
    val mk = (off: Long) => (0 until 6).map(i =>
      (off + i, s"batch $off document number $i with some shared filler words"))
      .toDF("doc_id", "text")
    val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
    var ix = Dedup.NearDupIndex.build(mk(0), "doc_id", "text")
    ix = ix.copy(sig = ix.sig.cache()); ix.sig.count()
    ix = Dedup.NearDupIndex.appendCached(ix, mk(100), "doc_id", "text")
    ix = Dedup.NearDupIndex.appendCached(ix, mk(200), "doc_id", "text")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted0
    // 3 appends worth of caches would be 3 entries; the swap keeps 1
    assert(leaked.size == 1, s"orphaned cached RDDs after append chain: $leaked")
    assert(ix.sig.count() == 3 * 6 * ix.bands)
    ix.sig.unpersist(): Unit
  }

  test("sequence packing: greedy fold per group, oversized docs get own bins") {
    val df = Seq(
      (1L, "g1", "a b c"),        // 3 tokens
      (2L, "g1", "d e f g"),      // 4 → 3+4=7 > 5: new bin
      (3L, "g1", "h"),            // 1 → 4+1=5 fits
      (4L, "g1", "i j k l m n"),  // 6 > capacity: own bin
      (5L, "g1", "o"),            // after oversize: new bin
      (6L, "g2", "p q")).toDF("doc_id", "source", "text")
    val out = graft.ops.Packing.packGreedy(df, "doc_id", "source", "text", capacity = 5)
      .collect().map(r => r.getLong(1) -> ((r.getString(0), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("g1", 3L, 0L)))
    assert(out(2L) == (("g1", 4L, 1L)))
    assert(out(3L) == (("g1", 1L, 1L)))
    assert(out(4L) == (("g1", 6L, 2L))) // oversized: alone in bin 2
    assert(out(5L) == (("g1", 1L, 3L)))
    assert(out(6L) == (("g2", 2L, 0L))) // bins number from 0 per group
  }

  test("Mp4.parse: v0/v1 box layouts, 64-bit sizes, hostile bytes") {
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >> 32) ++ be32(v & 0xFFFFFFFFL)
    def box(t: String, body: Array[Byte]) = be32(body.length + 8L) ++ t.getBytes("US-ASCII") ++ body
    val matrix = new Array[Byte](36)
    val ftyp = box("ftyp", "mp42".getBytes("US-ASCII") ++ be32(0) ++ "mp42".getBytes("US-ASCII"))

    // version 1 mvhd (64-bit times) + version 1 tkhd
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(1200) ++ be32(0x00010000L) ++ be16(0x0100) ++
      new Array[Byte](10) ++ matrix ++ new Array[Byte](24) ++ be32(2))
    val tkhd1 = box("tkhd", Array[Byte](1, 0, 0, 7) ++ be64(0) ++ be64(0) ++
      be32(1) ++ be32(0) ++ be64(1200) ++ new Array[Byte](8) ++ new Array[Byte](8) ++
      matrix ++ be32(1920L << 16) ++ be32(1080L << 16))
    val v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", tkhd1))
    assert(graft.ops.Mp4.parse(v1).contains(
      graft.ops.Mp4.Meta("mp42", 2000L, Some(1920), Some(1080)))) // 1200/600 s

    // 64-bit largesize on the moov container must parse identically
    val moovBody = mvhd1 ++ box("trak", tkhd1)
    val large = ftyp ++ (be32(1) ++ "moov".getBytes("US-ASCII") ++
      be64(moovBody.length + 16L) ++ moovBody)
    assert(graft.ops.Mp4.parse(large).contains(
      graft.ops.Mp4.Meta("mp42", 2000L, Some(1920), Some(1080))))

    // no video track: duration still parses, dims are None
    val audioOnly = ftyp ++ box("moov", mvhd1)
    assert(graft.ops.Mp4.parse(audioOnly).contains(
      graft.ops.Mp4.Meta("mp42", 2000L, None, None)))

    // hostile: truncation at every interesting boundary, bogus sizes
    assert(graft.ops.Mp4.parse(Array.emptyByteArray).isEmpty)
    assert(graft.ops.Mp4.parse("not an mp4 file at all!!".getBytes).isEmpty)
    for (cut <- Seq(4, 12, 25, v1.length / 2, v1.length - 3))
      assert(graft.ops.Mp4.parse(v1.take(cut)).isEmpty, s"truncated at $cut")
    // declared box size larger than the file
    val overrun = ftyp ++ be32(1 << 20) ++ "moov".getBytes("US-ASCII") ++ new Array[Byte](8)
    assert(graft.ops.Mp4.parse(overrun).isEmpty)
    // hostile 2^63 largesize must not wrap the cursor
    val evil = ftyp ++ be32(1) ++ "moov".getBytes("US-ASCII") ++
      be64(Long.MaxValue) ++ new Array[Byte](16)
    assert(graft.ops.Mp4.parse(evil).isEmpty)
  }

  test("best-fit-decreasing packing: longest-first order, tightest-fit bin, ties to first") {
    // capacity 10. Sorted by (t desc, id): d4(7) d1(6) d2(4) d5(4) d3(3) d6(2)
    //   d4(7) → new bin0 (rem 3)
    //   d1(6) → no fit (3<6) → new bin1 (rem 4)
    //   d2(4) → fits bin1 exactly (rem 4) → bin1 (rem 0); bin0 rem 3 doesn't fit
    //   d5(4) → no fit (3,0) → new bin2 (rem 6)
    //   d3(3) → fits bin0 (rem 3, tightest) over bin2 (rem 6) → bin0 (rem 0)
    //   d6(2) → only bin2 fits → bin2 (rem 4)
    val df = Seq(
      (1L, "g", "a b c d e f"), (2L, "g", "a b c d"), (3L, "g", "a b c"),
      (4L, "g", "a b c d e f g"), (5L, "g", "a b c d"), (6L, "g", "a b"))
      .toDF("doc_id", "source", "text")
    val out = graft.ops.Packing.packBestFitDecreasing(df, "doc_id", "source", "text",
        capacity = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out == Map(4L -> 0L, 1L -> 1L, 2L -> 1L, 5L -> 2L, 3L -> 0L, 6L -> 2L))
    // first-fit-decreasing would have put d3 in bin2 (first that fits is
    // bin0 rem 3 — same here); the discriminating case is d2: FIRST fit
    // is bin1 anyway, but BEST fit must prefer rem-4 bin1 over a larger
    // remainder — exercised again below with 3 open bins
    val df2 = Seq(
      (1L, "g", "a b c d e f g h"),    // 8 → bin0 (rem 2)
      (2L, "g", "a b c d e f g"),      // 7 → bin1 (rem 3)
      (3L, "g", "a b c d e"),          // 5 → bin2 (rem 5)
      (4L, "g", "a b c"))              // 3 → fits bin1 (3, tightest ≥3) not bin2 (5)
      .toDF("doc_id", "source", "text")
    val out2 = graft.ops.Packing.packBestFitDecreasing(df2, "doc_id", "source", "text",
        capacity = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    // oversized doc: own (negative-remainder) bin that never backfills
    val df3 = Seq((1L, "g", "a b c d e"), (2L, "g", "a")).toDF("doc_id", "source", "text")
    val out3 = graft.ops.Packing.packBestFitDecreasing(df3, "doc_id", "source", "text",
        capacity = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out3 == Map(1L -> 0L, 2L -> 1L))
  }

  test("sliding chunks: overlap, short tails, empty docs emit nothing") {
    val df = Seq(
      (1L, "a b c d e f g"), // 7 tokens, size 4 stride 2 -> starts 0,2,4,6
      (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val out = graft.ops.Packing.slidingChunks(df, "doc_id", "text", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(out((1L, 0L)) == (4L, "a b c d"))
    assert(out((1L, 1L)) == (4L, "c d e f"))
    assert(out((1L, 2L)) == (3L, "e f g"))
    assert(out((1L, 3L)) == (1L, "g"))
    assert(out((3L, 0L)) == (1L, "x"))
    assert(out.size == 5) // doc 2 contributes nothing
  }

  test("int8 quantization: exact codes, roundtrip error bound, zero vector") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-2.0f))).toDF("vec_id", "embedding")
    val q = graft.ops.Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(q(1L)._1 == 1.0 && q(1L)._2 == Seq(127, -63, 32, 0)) // floor(-63.5+0.5) = -63; floor(31.75+0.5)=32
    assert(q(2L)._1 == 0.0 && q(2L)._2 == Seq(0, 0))
    assert(q(3L)._1 == 2.0 && q(3L)._2 == Seq(-127))
    // dequantized values stay within half a quantization step
    val rt = graft.ops.Similarity.dequantizeInt8(
        graft.ops.Similarity.quantizeInt8(df.filter(col("vec_id") === 1L), "vec_id", "embedding"),
        "codes", "scale", "deq")
      .collect()(0).getSeq[Double](3)
    val orig = Seq(1.0, -0.5, 0.25, 0.0)
    rt.zip(orig).foreach { case (a, b) => assert(math.abs(a - b) <= 0.5 / 127 + 1e-12) }
  }

  test("round-7 ops: null and empty text neither crash nor drop rows") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, ""), (3L, "real words here man yes"))
      .toDF("doc_id", "text")
    // line dedup: null/empty text passes through; row count preserved
    val ld = graft.ops.Dedup.dedupLines(df, "doc_id", "text", minDf = 2).collect()
    assert(ld.length == 3 && ld.forall(_.getLong(2) == 0L))
    // span dedup: null text tokenizes to null -> no windows, row kept
    val sd = graft.ops.Dedup.dedupSpans(df, "doc_id", "text", k = 8, minCount = 2)
    assert(sd.count() == 3)
    // c4: null text -> null struct fields must not crash the filter
    assert(graft.ops.TextAnalysis.c4Quality(df).count() == 3)
    // corpus report: null text counts as a doc, contributes no tokens
    val cr = graft.ops.TextAnalysis.corpusReport(
      df.withColumn("cls", lit("a")), "text", "cls").collect()(0)
    assert(cr.getAs[Long]("n_docs") == 3L)
    // sliding chunks / dsir / tfidf: null and empty docs simply absent
    assert(graft.ops.Packing.slidingChunks(df, "doc_id", "text", 4, 2)
      .select("doc_id").distinct().count() == 1)
    assert(graft.ops.TextAnalysis.tfidfScores(df, "doc_id", "text")
      .select("doc_id").distinct().count() == 1)
    // corpus diff: null text fingerprints null, null-vs-null is unchanged
    val cd = graft.ops.Dedup.corpusDiff(df, df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cd.values.forall(_ == "unchanged"), s"$cd")
  }

  test("sq8 ADC top-k: scale-aware scores, hand-checked order") {
    import graft.ops.Similarity
    // query [1,0]: codes [127,0], scale 1. corpus:
    //  id 0 = [1,0]   -> score 1*1*(127*127) = 16129
    //  id 1 = [2,0]   -> codes [127,0] scale 2 -> 2*16129 = 32258 (bigger dot wins)
    //  id 2 = [0,1]   -> orthogonal -> 0
    //  id 3 = [-1,0]  -> -16129
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq((9L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.sq8TopK(corpus, "vec_id", "embedding", q, "vec_id", k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(top.toSeq == Seq(
      (1L, 32258.0, 1L), (0L, 16129.0, 2L), (2L, 0.0, 3L), (3L, -16129.0, 4L)))
  }

  test("binary quantization: packed sign bits, hamming, hand-checked top-k order") {
    import graft.ops.Similarity
    val df = Seq(
      (0L, Array.fill(64)(1.0f)),                                  // all ones
      (1L, Array.fill(64)(-1.0f)),                                 // all sign-0 -> hamming 64 vs id 0
      (2L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)),  // half
      (3L, Array.tabulate(64)(i => if (i == 0) -1.0f else 1.0f))   // hamming 1 vs id 0
    ).toDF("vec_id", "embedding")
    val bits = df.select(col("vec_id"),
        Similarity.binarizeSign(col("embedding"), 64).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bits(0L) == Seq(4294967295L, 4294967295L)) // 2^32-1 twice
    assert(bits(1L) == Seq(0L, 0L))
    assert(bits(2L) == Seq(4294967295L, 0L))
    assert(bits(3L) == Seq(4294967294L, 4294967295L)) // bit 0 clear
    val top = Similarity.binaryTopK(df, "vec_id", "embedding",
        df.filter(col("vec_id") === 0L), "vec_id", dim = 64, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // query 0 excluded from its own results (the ANN-tier contract):
    // id 3 (h=1), id 2 (h=32), id 1 (h=64)
    assert(top.toSeq == Seq((3L, 1L, 1L), (2L, 32L, 2L), (1L, 64L, 3L)))
    // a wrong declared dim fails at analysis, not silently truncates
    intercept[graft.GraftAnalysisException] {
      Similarity.binaryTopK(df, "vec_id", "embedding",
        df.filter(col("vec_id") === 0L), "vec_id", dim = 128, k = 3)
    }
  }

  test("corpus report: per-class volumes and exact-dup redundancy") {
    val df = Seq(
      (1L, "a", "one two three"), (2L, "a", "one two three"), (3L, "a", "ONE, two three!"),
      (4L, "b", "unique words here"), (5L, "b", "other words")).toDF("doc_id", "cls", "text")
    val r = graft.ops.TextAnalysis.corpusReport(df, "text", "cls")
      .collect().map(x => x.getString(0) -> x).toMap
    // class a: 3 docs, all same normalized content -> 2 redundant
    assert(r("a").getAs[Long]("n_docs") == 3L && r("a").getAs[Long]("n_dup_docs") == 2L)
    assert(r("a").getAs[Long]("n_tokens") == 9L)
    assert(math.abs(r("a").getAs[Double]("dup_frac") - 2.0 / 3) < 1e-12)
    assert(r("b").getAs[Long]("n_dup_docs") == 0L && r("b").getAs[Long]("n_tokens") == 5L)
  }

  test("tfidf: hand-checked scores, rare terms outweigh common ones") {
    val df = Seq(
      (1L, "cat cat dog"), (2L, "dog bird"), (3L, "dog dog dog")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tfidfScores(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // dog: df=3 -> idf = ln(4/4)+1 = 1; cat: df=1 -> idf = ln(2)+1
    val (tfCat, dfCat, sCat) = out((1L, "cat"))
    assert(tfCat == 2L && dfCat == 1L && math.abs(sCat - 2 * (math.log(2.0) + 1)) < 1e-12)
    assert(out((1L, "dog")) == ((1L, 3L, 1.0)))
    assert(out((3L, "dog"))._3 == 3.0)
    assert(sCat > out((1L, "dog"))._3) // rare beats common at higher tf
    assert(out.size == 5)
  }

  test("corpus diff: added/removed/changed/unchanged classified by content fingerprint") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val nw = Seq((1L, "alpha"), (2L, "BETA!"), (4L, "delta")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.corpusDiff(old, nw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // fingerprint normalizes case/punct: "BETA!" == "beta" -> unchanged
    assert(out == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "removed", 4L -> "added"))
    val nw2 = Seq((2L, "genuinely different")).toDF("doc_id", "text")
    val out2 = graft.ops.Dedup.corpusDiff(old, nw2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(2L) == "changed")
  }

  test("line/span dedup plans: frequency aggregates see digests, never document bodies") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = (1L to 50L).map(i => (i, s"w$i x y z a b c d e f g h")).toDF("doc_id", "text")
    for (out <- Seq(
        graft.ops.Dedup.dedupLines(df, "doc_id", "text", minDf = 3),
        graft.ops.Dedup.dedupSpans(df, "doc_id", "text", k = 8, minCount = 2))) {
      val aggs = out.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      assert(aggs.nonEmpty)
      // every aggregate (freq count, removal-list collect) runs over
      // (id, pos, digest) projections — a `text` attribute reaching an
      // aggregate would mean bodies travel through the count shuffle
      aggs.foreach { a =>
        assert(!a.child.output.exists(_.name == "text"),
          s"document body reaches an aggregate: ${a.child.output.map(_.name)}")
      }
    }
  }

  test("chunk windows: eod-separated stream cut exactly, partial tail, per-group numbering") {
    val df = Seq(
      (1L, "g1", "a b c"), (2L, "g1", "d e"), (3L, "g1", "f"),
      (10L, "g2", "x y z w")).toDF("doc_id", "grp", "text")
    // g1 stream: a b c <|eod|> d e <|eod|> f <|eod|>  (9 tokens)
    val out = graft.ops.Packing.chunkWindows(df, "doc_id", "grp", "text", windowSize = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(("g1", 0L)) == (4L, "a b c <|eod|>"))
    assert(out(("g1", 1L)) == (4L, "d e <|eod|> f"))
    assert(out(("g1", 2L)) == (1L, "<|eod|>")) // partial tail window
    assert(out(("g2", 0L)) == (4L, "x y z w"))
    assert(out(("g2", 1L)) == (1L, "<|eod|>"))
    assert(out.size == 5)
    // window size dividing the stream exactly -> no empty tail
    val exact = graft.ops.Packing.chunkWindows(df.filter(col("grp") === "g2"),
      "doc_id", "grp", "text", windowSize = 5).collect()
    assert(exact.length == 1 && exact(0).getLong(2) == 5L)
  }

  test("span dedup: canonical occurrence survives, repeats lose tokens, short docs untouched") {
    val span = "one two three four five six seven eight" // the repeated 8-gram
    // tails must differ word-wise or the overlapping grams spanning
    // into them repeat too and correctly widen the removal
    val df = Seq(
      (1L, span + " suffix aaa"),          // canonical (min doc, pos 0)
      (2L, "head " + span + " ending bbb"), // repeat at pos 1 -> 8 tokens removed
      (3L, span),                          // repeat -> everything removed
      (4L, "totally different words here"), // short, untouched
      (5L, "one two three four five")      // <8 tokens, untouched
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dedupSpans(df, "doc_id", "text", k = 8, minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (span + " suffix aaa", 0L))
    assert(out(2L) == ("head ending bbb", 8L))
    assert(out(3L) == ("", 8L))
    assert(out(4L) == ("totally different words here", 0L))
    assert(out(5L) == ("one two three four five", 0L))
    // overlapping repeats in ONE doc: 9 tokens = two overlapping
    // 8-grams; a second doc repeating the first window makes it
    // frequent; within-doc the canonical keeps its tokens
    val df2 = Seq(
      (1L, span + " nine"), (2L, span)).toDF("doc_id", "text")
    val out2 = graft.ops.Dedup.dedupSpans(df2, "doc_id", "text", 8, 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out2(1L) == (span + " nine", 0L))
    assert(out2(2L) == ("", 8L))
  }

  test("exact-substring cut: every occurrence removed including the first") {
    val span = "one two three four five six seven eight nine ten" // 10 tokens
    val df = Seq(
      (1L, span + " tail aaa"),             // first occurrence: cut too
      (2L, "head " + span + " ending bbb"),
      (3L, span),
      (4L, "totally different words here"),
      (5L, "one two three four five six seven eight nine") // 9 < minLen
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.exactSubstrCut(df, "doc_id", "text", minLen = 10, prefilterK = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("tail aaa", 10L, 1L))
    assert(out(2L) == ("head ending bbb", 10L, 1L))
    assert(out(3L) == ("", 10L, 1L))
    assert(out(4L) == ("totally different words here", 0L, 0L))
    assert(out(5L) == ("one two three four five six seven eight nine", 0L, 0L))
    // self-repeat inside ONE doc is a duplicate too; the two
    // occurrences are separated so they count as two maximal spans
    val df2 = Seq((9L, span + " gap " + span)).toDF("doc_id", "text")
    val out2 = graft.ops.Dedup.exactSubstrCut(df2, "doc_id", "text", 10, 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out2(9L) == ("gap", 20L, 2L))
  }

  test("exact-substring cut matches a quadratic brute-force oracle; k-prefix prune is lossless") {
    val L = 10
    def toks(s: String): Vector[String] =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'z').map(_.toString)
    val phrase = (1 to 12).map(i => s"p$i") // planted 12-token duplicate
    val base = (1 to 30).map { i =>
      val body = Vector.fill(20 + rnd.nextInt(40))(vocab(rnd.nextInt(26)))
      val t = if (i % 5 == 0) { // plant into 6 docs at random offsets
        val at = rnd.nextInt(body.length)
        body.take(at) ++ phrase ++ body.drop(at)
      } else body
      (i.toLong, t.mkString(" "))
    }
    val overlapped = phrase ++ phrase.drop(2) // overlapping occurrences
    val docs = base ++ Seq(
      (31L, (phrase ++ Vector.fill(15)("z") ++ phrase).mkString(" ")), // self-repeat
      (32L, overlapped.mkString(" ")),
      (33L, base.head._2)) // whole-doc duplicate of doc 1
    // quadratic oracle straight from the definition: a position is
    // removed iff some L-window containing it occurs >= 2 times
    val wins = docs.flatMap { case (id, text) =>
      val t = toks(text)
      (0 to t.length - L).map(p => (t.slice(p, p + L).mkString(" "), id, p))
    }
    val dupKeys = wins.groupBy(_._1).filter(_._2.size >= 2).keySet
    val covered = wins.filter(w => dupKeys(w._1))
      .flatMap { case (_, id, p) => (p until p + L).map(id -> _) }
      .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
    val expected = docs.map { case (id, text) =>
      val t = toks(text)
      val cov = covered.getOrElse(id, Set.empty[Int])
      val kept = t.zipWithIndex.collect { case (w, i) if !cov(i) => w }.mkString(" ")
      id -> (kept, cov.size.toLong, cov.toVector.sorted.count(p => !cov(p - 1)).toLong)
    }.toMap
    assert(expected.values.map(_._2).sum > 0) // the plant actually fired
    val df = docs.toDF("doc_id", "text")
    for (k <- Seq(4, L)) { // prefilterK = minLen disables the prune tier
      val got = graft.ops.Dedup.exactSubstrCut(df, "doc_id", "text", minLen = L, prefilterK = k)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == expected, s"prefilterK=$k")
    }
  }

  test("temperature sample: smallest class intact, rates follow sqrt(nmin/nc), deterministic") {
    // classes: a=400, b=100, c=25 -> q: sqrt(1/16)=0.25, sqrt(1/4)=0.5, 1.0
    val df = ((1 to 400).map(i => (i.toLong, "a")) ++
      (401 to 500).map(i => (i.toLong, "b")) ++
      (501 to 525).map(i => (i.toLong, "c"))).toDF("id", "cls")
    def run() = graft.ops.Packing.temperatureSample(df, "id", "cls", 0.5, 7L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val a = run()
    assert(a.sameElements(run())) // deterministic
    val byCls = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCls("c") == 25) // q=1 keeps the whole smallest class
    // md5 prefixes are uniform: expect 100 +- ~4 sd and 50 +- ~3.5 sd
    assert(byCls("a") > 70 && byCls("a") < 130, s"a=${byCls("a")}")
    assert(byCls("b") > 30 && byCls("b") < 70, s"b=${byCls("b")}")
    // alpha=1 is a no-op
    assert(graft.ops.Packing.temperatureSample(df, "id", "cls", 1.0, 7L).count() == 525)
    // original column set survives
    assert(graft.ops.Packing.temperatureSample(df, "id", "cls").columns.toSeq == Seq("id", "cls"))
  }

  test("c4 filter: line rules, page verdicts, cleaned text") {
    val good = "this line has five good words.\nanother fine sentence right here!\n" +
      "a third keeper question maybe here?"
    val df = Seq(
      (1L, good),                                          // 3 kept -> keep
      (2L, good + "\nshort line."),                        // <5 words line dropped, page kept
      (3L, good + "\nenable javascript to continue now."), // js line dropped, page kept
      (4L, good + "\nlorem ipsum dolor sit amet."),        // page rejected
      (5L, good + "\ncode { x }"),                         // page rejected
      (6L, "no punctuation here at all\nstill none"),      // 0 kept -> rejected
      (7L, "one keeper only in this doc.")                 // 1 kept -> rejected
    ).toDF("doc_id", "text")
    val s = df.select(col("doc_id"),
        graft.ops.TextAnalysis.c4QualityStruct(col("text")).as("c"))
      .select(col("doc_id"), col("c.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(s(1L).getAs[Boolean]("keep") && s(1L).getAs[Long]("n_kept") == 3L)
    assert(s(2L).getAs[Boolean]("keep") && s(2L).getAs[Long]("n_kept") == 3L
      && s(2L).getAs[Long]("n_lines") == 4L)
    assert(s(3L).getAs[Boolean]("keep") && s(3L).getAs[Long]("n_kept") == 3L)
    assert(!s(4L).getAs[Boolean]("keep") && s(4L).getAs[Boolean]("has_lorem"))
    assert(!s(5L).getAs[Boolean]("keep") && s(5L).getAs[Boolean]("has_brace"))
    assert(!s(6L).getAs[Boolean]("keep") && s(6L).getAs[Long]("n_kept") == 0L)
    assert(!s(7L).getAs[Boolean]("keep"))
    assert(s(2L).getAs[String]("text_clean") == good)
    // the convenience filter drops rejected pages and rewrites text
    val kept = graft.ops.TextAnalysis.c4Filter(df).collect()
    assert(kept.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(kept.forall(_.getString(1) == good))
    // the materialized df form is value-identical to the Column form
    val viaDf = graft.ops.TextAnalysis.c4Quality(df)
      .select(col("doc_id"), col("c4")).collect().map(r => r.get(0) -> r.get(1)).toMap
    val viaCol = df.select(col("doc_id"),
        graft.ops.TextAnalysis.c4QualityStruct(col("text")).as("c4"))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(viaDf == viaCol)
  }

  test("dsir weights: target-like docs score higher, hand-checked two-bucket model") {
    // target speaks only of "cats", source is an even cat/dog mix:
    // docs full of cat n-grams must outscore dog docs
    val source = Seq(
      (1L, "cat cat cat cat"), (2L, "cat cat cat cat"),
      (3L, "dog dog dog dog"), (4L, "dog dog dog dog")).toDF("doc_id", "text")
    val target = Seq((10L, "cat cat cat cat")).toDF("doc_id", "text")
    val w = graft.ops.TextAnalysis.dsirLogWeights(source, "doc_id", "text",
        target, "text", buckets = 64, alpha = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L))
    assert(w(1L)._1 == 7L) // 4 unigrams + 3 bigrams
    assert(w(1L)._2 == w(2L)._2 && w(3L)._2 == w(4L)._2)
    // absolute sign is smoothing-dominated at toy scale; the contract
    // is the ORDERING: target-like docs outscore off-target docs
    assert(w(1L)._2 > w(3L)._2)
    // replay doc 1 against the exact smoothed model: features hash to
    // one bucket per n-gram kind ("cat" / "cat cat"); target has the
    // same 7 features, source has 28 total
    val probs = graft.ops.TextAnalysis.dsirBucketLogProbs(target, "text", 64, 1.0)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(probs.size == 64)
    val expTop = math.log(5.0 / (7 + 64)) // 4 "cat" unigrams + smoothing
    assert(math.abs(probs.values.max - expTop) < 1e-12)
    // docs with no alphanumeric tokens are absent by contract
    val empty = Seq((9L, "!!!")).toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.dsirLogWeights(
      source.union(empty), "doc_id", "text", target, "text", 64, 1.0)
      .filter(col("doc_id") === 9L).count() == 0)
  }

  test("line dedup: strips frequent lines everywhere, keeps order, ignores blanks") {
    val df = Seq(
      (1L, "alpha beta\nSHARED FOOTER\ngamma"),
      (2L, "SHARED FOOTER\ndelta"),
      (3L, "epsilon\n  SHARED FOOTER  \nzeta\n\nSHARED FOOTER"),
      (4L, "unique only\n\n  "),
      (5L, "SHARED FOOTER")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dedupLines(df, "doc_id", "text", minDf = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // trimmed form appears in docs 1,2,3,5 (df=4 >= 3) -> every
    // occurrence goes, including the doubled one in doc 3
    assert(out(1L) == ("alpha beta\ngamma", 1L))
    assert(out(2L) == ("delta", 1L))
    assert(out(3L) == ("epsilon\nzeta\n", 2L)) // blank line survives
    assert(out(4L) == ("unique only\n\n  ", 0L)) // untouched, blanks not counted
    assert(out(5L) == ("", 1L)) // fully-boilerplate doc -> empty, not dropped
    // below min_df nothing is removed
    val none = graft.ops.Dedup.dedupLines(df, "doc_id", "text", minDf = 5)
      .agg(sum("n_lines_removed")).collect()(0).getLong(0)
    assert(none == 0L)
  }

  test("shuffle shards: deterministic across runs, dense per-shard positions, seed changes order") {
    val df = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run(seed: Long) = graft.ops.Packing.shuffleShards(df, "doc_id", nShards = 4, seed = seed)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val a = run(7L); val b = run(7L)
    assert(a.sameElements(b)) // reproducible epoch
    assert(a.map(_._2).forall(s => s >= 0 && s < 4))
    // positions are 1..n within each shard, no gaps or dups
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
    val c = run(8L)
    assert(!a.sameElements(c)) // a different seed is a different epoch
    // original columns survive alongside shard/pos
    val cols = graft.ops.Packing.shuffleShards(df, "doc_id", 4).columns.toSeq
    assert(cols == Seq("doc_id", "text", "shard", "pos"))
  }

  test("pii redaction: emails, ssn, phones, ips replaced in rule order") {
    val in = "mail a.b+c@ex-ample.co.uk, ssn 123-45-6789, call +4915123456789, " +
      "host 192.168.0.1 but not 1.2.3.4.5 fully and not v1.2 at all"
    val out = spark.range(1)
      .select(graft.ops.TextAnalysis.redactPii(lit(in)).as("r")).head().getString(0)
    assert(out.contains("<EMAIL>") && !out.contains("example.co"))
    assert(out.contains("<SSN>") && !out.contains("123-45-6789"))
    assert(out.contains("<PHONE>") && !out.contains("4915123456789"))
    assert(out.contains("<IP>") && !out.contains("192.168.0.1"))
    assert(out.contains("v1.2")) // short dotted version strings survive
    val clean = "no identifiers here at all"
    assert(spark.range(1).select(graft.ops.TextAnalysis.redactPii(lit(clean)))
      .head().getString(0) == clean)
  }

  test("html extraction: scripts/styles/comments vanish, structure becomes newlines, entities single-decode") {
    def ext(in: String): String = spark.range(1)
      .select(graft.ops.TextAnalysis.htmlExtract(lit(in)).as("t")).head().getString(0)
    // hand-traced through the declared rule order
    val in = "<h1>Title</h1>\n<p>A &amp; B&nbsp;&lt;x&gt;</p>" +
      "<script>if(a<b){c();}</script><div>One</div><br/><div>Two</div><!-- gone -->"
    assert(ext(in) == "Title\n\nA & B <x>\nOne\n\nTwo")
    // script content with stray angle operators must vanish whole
    assert(!ext("<script>var s = \"</div>\"; 1 < 2 && 3 > 2;</script>ok").contains("var"))
    // style spans newlines (dotall), case-insensitive tag names
    assert(ext("<STYLE>p {\n color: red;\n}</STYLE>kept") == "kept")
    // double-escaped text single-decodes: &amp;lt; -> &lt; not <
    assert(ext("<p>&amp;lt;tag&amp;gt;</p>") == "&lt;tag&gt;")
    // whitespace normalization: runs collapse, blank lines cap at one
    assert(ext("a   b\t\tc\n\n\n\n\nd") == "a b c\n\nd")
    // plain prose passes through untouched
    assert(ext("no markup at all") == "no markup at all")
    // unterminated script survives to the tag strip (content kept)
    assert(ext("<script>late body") == "late body")
  }

  test("mojibake repair: classic damage reverses, clean text is a fixpoint, hostile input never throws") {
    import graft.expr.MojibakeKernel.{fix, garble}
    // the canonical cases, hand-checked against the cp1252 table
    assert(fix("Ã©") == "é")                 // 0xC3 0xA9
    assert(fix("â€™") == "’")                // 0xE2 0x80 0x99 (0x80 via €-slot)
    assert(fix("â€”dash") == "—dash")        // em dash + trailing ASCII
    assert(fix("ðŸ™‚") == "🙂")             // 4-byte emoji through ™/‚ slots
    assert(fix("naÃ¯ve cafÃ©") == "naïve café")
    // garble is the exact inverse hop, single and double
    for (s <- Seq("plain ascii", "café — naïve", "中文テスト", "mixed é 🙂 end", "")) {
      assert(fix(garble(s)) == s, s)
      assert(fix(garble(garble(s))) == s, s"double: $s")
    }
    // clean text (incl. real non-ASCII) is untouched
    for (s <- Seq("no damage here", "déjà vu — fine", "Ā π 🙂"))
      assert(fix(s) == s, s)
    // lone Ã before ASCII is NOT a valid sequence: left alone
    assert(fix("Ã test") == "Ã test")
    // overlong (0xC0-/0xC1-style can't appear: rev gives 0xC0 only
    // from À which is < 0xC2 lead) and surrogate-range 3-byte
    // sequences stay unrepaired: í (0xED) + ‚ (0x82)... below A0 ok,
    // but í + ¡ + ¡ would decode into surrogates → untouched
    assert(fix("í¡¡") == "í¡¡" || fix("í¡¡").length == 1) // must not produce a lone surrogate
    assert(!fix("í°€").exists(c => c >= 0xD800 && c <= 0xDFFF))
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val junk = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(0x250).toChar).mkString
      fix(junk) // never throws
    }
  }

  test("fix_encoding column expression repairs inside codegen") {
    import graft.expr.MojibakeKernel.garble
    val df = Seq((1L, garble("smiley 🙂 café")), (2L, "already clean"), (3L, null: String))
      .toDF("id", "text")
    val out = df.select($"id", graft.ops.TextAnalysis.fixEncoding($"text").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "smiley 🙂 café")
    assert(out(2L) == "already clean")
    assert(out(3L) == null)
  }

  test("script profile: per-script letter counts and dominant with latin-priority ties") {
    val rows = Seq(
      (1L, "hello мир"), (2L, "全是中文"), (3L, "abc محادثة abc"), (4L, ""), (5L, "ab вг")
    ).toDF("id", "text")
    val got = rows.select($"id", graft.ops.TextAnalysis.scriptProfile($"text").as("p"))
      .select($"id", $"p.n_latin", $"p.n_cyrillic", $"p.n_han", $"p.n_arabic", $"p.dominant")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))).toMap
    assert(got(1L) == ((5, 3, 0, 0, "latin")))
    assert(got(2L) == ((0, 0, 4, 0, "han")))
    assert(got(3L) == ((6, 0, 0, 6, "latin"))) // tie → latin priority
    assert(got(4L) == ((0, 0, 0, 0, "latin")))
    assert(got(5L) == ((2, 2, 0, 0, "latin")))
  }

  test("bloom filter: no false negatives ever, fp rate within sizing bound, codegen probe") {
    import graft.ops.Bloom
    val keys = (0 until 500).map(i => s"key-$i")
    val kdf = keys.toDF("key")
    val m = Bloom.sizeFor(500, 4, 0.01)
    val filter = Bloom.build(kdf, "key", m, 4)
    // every inserted key MUST hit (kernel + expression paths agree)
    assert(keys.forall(Bloom.hit(filter, 4, _)))
    val viaExpr = kdf.select(Bloom.mightContain(filter, 4, $"key")).collect().map(_.getBoolean(0))
    assert(viaExpr.forall(identity))
    // disjoint probes: fp rate within 3x the configured 1%
    val probes = (0 until 2000).map(i => s"other-$i")
    val fp = probes.count(Bloom.hit(filter, 4, _))
    assert(fp <= 60, s"fp=$fp of 2000")
    // build is partitioning-independent
    val f2 = Bloom.build(kdf.repartition(7), "key", m, 4)
    assert(java.util.Arrays.equals(filter, f2))
    // positions match the oracle arithmetic (hand md5 of 'url-42')
    assert(Bloom.positions("url-42", 2048, 2).toSeq ==
      Seq((1852990044L % 2048).toInt, ((1852990044L + 3692736192L) % 2048).toInt))
  }

  test("bloom-pruned join: row-identical to plain join, prune below the join on the left, semi mode, outer refused") {
    import graft.ops.Bloom
    // parquet-backed left: over a LocalRelation the optimizer folds
    // the Filter away eagerly (ConvertToLocalRelation), hiding the
    // plan shape this test pins — a file scan is the realistic case
    val dir = java.nio.file.Files.createTempDirectory("bloomjoin").toString
    (0L until 2000L).map(i => (i % 400, s"l-$i")).toDF("k", "lv")
      .write.mode("overwrite").parquet(dir)
    val left = spark.read.parquet(dir)
    val right = (0L until 50L).map(i => (i * 8, s"r-$i")).toDF("rk", "rv")
    val pj = Bloom.prunedJoin(left, right, "k", "rk")
    val plain = left.join(right, left("k") === right("rk"), "inner")
    assert(pj.collect().map(_.toSeq).sortBy(_.toString()).toSeq ==
      plain.collect().map(_.toSeq).sortBy(_.toString()).toSeq)
    // the prune is a Filter carrying the bloom probe on the LEFT
    // branch BELOW the join — the shape that keeps non-matching rows
    // out of the exchange at scale
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val joins = pj.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    val hasPrune = joins.exists(_.left.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[graft.expr.BloomMightContain]) => f
    }.nonEmpty)
    assert(hasPrune, "bloom prune must sit on the left branch below the join")
    // left_semi agrees with the plain semi join
    val semi = Bloom.prunedJoin(left, right, "k", "rk", "left_semi")
    val plainSemi = left.join(right, left("k") === right("rk"), "left_semi")
    assert(semi.collect().map(_.toSeq).toSet == plainSemi.collect().map(_.toSeq).toSet)
    // pruning is NOT lossless for outer joins → refused
    intercept[IllegalArgumentException] {
      Bloom.prunedJoin(left, right, "k", "rk", "left")
    }
  }

  test("matryoshka truncation: prefix + renorm, zero vectors pass through, raw mode slices only") {
    import graft.ops.Similarity
    val rows = Seq(
      (1L, Array(3.0f, 4.0f, 100.0f, -100.0f)),
      (2L, Array(0.0f, 0.0f, 5.0f, 5.0f)),
      (3L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.truncateEmbeddings(rows, "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(out(1L).map(v => math.round(v * 1e6f) / 1e6f) == Seq(0.6f, 0.8f)) // (3,4)/5
    assert(out(2L) == Seq(0.0f, 0.0f)) // zero prefix: un-normalized passthrough
    assert(out(3L) == Seq(1.0f, 0.0f))
    val raw = Similarity.truncateEmbeddings(rows, "embedding", 2, renormalize = false)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(raw(1L) == Seq(3.0f, 4.0f))
  }

  test("domain cap: bounded per-host keep set, schemeless exempt, no Window node") {
    import graft.ops.DomainCap
    val rows = Seq(
      (1L, "https://big.com/a"), (2L, "https://big.com/b"), (3L, "https://BIG.com:443/c"),
      (4L, "https://small.org/x"), (5L, "not a url"), (6L, "https://big.com/d")
    ).toDF("doc_id", "url")
    val out = DomainCap.capPerHost(rows, "url", "doc_id", 2)
    val kept = out.collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // big.com has 4 docs (host match is case-insensitive, port-blind): keep ids 1,2
    assert(kept == Map(1L -> true, 2L -> true, 3L -> false, 6L -> false,
      4L -> true, 5L -> true))
    assert(!out.queryExecution.optimizedPlan.toString.contains("Window"))
    // sample mode keeps exactly k of the big-host docs, deterministically
    val s1 = DomainCap.capPerHost(rows, "url", "doc_id", 2, "sample").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val s2 = DomainCap.capPerHost(rows, "url", "doc_id", 2, "sample").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(s1 == s2)
    assert(Seq(1L, 2L, 3L, 6L).count(s1) == 2)
    assert(s1(4L) && s1(5L))
    // host extraction matches the oracle's regex semantics
    val h = rows.select(DomainCap.hostOf($"url")).collect().map(_.getString(0))
    assert(h.toSeq == Seq("big.com", "big.com", "big.com", "small.org", null, "big.com"))
  }

  test("multimodal: pack + distributed feature extraction is deterministic") {
    val df = Seq((1L, "hello world"), (2L, "spark engine")).toDF("doc_id", "text")
    val packed = Multimodal.packText(df, "text")
    assert(packed.select("media.meta.byte_len").as[Long].collect().toSet == Set(11L, 12L))
    val f1 = Multimodal.extractFeatures(packed, "doc_id", "media").orderBy("id").collect()
    val f2 = Multimodal.extractFeatures(packed, "doc_id", "media").orderBy("id").collect()
    assert(f1.sameElements(f2))
    assert(f1.head.getAs[scala.collection.Seq[Float]]("features").length == 8)
    assert(f1.head.getAs[Long]("byte_len") == 11L)
  }

  test("multimodal: resize and frame-sample keep distributed shape") {
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789")).toDF("doc_id", "text")
    val packed = Multimodal.packText(df, "text")
    val resized = Multimodal.resize(packed, "doc_id", "media", width = 8, height = 8)
    val r = resized.collect().head
    assert(r.getAs[Long]("byte_len") == 8 && r.getAs[Int]("width") == 8)
    assert(r.getAs[Array[Byte]]("payload").length == 8)
    val frames = Multimodal.frameSample(packed, "doc_id", "media", nFrames = 6, stride = 2)
    val idx = frames.select("frame_idx").as[Int].collect().sorted
    assert(idx.sameElements(Array(0, 2, 4)))
    // frames are distinct segments of the payload
    val total = frames.select("frame").as[Array[Byte]].collect().map(_.length).sum
    assert(total == 18) // 3 frames x 6-byte segments
  }

  test("multimodal: REAL image codec parses PNG/JPEG/GIF headers through the seam") {
    // a real, complete 1x1 PNG (standard minimal fixture bytes)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    // a real JPEG header stream: SOI, APP0/JFIF, then SOF0 with
    // height=2, width=3 (entropy data irrelevant to the header parse)
    val jpeg = Array[Int](
      0xFF, 0xD8, // SOI
      0xFF, 0xE0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00, // APP0, len 16
      0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x11, 0x08, // SOF0, len 17, precision 8
      0x00, 0x02, // height 2
      0x00, 0x03, // width 3
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01).map(_.toByte)
    // a real GIF89a logical screen descriptor: width=4, height=5 (LE)
    val gif = "GIF89a".getBytes("ISO-8859-1") ++
      Array[Int](0x04, 0x00, 0x05, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
    val junk = "not an image at all".getBytes("UTF-8")

    // direct parser contract
    assert(Multimodal.ImageHeader.parse(png).contains(("image/png", 1, 1)))
    assert(Multimodal.ImageHeader.parse(jpeg).contains(("image/jpeg", 3, 2)))
    assert(Multimodal.ImageHeader.parse(gif).contains(("image/gif", 4, 5)))
    assert(Multimodal.ImageHeader.parse(junk).isEmpty)
    assert(Multimodal.ImageHeader.parse(Array.empty[Byte]).isEmpty)
    // WebP: all three chunk flavors (RFC 9649 bit layouts)
    def webp(fourcc: String, data: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
        "WEBP".getBytes("US-ASCII") ++ fourcc.getBytes("US-ASCII") ++
        Array[Byte](data.length.toByte, 0, 0, 0) ++ data
    val vp8 = webp("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A,
      (300 & 0xFF).toByte, (300 >> 8).toByte, (120 & 0xFF).toByte, 0))
    assert(Multimodal.ImageHeader.parse(vp8).contains(("image/webp", 300, 120)))
    val wm = 639; val hm = 479
    val vp8l = webp("VP8L", Array[Byte](0x2F, (wm & 0xFF).toByte,
      (((wm >> 8) & 0x3F) | ((hm & 0x3) << 6)).toByte,
      ((hm >> 2) & 0xFF).toByte, ((hm >> 10) & 0x0F).toByte))
    assert(Multimodal.ImageHeader.parse(vp8l).contains(("image/webp", 640, 480)))
    val vp8x = webp("VP8X", Array[Byte](0, 0, 0, 0,
      0xFF.toByte, 0x01, 0, 0x2B, 0x01, 0) ++ new Array[Byte](0))
    assert(Multimodal.ImageHeader.parse(vp8x).contains(("image/webp", 0x1FF + 1, 0x12B + 1)))
    assert(Multimodal.ImageHeader.parse(webp("VP8 ", Array[Byte](0, 0, 0, 1, 2, 3, 4, 5, 6, 7))).isEmpty)
    // TIFF: both endians, SHORT and LONG value types
    def entLE(tag: Int, tpe: Int, v: Int): Array[Byte] =
      Array[Byte]((tag & 0xFF).toByte, (tag >> 8).toByte, tpe.toByte, 0,
        1, 0, 0, 0, (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val tiffLE = "II".getBytes("US-ASCII") ++ Array[Byte](0x2A, 0, 8, 0, 0, 0,
      2, 0) ++ entLE(256, 3, 800) ++ entLE(257, 3, 600) ++ Array[Byte](0, 0, 0, 0)
    assert(Multimodal.ImageHeader.parse(tiffLE).contains(("image/tiff", 800, 600)))
    def entBE(tag: Int, tpe: Int, v: Int): Array[Byte] =
      Array[Byte]((tag >> 8).toByte, (tag & 0xFF).toByte, 0, tpe.toByte,
        0, 0, 0, 1, ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val tiffBE = "MM".getBytes("US-ASCII") ++ Array[Byte](0, 0x2A, 0, 0, 0, 8,
      0, 2) ++ entBE(256, 4, 123456) ++ entBE(257, 4, 654) ++ Array[Byte](0, 0, 0, 0)
    assert(Multimodal.ImageHeader.parse(tiffBE).contains(("image/tiff", 123456, 654)))
    // TIFF missing a dimension tag refuses
    val tiffNoH = "II".getBytes("US-ASCII") ++ Array[Byte](0x2A, 0, 8, 0, 0, 0,
      1, 0) ++ entLE(256, 3, 10) ++ Array[Byte](0, 0, 0, 0)
    assert(Multimodal.ImageHeader.parse(tiffNoH).isEmpty)
    // SVG: attrs with px, viewBox fallback, BOM + whitespace lead, non-svg XML
    assert(Multimodal.ImageHeader.parse(
      """<svg xmlns="http://www.w3.org/2000/svg" width="64px" height="32"><g/></svg>"""
        .getBytes("UTF-8")).contains(("image/svg+xml", 64, 32)))
    assert(Multimodal.ImageHeader.parse(
      "\ufeff  <?xml version=\"1.0\"?><svg viewBox=\"0 0 120.5 80\"/>"
        .getBytes("UTF-8")).contains(("image/svg+xml", 120, 80)))
    assert(Multimodal.ImageHeader.parse("<html><body/></html>".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.ImageHeader.parse("<svg width=\"50%\" height=\"10\"/>".getBytes("UTF-8")).isEmpty)
    // netpbm: P6 with header comment, P5, refusals
    assert(Multimodal.ImageHeader.parse("P6 # c\n20 10 255\ndata".getBytes("US-ASCII"))
      .contains(("image/x-portable-pixmap", 20, 10)))
    assert(Multimodal.ImageHeader.parse("P5\n7\n9\n255\n".getBytes("US-ASCII"))
      .contains(("image/x-portable-graymap", 7, 9)))
    assert(Multimodal.ImageHeader.parse("P6\n20\n".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.ImageHeader.parse("P4\n1 1\n".getBytes("US-ASCII")).isEmpty)
    // truncated/hostile bytes must not throw
    assert(Multimodal.ImageHeader.parse(png.take(10)).isEmpty)
    assert(Multimodal.ImageHeader.parse(jpeg.take(3)).isEmpty)

    // the same distributed seam as the fake decoders: media struct in,
    // per-partition decode, typed rows out
    val media = Seq((1L, png), (2L, jpeg), (3L, gif), (4L, junk))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), struct(col("payload"),
        lit(null).cast("string").as("mime"),
        struct(length(col("payload")).cast("long").as("byte_len"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")).as("media"))
    val out = Multimodal.decodeImageMeta(media, "doc_id", "media")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("mime_detected"), Option(r.get(r.fieldIndex("width"))),
          Option(r.get(r.fieldIndex("height"))))).toMap
    assert(out(1L) == (("image/png", Some(1), Some(1))))
    assert(out(2L) == (("image/jpeg", Some(3), Some(2))))
    assert(out(3L) == (("image/gif", Some(4), Some(5))))
    assert(out(4L) == ((null, None, None)))
  }

  test("BottomKSample UDAF: deterministic, partition-invariant, k-bounded") {
    val df = Seq((1, 10L), (1, 20L), (1, 30L), (1, 10L), (2, 40L)).toDF("g", "id")
    val out = df.groupBy($"g").agg(graft.ops.BottomKSample.of($"id", 2).as("s"))
      .collect().map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Long]]("s")).toMap
    assert(out(1).size == 2 && out(1).toSet.subsetOf(Set(10L, 20L, 30L)))
    assert(out(2) == Seq(40L))
    // partition-invariance
    val out7 = df.repartition(7).groupBy($"g").agg(graft.ops.BottomKSample.of($"id", 2).as("s"))
      .collect().map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Long]]("s")).toMap
    assert(out == out7)
  }

  test("ivf index search returns k ranked neighbors") {
    val e = sf("embeddings")
    val idx = Similarity.IvfIndex.build(e, "vec_id", "embedding", dim = 64, nlist = 4)
    val res = idx.search(e.where($"vec_id" < 3), "vec_id", "embedding", k = 3, nprobe = 2)
    val byQuery = res.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    assert(byQuery.values.forall(_ == 3L))
  }

  test("connected components: chains, multiple clusters, empty, representatives") {
    def cc(pairs: (Long, Long)*): Map[Long, Long] =
      Components.connectedComponents(pairs.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap

    // chain 1-2-3-4 (kills O(diameter) min-propagation; large/small-star
    // contracts it in O(log n) rounds) + separate pair + reversed/self/dup edges
    val m = cc((2L, 1L), (2L, 3L), (4L, 3L), (5L, 6L), (6L, 5L), (7L, 7L), (2L, 1L))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))

    // descending chain — worst case for propagation direction
    val n = 40L
    val desc = cc((2L to n).map(i => (i - 1, i)): _*)
    assert(desc == (1L to n).map(_ -> 1L).toMap)

    // star already at fixed point
    assert(cc((10L, 1L), (11L, 1L), (12L, 1L)) ==
      Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L))

    // empty pair set
    assert(cc() == Map.empty)

    // driver fast path == distributed star-contraction loop on a
    // mixed random-ish graph (round 19: small graphs union-find on
    // the driver; forcing maxDriverEdges=0 exercises the loop)
    val pairs = ((2L to 30L).map(i => (i - 1, i)) ++
      Seq((100L, 200L), (200L, 300L), (41L, 40L), (50L, 50L))).toDF("a_id", "b_id")
    val fast = Components.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.components.maxDriverEdges", "0")
    try {
      val loop = Components.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(fast == loop)
    } finally spark.conf.unset("spark.graft.components.maxDriverEdges")

    // end-to-end: keep one doc per cluster, untouched docs pass through
    val corpus = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id").withColumn("text", lit("x"))
    val kept = Components.keepClusterRepresentatives(
      corpus, "doc_id", Seq((2L, 1L), (2L, 3L)).toDF("a_id", "b_id"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 4L, 9L))
  }

  test("IVF index save/load: reopened index returns the identical ranking") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(9)
    val corpus = Seq.tabulate(200)(i => (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 5)
    val built = Similarity.IvfIndex.build(corpus, "vec_id", "embedding",
      dim = 16, nlist = 8, replicas = 2)
    val dir = java.nio.file.Files.createTempDirectory("graftivf").toString + "/idx"
    built.save(dir)
    val reopened = Similarity.IvfIndex.load(spark, dir)
    assert(reopened.dim == 16)
    assert(reopened.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq
      == built.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq)
    def run(ix: Similarity.IvfIndex) =
      ix.search(queries, "vec_id", "embedding", k = 4, nprobe = 3)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(reopened) == run(built)) // bit-identical ranking after reopen
    // the persisted layout is cell-partitioned (prunable inverted lists)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "assigned"))
      .anyMatch(p => p.getFileName.toString.startsWith("__cell=")))
  }

  test("multi-table ANN LSH: recall vs exact never below single-table, never spurious") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(5)
    val corpus = Seq.tabulate(300)(i => (i.toLong, Array.fill(16)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "vec_id", "embedding", k = 3)
    def recall(tables: Int): Double = {
      val approx = Similarity.lshTopK(queries, corpus, "vec_id", "vec_id", "embedding",
        k = 3, dim = 16, planes = 4, tables = tables)
      Similarity.recallAt(approx, exact).agg(avg("recall")).as[Double].head()
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"multi-table recall $r4 below single-table $r1")
    assert(r4 > 0.5, s"4-table recall $r4 unexpectedly low on 16-dim random data")
    // ranked output is still exact-cosine ordered and k-bounded
    val out = Similarity.lshTopK(queries, corpus, "vec_id", "vec_id", "embedding",
      k = 3, dim = 16, planes = 4, tables = 4)
    assert(out.groupBy("query_id").count().select(max("count")).as[Long].head() <= 3)
    // no duplicate (query, neighbor) despite multi-table collisions
    assert(out.groupBy("query_id", "neighbor_id").count()
      .select(max("count")).as[Long].head() == 1L)
  }

  test("cross-corpus contamination: verbatim + near leaks found, within-side pairs excluded") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // within-side dup
      (3L, "completely unrelated training text about astronomy and telescopes"),
      (4L, "another unrelated document mentioning cooking recipes and spices")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"), // verbatim leak
      (101L, "the quick brown fox jumps over the lazy dog near the river shore"), // near leak
      (102L, "totally novel evaluation prompt with no training analogue at all")
    ).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.minhashContamination(
      eval_, train, "doc_id", "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // verbatim leak: eval 100 vs BOTH identical train docs, jaccard exactly 1
    assert(byPair.get((100L, 1L)).contains(1.0) && byPair.get((100L, 2L)).contains(1.0))
    // near leak: eval 101 vs both train copies, high but < 1
    assert(byPair.contains((101L, 1L)) && byPair.contains((101L, 2L)))
    assert(byPair((101L, 1L)) > 0.5 && byPair((101L, 1L)) < 1.0)
    assert(byPair((101L, 1L)) == byPair((101L, 2L)))
    // clean eval doc and within-side train dup pair never appear
    assert(!pairs.exists(p => p._1 == 102L))
    assert(!pairs.exists(p => p._1 == 1L || p._1 == 2L)) // left ids only on the left
    // no (train, train) pair leaks through the fan-out
    assert(pairs.forall(p => p._1 >= 100L && p._2 < 100L))
  }

  test("embedding contamination: identical + near vectors across corpora, within-side excluded") {
    import org.apache.spark.sql.functions._
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val train = Seq(
      (1L, v), (2L, v), // within-side identical pair: must NOT appear
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val eval_ = Seq(
      (100L, v),                                   // identical leak
      (101L, Array(0.99f, 0.1f, 0.0f, 0.0f)),      // near leak (cos ≈ 0.995)
      (102L, Array(0.0f, 0.0f, 0.0f, 1.0f))        // orthogonal to everything
    ).toDF("vec_id", "embedding")
    val pairs = graft.ops.Dedup.embeddingContamination(
      eval_, train, "vec_id", "vec_id", "embedding",
      threshold = 0.9, planes = 3, dim = 4, tables = 4)
      .as[(Long, Long, Double)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.contains((100L, 1L)) && byPair.contains((100L, 2L)))
    assert(byPair((100L, 1L)) == byPair((100L, 2L))) // digest path: same self-cosine
    assert(byPair.contains((101L, 1L)) && byPair((101L, 1L)) > 0.9)
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 3L))
    assert(pairs.forall(p => p._1 >= 100L && p._2 < 100L)) // strictly cross-corpus
  }

  test("VecDot kernel bit-matches the declarative fold; null contract") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Array.fill(16)(rnd.nextDouble() - 0.5),
      Array.fill(16)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val declarative = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = df.select((graft.expr.VecDot(col("a"), col("b")) === declarative).as("eq"))
      .as[Boolean].collect()
    assert(diff.forall(identity)) // bit-equal, not approximately equal
    // mismatched lengths and null arrays → null (like the padded fold)
    val edge = Seq((Array(1.0, 2.0), Array(1.0)), (null, Array(1.0)))
      .toDF("a", "b")
      .select(graft.expr.VecDot(col("a"), col("b")).as("d")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("ArrayJaccard kernel bit-matches the array_intersect chain") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'j').map(_.toString)
    val rows = Seq.fill(60)((
      rnd.shuffle(vocab).take(1 + rnd.nextInt(9)).toArray,
      rnd.shuffle(vocab).take(1 + rnd.nextInt(9)).toArray))
    val df = rows.toDF("a", "b")
    val inter = size(array_intersect(col("a"), col("b"))).cast("double")
    val union = (size(col("a")) + size(col("b"))).cast("double") - inter
    val chain = when(union > 0, inter / union).otherwise(lit(0.0))
    val eq = df.select((graft.expr.ArrayJaccard(col("a"), col("b")) === chain).as("eq"))
      .as[Boolean].collect()
    assert(eq.forall(identity))
    // empty arrays → 0.0
    val z = Seq((Array.empty[String], Array.empty[String])).toDF("a", "b")
      .select(graft.expr.ArrayJaccard(col("a"), col("b"))).as[Double].head()
    assert(z == 0.0)
  }

  test("multi-table embedding LSH: superset of single-table pairs, exact cosines") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(3)
    val base = Seq.fill(40)(Array.fill(8)(rnd.nextDouble() - 0.5))
    // plant near-dups: id and id+100 are small perturbations
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v.map(_.toFloat)),
        (i + 100L, v.map(x => (x + 0.02 * rnd.nextDouble()).toFloat)))
    }
    val df = rows.toDF("id", "vec")
    def run(tables: Int) = Dedup.embeddingNearDups(df, "id", "vec",
      threshold = 0.9, planes = 6, dim = 8, tables = tables)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val single = run(1)
    val multi = run(4)
    assert(single.subsetOf(multi), "any single-table collision also collides in table 0 of the multi run")
    assert(multi.size >= single.size)
    // every reported pair is a true pair (exact verify): cosine ≥ threshold
    val cos = Dedup.embeddingNearDups(df, "id", "vec",
      threshold = 0.9, planes = 6, dim = 8, tables = 4)
      .select("cosine").as[Double].collect()
    assert(cos.forall(_ >= 0.9))
  }

  test("dedup checkpoint knobs change plans only, never results (round 19)") {
    // knob on: candidate/membership frames checkpoint (the saturated-
    // cluster configuration) — pair sets must equal the default-off run
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val base = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val baseK = key(base)
    val contamBase = key(Dedup.minhashContamination(
      docs, docs.withColumnRenamed("doc_id", "rid"), "doc_id", "rid", "text", 0.5))
    spark.conf.set("spark.graft.dedup.checkpointCandidates", "true")
    try {
      assert(key(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)) == baseK)
      assert(key(Dedup.minhashContamination(
        docs, docs.withColumnRenamed("doc_id", "rid"), "doc_id", "rid", "text", 0.5))
        == contamBase)
    } finally spark.conf.unset("spark.graft.dedup.checkpointCandidates")
    // knob off: corpus-sized frames keep full lineage and pin NO
    // executor storage (the fault-tolerant configuration; ADVICE r18
    // #4) — rebuilt text and counts must equal the default-on run
    val spansBase = key(Dedup.dedupSpans(docs, "doc_id", "text", k = 4, minCount = 2))
    val cutBase = key(Dedup.exactSubstrCut(docs, "doc_id", "text", minLen = 6, prefilterK = 4))
    val linesBase = key(Dedup.dedupLines(
      docs.withColumn("text", regexp_replace(col("text"), " ", "\n")), "doc_id", "text", 2))
    spark.conf.set("spark.graft.dedup.checkpointCorpus", "false")
    try {
      // executor-storage-free: with the knob off the plan holds NO
      // checkpointed (LogicalRDD) subtree — full lineage, no pinned
      // blocks (a localCheckpoint would surface as "ExistingRDD")
      val offPlan = Dedup.dedupSpans(docs, "doc_id", "text", k = 4, minCount = 2)
      assert(!offPlan.queryExecution.analyzed.toString.contains("LogicalRDD"),
        "checkpointCorpus=false must not checkpoint")
      assert(key(offPlan) == spansBase)
      assert(key(Dedup.exactSubstrCut(docs, "doc_id", "text", minLen = 6, prefilterK = 4)) == cutBase)
      assert(key(Dedup.dedupLines(
        docs.withColumn("text", regexp_replace(col("text"), " ", "\n")), "doc_id", "text", 2))
        == linesBase)
    } finally spark.conf.unset("spark.graft.dedup.checkpointCorpus")
  }
}
