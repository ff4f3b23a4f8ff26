package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY §2.6): tokenization, token counting, quality scoring,
  * language ID, document fingerprinting.
  *
  * Everything here is a pure column expression — no UDFs, no
  * shuffle; at 100 TB these run at scan speed and combine freely with
  * pushed-down filters. The per-document profile ([[profile]],
  * [[tokenCount]], [[bpeishTokenCount]], [[langId]],
  * [[qualityStruct]]) is one codegen'd kernel,
  * [[graft.expr.TextProfileKernel]], which holds the one definition of
  * each count and score and uses no higher-order function. The other
  * operators are built from `org.apache.spark.sql.functions`; not all
  * of them are whole-stage-codegen'd: the array higher-order functions
  * (`filter`, `transform`, `aggregate`) are `CodegenFallback`,
  * interpreted per element and never merged as common subexpressions,
  * so an array used twice is computed twice unless it is
  * [[bind]]-ed. All heuristics are deterministic and SQL-expressible,
  * so results are oracle-checkable cross-engine.
  */
object TextAnalysis {

  /** Word tokens: the maximal `[a-z0-9]` runs of Spark's `lower(text)`
    * in order, i.e. the non-empty pieces of its split on `[^a-z0-9]+`. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Let-binding for Column expressions: evaluates `v` ONCE per row
    * and hands it to `body` as a lambda variable — an O(1) reference.
    * A higher-order function's ARGUMENT is evaluated once, but any
    * expression embedded in its LAMBDA is re-evaluated per element; a
    * per-position lambda that slices `tokens(text)` therefore
    * re-tokenizes the document at every position (O(n²) per doc —
    * profiled r19: the trigram variant of this pattern cost 152 s of
    * summed task time at sf0.1). The single-element-array wrap is the
    * `let` the Column API does not offer; `element_at(..., 1)` always
    * hits (the array has exactly one element) and survives the
    * optimizer (SimplifyExtractValueOps folds extraction over literal
    * CreateArray, not over `transform`). Lambda body identical ⟹
    * results identical.
    *
    * The same holds outside lambdas: a Column value used N times in
    * one expression is evaluated N times per row, so a tokenized
    * array read by several signals is bound once and read by
    * reference. Bind inside ONE output column only: a bound struct
    * shared by several output columns (fields read as `p.a`, `p.b`)
    * is copied whole into any filter pushed through the projection
    * and into every pruned side that reads one of its fields.
    *
    * The profile signals do not bind: they read the fields of one
    * [[graft.expr.TextProfileKernel]] struct, which a pushed filter
    * copies as one byte scan, not as tokenizer passes.
    *
    * The result is an array element, which Catalyst types nullable
    * whatever the body returns; wrap it in `coalesce(..., zero)` with
    * a non-null `zero` of the body's type where the schema must keep
    * the body's nullability (the body itself never yields the bound
    * null, so `zero` is never taken).
    */
  private[graft] def bind(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), x => body(x)), 1)

  /** struct of `cs` with the field names `names`, in order. */
  private def structOf(names: Seq[String], cs: Seq[Column]): Column =
    struct(cs.zip(names).map { case (c, n) => c.as(n) }: _*)

  /** The number of [[tokens]], as a long; NULL for NULL text. */
  def tokenCount(text: Column): Column = graft.expr.TextProfile(text)("token_count")

  /** BPE-ish subword count (roughly GPT-2 pre-tokenization; the exact
    * rule is [[graft.expr.TextProfileKernel]]'s). */
  def bpeishTokenCount(text: Column): Column = graft.expr.TextProfile(text)("bpeish_token_count")

  private val qualityFields =
    Seq("avg_token_len", "punct_ratio", "stopword_ratio", "quality_score")

  /** Quality-scoring columns: struct(n_tokens, avg_token_len,
    * punct_ratio, stopword_ratio, quality_score). Score is a simple
    * deterministic combination rewarding mid-length tokens, some
    * stopword mass (prose-ness) and low punctuation noise — the shape
    * of heuristics used for pre-training corpus filtering. The
    * definitions are [[graft.expr.TextProfileKernel]]'s.
    */
  def qualityStruct(text: Column): Column = {
    val p = graft.expr.TextProfile(text)
    structOf("n_tokens" +: qualityFields, p("token_count") +: qualityFields.map(p(_)))
  }

  /** Marker-word language ID heuristic. CJK characters force "zh";
    * otherwise the language whose marker-word set hits the most tokens
    * wins (ties broken by the fixed order en>de>fr>es); no hits →
    * "und". Deterministic, SQL-mirrorable; the marker words are
    * [[graft.expr.TextProfileKernel]]'s.
    */
  def langId(text: Column): Column = graft.expr.TextProfile(text)("lang_id")

  /** TRAINED multi-class language identifier — the model rung above
    * the [[langId]] marker-word heuristic (which knows four Latin
    * languages and a CJK codepoint test, and nothing else). Fits the
    * closed-form [[LinearClassifier]] on CHARACTER-n-gram + Unicode-
    * script features (`featureKind = "char"`,
    * [[graft.expr.CharGramBucketsKernel]]): character grams are the
    * standard langid feature (Cavnar & Trenkle 1994; langid.py, CLD)
    * and — unlike the word tokenizer's `[^a-z0-9]+` split, which
    * erases every non-Latin script — they see Cyrillic, Han and
    * Arabic text, while the script pseudo-features give the model the
    * [[scriptProfile]] signal in the same feature space.
    *
    * Training is the deterministic one-pass moment fold + driver
    * ridge solve (no SGD, no iteration); scoring is a zero-shuffle
    * scan-speed projection — see [[LinearClassifier]] for the scale
    * shape. Labels come from `labelCol` of the (small, curated)
    * training frame; apply the returned model to the full corpus with
    * `model.predict`.
    */
  def langIdFit(docs: DataFrame, idCol: String, labelCol: String,
      textCol: String, nBuckets: Int = 2048,
      lambda: Double = 1e-4): LinearClassifier.LinearTextModel =
    LinearClassifier.fit(docs, idCol, labelCol, textCol, nBuckets, lambda,
      featureKind = "char")

  /** Content fingerprint: md5 of whitespace/punctuation-normalized
    * lowercase text. Identical fingerprints ≡ near-identical content
    * modulo formatting — the standard first pass of corpus dedup. The
    * 32-hex-char key also makes the dedup shuffle key small and
    * uniformly distributed (no skew) regardless of document size.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Word k-shingles ("w1 w2 w3" strings) — the unit of MinHash /
    * Jaccard near-dup detection.
    */
  def shingles(text: Column, k: Int = 3): Column =
    // bind: the per-position slice reads the ONCE-tokenized array via
    // a lambda variable instead of re-running the tokenizer per
    // position (O(n²) per doc — this is the MinHash/Jaccard hot path)
    bind(tokens(text)) { toks =>
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks)))
    }

  /** Line-level repetition + symbol-noise signals — the "Gopher
    * rules" family (Rae et al. 2021, table A1) used to drop
    * boilerplate/spam documents from pre-training corpora. Pure
    * scan-local array expressions: per-document line lists are
    * bounded, so the quadratic duplicate-char count stays inside one
    * row's evaluation and the whole struct runs at scan speed with
    * zero shuffle — at 100 TB this is a projection, not a job.
    *
    * struct(n_lines, dup_line_frac, dup_line_char_frac,
    * symbol_word_ratio):
    *  - dup_line_frac: fraction of non-empty trimmed lines that are
    *    repeats of an earlier line (n - n_distinct) / n.
    *  - dup_line_char_frac: characters in those repeated occurrences
    *    (beyond each line's first) / total line characters.
    *  - symbol_word_ratio: non-alphanumeric, non-whitespace characters
    *    per word token.
    */
  def repetitionStruct(text: Column): Column = {
    def named(cs: Column*): Column = structOf(
      Seq("n_lines", "dup_line_frac", "dup_line_char_frac", "symbol_word_ratio"), cs)
    val nonEmptyLines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= lit(""))
    val bound = bind(nonEmptyLines) { lines =>
      bind(tokens(text)) { words =>
        val n = size(lines)
        val dis = array_distinct(lines)
        val dupFrac = when(n > 0, (n - size(dis)).cast("double") / n).otherwise(lit(0.0))
        val totChars = aggregate(lines, lit(0L), (a, l) => a + length(l))
        val dupChars = aggregate(dis, lit(0L),
          (a, d) => a + (size(filter(lines, x => x === d)) - 1).cast("long") * length(d))
        val dupCharFrac = when(totChars > 0, dupChars.cast("double") / totChars)
          .otherwise(lit(0.0))
        val symbols = length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))
        val symbolWordRatio = when(size(words) > 0, symbols.cast("double") / size(words))
          .otherwise(lit(0.0))
        named(n.cast("long"), dupFrac, dupCharFrac, symbolWordRatio)
      }
    }
    coalesce(bound, named(lit(0L), lit(0.0), lit(0.0), lit(0.0)))
  }

  /** Most-frequent word n-gram per document (the other half of the
    * Gopher repetition rules: a document dominated by one repeated
    * phrase is machine noise). Needs per-(doc, gram) counts, so unlike
    * [[repetitionStruct]] this is an aggregation — but it is TWO hash
    * aggregations with map-side combine and no Window node: explode →
    * groupBy(id, gram).count → groupBy(id).agg(sum, max). State per
    * task is one row per distinct (doc, gram); nothing ever holds a
    * whole document's gram list post-shuffle.
    *
    * Output: (idCol, n_ngrams, top_ngram_count, top_ngram_frac) — one
    * row per document with ≥ n tokens; frac = top count / total gram
    * count (count fraction, the deterministic tie-free variant of
    * Gopher's char fraction).
    */
  def topNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"topNgramStats: n must be >= 1, got $n")
    // bind: slice the once-tokenized array per position, never
    // re-tokenize inside the lambda (see [[bind]])
    val grams = bind(tokens(col(textCol))) { toks =>
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - n + 1),
          i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array())
    }
    Partitioning.fanOut(df)
      .select(col(idCol).as("__id"), explode(grams).as("__g"))
      .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_ngrams"), max(col("__c")).as("top_ngram_count"))
      .select(col("__id").as(idCol), col("n_ngrams"), col("top_ngram_count"),
        (col("top_ngram_count").cast("double") / col("n_ngrams")).as("top_ngram_frac"))
  }

  /** Corpus unigram language model: (token, cnt, logp) with
    * logp = ln(cnt / total). One explode + hash aggregate over the
    * corpus; the total rides back in via a broadcast single-row cross
    * join, so the plan stays fully distributed (no driver scalar).
    * This is the model half of the CCNet/KenLM-style perplexity
    * filter (Wenzek et al. 2020) with the n-gram order cut to 1 —
    * deterministic and cross-engine-checkable, same filtering shape.
    */
  def unigramLogProbs(corpus: DataFrame, textCol: String): DataFrame = {
    val cnt = Partitioning.fanOut(corpus)
      .select(explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("__tot"))
    cnt.crossJoin(broadcast(tot))
      .select(col("__w").as("token"), col("cnt"),
        log(col("cnt").cast("double") / col("__tot")).as("logp"))
  }

  /** Score documents against a unigram LM: per-document token count
    * and mean negative log-likelihood (ppx proxy = exp(avg_nll); the
    * monotone avg_nll is what a filter thresholds on). The LM is a
    * vocabulary table — millions of rows at corpus scale, not
    * billions — so it broadcasts by default and the document side is
    * never shuffled before the per-doc aggregate; `broadcastLm =
    * false` degrades to a shuffle join on the token for a giant LM.
    * Tokens absent from the LM are skipped (inner join): score with
    * an LM trained on a superset corpus, or pre-smooth the table.
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, broadcastLm: Boolean = true): DataFrame = {
    val l = lm.select(col("token").as("__w"), col("logp").as("__lp"))
    val lmSide = if (broadcastLm) broadcast(l) else l
    Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__w"))
      .join(lmSide, "__w")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), (-avg(col("__lp"))).as("avg_nll"))
      .select(col("__id").as(idCol), col("n_tokens"), col("avg_nll"))
  }

  /** Canonicalize a URL for dedup/grouping — the C4/CommonCrawl-style
    * cleanup: lowercase scheme and host, strip the scheme-default port
    * (http:80 / https:443), drop the fragment, drop `utm_*` tracking
    * parameters, sort the surviving query parameters, normalize an
    * empty path to "/". Strings without a "://" pass through
    * unchanged.
    *
    * The product path is the codegen'd kernel
    * ([[graft.expr.UrlNormalize]]): a Column tree has no sharing, so
    * the declarative instr/substr form below duplicates each derived
    * piece at every reference and janino pays ~19 s compiling the
    * megamethod (measured, sf0.1). The declarative form is kept —
    * [[normalizeUrlDeclarative]] — because its primitives are
    * bit-identical across engines: it IS the DuckDB oracle, and
    * OpsSpec pins kernel ≡ declarative on the edge-case set.
    */
  def normalizeUrl(url: Column): Column = graft.expr.UrlNormalize(url)

  private[graft] def normalizeUrlDeclarative(url: Column): Column = {
    val hpos = instr(url, "#")
    val s1 = when(hpos > 0, url.substr(lit(1), hpos - 1)).otherwise(url)
    val spos = instr(s1, "://")
    val scheme = lower(s1.substr(lit(1), spos - 1))
    val rest = s1.substr(spos + 3, length(s1))
    val qpos = instr(rest, "?")
    val query = when(qpos > 0, rest.substr(qpos + 1, length(rest))).otherwise(lit(""))
    val prepath = when(qpos > 0, rest.substr(lit(1), qpos - 1)).otherwise(rest)
    val dpos = instr(prepath, "/")
    val hp = when(dpos > 0, prepath.substr(lit(1), dpos - 1)).otherwise(prepath)
    val path = when(dpos > 0, prepath.substr(dpos, length(prepath))).otherwise(lit("/"))
    val cpos = instr(hp, ":")
    val host = lower(when(cpos > 0, hp.substr(lit(1), cpos - 1)).otherwise(hp))
    val port = when(cpos > 0, hp.substr(cpos + 1, length(hp))).otherwise(lit(""))
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val params = array_sort(filter(split(query, "&"),
      p => p =!= lit("") && p.substr(1, 4) =!= "utm_"))
    val q = array_join(params, "&")
    val rebuilt = concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(q =!= "", concat(lit("?"), q)).otherwise(lit("")))
    when(spos > 0, rebuilt).otherwise(url)
  }

  /** Interpolated bigram LM scoring — the order-2 step from
    * [[unigramNll]] toward the KenLM-style n-gram perplexity filters
    * (CCNet uses order 5; the distributed shape is identical at any
    * order): per document, the first token scores by unigram
    * probability and every following token by
    * λ·p(w₂|w₁) + (1−λ)·p(w₂), all counts from one pass over the
    * corpus. The UNIGRAM table is vocabulary-bounded (Heaps' law:
    * sublinear in corpus size) and broadcasts by default; the BIGRAM
    * table grows roughly WITH the corpus — distinct bigrams keep
    * accumulating — so it shuffle-joins by default and
    * `broadcastBigram=true` is an explicit small-corpus opt-in, not a
    * scale claim. The document side explodes to (prev, cur) pairs and
    * never shuffles before the per-doc aggregate. Tokens/pairs unseen
    * by the LM drop (inner join) — train on a superset corpus.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7, broadcastUnigram: Boolean = true,
      broadcastBigram: Boolean = false): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"bigramNll: lambda=$lambda outside [0,1]")
    val toks = Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__w"))
    val uni = toks.select(explode(col("__w")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val tot = uni.agg(sum(col("__c")).as("__tot"))
    val uniP = uni.crossJoin(broadcast(tot))
      .select(col("__t"), (col("__c").cast("double") / col("__tot")).as("__pu"),
        col("__c").cast("double").as("__cu"))
    // (prev, cur) pairs; docs with < 2 tokens produce none (null array
    // explodes to zero rows)
    val pairsExpr = when(size(col("__w")) >= 2,
      transform(sequence(lit(2), size(col("__w"))),
        i => struct(element_at(col("__w"), i - 1).as("w1"),
          element_at(col("__w"), i).as("w2"))))
    val pairs = toks.select(col("__id"), explode(pairsExpr).as("__p"))
      .select(col("__id"), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val bigP = pairs.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c2"))
      .join(uniP.select(col("__t").as("__w1"), col("__cu").as("__c1")), "__w1")
      .select(col("__w1"), col("__w2"),
        (col("__c2").cast("double") / col("__c1")).as("__pc"))
    def bu(df: DataFrame) = if (broadcastUnigram) broadcast(df) else df
    def bb(df: DataFrame) = if (broadcastBigram) broadcast(df) else df
    val firstScores = toks.where(size(col("__w")) >= 1)
      .select(col("__id"), element_at(col("__w"), 1).as("__t"))
      .join(bu(uniP.select(col("__t"), col("__pu"))), "__t")
      .select(col("__id"), (-log(col("__pu"))).as("__nll"))
    val pairScores = pairs
      .join(bb(bigP), Seq("__w1", "__w2"))
      .join(bu(uniP.select(col("__t").as("__w2"), col("__pu"))), "__w2")
      .select(col("__id"),
        (-log(lit(lambda) * col("__pc") + lit(1 - lambda) * col("__pu"))).as("__nll"))
    firstScores.unionByName(pairScores)
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("__nll")).as("avg_nll"))
      .select(col("__id").as(idCol), col("n_tokens"), col("avg_nll"))
  }

  /** Interpolated TRIGRAM LM scoring — the order-3 rung of the same
    * ladder as [[unigramNll]]/[[bigramNll]], demonstrating the claim
    * that the distributed shape is order-independent (KenLM-style
    * filters use order 5; nothing below changes but the key width).
    *
    * Contract (uniform across positions — the textbook BOS trick):
    * each document's token list is padded with two `<s>` sentinels
    * (real tokens are `[a-z0-9]+`, so `<s>` can never collide), and
    * every REAL token w at padded position i scores
    *   −log( λ₃·p(w|a,b) + λ₂·p(w|b) + λ₁·p(w) )
    * with context (a, b) = the two preceding padded tokens. The
    * conditional tables count (context, token) occurrences over
    * exactly these scoring positions, so probabilities normalize by
    * construction; p(w) counts real tokens only ( `<s>` is never a
    * predicted token). Tokens/contexts unseen by the LM drop (inner
    * join) — train on a superset corpus.
    *
    * Scale shape — build the LM table once, then score (the KenLM
    * split): ONE corpus-sized aggregation builds the distinct-triple
    * count table, which is materialized with `localCheckpoint` (Spark
    * shares no subplans, so the five downstream references would
    * otherwise each rescan and re-explode the corpus — measured 5×
    * slower; same lineage-truncation pattern as [[Components]]).
    * Every lower-order table (context totals, bigram conditionals,
    * unigram, grand total) is a cheap re-aggregation of that
    * much-smaller table (sums of counts ≡ direct counts; the unigram
    * slice is exact because each real token is exactly one scoring
    * position's w), the interpolated score is attached per DISTINCT
    * triple via table-vs-table joins, and the corpus side shuffles
    * exactly twice total (count pass, score join). Conditional tables
    * grow with the corpus → shuffle joins; only the
    * vocabulary-bounded unigram table broadcasts.
    */
  def trigramNll(docs: DataFrame, idCol: String, textCol: String,
      l3: Double = 0.5, l2: Double = 0.3, l1: Double = 0.2,
      broadcastUnigram: Boolean = true): DataFrame = {
    require(l3 >= 0 && l2 >= 0 && l1 >= 0 && math.abs(l3 + l2 + l1 - 1.0) < 1e-9,
      s"trigramNll: weights ($l3, $l2, $l1) must be non-negative and sum to 1")
    val toks = Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__w"))
    // padded scoring positions: one (a, b, w) triple per REAL token.
    // The pad is expressed as boundary `when`s over the BOUND token
    // array instead of element_at over a concat'd copy: the former is
    // three O(1) array reads per position, the latter re-evaluated
    // `concat(array(<s>,<s>), __w)` — a full array copy — per
    // element_at, i.e. 3n copies of an n-token array per document
    // (O(n²); profiled r19 at 152 s summed task time for the scoring
    // pass alone). Triples produced are identical.
    val tris = toks.where(size(col("__w")) >= 1)
      .select(col("__id"), explode(transform(sequence(lit(1), size(col("__w"))),
        i => struct(
          when(i <= 2, lit("<s>")).otherwise(element_at(col("__w"), i - 2)).as("a"),
          when(i <= 1, lit("<s>")).otherwise(element_at(col("__w"), i - 1)).as("b"),
          element_at(col("__w"), i).as("w")))).as("__t"))
      .select(col("__id"), col("__t.a").as("__a"), col("__t.b").as("__b"),
        col("__t.w").as("__w3"))
    // the one corpus-sized aggregation, materialized: the LM table
    val c3 = tris.groupBy(col("__a"), col("__b"), col("__w3"))
      .agg(count(lit(1)).as("__c3"))
      .localCheckpoint(true)
    val cc2 = c3.groupBy(col("__a"), col("__b")).agg(sum(col("__c3")).as("__cc2"))
    val c2 = c3.groupBy(col("__b"), col("__w3")).agg(sum(col("__c3")).as("__c2"))
    val cc1 = c3.groupBy(col("__b")).agg(sum(col("__c3")).as("__cc1"))
    val uniC = c3.groupBy(col("__w3")).agg(sum(col("__c3")).as("__cu"))
    val tot = uniC.agg(sum(col("__cu")).as("__tot"))
    def bu(df: DataFrame) = if (broadcastUnigram) broadcast(df) else df
    // score per DISTINCT triple — all joins here are table-vs-table,
    // none touches the corpus-sized tris
    val scored = c3
      .join(cc2, Seq("__a", "__b"))
      .join(c2, Seq("__b", "__w3"))
      .join(cc1, Seq("__b"))
      .join(bu(uniC), Seq("__w3"))
      .crossJoin(broadcast(tot))
      .select(col("__a"), col("__b"), col("__w3"), (-log(
        lit(l3) * col("__c3").cast("double") / col("__cc2") +
          lit(l2) * col("__c2").cast("double") / col("__cc1") +
          lit(l1) * col("__cu").cast("double") / col("__tot"))).as("__nll"))
    tris
      .join(scored, Seq("__a", "__b", "__w3"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("__nll")).as("avg_nll"))
      .select(col("__id").as(idCol), col("n_tokens"), col("avg_nll"))
  }

  /** Multinomial Naive Bayes text classifier — the cheap trainable
    * quality/domain/language classifier step of a corpus pipeline
    * (FineWeb-style pipelines run a linear classifier over every
    * document; NB is the closed-form member of that family, so train
    * AND score replay exactly in SQL with no iterative fitting).
    *
    * Returns the full per-document score matrix (idCol, class,
    * log_post) — one row per document × class, log-posterior
    * log p(c) + Σ_tokens log p(t|c) with Laplace smoothing α over the
    * corpus vocabulary: p(t|c) = (count(t,c)+α)/(tokens(c)+α|V|).
    * Emitting the matrix rather than an argmax keeps the contract
    * float-tie-free; [[nbPredict]] layers a deterministic argmax on
    * top. Documents with zero tokens produce no rows (nothing to
    * condition on).
    *
    * Scale shape: the model is |V|×C rows — vocabulary-bounded
    * (Heaps' law) × a handful of classes — built from one corpus-pass
    * token-class count and broadcast by default; the scoring side
    * explodes to tokens, hash-joins the broadcast model, and shuffles
    * once for the per-(doc, class) sum. Priors/class-totals/|V| are
    * C-row or 1-row frames, always broadcast.
    */
  def nbScores(docs: DataFrame, idCol: String, labelCol: String, textCol: String,
      alpha: Double = 1.0, broadcastModel: Boolean = true): DataFrame = {
    require(alpha > 0, s"nbScores: smoothing alpha=$alpha must be > 0")
    val toks = Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), col(labelCol).as("__y"),
        explode(tokens(col(textCol))).as("__t"))
    val priors = docs.groupBy(col(labelCol).as("__cls")).agg(count(lit(1)).as("__nd"))
    val ndocs = priors.agg(sum(col("__nd")).as("__n"))
    val cnt = toks.groupBy(col("__t"), col("__y").as("__cls"))
      .agg(count(lit(1)).as("__cnt"))
    val totc = cnt.groupBy(col("__cls")).agg(sum(col("__cnt")).as("__tc"))
    val vocabN = cnt.agg(countDistinct(col("__t")).as("__v"))
    // dense |V|×C model: unseen (token, class) pairs still get the
    // smoothed floor, exactly as the closed-form NB defines them
    val model = cnt.select(col("__t")).distinct()
      .crossJoin(broadcast(priors.select(col("__cls"))))
      .join(cnt, Seq("__t", "__cls"), "left")
      .na.fill(0L, Seq("__cnt"))
      .join(broadcast(totc), Seq("__cls"))
      .crossJoin(broadcast(vocabN))
      .select(col("__t"), col("__cls"),
        log((col("__cnt").cast("double") + lit(alpha)) /
          (col("__tc").cast("double") + lit(alpha) * col("__v"))).as("__lp"))
    def bm(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    val lpri = priors.crossJoin(broadcast(ndocs))
      .select(col("__cls"), log(col("__nd").cast("double") / col("__n")).as("__lpri"))
    toks.join(bm(model), Seq("__t"))
      .groupBy(col("__id"), col("__cls"))
      .agg(sum(col("__lp")).as("__ll"))
      .join(broadcast(lpri), Seq("__cls"))
      .select(col("__id").as(idCol), col("__cls").as("class"),
        (col("__ll") + col("__lpri")).as("log_post"))
  }

  /** Deterministic argmax over [[nbScores]]: highest log-posterior
    * wins, exact float ties break toward the lexicographically LAST
    * class name (max of a (score, class) struct — order-independent,
    * no Window, one hash aggregate).
    */
  def nbPredict(scores: DataFrame, idCol: String): DataFrame =
    scores.groupBy(col(idCol))
      .agg(max(struct(col("log_post"), col("class"))).as("__m"))
      .select(col(idCol), col("__m.class").as("predicted"),
        col("__m.log_post").as("log_post"))

  /** [[c4QualityStruct]]'s line rule; a word is a `\S+` run. */
  private def c4KeepsLine(l: Column): Column = {
    val t = trim(l)
    substring(t, -1, 1).isin(".", "!", "?", "\"") &&
      (regexp_count(t, lit("\\S+")) >= 5) && !lower(t).contains("javascript")
  }

  /** C4-style quality filtering (Raffel et al. 2019, §2.2) — the
    * line+page heuristics every web-scale corpus pass applies:
    *  - keep only lines that end in terminal punctuation (. ! ? "),
    *    have >= 5 words, and don't mention "javascript";
    *  - flag pages with fewer than 3 kept lines ("sentences" — we
    *    count kept lines, a documented simplification of C4's
    *    sentence splitter), containing "lorem ipsum", or containing
    *    a curly brace.
    *
    * struct(n_lines, n_kept, has_lorem, has_brace, keep, text_clean):
    * `text_clean` is the kept lines rejoined; `keep` is the page
    * verdict. Pure scan-local array expressions — a projection at
    * 100 TB, composable with pushed-down filters; pair with
    * [[graft.ops.Dedup.dedupLines]] for the full C4 cleanup.
    *
    * This Column form is the semantic reference; prefer [[c4Quality]]
    * in pipelines — it materializes the line arrays so the
    * multiply-referenced filter isn't re-evaluated per struct field.
    */
  def c4QualityStruct(text: Column): Column = {
    val lines = split(text, "\n", -1)
    val kept = filter(lines, c4KeepsLine _)
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    struct(
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      ((size(kept) >= 3) && !hasLorem && !hasBrace).as("keep"),
      concat_ws("\n", kept).as("text_clean"))
  }

  /** DataFrame form of [[c4QualityStruct]] with the line arrays
    * MATERIALIZED as columns first: the struct references `kept`
    * three times and `lines` twice, and higher-order functions get no
    * common-subexpression elimination (the [[dsirBucketLogProbs]]
    * lesson), so the pure-Column form re-splits and re-filters every
    * document per reference. Multiple syntactic references to the
    * materialized columns keep CollapseProject from inlining them
    * back (the [[Dedup.minhashSignatureFromHashes]] trick). Appends
    * the same `c4` struct.
    */
  def c4Quality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    val hasBrace = col(textCol).contains("{")
    Partitioning.fanOut(df)
      .withColumn("__lines", split(col(textCol), "\n", -1))
      .withColumn("__kept", filter(col("__lines"), c4KeepsLine _))
      .withColumn("c4", struct(
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        hasLorem.as("has_lorem"),
        hasBrace.as("has_brace"),
        ((size(col("__kept")) >= 3) && !hasLorem && !hasBrace).as("keep"),
        concat_ws("\n", col("__kept")).as("text_clean")))
      .drop("__lines", "__kept")
  }

  /** Convenience: apply the C4 verdict — drop rejected pages, replace
    * `textCol` with the kept lines. */
  def c4Filter(df: DataFrame, textCol: String = "text"): DataFrame =
    c4Quality(df, textCol)
      .filter(col("c4.keep"))
      .withColumn(textCol, col("c4.text_clean"))
      .drop("c4")

  /** Hashed n-gram features for importance weighting — the DSIR
    * recipe (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): unigrams + word bigrams hashed into
    * `buckets` counts. The bucket is the 16-bit md5 prefix mod
    * `buckets` — the same cross-engine hash contract as
    * [[graft.ops.Packing.shuffleShards]], so feature vectors replay
    * exactly in plain SQL (requires buckets <= 65536).
    *
    * `df` must already carry a tokens array column `toksCol`
    * (higher-order functions get no common-subexpression elimination,
    * so the tokenize pass is materialized once by the caller — the
    * [[shingleHashes]] lesson).
    */
  private def dsirBuckets(df: DataFrame, toksCol: String, buckets: Int): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"dsir: buckets must be in [1, 65536], got $buckets")
    val toks = col(toksCol)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    df.select(col("*"), explode(concat(toks, bigrams)).as("__f"))
      .withColumn("__b",
        (conv(substring(md5(col("__f")), 1, 4), 16, 10).cast("long") % buckets).cast("int"))
      .drop("__f")
  }

  /** Per-bucket smoothed log-probabilities of a corpus's hashed-n-gram
    * distribution: log((c_b + alpha) / (total + alpha*B)) over a DENSE
    * bucket range (zero-count buckets included, so downstream ratios
    * are total functions). One explode + one hash aggregate over the
    * corpus; the result is `buckets` rows — broadcast-sized by
    * construction.
    */
  def dsirBucketLogProbs(corpus: DataFrame, textCol: String,
      buckets: Int = 4096, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"dsir: alpha must be positive, got $alpha")
    val toked = Partitioning.fanOut(corpus)
      .select(tokens(col(textCol)).as("__toks"))
    val cnt = dsirBuckets(toked, "__toks", buckets)
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val dense = corpus.sparkSession.range(buckets)
      .select(col("id").cast("int").as("__b"))
      .join(cnt, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("__c"), lit(0L)).as("__c"))
    val tot = dense.agg(sum(col("__c")).as("__t"))
    dense.crossJoin(broadcast(tot))
      .select(col("__b").as("bucket"),
        log((col("__c").cast("double") + lit(alpha)) /
            (col("__t").cast("double") + lit(alpha * buckets))).as("logp"))
  }

  /** DSIR importance log-weights: score every document by
    * log p_target(x) - log p_source(x) under hashed-n-gram bag
    * models of a target corpus (the domain you want more of) and the
    * source corpus (what you have). Rank by `log_weight` and keep the
    * top slice — the published cheap alternative to training a
    * domain classifier.
    *
    * Scale shape: two corpus scans build two `buckets`-row tables;
    * their log-ratio broadcasts; scoring is explode → broadcast join →
    * per-doc sum — identical cost class to [[unigramNll]]. Documents
    * with zero features (no alphanumeric tokens) are absent from the
    * result by contract.
    */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 4096, alpha: Double = 1.0): DataFrame = {
    val lt = dsirBucketLogProbs(target, targetTextCol, buckets, alpha)
      .select(col("bucket"), col("logp").as("__lt"))
    val ls = dsirBucketLogProbs(docs, textCol, buckets, alpha)
      .select(col("bucket"), col("logp").as("__ls"))
    val ratio = broadcast(lt.join(ls, Seq("bucket"))
      .select(col("bucket").as("__b"), (col("__lt") - col("__ls")).as("__r")))
    val toked = Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
    dsirBuckets(toked, "__toks", buckets)
      .join(ratio, Seq("__b"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("__r")).as("log_weight"))
      .select(col("__id").as(idCol), col("n_feats"), col("log_weight"))
  }

  /** PII redaction for training corpora: replace emails, SSNs,
    * international-format phone numbers, and IPv4 addresses with
    * typed placeholder tokens, in one byte scan per document (see
    * [[graft.expr.RedactPiiKernel]] for the four patterns).
    *
    * Replacement order is part of the contract (earlier rules consume
    * their text before later patterns see it): email → SSN → phone →
    * IPv4. `\b` is the ASCII word boundary (a word character is
    * `[A-Za-z0-9_]`), RE2's rule, so the DuckDB oracle's four
    * `regexp_replace`s agree exactly, PII next to a non-ASCII letter
    * included. Pure scan-speed projection, composes with the quality /
    * dedup passes upstream of a training run.
    */
  def redactPii(text: Column): Column = graft.expr.RedactPii(text)

  /** Unicode script profile — the writing-system histogram upstream
    * of language ID (a Cyrillic document should never reach an
    * English-only quality model, whatever the n-grams say): counts
    * of Latin / Cyrillic / Han / Arabic letters plus a dominant
    * label with a fixed priority tie-break. Counts are
    * length-difference over script-property regex deletion — pure
    * scan projection, codegen'd, no shuffle; each engine spells the
    * property its own way (Java `\p{IsLatin}`, RE2 `\p{Latin}`) for
    * the same codepoint set. */
  def scriptProfile(text: Column): Column = {
    def n(prop: String): Column =
      length(text) - length(regexp_replace(text, s"\\p{Is$prop}", ""))
    val latin = n("Latin"); val cyr = n("Cyrillic")
    val han = n("Han"); val arab = n("Arabic")
    val dominant = when(latin >= cyr && latin >= han && latin >= arab, "latin")
      .when(cyr >= han && cyr >= arab, "cyrillic")
      .when(han >= arab, "han")
      .otherwise("arabic")
    struct(latin.as("n_latin"), cyr.as("n_cyrillic"), han.as("n_han"),
      arab.as("n_arabic"), dominant.as("dominant"))
  }

  /** Mojibake repair (see [[graft.expr.MojibakeKernel]]): UTF-8-read-
    * as-cp1252 damage reversed deterministically, clean text passes
    * through identical. Scan-speed codegen'd kernel, no shuffle —
    * run it unconditionally at ingest, before dedup/quality, so
    * garbled near-duplicates re-converge. */
  def fixEncoding(text: Column): Column = graft.expr.FixMojibake(text)

  /** Unicode normalization (see [[graft.expr.UnicodeNormalizeKernel]]):
    * NFC/NFD/NFKC/NFKD with an ASCII fast path — run NFC before any
    * hash/dedup stage so canonically-equivalent spellings converge;
    * NFKC is the aggressive compatibility fold tokenizer pipelines
    * apply before BPE. Codegen'd scalar, no shuffle. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.expr.UnicodeNormalize(text, form)

  /** Compression-ratio entropy proxy (see
    * [[graft.expr.DeflateRatioKernel]]): deflate length over byte
    * length — template spam compresses far below prose, encoded junk
    * barely at all; both tails are filter candidates. Deterministic
    * (from-spec encoder), codegen'd, scan-local. */
  def compressionRatio(text: Column): Column = graft.expr.DeflateRatio(text)

  /** HTML → text extraction — the step every web-crawl corpus passes
    * through before any quality/dedup stage (the C4/CCNet pipelines
    * start from WET/extracted text; this is the extractor itself for
    * raw HTML). Deterministic rule pipeline, declared in application
    * order (each stage sees the previous stage's output):
    *
    *  1. drop `<script>…</script>` and `<style>…</style>` whole —
    *     their content is code, not prose (case-insensitive, spans
    *     newlines, unterminated blocks are left for the tag strip);
    *  2. drop `<!-- … -->` comments;
    *  3. turn the block-structure breaks into newlines: `<br>`/`<hr>`
    *     (any self-closing spelling) and the CLOSING tags of
    *     p/div/li/tr/headings/lists/table/blockquote/pre;
    *  4. strip every remaining `<…>` tag;
    *  5. decode the named entities that matter for prose — &lt; &gt;
    *     &quot; &#39; &apos; &nbsp; first, &amp; LAST so
    *     double-escaped text single-decodes (standard entity-decode
    *     semantics: `&amp;lt;` → `&lt;`, not `<`);
    *  6. normalize whitespace: runs of spaces/tabs/CRs collapse to
    *     one space, spaces around newlines drop, ≥3 newlines collapse
    *     to a paragraph break, leading/trailing whitespace trims.
    *
    * Every pattern is restricted to the Java-regex ∩ RE2 dialect (no
    * lookaround, no backrefs, explicit ASCII classes — `\s` differs
    * between the engines and is not used) so an external SQL oracle
    * replays the pipeline verbatim;
    * entity decode uses literal (non-regex) replace. Pure scan-speed
    * projection — at 100 TB this runs inside whole-stage codegen
    * with no shuffle, exactly like the quality filters downstream.
    */
  def htmlExtract(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", "")
    val breaks = regexp_replace(noComment,
      "(?i)<(br|hr)[ \t]*/?>|</(p|div|li|tr|h1|h2|h3|h4|h5|h6|ul|ol|table|blockquote|pre)>",
      "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", "")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val hspace = regexp_replace(entities, "[ \t\r]+", " ")
    val tightNl = regexp_replace(hspace, " ?\n ?", "\n")
    val paras = regexp_replace(tightNl, "\n\n\n+", "\n\n")
    regexp_replace(paras, "^[ \t\r\n]+|[ \t\r\n]+$", "")
  }

  /** Markdown → prose, the [[htmlExtract]] sibling for the OTHER
    * ubiquitous corpus markup (readmes, docs sites, forum dumps):
    * a deterministic rule pipeline in declared application order,
    * every pattern in the Java∩RE2 dialect so an external SQL
    * oracle replays it verbatim:
    *
    *  1. fence LINES drop, fenced content stays (code is corpus
    *     text; the fence syntax is not);
    *  2. ATX header marks (`#{1,6} `) drop; setext underline /
    *     thematic-break lines (`===`, `---`) drop whole;
    *  3. blockquote `>` and list markers (`-*+`, `1.`) drop;
    *  4. images `![alt](url)` → alt BEFORE links `[text](url)` →
    *     text (the image syntax embeds the link syntax); reference
    *     links `[text][ref]` → text; link-definition lines drop;
    *     autolinks `<http…>` keep the URL;
    *  5. `**`/`~~`/`*` emphasis marks and backticks drop —
    *     underscore emphasis is left ALONE (declared: `_` is
    *     ambiguous with snake_case identifiers, and eating
    *     identifiers corrupts code corpora).
    *
    * Line structure is content in markdown and is preserved — no
    * whitespace collapse beyond what the rules remove.
    */
  def markdownExtract(md: Column): Column = {
    val noFence = regexp_replace(md, "(?m)^[ \t]*```[^\n]*\n?", "")
    val noAtx = regexp_replace(noFence, "(?m)^#{1,6}[ \t]+", "")
    val noSetext = regexp_replace(noAtx, "(?m)^(=+|-+|\\*\\*\\*+)[ \t]*$\n?", "")
    val noQuote = regexp_replace(noSetext, "(?m)^[ \t]*>[ \t]?", "")
    val noList = regexp_replace(noQuote, "(?m)^[ \t]*([-*+]|[0-9]+\\.)[ \t]+", "")
    val noDefs = regexp_replace(noList, "(?m)^\\[[^\\]]+\\]:[ \t]+[^\n]*$\n?", "")
    val noImg = regexp_replace(noDefs, "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noRef = regexp_replace(noLink, "\\[([^\\]]*)\\]\\[[^\\]]*\\]", "$1")
    val noAuto = regexp_replace(noRef, "<(https?://[^>]+)>", "$1")
    val noEm = regexp_replace(noAuto, "\\*\\*|~~|\\*", "")
    regexp_replace(noEm, "`", "")
  }

  /** Corpus datasheet: per-class (source/language/shard) doc counts,
    * token and char volumes, and exact-duplicate redundancy — the
    * summary table every corpus release ships. One pass: fingerprints
    * and token counts are scan-local expressions, then a single hash
    * aggregate per class (count-distinct expands to the standard
    * two-phase agg); nothing but (class, digest, two longs) shuffles.
    * `n_dup_docs` counts redundant copies: docs minus distinct
    * fingerprints within the class.
    */
  def corpusReport(df: DataFrame, textCol: String, classCol: String): DataFrame =
    Partitioning.fanOut(df)
      .select(col(classCol), fingerprint(col(textCol)).as("__fp"),
        tokenCount(col(textCol)).as("__t"), length(col(textCol)).cast("long").as("__c"))
      .groupBy(col(classCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
        (count(lit(1)) - count_distinct(col("__fp"))).as("n_dup_docs"))
      .withColumn("dup_frac",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))

  /** TF-IDF term scores — the classic relevance weighting, smoothed
    * sklearn-style: idf = ln((N+1)/(df+1)) + 1 with df = distinct
    * docs containing the term. Emits every (doc, term) pair with tf,
    * df, and the product; rank downstream with an EXACT key
    * ((tf, term) or a threshold) when cross-engine reproducibility
    * matters — float-score ordering between near-ties is not a
    * portable contract (the [[nbScores]] lesson).
    *
    * Scale shape: one explode feeds BOTH aggregates (per-doc-term tf,
    * per-term df); the df table is vocabulary-sized and shuffle-joins
    * back onto doc-terms (broadcast when the vocab is bounded — same
    * default as the bigram LM tables); N rides a 1-row broadcast.
    */
  def tfidfScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = Partitioning.fanOut(docs)
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("__id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = terms.groupBy(col("term")).agg(count_distinct(col("__id")).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.join(dfT, Seq("term")).crossJoin(broadcast(n))
      .select(col("__id").as(idCol), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          (log((col("__n").cast("double") + 1) / (col("df").cast("double") + 1)) + 1))
          .as("tfidf"))
  }

  /** Convenience: append all text-analysis columns to a documents
    * DataFrame: token_count, bpeish_token_count, lang_id, fingerprint,
    * then the [[qualityStruct]] fields. The kernel runs once per row in
    * its own projection, and the columns read its fields. The
    * fingerprint stays in the reading projection, where a dedup on the
    * same text merges and shares it. */
  def profile(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val p = col("__profile")
    val columns = Seq("token_count", "bpeish_token_count", "lang_id").map(f => f -> p(f)) ++
      Seq("fingerprint" -> fingerprint(t), "n_tokens" -> p("token_count")) ++
      qualityFields.map(f => f -> p(f))
    Partitioning.fanOut(df).withColumn("__profile", graft.expr.TextProfile(t))
      .withColumns(scala.collection.immutable.ListMap(columns: _*))
      .drop("__profile")
  }
}
