package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.{TextAnalysis, Warc}
import graft.spec._
import graft.transforms._

import Fixtures._

/** Text, web and documents: tokenizers, text analysis and
  * classifiers, URL/robots/sitemap/feed/link parsing, WARC/CDX, packing,
  * chat, and the office/markup/notebook extractors. */
object TextGates {
  /** x_pagerank's power iterations: run by the op, unrolled by the oracle. */
  private val pagerankIterations = 5

  val gates: Seq[Gate] = Seq(
    // ---- token counting (word + BPE-ish subword proxy) ----
    Gate("x_tokens", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("word_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens")),
      """
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS word_tokens,
             CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens
      FROM documents"""),
    // token-budget epoch selection: per source, deterministic-order
    // docs until the source's token budget fills (inclusive, never
    // overshooting); oracle replays the same windowed running sum
    Gate("x_token_budget", (s, d) =>
      TokenBudgetOp(t(s, d, "documents"), Config.of(
        "key" -> "doc_id", "class_field" -> "source",
        "budgets" -> Map("src0" -> 2000), "default_budget" -> 1500))
        .select(col("doc_id"), col("source"), col("n_tokens")),
      """
      WITH t AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
      FROM c
      WHERE cum <= CASE WHEN source = 'src0' THEN 2000 ELSE 1500 END"""),

    // ==== SURVEY §2.6 extensions: text analysis ====
    Gate("x_text_profile", (s, d) =>
      TextAnalysis.profile(t(s, d, "documents"))
        .select("doc_id", "n_chars", "token_count", "avg_token_len",
          "punct_ratio", "stopword_ratio", "quality_score"),
      // ==== §2.6 extension oracles. The token/shingle pipelines are
      // mirrored expression-for-expression so doubles come out
      // bit-identical. ====
      s"""
      WITH tok AS (
        SELECT doc_id, n_chars, text,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents)
      SELECT doc_id, n_chars,
             CAST(len(toks) AS BIGINT) AS token_count,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS BIGINT)
                  ELSE 0.0 END AS avg_token_len,
             CASE WHEN length(text) > 0
                  THEN (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE))
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, t -> list_contains($stopwordsSqlList, t))) AS DOUBLE) / CAST(len(toks) AS BIGINT)
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN len(toks) = 0 THEN 0.0 ELSE
               1.0 - abs((CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS BIGINT)
                    ELSE 0.0 END) - 5.0) / 10.0
                   - (CASE WHEN length(text) > 0
                        THEN (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE))
                             / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
                   + (CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks, t -> list_contains($stopwordsSqlList, t))) AS DOUBLE) / CAST(len(toks) AS BIGINT)
                        ELSE 0.0 END) * 0.5
             END AS quality_score
      FROM tok"""),
    Gate("x_text_lang", (s, d) =>
      docs(s, d).select(col("doc_id"), col("lang").as("lang_label"),
        TextAnalysis.langId(col("text")).as("lang_id")),
      """
      WITH tok AS (
        SELECT doc_id, lang AS lang_label, text,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      sc AS (
        SELECT doc_id, lang_label, text,
               len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS s_en,
               len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) AS s_de,
               len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans'], t))) AS s_fr,
               len(list_filter(toks, t -> list_contains(['el','los','las','y','es','una','que'], t))) AS s_es
        FROM tok)
      SELECT doc_id, lang_label,
             CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                  WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
                  WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
                  ELSE 'und' END AS lang_id
      FROM sc"""),
    // C4-style URL canonicalization over synthetic URLs derived from
    // (doc_id, source) — three shapes per doc_id%3: tracking params +
    // default port + fragment; https default port with no path; a
    // non-URL passthrough. Both engines build the identical input and
    // normalize with the same instr/substr arithmetic.
    Gate("x_url_normalize", (s, d) => {
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://Example.COM:80/Docs/"), col("source"),
            lit("?utm_source=feed&b=2&a=1&id="), col("doc_id"), lit("#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://Host.org:443?z=1&utm_campaign=x&y="), col("doc_id")))
        .otherwise(concat(lit("not a url "), col("doc_id")))
      docs(s, d).select(col("doc_id"), raw.as("url"),
        TextAnalysis.normalizeUrl(raw).as("url_norm"))
    },
      """
      WITH raw AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'HTTP://Example.COM:80/Docs/' || source || '?utm_source=feed&b=2&a=1&id=' || doc_id || '#frag'
               WHEN doc_id % 3 = 1 THEN 'https://Host.org:443?z=1&utm_campaign=x&y=' || doc_id
               ELSE 'not a url ' || doc_id END AS url
        FROM documents),
      s1 AS (SELECT doc_id, url,
        CASE WHEN instr(url, '#') > 0 THEN substr(url, 1, instr(url, '#') - 1) ELSE url END AS u
        FROM raw),
      p2 AS (SELECT doc_id, url, u, instr(u, '://') AS spos,
        lower(substr(u, 1, instr(u, '://') - 1)) AS scheme,
        substr(u, instr(u, '://') + 3) AS rest FROM s1),
      p4 AS (SELECT *,
        CASE WHEN instr(rest, '?') > 0 THEN substr(rest, instr(rest, '?') + 1) ELSE '' END AS qs,
        CASE WHEN instr(rest, '?') > 0 THEN substr(rest, 1, instr(rest, '?') - 1) ELSE rest END AS prepath
        FROM p2),
      p6 AS (SELECT *,
        CASE WHEN instr(prepath, '/') > 0 THEN substr(prepath, 1, instr(prepath, '/') - 1) ELSE prepath END AS hp,
        CASE WHEN instr(prepath, '/') > 0 THEN substr(prepath, instr(prepath, '/')) ELSE '/' END AS path
        FROM p4),
      p8 AS (SELECT *,
        lower(CASE WHEN instr(hp, ':') > 0 THEN substr(hp, 1, instr(hp, ':') - 1) ELSE hp END) AS host,
        CASE WHEN instr(hp, ':') > 0 THEN substr(hp, instr(hp, ':') + 1) ELSE '' END AS port
        FROM p6),
      p9 AS (SELECT *,
        array_to_string(list_sort(list_filter(string_split(qs, '&'),
          p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&') AS q
        FROM p8)
      SELECT doc_id, url,
        CASE WHEN spos > 0 THEN
          scheme || '://' || host ||
          CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443'))
               THEN ':' || port ELSE '' END ||
          path ||
          CASE WHEN q <> '' THEN '?' || q ELSE '' END
        ELSE url END AS url_norm
      FROM p9"""),
    // corpus datasheet: per-source volumes + exact-dup redundancy
    Gate("x_corpus_report", (s, d) =>
      TextAnalysis.corpusReport(docs(s, d), "text", "source"),
      """
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              t -> t <> ''))) AS BIGINT) AS n_tokens,
        CAST(sum(length(text)) AS BIGINT) AS n_chars,
        CAST(count(*) - count(DISTINCT
              md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
          AS BIGINT) AS n_dup_docs,
        (count(*) - count(DISTINCT
              md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))) * 1.0
          / count(*) AS dup_frac
      FROM documents
      GROUP BY source"""),
    // tf-idf term scores, every (doc, term) pair with smoothed idf
    Gate("x_tfidf", (s, d) =>
      TextAnalysis.tfidfScores(docs(s, d), "doc_id", "text"),
      """
      WITH terms AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> t <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM terms GROUP BY doc_id, term),
      dfT AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM terms GROUP BY term),
      n AS (SELECT count(*) AS n FROM documents)
      SELECT tf.doc_id, tf.term, tf.tf, dfT.df,
             tf.tf * (ln((n.n + 1.0) / (dfT.df + 1.0)) + 1) AS tfidf
      FROM tf JOIN dfT USING (term) CROSS JOIN n"""),
    // C4 line/page quality filter: the corpus has no newlines or
    // punctuation, so the gate synthesizes 6-word lines with
    // stride-planted terminal punctuation and three planted defect
    // lines (javascript / lorem ipsum / curly brace); the struct's
    // verdicts and the cleaned text replay exactly in SQL
    Gate("x_text_c4_filter", (s, d) => {
      val toks = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0), ceil(size(toks) / lit(6.0)).cast("int") - 1),
        i => concat_ws(" ", slice(toks, i * 6 + 1, lit(6))))
      val punct = transform(chunks, (c, i) =>
        concat(c, when(pmod(col("doc_id") + i, lit(2)) === 0, lit(".")).otherwise(lit(""))))
      val noLine = array().cast("array<string>")
      val lined = concat_ws("\n", concat(
        when(pmod(col("doc_id"), lit(7)) === 0,
          array(lit("javascript is required to view this page."))).otherwise(noLine),
        punct,
        when(pmod(col("doc_id"), lit(11)) === 0,
          array(lit("lorem ipsum dolor sit amet."))).otherwise(noLine),
        when(pmod(col("doc_id"), lit(13)) === 0,
          array(lit("function foo() { return 1; }"))).otherwise(noLine)))
      TextAnalysis.c4Quality(docs(s, d).select(col("doc_id"), lined.as("text")))
        .select(col("doc_id"), col("c4.n_lines").as("n_lines"),
          col("c4.n_kept").as("n_kept"), col("c4.has_lorem").as("has_lorem"),
          col("c4.has_brace").as("has_brace"), col("c4.keep").as("keep"),
          col("c4.text_clean").as("text_clean"))
    },
      """
      WITH lined AS (
        SELECT doc_id, array_to_string(
          list_concat(list_concat(list_concat(
            CASE WHEN doc_id % 7 = 0 THEN ['javascript is required to view this page.']
                 ELSE [] END,
            list_transform(
              generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT) - 1),
              i -> array_to_string(string_split(text, ' ')[i*6+1:i*6+6], ' ') ||
                   CASE WHEN (doc_id + i) % 2 = 0 THEN '.' ELSE '' END)),
            CASE WHEN doc_id % 11 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
            CASE WHEN doc_id % 13 = 0 THEN ['function foo() { return 1; }'] ELSE [] END),
          chr(10)) AS text
        FROM documents),
      c AS (
        SELECT doc_id, text,
          string_split(text, chr(10)) AS lines,
          list_filter(string_split(text, chr(10)), l ->
            right(trim(l), 1) IN ('.', '!', '?', '"')
            AND len(list_filter(string_split_regex(trim(l), '\s+'), w -> w <> '')) >= 5
            AND NOT contains(lower(trim(l)), 'javascript')) AS kept
        FROM lined)
      SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{')) AS keep,
        coalesce(array_to_string(kept, chr(10)), '') AS text_clean
      FROM c"""),
    // DSIR importance weights: target = the English slice, source =
    // the whole corpus; 256 hashed-n-gram buckets so the oracle can
    // replay the 16-bit md5-prefix bucketing per character
    Gate("x_dsir_weights", (s, d) => {
      val all = docs(s, d)
      TextAnalysis.dsirLogWeights(all, "doc_id", "text",
        all.filter(col("lang") === "en"), "text", buckets = 256, alpha = 1.0)
    },
      """
      WITH tk AS (
        SELECT doc_id, lang,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      feats AS (
        SELECT doc_id, lang, unnest(list_concat(toks,
          CASE WHEN len(toks) >= 2 THEN
            list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
          ELSE [] END)) AS f
        FROM tk),
      fb AS (
        SELECT doc_id, lang, CAST((
            (strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 4096 +
            (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) * 256 +
            (strpos('0123456789abcdef', substr(md5(f), 3, 1)) - 1) * 16 +
            (strpos('0123456789abcdef', substr(md5(f), 4, 1)) - 1)) % 256 AS INTEGER) AS b
        FROM feats),
      dense AS (SELECT unnest(generate_series(0, 255)) AS b),
      tcnt AS (SELECT b, count(*) AS c FROM fb WHERE lang = 'en' GROUP BY b),
      scnt AS (SELECT b, count(*) AS c FROM fb GROUP BY b),
      ratio AS (
        SELECT d.b,
          ln((coalesce(tc.c, 0) + 1.0) / ((SELECT sum(c) FROM tcnt) + 256.0)) -
          ln((coalesce(sc.c, 0) + 1.0) / ((SELECT sum(c) FROM scnt) + 256.0)) AS r
        FROM dense d LEFT JOIN tcnt tc USING (b) LEFT JOIN scnt sc USING (b))
      SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(r.r) AS log_weight
      FROM fb JOIN ratio r USING (b)
      GROUP BY fb.doc_id"""),
    // RAG-style sliding chunks: per-doc 32-token windows, stride 24
    // (8-token overlap); scan-local, oracle replays the slicing
    Gate("x_sliding_chunks", (s, d) =>
      graft.ops.Packing.slidingChunks(docs(s, d), "doc_id", "text",
        chunkSize = 32, stride = 24),
      """
      WITH tk AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      w AS (
        SELECT doc_id, i AS chunk_id, toks[i*24+1:i*24+32] AS win
        FROM (SELECT doc_id, toks,
                unnest(generate_series(0,
                  CAST(ceil(len(toks) / 24.0) AS INT) - 1)) AS i
              FROM tk WHERE len(toks) > 0))
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(win) AS BIGINT) AS n_tokens,
             array_to_string(win, ' ') AS chunk
      FROM w"""),
    // concat-and-chunk context windows: per-source token streams with
    // eod markers cut at 50 tokens; the oracle replays cumulative
    // offsets + integer-division window ids over an exploded stream
    Gate("x_pack_windows", (s, d) =>
      graft.ops.Packing.chunkWindows(docs(s, d), "doc_id", "source", "text",
        windowSize = 50),
      """
      WITH tk AS (
        SELECT source, doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      offs AS (
        SELECT source, doc_id, toks, len(toks) AS n,
          coalesce(sum(len(toks) + 1) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM tk),
      stream AS (
        SELECT source,
          off + j AS abs,
          CASE WHEN j < n THEN toks[j + 1] ELSE '<|eod|>' END AS tok
        FROM (SELECT source, toks, n, off, unnest(generate_series(0, n)) AS j
              FROM offs))
      SELECT source, CAST(abs // 50 AS BIGINT) AS window_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             string_agg(tok, ' ' ORDER BY abs) AS text
      FROM stream
      GROUP BY source, abs // 50"""),
    // Sequence packing (sample packing): greedy fixed-capacity fold in
    // doc_id order per source shard; the oracle replays the exact fold
    // with a recursive CTE, so every bin boundary is value-checked
    Gate("x_pack_sequences", (s, d) =>
      graft.ops.Packing.packGreedy(docs(s, d), "doc_id", "source", "text",
        capacity = 400),
      """
      WITH RECURSIVE toks AS (
        SELECT source, doc_id,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents),
      rec AS (
        SELECT source, doc_id, t, rn, t AS acc, 0 AS bin FROM toks WHERE rn = 1
        UNION ALL
        SELECT x.source, x.doc_id, x.t, x.rn,
               CASE WHEN r.acc + x.t > 400 THEN x.t ELSE r.acc + x.t END,
               CASE WHEN r.acc + x.t > 400 THEN r.bin + 1 ELSE r.bin END
        FROM toks x JOIN rec r ON x.source = r.source AND x.rn = r.rn + 1)
      SELECT source, doc_id, CAST(t AS BIGINT) AS n_tokens, CAST(bin AS BIGINT) AS bin
      FROM rec"""),
    // best-fit-decreasing variant: the oracle re-derives the exact
    // fold with a recursive CTE whose carried state is the LIST of
    // open-bin remainders (best fit = list_min of the fitting
    // remainders, tie = first position) — any divergence in order,
    // tie-break, or remainder arithmetic hash-mismatches
    Gate("x_pack_sequences_bfd", (s, d) =>
      graft.ops.Packing.packBestFitDecreasing(docs(s, d), "doc_id", "source", "text",
        capacity = 400),
      """
      WITH RECURSIVE t0 AS (
        SELECT source, doc_id,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
        FROM documents),
      toks AS (
        SELECT source, doc_id, t,
               row_number() OVER (PARTITION BY source ORDER BY t DESC, doc_id) AS rn
        FROM t0),
      rec AS (
        SELECT source, doc_id, t, rn, [400 - t] AS rem, 1 AS bin
        FROM toks WHERE rn = 1
        UNION ALL
        SELECT x.source, x.doc_id, x.t, x.rn,
               CASE WHEN list_min(list_filter(r.rem, z -> z >= x.t)) IS NULL
                    THEN list_append(r.rem, 400 - x.t)
                    ELSE list_transform(range(len(r.rem)), i ->
                           CASE WHEN i + 1 = list_position(r.rem,
                                  list_min(list_filter(r.rem, z -> z >= x.t)))
                                THEN r.rem[CAST(i + 1 AS INTEGER)] - x.t
                                ELSE r.rem[CAST(i + 1 AS INTEGER)] END)
               END,
               CASE WHEN list_min(list_filter(r.rem, z -> z >= x.t)) IS NULL
                    THEN len(r.rem) + 1
                    ELSE list_position(r.rem,
                           list_min(list_filter(r.rem, z -> z >= x.t)))
               END
        FROM toks x JOIN rec r ON x.source = r.source AND x.rn = r.rn + 1)
      SELECT source, doc_id, CAST(t AS BIGINT) AS n_tokens,
             CAST(bin - 1 AS BIGINT) AS bin
      FROM rec"""),
    // Real BPE tokenizer contract (boolean gate, like the recall
    // gates — DuckDB cannot replay merge training): corpus-trained
    // merges must (a) roundtrip every word exactly, (b) never emit
    // fewer tokens than words, (c) actually compress vs character
    // count. The per-doc numbers themselves are pinned by BpeSpec.
    Gate("x_bpe_tokens", (s, d) => {
      val ds = docs(s, d)
      val model = graft.ops.Bpe.train(ds, "text", numMerges = 100)
      model.encodeCounts(ds, "doc_id", "text")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("roundtrip_ok")).as("all_roundtrip_ok"),
          min(col("n_bpe_tokens") >= col("n_words")).as("tokens_ge_words"),
          (sum(col("n_bpe_tokens")) < sum(col("n_word_chars"))).as("compresses"))
    },
      """
      SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS all_roundtrip_ok,
             true AS tokens_ge_words, true AS compresses
      FROM documents"""),

    // BYTE-level BPE (round 17, GPT-2/tiktoken family — the boolean
    // contract shape): the corpus text is deliberately enriched with
    // punctuation, mixed case, tabs/newlines and multi-byte UTF-8 —
    // exactly what the word-level op normalizes away — and the
    // trained model must (a) tile + roundtrip every document
    // byte-exactly, (b) never emit fewer tokens than pretokens or
    // more than bytes, (c) actually compress. Hand-computed merges
    // and fallback behavior are pinned in BpeBytesSpec.
    Gate("x_bpe_bytes", (s, d) => {
      val raw = docs(s, d).select(col("doc_id"),
        concat(lit("Hello, WORLD!  §café … "), col("text"),
          lit(" #"), col("doc_id"), lit("\t(fin.)\n")).as("text"))
      val model = graft.ops.BpeBytes.train(raw, "text", numMerges = 150)
      model.encodeCounts(raw, "doc_id", "text")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("roundtrip_ok")).as("all_roundtrip_ok"),
          min(col("n_tokens") >= col("n_pretokens")).as("tokens_ge_pretokens"),
          min(col("n_tokens") <= col("n_bytes")).as("tokens_le_bytes"),
          (sum(col("n_tokens")) < sum(col("n_bytes"))).as("compresses"))
    },
      """
      SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS all_roundtrip_ok,
             true AS tokens_ge_pretokens, true AS tokens_le_bytes,
             true AS compresses
      FROM documents"""),

    // unigram-LM tokenizer (round 11, the x_bpe_tokens contract
    // shape): EM-trained Viterbi segmentation must concatenate back
    // to every word, land between the word count and the character
    // count, and actually compress — i.e. the trained multi-char
    // pieces carry real probability mass on this corpus.
    Gate("x_unigram_tokens", (s, d) => {
      val ds = docs(s, d)
      val model = graft.ops.Unigram.train(ds, "text", vocabSize = 400)
      model.encodeCounts(ds, "doc_id", "text")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("roundtrip_ok")).as("all_roundtrip_ok"),
          min(col("n_pieces") >= col("n_words")).as("pieces_ge_words"),
          min(col("n_pieces") <= col("n_word_chars")).as("pieces_le_chars"),
          (sum(col("n_pieces")) < sum(col("n_word_chars"))).as("compresses"))
    },
      """
      SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS all_roundtrip_ok,
             true AS pieces_ge_words, true AS pieces_le_chars, true AS compresses
      FROM documents"""),

    // WordPiece tokenizer (round 13, completing the BERT/GPT/T5
    // tokenizer triple): likelihood-scored merges trained on the
    // corpus, greedy longest-match-first encode with ## continuations
    // and the published one-[UNK] rules. Boolean contract like its
    // siblings (DuckDB cannot replay merge training): every word
    // roundtrips or is [UNK], zero [UNK] on the model's own training
    // corpus (the alphabet is complete by construction), piece counts
    // in [words, chars], and the trained pieces actually compress.
    // The merge criterion and encode rules are hand-pinned in
    // WordPieceSpec.
    Gate("x_wordpiece_tokens", (s, d) => {
      val ds = docs(s, d)
      val model = graft.ops.WordPiece.train(ds, "text", numMerges = 100)
      model.encodeCounts(ds, "doc_id", "text")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("roundtrip_ok")).as("all_roundtrip_ok"),
          (sum(col("n_unk")) === 0).as("no_unk_on_own_corpus"),
          min(col("n_pieces") >= col("n_words")).as("pieces_ge_words"),
          min(col("n_pieces") <= col("n_word_chars")).as("pieces_le_chars"),
          (sum(col("n_pieces")) < sum(col("n_word_chars"))).as("compresses"))
    },
      """
      SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS all_roundtrip_ok,
             true AS no_unk_on_own_corpus, true AS pieces_ge_words,
             true AS pieces_le_chars, true AS compresses
      FROM documents"""),
    // PII redaction over synthetic planted identifiers (both engines
    // derive the identical input from doc_id/source, so the redaction
    // itself is what the hash compares). The é and CJK neighbours pin
    // the word-boundary rule: RE2's \b is ASCII, so a non-ASCII letter
    // next to a digit is a boundary there, and the kernel must agree.
    Gate("x_pii_redact", (s, d) => {
      val planted = concat(lit("contact "), col("source"), col("doc_id"),
        lit("@example.com or +1415550"), col("doc_id"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)), lit(".7 ssn 123-45-6789 é10.0."),
        pmod(col("doc_id"), lit(256)), lit(".7 IPは192.168.0.1です SSNは123-45-6789です "),
        col("text"))
      docs(s, d).select(col("doc_id"),
        TextAnalysis.redactPii(planted).as("redacted"))
    },
      """
      WITH raw AS (
        SELECT doc_id,
          'contact ' || source || doc_id || '@example.com or +1415550' || doc_id ||
          ' ip 10.0.' || (doc_id % 256) || '.7 ssn 123-45-6789 é10.0.' || (doc_id % 256) ||
          '.7 IPは192.168.0.1です SSNは123-45-6789です ' || text AS t
        FROM documents)
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
            '\+\d{7,15}\b', '<PHONE>', 'g'),
          '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
      FROM raw"""),
    // HTML -> text extraction over synthetic planted pages (the
    // x_pii_redact pattern: both engines derive the identical page
    // from doc_id/source/text, so the extraction chain is what the
    // hash compares). The page plants every rule's trigger: a script
    // with stray < > operators inside, a style block spanning a
    // newline, a comment, block closers, <br/>, double-escaped
    // &amp;amp;, &nbsp;, and the doc's own corpus text inside a div.
    Gate("x_text_html_extract", (s, d) => {
      val page = concat(
        lit("<html> <head><script type=\"text/javascript\">var x = "), col("doc_id"),
        lit("; if (x < 3 && x > 1) { alert(\"hi\"); }</script><style>p { color: red; }\n.c"), col("doc_id"),
        lit(" { margin: 0; }</style></head>\n<body><!-- hidden "), col("doc_id"),
        lit(" --><h1>Doc "), col("doc_id"),
        lit("</h1><p>From &quot;"), col("source"),
        lit("&quot; &amp;amp; A&nbsp;B &lt;tag&gt;</p><div> "), col("text"),
        lit(" </div><br/><ul><li>alpha</li><li>beta</li></ul></body></html>"))
      docs(s, d).select(col("doc_id"),
        TextAnalysis.htmlExtract(page).as("extracted"))
    },
      // the htmlExtract rule pipeline replayed stage by stage (patterns
      // verbatim from the Java∩RE2 dialect; newlines as chr(10) because
      // RE2 rewrite strings do not interpret escape sequences)
      """
      WITH raw AS (
        SELECT doc_id,
          '<html> <head><script type="text/javascript">var x = ' || doc_id ||
          '; if (x < 3 && x > 1) { alert("hi"); }</script><style>p { color: red; }' || chr(10) ||
          '.c' || doc_id || ' { margin: 0; }</style></head>' || chr(10) ||
          '<body><!-- hidden ' || doc_id || ' --><h1>Doc ' || doc_id ||
          '</h1><p>From &quot;' || source || '&quot; &amp;amp; A&nbsp;B &lt;tag&gt;</p><div> ' ||
          text || ' </div><br/><ul><li>alpha</li><li>beta</li></ul></body></html>' AS page
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(page, '(?is)<script[^>]*>.*?</script>', '', 'g') AS t FROM raw),
      s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', '', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id, regexp_replace(t,
        '(?i)<(br|hr)[ \t]*/?>|</(p|div|li|tr|h1|h2|h3|h4|h5|h6|ul|ol|table|blockquote|pre)>',
        chr(10), 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM s4),
      s6 AS (SELECT doc_id,
          replace(replace(replace(replace(replace(replace(replace(t,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
            '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t FROM s5),
      s7 AS (SELECT doc_id, regexp_replace(t, '[ \t\r]+', ' ', 'g') AS t FROM s6),
      s8 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s7),
      s9 AS (SELECT doc_id, regexp_replace(t, '\n\n\n+', chr(10) || chr(10), 'g') AS t FROM s8)
      SELECT doc_id, regexp_replace(t, '^[ \t\r\n]+|[ \t\r\n]+$', '', 'g') AS extracted
      FROM s9"""),
    // Script profile: per-id suffixes plant Cyrillic / Han / Arabic
    // runs of KNOWN length onto the (Latin/ASCII) corpus text, so
    // every count is corpus-Latin-count + id-derived constants; the
    // oracle counts Latin letters itself via the RE2 spelling of the
    // same Unicode property.
    Gate("x_text_script", (s, d) => {
      val suffix = when(pmod(col("doc_id"), lit(4)) === 0, " привет мир")
        .when(pmod(col("doc_id"), lit(4)) === 1, " 中文文本于")
        .when(pmod(col("doc_id"), lit(4)) === 2, " مرحبا")
        .otherwise("")
      val planted = concat(coalesce(col("text"), lit("")), suffix)
      docs(s, d).select(col("doc_id"),
        TextAnalysis.scriptProfile(planted).as("p"))
        .select(col("doc_id"), col("p.n_latin").cast("long").as("n_latin"),
          col("p.n_cyrillic").cast("long").as("n_cyrillic"),
          col("p.n_han").cast("long").as("n_han"),
          col("p.n_arabic").cast("long").as("n_arabic"), col("p.dominant"))
    },
      // Latin counted by the RE2 spelling of the same property; the
      // planted scripts are id-derived constants (9/5/5 letters)
      """
      WITH c AS (
        SELECT doc_id,
          length(coalesce(text, '')) -
            length(regexp_replace(coalesce(text, ''), '\p{Latin}', '', 'g')) AS lat
        FROM documents)
      SELECT doc_id, CAST(lat AS BIGINT) AS n_latin,
        CAST(CASE WHEN doc_id % 4 = 0 THEN 9 ELSE 0 END AS BIGINT) AS n_cyrillic,
        CAST(CASE WHEN doc_id % 4 = 1 THEN 5 ELSE 0 END AS BIGINT) AS n_han,
        CAST(CASE WHEN doc_id % 4 = 2 THEN 5 ELSE 0 END AS BIGINT) AS n_arabic,
        CASE WHEN lat >= CASE WHEN doc_id % 4 = 0 THEN 9 ELSE 0 END
              AND lat >= CASE WHEN doc_id % 4 = 1 THEN 5 ELSE 0 END
              AND lat >= CASE WHEN doc_id % 4 = 2 THEN 5 ELSE 0 END THEN 'latin'
             WHEN doc_id % 4 = 0 THEN 'cyrillic'
             WHEN doc_id % 4 = 1 THEN 'han'
             ELSE 'arabic' END AS dominant
      FROM c"""),

    // URL blocklist: four planted URL classes (blocked host subdomain,
    // blocked path prefix, blocked query pattern, clean) — every rule
    // type fires and the verdict replays from doc_id arithmetic.
    Gate("x_url_filter", (s, d) => {
      val id = col("doc_id")
      val url = when(pmod(id, lit(5)) === 0, concat(lit("https://ads.tracker.net/x/"), id))
        .when(pmod(id, lit(5)) === 1, concat(lit("https://ok.org/login/"), id))
        .when(pmod(id, lit(5)) === 2, concat(lit("https://ok.org/p/"), id, lit("?sessionid=abc")))
        .otherwise(concat(lit("https://ok.org/page/"), id))
      docs(s, d).select(id, url.as("url"),
        graft.ops.DomainCap.urlBlocked(url,
          Seq("tracker.net"), Seq("/login"), Seq("sessionid=")).as("blocked"))
    },
      // every planted class' verdict is pure id arithmetic
      """
      WITH u AS (
        SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN 'https://ads.tracker.net/x/' || doc_id
            WHEN 1 THEN 'https://ok.org/login/' || doc_id
            WHEN 2 THEN 'https://ok.org/p/' || doc_id || '?sessionid=abc'
            ELSE 'https://ok.org/page/' || doc_id END AS url
        FROM documents)
      SELECT doc_id, url, (doc_id % 5) IN (0, 1, 2) AS blocked FROM u"""),

    // robots.txt politeness (round 11, RFC 9309): five synthetic
    // hosts (h4 has no robots row → allowed), four path classes, and
    // planted robots bodies that exercise every selection rung —
    // star-group fallback (h0), exact agent match beating a stricter
    // other-bot group (h1-h3, case-insensitive "GraftBot"),
    // longest-match allow-over-disallow (/private/ok vs /private),
    // and a $-anchored wildcard (/*.html$). The oracle replays the
    // verdicts from the same id arithmetic the bodies were planted
    // with.
    Gate("x_robots_filter", (s, d) => {
      import s.implicits._
      val cls = pmod(col("doc_id"), lit(4))
      val urls = docs(s, d).select(col("doc_id"),
        concat(lit("https://h"), pmod(col("doc_id"), lit(5)), lit(".example.com"),
          when(cls === 0, concat(lit("/pub/"), col("doc_id")))
            .when(cls === 1, concat(lit("/private/"), col("doc_id")))
            .when(cls === 2, concat(lit("/private/ok/"), col("doc_id")))
            .otherwise(concat(lit("/tmp/"), col("doc_id"), lit(".html")))).as("url"))
      val starBody = "# h0: star group only\nUser-agent: *\nDisallow: /tmp\n"
      val botBody = "User-agent: other-bot\nDisallow: /\n\n" +
        "User-Agent: GraftBot\nDisallow: /private\nAllow: /private/ok\nDisallow: /*.html$\n"
      val robots = (0 to 3).map(j => (s"h$j.example.com", if (j == 0) starBody else botBody))
        .toDF("host", "robots_txt")
      graft.ops.Robots.verdicts(urls, "url", robots, "host", "robots_txt", "graftbot")
        .select(col("doc_id"), col("url"), col("allowed"))
    },
      // robots verdicts re-derived from the planted id arithmetic:
      // h4 has no robots row (allowed); h0 is the star group
      // (Disallow /tmp → class 3 blocked); h1-h3 are the graftbot
      // group (class 1 blocked by /private, class 2 saved by the
      // longer /private/ok allow, class 3 blocked by /*.html$)
      """
      WITH u AS (
        SELECT doc_id, doc_id % 5 AS j, doc_id % 4 AS c,
               CASE doc_id % 4
                 WHEN 0 THEN '/pub/' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
                 ELSE '/tmp/' || CAST(doc_id AS VARCHAR) || '.html'
               END AS path
        FROM documents)
      SELECT doc_id,
             'https://h' || CAST(j AS VARCHAR) || '.example.com' || path AS url,
             CASE WHEN j = 4 THEN TRUE
                  WHEN j = 0 THEN c <> 3
                  ELSE c IN (0, 2) END AS allowed
      FROM u"""),

    // member-split WARC scan (round 11): the corpus packed into 8
    // real .warc.gz files on disk, indexed by the streaming member
    // walk with a 4 KiB coalescing target (forcing many ranges per
    // file), then re-read as ranged-fan-out tasks through the
    // from-spec CRC-verified decode — every response record's uri,
    // id, status, length, and body digest must replay from corpus
    // columns exactly as the whole-file scan's do. The boundary
    // index vs whole-file equivalence and the quarantine contract
    // are pinned in WarcSpec.
    Gate("x_warc_split", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-warcsplit").toFile
      val base = dir.getAbsolutePath
      sharedFixture("warc8", s, d)(
        Warc.packDocsWarcGz(t(s, d, "documents"), "doc_id", "source", "text", nFiles = 8))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val out = new java.io.FileOutputStream(
              new java.io.File(base, f"part-${r.getLong(0)}%05d.warc.gz"))
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
      val paths = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz").load(base).select(col("path"))
      graft.ops.Warc.splitRecords(paths, "path", targetBytes = 4096)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("record_id"), col("http_status").cast("long").as("status"),
          col("content_length"), md5(col("body")).as("digest"))
    },
      // member-split scan: same response-record derivation as
      // x_warc_records (page → http message → record), minus the
      // file-relative rec_index (restarts per range by design)
      """
      WITH page AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
            coalesce(source, '') || '</p><div>' || coalesce(text, '') || '</div></body></html>' AS page
        FROM documents),
      http AS (
        SELECT doc_id,
          'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
          'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
          'Content-Length: ' || octet_length(encode(page)) || chr(13) || chr(10) || chr(13) || chr(10) ||
          page AS http
        FROM page)
      SELECT doc_id,
        '<urn:uuid:' || substr(md5('doc-' || doc_id), 1, 8) || '-' ||
          substr(md5('doc-' || doc_id), 9, 4) || '-' ||
          substr(md5('doc-' || doc_id), 13, 4) || '-' ||
          substr(md5('doc-' || doc_id), 17, 4) || '-' ||
          substr(md5('doc-' || doc_id), 21, 12) || '>' AS record_id,
        CAST(200 AS BIGINT) AS status,
        CAST(octet_length(encode(http)) AS BIGINT) AS content_length,
        md5(http) AS digest
      FROM http"""),

    // CDX index generation (round 11): the corpus packed into 8 real
    // shards, indexed per-member — urlkey (SURT), timestamp, url,
    // media type, status, payload digest, and the shard bucket all
    // replay from corpus columns (offset/length are compression-
    // dependent, so their self-containedness contract is pinned in
    // CdxSpec by decoding every indexed extent instead).
    Gate("x_cdx_index", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-cdx").toFile
      val base = dir.getAbsolutePath
      sharedFixture("warc8", s, d)(
        Warc.packDocsWarcGz(t(s, d, "documents"), "doc_id", "source", "text", nFiles = 8))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val out = new java.io.FileOutputStream(
              new java.io.File(base, f"part-${r.getLong(0)}%05d.warc.gz"))
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
      val paths = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz").load(base).select(col("path"))
      graft.ops.Cdx.index(paths, "path")
        .where(col("status") === 200)
        .select(col("urlkey"), col("timestamp").as("ts"), col("url"), col("mime"),
          col("status").cast("long").as("status"), col("digest"),
          regexp_extract(col("filename"), "part-(\\d+)", 1).cast("long").as("file_id"))
    },
      // cdx index: urlkey/timestamp/url/mime/status/payload-digest/
      // shard bucket all re-derived from corpus columns
      """
      SELECT 'com,example)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
             '20260101000000' AS ts,
             'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
             'text/html' AS mime,
             CAST(200 AS BIGINT) AS status,
             md5('<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
                 coalesce(source, '') || '</p><div>' || coalesce(text, '') ||
                 '</div></body></html>') AS digest,
             doc_id % 8 AS file_id
      FROM documents"""),

    // link-graph PageRank (round 11): a planted 29-node host graph
    // (13 source hosts → 29 targets, 16 dangling — the correction
    // path is load-bearing, not decorative), 5 power iterations with
    // damping 0.85; the oracle replays the identical iteration as
    // unrolled CTEs, so every rank matches to the 6-dp rounding
    // grain. Mass conservation and the closed-form two-node case are
    // pinned in PageRankSpec.
    Gate("x_pagerank", (s, d) => {
      val edges = docs(s, d).where(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(concat(lit("h"), pmod(col("doc_id"), lit(13))).as("src"),
          concat(lit("h"), pmod(col("doc_id") * 7 + 3, lit(29))).as("dst"))
      graft.ops.PageRank.ranks(edges, "src", "dst", iters = pagerankIterations)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    },
      // link-graph PageRank: 5 unrolled power iterations (generated)
      pagerankOracleSql(pagerankIterations)),

    // sitemaps.org parse (round 11): even ids get a urlset planting
    // the protocol's whole field surface — an entity-encoded loc, a
    // CDATA loc, lastmod/changefreq/priority (one entry with an
    // INVALID changefreq and out-of-range priority that must null —
    // the protocol says consumers ignore invalid values), and an
    // out-of-scope loc exercising the location rule; odd ids get a
    // sitemapindex (the recursion seam) with one in- and one
    // out-of-scope child. Every field replays from doc_id
    // arithmetic; XML well-formedness refusal and the namespace /
    // DOCTYPE / comment layers are pinned in XmlSpec/SitemapSpec.
    Gate("x_sitemap_parse", (s, d) => {
      val id = col("doc_id")
      val freq = element_at(
        array(lit("always"), lit("hourly"), lit("daily"), lit("weekly"),
          lit("monthly"), lit("yearly"), lit("never")),
        (pmod(id, lit(7)) + 1).cast("int"))
      val urlset = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        lit("<url><loc>https://example.com/s/"), id, lit("/a?x=1&amp;y=2</loc>"),
        lit("<lastmod>2026-01-0"), pmod(id, lit(9)) + 1, lit("</lastmod>"),
        lit("<changefreq>"), freq, lit("</changefreq>"),
        lit("<priority>0."), pmod(id, lit(9)) + 1, lit("</priority></url>"),
        lit("<url><loc><![CDATA[https://example.com/s/"), id, lit("/c]]></loc>"),
        lit("<changefreq>sometimes</changefreq><priority>5</priority></url>"),
        lit("<url><loc>https://other.org/x/"), id, lit("</loc></url>"),
        lit("</urlset>"))
      val index = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        lit("<sitemap><loc>https://example.com/s/"), id, lit("/part1.xml</loc>"),
        lit("<lastmod>2026-02-11</lastmod></sitemap>"),
        lit("<sitemap><loc>https://example.com/t/"), id, lit("/part2.xml</loc></sitemap>"),
        lit("</sitemapindex>"))
      val xml = when(pmod(id, lit(2)) === 0, urlset).otherwise(index)
      val url = concat(lit("https://example.com/s/"), id, lit("/sitemap.xml"))
      graft.ops.Sitemap.extract(
        docs(s, d).select(id, url.as("url"), xml.as("xml")),
        "doc_id", "url", "xml")
    },
      // sitemap parse: urlset/sitemapindex field surface + location
      // rule replayed from doc_id arithmetic (invalid changefreq /
      // out-of-range priority null)
      """
      WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS us,
                        (doc_id % 9) + 1 AS n, doc_id % 7 AS f
                 FROM documents)
      SELECT doc_id AS id, CAST(seq AS INTEGER) AS seq, kind, loc, lastmod,
             changefreq, priority, in_scope FROM (
        SELECT doc_id, 0 AS seq, 'url' AS kind,
               'https://example.com/s/' || doc_id || '/a?x=1&y=2' AS loc,
               '2026-01-0' || n AS lastmod,
               CASE f WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
                      WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly'
                      WHEN 4 THEN 'monthly' WHEN 5 THEN 'yearly'
                      ELSE 'never' END AS changefreq,
               CAST('0.' || n AS DOUBLE) AS priority, true AS in_scope
        FROM d WHERE us
        UNION ALL
        SELECT doc_id, 1, 'url', 'https://example.com/s/' || doc_id || '/c',
               NULL, NULL, NULL, true FROM d WHERE us
        UNION ALL
        SELECT doc_id, 2, 'url', 'https://other.org/x/' || doc_id,
               NULL, NULL, NULL, false FROM d WHERE us
        UNION ALL
        SELECT doc_id, 0, 'sitemap',
               'https://example.com/s/' || doc_id || '/part1.xml',
               '2026-02-11', NULL, NULL, true FROM d WHERE NOT us
        UNION ALL
        SELECT doc_id, 1, 'sitemap',
               'https://example.com/t/' || doc_id || '/part2.xml',
               NULL, NULL, NULL, false FROM d WHERE NOT us)"""),

    // robots.txt Sitemap directives (round 11): planted bodies mix
    // user-agent groups, rule lines, a fully-commented Sitemap line
    // that must NOT surface, a mixed-case SITEMAP key with trailing
    // whitespace, and group-interleaved placement — extraction is
    // group-independent per the protocol and every (doc, seq, url)
    // replays from doc_id arithmetic.
    Gate("x_robots_sitemaps", (s, d) => {
      val id = col("doc_id")
      val body = concat(
        lit("# planted robots\nUser-agent: *\nDisallow: /private\n"),
        lit("Sitemap: https://h"), pmod(id, lit(5)), lit(".example.com/sitemap"), id, lit(".xml\n"),
        lit("User-agent: specialbot\nAllow: /\n"),
        when(pmod(id, lit(3)) === 0,
          concat(lit("SITEMAP: https://h"), pmod(id, lit(5)),
            lit(".example.com/extra"), id, lit(".xml   \n")))
          .otherwise(lit("")),
        lit("# Sitemap: https://commented.example.com/never.xml\n"))
      graft.ops.Robots.sitemapUrls(
        docs(s, d).select(id.cast("string").as("host"), body.as("robots_txt")),
        "host", "robots_txt")
        .select(col("host").cast("long").as("doc_id"), col("seq"), col("sitemap_url"))
    },
      // robots sitemap directives: one or two per doc by id%3, the
      // commented one never
      """
      SELECT doc_id, CAST(seq AS INTEGER) AS seq, sitemap_url FROM (
        SELECT doc_id, 0 AS seq,
               'https://h' || (doc_id % 5) || '.example.com/sitemap' || doc_id || '.xml' AS sitemap_url
        FROM documents
        UNION ALL
        SELECT doc_id, 1,
               'https://h' || (doc_id % 5) || '.example.com/extra' || doc_id || '.xml'
        FROM documents WHERE doc_id % 3 = 0)"""),

    // Public-suffix registrable domain (round 11; IDN round 13): ten
    // host classes against a planted rule set exercising every
    // selection rung of the published algorithm — plain TLD,
    // multi-label suffix (co.uk beats uk by label count),
    // host-equals-suffix (null), wildcard *.ck, the !www.ck exception
    // at both depths, the default rule for an unknown TLD, and two
    // IDN classes: a unicode label (bücher → the well-known
    // xn--bcher-kva, RFC 3492's classic example; constant, so the
    // oracle replays it as a literal) with mixed case to cover the
    // fold, and an already-ACE host passing through. Every verdict
    // replays from doc_id arithmetic; the punycode algorithm itself
    // is pinned in IdnaSpec against the RFC vectors and java.net.IDN.
    Gate("x_registrable_domain", (s, d) => {
      val rules = graft.ops.Psl.parse(Seq(
        "// planted suffix list", "com", "uk", "co.uk", "*.ck", "!www.ck",
        "jp", "ac.jp"))
      val id = col("doc_id")
      val host = when(pmod(id, lit(10)) === 0, concat(lit("ex"), id, lit(".com")))
        .when(pmod(id, lit(10)) === 1, concat(lit("www.ex"), id, lit(".com")))
        .when(pmod(id, lit(10)) === 2, concat(lit("deep.sub.ex"), id, lit(".co.uk")))
        .when(pmod(id, lit(10)) === 3, lit("co.uk"))
        .when(pmod(id, lit(10)) === 4, concat(lit("x"), id, lit(".b.ck")))
        .when(pmod(id, lit(10)) === 5, lit("www.ck"))
        .when(pmod(id, lit(10)) === 6, concat(lit("a"), id, lit(".www.ck")))
        .when(pmod(id, lit(10)) === 7, concat(lit("sub"), id, lit(".BÜcher.com")))
        .when(pmod(id, lit(10)) === 8, concat(lit("a"), id, lit(".xn--bcher-kva.com")))
        .otherwise(concat(lit("page"), id, lit(".zz")))
      docs(s, d).select(id, host.as("host"),
        graft.ops.Psl.registrableDomainCol(host, rules).as("reg_domain"))
    },
      // registrable domain: all eight selection-rung classes replayed
      // from doc_id arithmetic
      """
      SELECT doc_id, host,
             CASE doc_id % 10
               WHEN 0 THEN 'ex' || doc_id || '.com'
               WHEN 1 THEN 'ex' || doc_id || '.com'
               WHEN 2 THEN 'ex' || doc_id || '.co.uk'
               WHEN 3 THEN NULL
               WHEN 4 THEN 'x' || doc_id || '.b.ck'
               WHEN 5 THEN 'www.ck'
               WHEN 6 THEN 'www.ck'
               WHEN 7 THEN 'xn--bcher-kva.com'
               WHEN 8 THEN 'xn--bcher-kva.com'
               ELSE 'page' || doc_id || '.zz' END AS reg_domain
      FROM (SELECT doc_id,
              CASE doc_id % 10
                WHEN 0 THEN 'ex' || doc_id || '.com'
                WHEN 1 THEN 'www.ex' || doc_id || '.com'
                WHEN 2 THEN 'deep.sub.ex' || doc_id || '.co.uk'
                WHEN 3 THEN 'co.uk'
                WHEN 4 THEN 'x' || doc_id || '.b.ck'
                WHEN 5 THEN 'www.ck'
                WHEN 6 THEN 'a' || doc_id || '.www.ck'
                WHEN 7 THEN 'sub' || doc_id || '.BÜcher.com'
                WHEN 8 THEN 'a' || doc_id || '.xn--bcher-kva.com'
                ELSE 'page' || doc_id || '.zz' END AS host
            FROM documents)"""),

    // RSS/Atom feed parse (round 11): even ids get an RSS 2.0
    // channel planting the guid conventions (isPermaLink=false guid
    // beside an explicit link; a permalink guid standing in as the
    // link; an identity-less item that must be skipped), odd ids an
    // Atom feed planting the §4.2.7.2 link-rel rule (alternate
    // preferred over self, rel-less counts as alternate), published
    // preferred over updated with the updated fallback, and
    // whitespace-collapsed summaries. Every field replays from
    // doc_id arithmetic.
    Gate("x_feed_parse", (s, d) => {
      val id = col("doc_id")
      val rss = concat(
        lit("<rss version=\"2.0\"><channel><title>C</title>"),
        lit("<item><title>Post "), id, lit("</title>"),
        lit("<link>https://example.com/p/"), id, lit("</link>"),
        lit("<guid isPermaLink=\"false\">id-"), id, lit("</guid>"),
        lit("<pubDate>Thu, 01 Jan 2026 10:0"), pmod(id, lit(6)), lit(":00 GMT</pubDate>"),
        lit("<description>From shard "), pmod(id, lit(7)), lit("</description></item>"),
        lit("<item><guid>https://example.com/g/"), id, lit("</guid></item>"),
        lit("<item><title>no identity</title></item>"),
        lit("</channel></rss>"))
      val atom = concat(
        lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>F</title>"),
        lit("<entry><title>Entry "), id, lit("</title>"),
        lit("<link rel=\"self\" href=\"https://example.com/self/"), id, lit("\"/>"),
        lit("<link rel=\"alternate\" href=\"https://example.com/a/"), id, lit("\"/>"),
        lit("<id>tag:example.com,2026:"), id, lit("</id>"),
        lit("<published>2026-03-0"), pmod(id, lit(9)) + 1, lit("T00:00:00Z</published>"),
        lit("<updated>2026-04-01T00:00:00Z</updated>"),
        lit("<summary> spaced   summary "), id, lit(" </summary></entry>"),
        lit("<entry><title>E2</title><link href=\"https://example.com/b/"), id, lit("\"/>"),
        lit("<updated>2026-05-01T00:00:00Z</updated><id>t2:"), id, lit("</id></entry>"),
        lit("</feed>"))
      val xml = when(pmod(id, lit(2)) === 0, rss).otherwise(atom)
      graft.ops.Feed.extract(
        docs(s, d).select(id, xml.as("xml")), "doc_id", "xml")
    },
      """
      WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS rss FROM documents)
      SELECT doc_id AS id, CAST(seq AS INTEGER) AS seq, format, title, link,
             entry_id, published, summary FROM (
        SELECT doc_id, 0 AS seq, 'rss' AS format,
               'Post ' || doc_id AS title,
               'https://example.com/p/' || doc_id AS link,
               'id-' || doc_id AS entry_id,
               'Thu, 01 Jan 2026 10:0' || (doc_id % 6) || ':00 GMT' AS published,
               'From shard ' || (doc_id % 7) AS summary
        FROM d WHERE rss
        UNION ALL
        SELECT doc_id, 1, 'rss', NULL,
               'https://example.com/g/' || doc_id,
               'https://example.com/g/' || doc_id, NULL, NULL
        FROM d WHERE rss
        UNION ALL
        SELECT doc_id, 0, 'atom', 'Entry ' || doc_id,
               'https://example.com/a/' || doc_id,
               'tag:example.com,2026:' || doc_id,
               '2026-03-0' || ((doc_id % 9) + 1) || 'T00:00:00Z',
               'spaced summary ' || doc_id
        FROM d WHERE NOT rss
        UNION ALL
        SELECT doc_id, 1, 'atom', 'E2',
               'https://example.com/b/' || doc_id, 't2:' || doc_id,
               '2026-05-01T00:00:00Z', NULL
        FROM d WHERE NOT rss)"""),

    // HTML link extraction + RFC 3986 resolution (round 11): every
    // planted page carries the six resolution classes a real crawl
    // hits — path-absolute, dot-segment relative, bare relative
    // (href unquoted), query-only, absolute-with-fragment,
    // protocol-relative — plus a javascript: link that must drop;
    // odd ids add a <base href> element so BOTH the with-base and
    // without-base resolution paths are load-bearing. Anchor text
    // passes through inner-tag strip + entity decode. The oracle
    // replays every resolved URL, anchor, and document-order seq
    // from doc_id arithmetic; the §5.4 normal/abnormal vectors are
    // pinned verbatim in LinksSpec.
    Gate("x_html_links", (s, d) => {
      val id = col("doc_id")
      val page = concat(
        lit("<html><head><title>d</title>"),
        when(pmod(id, lit(2)) === 1,
          lit("<base target=\"_top\" href=\"https://based.org/z/\">"))
          .otherwise(lit("")),
        lit("</head><body><a href=\"/doc/"), id, lit("\">root "), id,
        lit("</a> <a href='../rel/"), id, lit("'>up</a>"),
        lit("<a class=\"x\" href=g><b>bold</b> g</a>"),
        lit("<a href=\"?q="), id, lit("&amp;v=2\">q</a>"),
        lit("<a href=\"https://other.org/p/"), id, lit("#frag\">abs</a>"),
        lit("<a rel=\"external NOFOLLOW\" href=\"//cdn.net/x/"), id, lit("\">cdn</a>"),
        lit("<a href=\"javascript:alert(1)\">js</a></body></html>"))
      val url = concat(lit("https://example.com/a/b/c"), id)
      graft.ops.Links.extract(
        docs(s, d).select(id, url.as("url"), page.as("html")),
        "doc_id", "url", "html")
    },
      // html link extraction: all six resolution classes + base-element
      // rebase replayed from doc_id arithmetic
      """
      WITH d AS (SELECT doc_id, doc_id % 2 = 1 AS hb FROM documents)
      SELECT doc_id AS id, link, anchor, CAST(seq AS INTEGER) AS seq,
             seq = 5 AS nofollow FROM (
        SELECT doc_id,
               CASE WHEN hb THEN 'https://based.org/doc/'
                    ELSE 'https://example.com/doc/' END || doc_id AS link,
               'root ' || doc_id AS anchor, 0 AS seq FROM d
        UNION ALL
        SELECT doc_id,
               CASE WHEN hb THEN 'https://based.org/rel/'
                    ELSE 'https://example.com/a/rel/' END || doc_id,
               'up', 1 FROM d
        UNION ALL
        SELECT doc_id,
               CASE WHEN hb THEN 'https://based.org/z/g'
                    ELSE 'https://example.com/a/b/g' END,
               'bold g', 2 FROM d
        UNION ALL
        SELECT doc_id,
               CASE WHEN hb THEN 'https://based.org/z/?q=' || doc_id || '&v=2'
                    ELSE 'https://example.com/a/b/c' || doc_id ||
                         '?q=' || doc_id || '&v=2' END,
               'q', 3 FROM d
        UNION ALL
        SELECT doc_id, 'https://other.org/p/' || doc_id, 'abs', 4 FROM d
        UNION ALL
        SELECT doc_id, 'https://cdn.net/x/' || doc_id, 'cdn', 5 FROM d)"""),

    // Per-domain cap: 7 synthetic hosts derived from doc_id, cap 20
    // docs per host, earliest-id priority — host extraction AND the
    // bounded-heap cap both replayed by a windowed oracle. (The
    // implementation itself has no Window node; the oracle may.)
    Gate("x_domain_cap", (s, d) => {
      val urls = docs(s, d).select(col("doc_id"),
        concat(lit("https://h"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/p/"), col("doc_id")).as("url"))
      graft.ops.DomainCap.capPerHost(urls, "url", "doc_id", 20)
        .select(col("id").as("doc_id"), col("host"), col("kept"))
    },
      // domain cap re-derived: same host arithmetic, row_number ≤ k
      """
      WITH u AS (
        SELECT doc_id, 'h' || (doc_id % 7) || '.example.com' AS host
        FROM documents)
      SELECT doc_id, host,
             (row_number() OVER (PARTITION BY host ORDER BY doc_id)) <= 20 AS kept
      FROM u"""),

    // Mojibake repair: the corpus text plus a non-ASCII suffix is
    // put through the bad decode hop (UTF-8 bytes read as sloppy
    // cp1252 — planted Spark-side by the kernel's own inverse) once
    // and twice, and the repair must recover the clean string
    // exactly in both cases while leaving already-clean text
    // untouched. The oracle only needs the invariant: fixed text ==
    // the clean concatenation it can derive itself.
    Gate("x_text_fix_mojibake", (s, d) => {
      import s.implicits._
      val base = docs(s, d)
        .select(col("doc_id").cast("long"),
          concat(coalesce(col("text"), lit("")), lit(" café — naïve 中文 🙂")).as("clean"))
        .as[(Long, String)]
        .map { case (id, clean) =>
          val g = graft.expr.MojibakeKernel.garble(clean)
          (id, clean, g, graft.expr.MojibakeKernel.garble(g))
        }
        .toDF("doc_id", "clean", "garbled", "double_garbled")
      base.select(col("doc_id"),
        TextAnalysis.fixEncoding(col("garbled")).as("fixed"),
        (TextAnalysis.fixEncoding(col("garbled")) =!= col("garbled")).as("changed"),
        (TextAnalysis.fixEncoding(col("clean")) === col("clean")).as("stable"),
        (TextAnalysis.fixEncoding(col("double_garbled")) === col("clean")).as("double_ok"))
    },
      // mojibake contract: repair of the planted bad-decode hop (and
      // the double hop) recovers the clean concatenation the oracle
      // derives directly; clean text is a fixpoint
      """
      SELECT doc_id, coalesce(text, '') || ' café — naïve 中文 🙂' AS fixed,
             true AS changed, true AS stable, true AS double_ok
      FROM documents"""),

    // Unicode NFC (round 12): a planted denormalized prefix (combining
    // marks + the Angstrom sign, cycling by doc_id%4) prepends the
    // corpus text, and OUR NFC (JDK Normalizer tables) must agree
    // byte-for-byte with DuckDB's independent utf8proc NFC on the
    // whole string — a true cross-engine Unicode-table pin, the same
    // two-implementations discipline as the codec rung.
    Gate("x_text_nfc", (s, d) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val planted = when(m4 === 0, lit("Café "))
        .when(m4 === 1, lit("Århus "))
        .when(m4 === 2, lit("Ångström "))
        .otherwise(lit("À la carte "))
      docs(s, d).select(col("doc_id"),
        TextAnalysis.normalizeUnicode(
          concat(planted, coalesce(col("text"), lit(""))), "NFC").as("text"))
    },
      // nfc contract: the ORACLE normalizes too (DuckDB's independent
      // utf8proc NFC) — the planted prefix is stated denormalized via
      // chr() codepoints (combining marks 769/778/776/768, Angstrom
      // sign 8491), so both Unicode table builds must agree on every
      // composition
      """
      SELECT doc_id, nfc_normalize(
        CASE doc_id % 4
          WHEN 0 THEN 'Cafe' || chr(769) || ' '
          WHEN 1 THEN 'A' || chr(778) || 'rhus '
          WHEN 2 THEN chr(8491) || 'ngstro' || chr(776) || 'm '
          ELSE 'A' || chr(768) || ' la carte '
        END || coalesce(text, '')) AS text
      FROM documents"""),

    // Unicode NFKC (round 12): DuckDB has no NFKC, so the gate runs
    // planted-only compatibility cases (ligature, circled digit,
    // fullwidth letters, superscript, vulgar fraction, unit/numero
    // signs) whose folds the oracle states as literals — the
    // corpus-text flow is covered by x_text_nfc above.
    Gate("x_text_nfkc", (s, d) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val planted = when(m4 === 0, lit("ﬁle ①"))
        .when(m4 === 1, lit("Ｆｕｌｌ"))
        .when(m4 === 2, lit("x² ½"))
        .otherwise(lit("㎞ and №"))
      docs(s, d).select(col("doc_id"),
        TextAnalysis.normalizeUnicode(planted, "NFKC").as("text"))
    },
      // nfkc contract: DuckDB has no NFKC, so the oracle states the
      // compatibility folds as literals (1/2 composes with FRACTION
      // SLASH U+2044)
      """
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'file 1'
          WHEN 1 THEN 'Full'
          WHEN 2 THEN 'x2 1' || chr(8260) || '2'
          ELSE 'km and No'
        END AS text
      FROM documents"""),

    // Gopher-rule repetition signals (scan-local struct): this corpus
    // has no newlines so the line fractions are structurally zero —
    // the signal the gate actually exercises is symbol_word_ratio;
    // TransformsSpec pins the line fractions on a multi-line fixture.
    Gate("x_text_repetition", (s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.repetitionStruct(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_lines").as("n_lines"),
          round(col("r.dup_line_frac"), 6).as("dup_line_frac"),
          round(col("r.dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("r.symbol_word_ratio"), 6).as("symbol_word_ratio")),
      """
      WITH base AS (
        SELECT doc_id, text,
               list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                           l -> l <> '') AS ls,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        FROM documents)
      SELECT doc_id,
             CAST(len(ls) AS BIGINT) AS n_lines,
             round(CASE WHEN len(ls) > 0
               THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
               ELSE 0 END, 6) AS dup_line_frac,
             round(CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) > 0
               THEN CAST(coalesce(list_sum(list_transform(list_distinct(ls),
                      d -> (len(list_filter(ls, x -> x = d)) - 1) * length(d))), 0) AS DOUBLE)
                    / list_sum(list_transform(ls, l -> length(l)))
               ELSE 0 END, 6) AS dup_line_char_frac,
             round(CASE WHEN len(w) > 0
               THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / len(w)
               ELSE 0 END, 6) AS symbol_word_ratio
      FROM base"""),
    // top-2-gram dominance (the aggregation half of the Gopher rules)
    Gate("x_text_top2gram", (s, d) =>
      TextAnalysis.topNgramStats(docs(s, d), "doc_id", "text", n = 2)
        .withColumn("top_ngram_frac", round(col("top_ngram_frac"), 6)),
      """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        FROM documents),
      grams AS (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        FROM toks, unnest(range(1, greatest(len(w), 1))) AS u(i)),
      cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_ngrams,
             CAST(max(c) AS BIGINT) AS top_ngram_count,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_ngram_frac
      FROM cnt GROUP BY doc_id"""),
    // interpolated bigram (order-2) variant of the perplexity proxy —
    // the shape KenLM filters generalize; oracle re-derives both LM
    // tables and the interpolation
    Gate("x_text_bigram_ppx", (s, d) =>
      TextAnalysis.bigramNll(docs(s, d), "doc_id", "text")
        .withColumn("avg_nll", round(col("avg_nll"), 6)),
      """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        FROM documents),
      uni AS (
        SELECT u.w AS w, count(*) AS c FROM (SELECT unnest(w) AS w FROM toks) u GROUP BY u.w),
      tot AS (SELECT sum(c) AS s FROM uni),
      pairs AS (
        SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2
        FROM (SELECT doc_id, unnest(list_transform(range(2, len(w)+1),
               i -> {'w1': w[i-1], 'w2': w[i]})) AS p FROM toks)),
      big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
      firsts AS (SELECT doc_id, w[1] AS w2 FROM toks WHERE len(w) >= 1),
      first_s AS (
        SELECT f.doc_id, -ln(CAST(u.c AS DOUBLE) / t.s) AS nll
        FROM firsts f JOIN uni u ON f.w2 = u.w, tot t),
      pair_s AS (
        SELECT p.doc_id,
               -ln(0.7 * CAST(b.c2 AS DOUBLE) / u1.c + 0.3 * CAST(u2.c AS DOUBLE) / t.s) AS nll
        FROM pairs p
        JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        JOIN uni u1 ON p.w1 = u1.w
        JOIN uni u2 ON p.w2 = u2.w, tot t),
      allscores AS (SELECT * FROM first_s UNION ALL SELECT * FROM pair_s)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, round(avg(nll), 6) AS avg_nll
      FROM allscores GROUP BY doc_id"""),
    // closed-form NB classifier: the oracle rebuilds priors, the dense
    // smoothed |V|×C model, and every per-(doc, class) log-posterior
    Gate("x_text_nb_classify", (s, d) =>
      TextAnalysis.nbScores(docs(s, d), "doc_id", "lang", "text")
        .withColumn("log_post", round(col("log_post"), 6)),
      """
      WITH toks AS MATERIALIZED (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
        FROM documents),
      pri AS (SELECT lang AS cls, count(*) AS nd FROM documents GROUP BY lang),
      nd AS (SELECT sum(nd) AS n FROM pri),
      cnt AS (SELECT t, lang AS cls, count(*) AS c FROM toks GROUP BY t, lang),
      tc AS (SELECT cls, sum(c) AS s FROM cnt GROUP BY cls),
      v AS (SELECT count(DISTINCT t) AS v FROM toks),
      model AS (
        SELECT vt.t, p.cls, ln((coalesce(c.c, 0) + 1.0) / (tc.s + 1.0 * v.v)) AS lp
        FROM (SELECT DISTINCT t FROM toks) vt
        CROSS JOIN pri p
        LEFT JOIN cnt c ON c.t = vt.t AND c.cls = p.cls
        JOIN tc ON tc.cls = p.cls, v),
      s AS (
        SELECT toks.doc_id, m.cls, sum(m.lp) AS ll
        FROM toks JOIN model m ON toks.t = m.t
        GROUP BY toks.doc_id, m.cls)
      SELECT s.doc_id, s.cls AS class,
             round(s.ll + ln(CAST(p.nd AS DOUBLE) / nd.n), 6) AS log_post
      FROM s JOIN pri p ON s.cls = p.cls, nd"""),
    // fastText-style closed-form linear classifier (boolean accuracy
    // contract, the x_ann_ivf_recall shape): the synthetic corpus's
    // lang labels carry no text signal (token distributions track the
    // class priors), so the gate tests the honest learnable task —
    // recover a lexical decision boundary ("does the doc contain the
    // token 'stream'") from hashed n-gram features on a held-out
    // split. Majority baseline 0.78; the closed-form ridge fit scores
    // 0.956 — the bound 0.9 separates learning from prior-guessing.
    // Training reads only even doc_ids; the model must generalize to
    // the odd half. LinearClassifierSpec pins the exact solver math.
    Gate("x_text_linear_classify", (s, d) => {
      val labeled = docs(s, d).withColumn("__y",
        when(array_contains(TextAnalysis.tokens(col("text")), "stream"),
          "pos").otherwise("neg"))
      val m = graft.ops.LinearClassifier.fit(
        labeled.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "__y", "text", nBuckets = 512, lambda = 1e-4)
      val test = labeled.where(pmod(col("doc_id"), lit(2)) === 1)
      m.predict(test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("__y")), Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_scored"),
          (avg(when(col("predicted") === col("__y"), 1.0).otherwise(0.0))
            >= 0.9).as("holdout_acc_ge_090"))
    },
      // linear-classifier accuracy contract: the oracle asserts the
      // contract and the exact holdout population (odd doc_ids with >= 1
      // token); the engine measures the accuracy.
      """
      SELECT CAST(count(*) AS BIGINT) AS n_scored, true AS holdout_acc_ge_090
      FROM documents
      WHERE doc_id % 2 = 1
        AND len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) > 0"""),
    // TRAINED multi-class language ID (verdict r10 #4): the corpus
    // text is English-shaped, so the gate PLANTS a six-language
    // labeled corpus (en/fr/de/es/ru/zh — two phrases per doc drawn
    // from per-language banks by different doc_id strides, so holdout
    // pairs differ from training pairs), fits the closed-form
    // classifier on char-n-gram + script features over the EVEN ids,
    // and scores the ODD half. Boolean accuracy contract (the
    // x_text_linear_classify shape): the oracle asserts the holdout
    // population; the engine measures accuracy >= 0.95 on it.
    // Non-Latin classes (ru, zh) are exactly what the word-gram
    // feature space cannot see — LangIdSpec pins that contrast.
    Gate("x_text_langid", (s, d) => {
      val langs = langIdLangs
      val bankLit = typedLit(langs.map(langIdBanks))
      val bank = element_at(bankLit, (pmod((col("doc_id") / lit(2)).cast("long"), lit(6)) + 1).cast("int"))
      val p1 = element_at(bank,
        (pmod((col("doc_id") / lit(6)).cast("long"), lit(8)) + 1).cast("int"))
      val p2 = element_at(bank,
        (pmod((col("doc_id") / lit(17)).cast("long") + 3, lit(8)) + 1).cast("int"))
      val labeled = docs(s, d).select(col("doc_id"),
        element_at(typedLit(langs), (pmod((col("doc_id") / lit(2)).cast("long"), lit(6)) + 1).cast("int")).as("__lang"),
        concat_ws(" ", p1, p2).as("__t"))
      val m = TextAnalysis.langIdFit(
        labeled.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "__lang", "__t", nBuckets = 2048, lambda = 1e-4)
      val test = labeled.where(pmod(col("doc_id"), lit(2)) === 1)
      m.predict(test, "doc_id", "__t")
        .join(test.select(col("doc_id"), col("__lang")), Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_scored"),
          (avg(when(col("predicted") === col("__lang"), 1.0).otherwise(0.0))
            >= 0.95).as("holdout_acc_ge_095"))
    },
      // trained langid accuracy contract: planted per-language text is
      // never empty, so the holdout population is exactly the odd ids; the
      // engine measures the accuracy, the oracle asserts the bound holds.
      """
      SELECT CAST(count(*) AS BIGINT) AS n_scored, true AS holdout_acc_ge_095
      FROM documents
      WHERE doc_id % 2 = 1"""),
    // order-3 rung: BOS-padded uniform scoring positions, one formula
    // for every token — the oracle rebuilds all four count tables and
    // replays the interpolation exactly
    Gate("x_text_trigram_ppx", (s, d) =>
      TextAnalysis.trigramNll(docs(s, d), "doc_id", "text")
        .withColumn("avg_nll", round(col("avg_nll"), 6)),
      """
      WITH toks AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        FROM documents),
      uni AS (
        SELECT u.w AS w, count(*) AS c FROM (SELECT unnest(w) AS w FROM toks) u GROUP BY u.w),
      tot AS (SELECT sum(c) AS s FROM uni),
      pad AS (
        SELECT doc_id, len(w) AS n, list_concat(['<s>', '<s>'], w) AS p
        FROM toks WHERE len(w) >= 1),
      -- MATERIALIZED is load-bearing: six references; inlined, DuckDB
      -- re-expands the unnest per reference and the plan blows up
      tri AS MATERIALIZED (
        SELECT doc_id, t['a'] AS a, t['b'] AS b, t['w'] AS w
        FROM (SELECT doc_id, unnest(list_transform(range(n),
               i -> {'a': p[CAST(i+1 AS INTEGER)], 'b': p[CAST(i+2 AS INTEGER)],
                     'w': p[CAST(i+3 AS INTEGER)]})) AS t FROM pad)),
      c3 AS (SELECT a, b, w, count(*) AS c FROM tri GROUP BY a, b, w),
      cc2 AS (SELECT a, b, count(*) AS c FROM tri GROUP BY a, b),
      c2 AS (SELECT b, w, count(*) AS c FROM tri GROUP BY b, w),
      cc1 AS (SELECT b, count(*) AS c FROM tri GROUP BY b),
      s AS (
        SELECT tri.doc_id,
               -ln(0.5 * CAST(c3.c AS DOUBLE) / cc2.c
                 + 0.3 * CAST(c2.c AS DOUBLE) / cc1.c
                 + 0.2 * CAST(uni.c AS DOUBLE) / tot.s) AS nll
        FROM tri
        JOIN c3 ON tri.a = c3.a AND tri.b = c3.b AND tri.w = c3.w
        JOIN cc2 ON tri.a = cc2.a AND tri.b = cc2.b
        JOIN c2 ON tri.b = c2.b AND tri.w = c2.w
        JOIN cc1 ON tri.b = cc1.b
        JOIN uni ON tri.w = uni.w, tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, round(avg(nll), 6) AS avg_nll
      FROM s GROUP BY doc_id"""),
    // CCNet-style perplexity proxy: unigram LM fit on the corpus, every
    // document scored by mean negative log-likelihood under it
    Gate("x_text_unigram_ppx", (s, d) => {
      val ds = docs(s, d)
      val lm = TextAnalysis.unigramLogProbs(ds, "text")
      TextAnalysis.unigramNll(ds, "doc_id", "text", lm)
        .withColumn("avg_nll", round(col("avg_nll"), 6))
    },
      """
      WITH tk AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
        FROM documents),
      cnt AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
      tot AS (SELECT sum(c) AS s FROM cnt),
      lm AS (SELECT w, ln(CAST(c AS DOUBLE) / s) AS lp FROM cnt, tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-avg(lp), 6) AS avg_nll
      FROM tk JOIN lm USING (w) GROUP BY doc_id"""),

    // WARC ingest chain (ISO 28500): documents sharded into 32
    // warc.gz files — one gzip member per record, warcinfo first, the
    // Common Crawl layout — then parsed back through the from-spec
    // gzip decoder and the WARC/HTTP framing walk. The oracle
    // re-derives every header and body from the corpus columns alone:
    // record ids (deterministic urn:uuid), Content-Lengths (which
    // embed the page's byte length twice — once in HTTP, once in
    // WARC), HTTP status, and an md5 over the full record body. One
    // framing slip anywhere (member boundary, CRLF discipline,
    // Content-Length arithmetic) hash-mismatches.
    Gate("x_warc_records", (s, d) => {
      val packed = sharedFixture("warc", s, d)(
        Warc.packDocsWarcGz(t(s, d, "documents"), "doc_id", "source", "text"))
      Warc.records(packed, "file_id", "payload")
        .select(col("file_id"), col("warc_type"),
          when(col("warc_type") === "response",
            regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long")).as("doc_id"),
          col("record_id"), col("http_status").cast("long").as("status"),
          col("content_length"), md5(col("body")).as("digest"))
    },
      // the WARC writer's record layout re-derived from corpus columns:
      // page → HTTP message → WARC body, ids as md5-derived urn:uuids,
      // plus one warcinfo row per occupied file bucket
      """
      WITH page AS (
        SELECT doc_id, doc_id % 32 AS file_id,
          '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
            coalesce(source, '') || '</p><div>' || coalesce(text, '') || '</div></body></html>' AS page
        FROM documents),
      http AS (
        SELECT doc_id, file_id,
          'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
          'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
          'Content-Length: ' || octet_length(encode(page)) || chr(13) || chr(10) || chr(13) || chr(10) ||
          page AS http
        FROM page),
      resp AS (
        SELECT file_id, 'response' AS warc_type, doc_id,
          '<urn:uuid:' || substr(md5('doc-' || doc_id), 1, 8) || '-' ||
            substr(md5('doc-' || doc_id), 9, 4) || '-' ||
            substr(md5('doc-' || doc_id), 13, 4) || '-' ||
            substr(md5('doc-' || doc_id), 17, 4) || '-' ||
            substr(md5('doc-' || doc_id), 21, 12) || '>' AS record_id,
          CAST(200 AS BIGINT) AS status,
          CAST(octet_length(encode(http)) AS BIGINT) AS content_length,
          md5(http) AS digest
        FROM http),
      info AS (
        SELECT DISTINCT doc_id % 32 AS file_id, 'warcinfo' AS warc_type,
          CAST(NULL AS BIGINT) AS doc_id,
          '<urn:uuid:' || substr(md5('warcinfo-' || (doc_id % 32)), 1, 8) || '-' ||
            substr(md5('warcinfo-' || (doc_id % 32)), 9, 4) || '-' ||
            substr(md5('warcinfo-' || (doc_id % 32)), 13, 4) || '-' ||
            substr(md5('warcinfo-' || (doc_id % 32)), 17, 4) || '-' ||
            substr(md5('warcinfo-' || (doc_id % 32)), 21, 12) || '>' AS record_id,
          CAST(NULL AS BIGINT) AS status,
          CAST(octet_length(encode('software: graft' || chr(13) || chr(10) ||
            'format: WARC File Format 1.1' || chr(13) || chr(10))) AS BIGINT) AS content_length,
          md5('software: graft' || chr(13) || chr(10) ||
            'format: WARC File Format 1.1' || chr(13) || chr(10)) AS digest
        FROM documents)
      SELECT * FROM resp UNION ALL SELECT * FROM info"""),

    // Boilerplate classification (round 12): a planted page with a
    // nav bar (pure anchor text — high link density), a heading and
    // a content paragraph (good), a paragraph with an inline link
    // (density under the bar — must survive), the corpus text as its
    // own block (class follows ITS word count, which the oracle
    // computes from the same rule), and a link-heavy footer; per
    // block, words + the floor(density·1e6) exact-IEEE serialization
    // + the verdict all replay.
    Gate("x_boilerplate", (s, d) => {
      val id = col("doc_id")
      val html = concat(
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"),
        lit("<h1>Document number "), id, lit(" overview</h1>"),
        lit("<p>Read the <a href=\"/s\">full spec</a> for doc "), id,
        lit(" here now</p><div>"), coalesce(col("text"), lit("")),
        lit("</div><footer><a>Terms</a> - <a>Privacy</a> (c) "), id, lit("</footer>"))
      graft.ops.Boilerplate.blocks(
        docs(s, d).select(id, col("text"), html.as("html")), "doc_id", "html")
        .select(col("id").as("doc_id"), col("block_idx"), col("n_words"),
          floor(col("link_density") * lit(1000000.0d)).cast("long").as("density_u"),
          col("good"))
    },
      // boilerplate contract: every block metric is arithmetic over
      // the plant (the corpus block's verdict follows its own word
      // count, computed by the same rule); density through the exact
      // floor(x·1e6) serialization
      """
      WITH d AS (
        SELECT doc_id,
               trim(regexp_replace(coalesce(text, ''), '[ \t\r\n]+', ' ', 'g')) AS ct,
               length(CAST(doc_id AS VARCHAR)) AS L
        FROM documents),
      w AS (SELECT doc_id, ct, L,
              CASE WHEN ct = '' THEN 0
                   ELSE len(list_filter(string_split(ct, ' '), x -> x <> '')) END AS tw
            FROM d)
      SELECT doc_id, 0 AS block_idx, 2 AS n_words, 900000 AS density_u, false AS good FROM w
      UNION ALL SELECT doc_id, 1, 4, 0, true FROM w
      UNION ALL SELECT doc_id, 2, 9,
        CAST(floor(9.0 / (36 + L) * 1000000) AS BIGINT), true FROM w
      UNION ALL SELECT doc_id, 3, CAST(tw AS INTEGER), 0, tw >= 4 FROM w WHERE ct <> ''
      UNION ALL SELECT doc_id, CASE WHEN ct = '' THEN 3 ELSE 4 END, 5,
        CAST(floor(12.0 / (20 + L) * 1000000) AS BIGINT), false FROM w"""),

    // HTML table extraction (round 12): real-crawl table markup —
    // a th header row with an entity, id%3+1 data rows whose
    // </td>/</tr> CLOSERS are omitted on odd ids (optional by the
    // HTML spec and widely omitted — the split-by-opening walk must
    // not care), page furniture around, and a second table on
    // id%4==0; every cell replays from id arithmetic.
    Gate("x_html_tables", (s, d) => {
      val id = col("doc_id")
      val k = (pmod(id, lit(3)) + 1).cast("int")
      val closed = pmod(id, lit(2)) === 0
      val dataRows = array_join(transform(sequence(lit(1), k), r =>
        when(closed, concat(lit("<tr><td>R"), r, lit("C0:"), id,
          lit("</td><td>R"), r, lit("C1:"), id, lit("</td></tr>")))
          .otherwise(concat(lit("<tr><td>R"), r, lit("C0:"), id,
            lit("<td>R"), r, lit("C1:"), id))), "\n")
      val html = concat(
        lit("<p>Intro "), id, lit("</p><table class=\"t\">"),
        lit("<tr><th>H0</th><th>H1 &amp; more</th></tr>"), dataRows,
        lit("</table><p>after</p>"),
        when(pmod(id, lit(4)) === 0,
          concat(lit("<table><tr><td>T2:"), id, lit("</td></tr></table>")))
          .otherwise(lit("")))
      graft.ops.Tables.extract(
        docs(s, d).select(id, html.as("html")), "doc_id", "html")
        .select(col("id").as("doc_id"), col("table_idx"), col("row"),
          col("col"), col("header"), col("text"))
    },
      // html tables contract: header row + id%3+1 data rows + the
      // id%4 second table, all id arithmetic
      """
      SELECT doc_id, 0 AS table_idx, 0 AS row, 0 AS col, true AS header, 'H0' AS text
      FROM documents
      UNION ALL SELECT doc_id, 0, 0, 1, true, 'H1 & more' FROM documents
      UNION ALL
      SELECT doc_id, 0, rv.r, cv.c, false,
             'R' || rv.r || 'C' || cv.c || ':' || doc_id
      FROM documents, (VALUES (1), (2), (3)) rv(r), (VALUES (0), (1)) cv(c)
      WHERE rv.r <= doc_id % 3 + 1
      UNION ALL
      SELECT doc_id, 1, 0, 0, false, 'T2:' || doc_id
      FROM documents WHERE doc_id % 4 = 0"""),

    // Sentence segmentation (round 12): the unit sentence-level
    // corpus ops key on — planted text fires the rule set
    // (abbreviation suppression for Dr./Mr., the decimal guard on
    // 3.5, a ?! terminator run, a newline hard boundary ahead of a
    // lowercase start); every boundary replays as oracle literals.
    // Rule generality (initials, closers, no-terminator text) is
    // pinned in SentencesSpec.
    Gate("x_sentences", (s, d) => {
      val id = col("doc_id")
      val text = concat(
        lit("Dr. Smith met Mr. Jones at 3.5 km. Doc "), id,
        lit(" has "), pmod(id, lit(7)), lit(" parts. Was it useful?! Yes.\nthe end of doc "), id)
      graft.ops.Sentences.split(
        docs(s, d).select(id, text.as("text")), "doc_id", "text")
        .select(col("id").as("doc_id"), col("seq"), col("sentence"), col("n_chars"))
    },
      // sentence contracts: every boundary is an oracle literal
      """
      SELECT doc_id, 0 AS seq,
             'Dr. Smith met Mr. Jones at 3.5 km.' AS sentence,
             34 AS n_chars
      FROM documents
      UNION ALL SELECT doc_id, 1,
        'Doc ' || doc_id || ' has ' || (doc_id % 7) || ' parts.',
        CAST(length('Doc ' || doc_id || ' has ' || (doc_id % 7) || ' parts.') AS INTEGER)
      FROM documents
      UNION ALL SELECT doc_id, 2, 'Was it useful?!', 15 FROM documents
      UNION ALL SELECT doc_id, 3, 'Yes.', 4 FROM documents
      UNION ALL SELECT doc_id, 4, 'the end of doc ' || doc_id,
        CAST(length('the end of doc ' || doc_id) AS INTEGER)
      FROM documents"""),

    // Sentence-boundary RAG chunking (round 12): uniform 14-char
    // planted sentences at maxChars = 30 / overlap = 1 make the
    // packing arithmetic exact — id%4+2 sentences fold into id%4+1
    // two-sentence chunks with a one-sentence carry.
    Gate("x_sentence_chunks", (s, d) => {
      val id = col("doc_id")
      val k = (pmod(id, lit(4)) + 2).cast("int")
      val text = array_join(transform(sequence(lit(0), k - 1),
        i => concat(lit("S"), i, lit(" xxxxxxxxxx."))), " ")
      graft.ops.Sentences.chunkBySentence(
        docs(s, d).select(id, text.as("text")), "doc_id", "text",
        maxChars = 30, overlap = 1)
        .select(col("id").as("doc_id"), col("chunk"), col("text"), col("n_sentences"))
    },
      // chunking contract: two-sentence windows with a one-sentence
      // carry, pure arithmetic
      """
      SELECT doc_id, CAST(cv.c AS INTEGER) AS chunk,
             'S' || cv.c || ' xxxxxxxxxx. S' || (cv.c + 1) || ' xxxxxxxxxx.' AS text,
             2 AS n_sentences
      FROM documents, (VALUES (0), (1), (2), (3)) cv(c)
      WHERE cv.c <= doc_id % 4"""),

    // SFT conversations (round 12): one messages-convention JSON per
    // document (id%3+1 user/assistant pairs, a system turn when
    // id%4 == 0, a planted grammar violation when id%7 == 0) parsed
    // back to long turn rows — every role, turn index, and content
    // string replays through DuckDB's independent JSON engine.
    Gate("x_chat_turns", (s, d) => {
      val packed = sharedFixture("chat", s, d)(
        graft.ops.Chat.packConversations(t(s, d, "documents"), "doc_id", "text"))
      graft.ops.Chat.parseConversations(packed, "doc_id", "json")
        .select(col("id").as("doc_id"), col("turn"), col("role"), col("content"))
    },
      // chat contracts: the conversation shape is pure doc_id
      // arithmetic — system turn at id%4==0, id%3+1 pairs, the closing
      // assistant flipped to user at id%7==0; content carries the
      // 40-char text prefix (the corpus is ASCII, so char counts agree
      // across engines)
      """
      WITH d AS (SELECT doc_id, substr(coalesce(text, ''), 1, 40) AS sn,
                        CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS off
                 FROM documents),
      p AS (SELECT doc_id, sn, off, pv.p FROM d, (VALUES (0), (1), (2)) pv(p)
            WHERE pv.p <= doc_id % 3)
      SELECT doc_id, 0 AS turn, 'system' AS role,
             'You are helper ' || doc_id || '.' AS content
      FROM d WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id, off + 2 * p, 'user', 'Q' || p || ': ' || sn FROM p
      UNION ALL
      SELECT doc_id, off + 2 * p + 1,
             CASE WHEN p = doc_id % 3 AND doc_id % 7 = 0 THEN 'user' ELSE 'assistant' END,
             'A' || p || ' for doc ' || doc_id
      FROM p"""),

    // Conversation role-grammar check (round 12): optional leading
    // system, then strict user/assistant alternation ending on
    // assistant — an aggregation over the sorted turn array (no
    // Window); the id%7 plant provides real negatives.
    Gate("x_chat_valid", (s, d) => {
      val packed = sharedFixture("chat", s, d)(
        graft.ops.Chat.packConversations(t(s, d, "documents"), "doc_id", "text"))
      graft.ops.Chat.validateAlternation(
        graft.ops.Chat.parseConversations(packed, "doc_id", "json"))
        .select(col("id").as("doc_id"), col("n_turns"), col("valid"))
    },
      // grammar contract: valid unless the id%7 plant fired
      """
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                  + 2 * (doc_id % 3 + 1) AS INTEGER) AS n_turns,
             doc_id % 7 <> 0 AS valid
      FROM documents"""),

    // Chat-template render (round 12): turns flatten to one training
    // text per conversation in turn order; the oracle assembles the
    // identical string from the same arithmetic.
    Gate("x_chat_render", (s, d) => {
      val packed = sharedFixture("chat", s, d)(
        graft.ops.Chat.packConversations(t(s, d, "documents"), "doc_id", "text"))
      graft.ops.Chat.renderTemplate(
        graft.ops.Chat.parseConversations(packed, "doc_id", "json"))
        .select(col("id").as("doc_id"), col("text"))
    },
      """
      WITH d AS (SELECT doc_id, substr(coalesce(text, ''), 1, 40) AS sn FROM documents)
      SELECT doc_id,
        (CASE WHEN doc_id % 4 = 0
          THEN '<|system|>' || chr(10) || 'You are helper ' || doc_id || '.' || '<|end|>' || chr(10)
          ELSE '' END)
        ||
        (SELECT string_agg(
           '<|user|>' || chr(10) || 'Q' || pv.p || ': ' || d.sn || '<|end|>' || chr(10) ||
           '<|' || (CASE WHEN pv.p = d.doc_id % 3 AND d.doc_id % 7 = 0
                    THEN 'user' ELSE 'assistant' END) || '|>' || chr(10) ||
           'A' || pv.p || ' for doc ' || d.doc_id || '<|end|>' || chr(10),
           '' ORDER BY pv.p)
         FROM (VALUES (0), (1), (2)) pv(p) WHERE pv.p <= d.doc_id % 3) AS text
      FROM d"""),

    // PDF ingest: each doc becomes a spec-legal single-page PDF
    // cycling all four writer layouts with the id — 1.4 classic-xref
    // (even ids FlateDecode via the JDK's zlib, odd ids raw) and the
    // PDF 1.5 layout modern producers emit (page tree inside a
    // Flate'd /ObjStm, located via a /XRef cross-reference stream
    // with PNG Up predictor) — parsed back through the from-spec
    // object/xref(-stream)/ObjStm/content walk; the text must
    // round-trip byte-exact through the literal-string escape
    // machinery, and every structural field replays from doc_id.
    Gate("x_pdf_extract", (s, d) =>
      graft.ops.Pdf.extractPdfText(
        graft.ops.Pdf.packTextPdf(t(s, d, "documents"), "doc_id", "text"),
        "id", "media"),
      // pdf contract: layout cycles with doc_id%4 (1.4 classic xref vs
      // 1.5 ObjStm + xref stream — 5 vs 7 objects, and the 1.5 layout
      // always Flates its ObjStm/xref streams), content compression
      // alternates with doc_id%2, and extracted text equals the
      // document text exactly in every layout
      """
      SELECT doc_id AS id, true AS decoded,
             CASE WHEN doc_id % 4 >= 2 THEN '1.5' ELSE '1.4' END AS version,
             CASE WHEN doc_id % 4 >= 2 THEN 7 ELSE 5 END AS n_objects,
             1 AS n_pages,
             CASE WHEN doc_id % 4 >= 2 THEN true ELSE doc_id % 2 = 0 END AS flate,
             coalesce(text, '') AS text
      FROM documents"""),

    // end-to-end crawl extraction: the same warc.gz bytes through
    // records → HTTP body → text; the oracle rebuilds each page by
    // concatenation. This is the full ingest seam a crawl corpus
    // user runs: bytes in, clean text out.
    Gate("x_warc_text", (s, d) => {
      val packed = sharedFixture("warc", s, d)(
        Warc.packDocsWarcGz(t(s, d, "documents"), "doc_id", "source", "text"))
      Warc.responseText(Warc.records(packed, "file_id", "payload"))
        .select(regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status").cast("long").as("status"), col("text"))
    },
      // full-chain text: every response body, headers stripped, is the
      // planted page byte for byte
      """
      SELECT doc_id, CAST(200 AS BIGINT) AS status,
        '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
          coalesce(source, '') || '</p><div>' || coalesce(text, '') || '</div></body></html>' AS text
      FROM documents"""),

    // DOCX extraction (round 11): the corpus packed into real
    // ECMA-376 .docx packages (OPC content types + rels +
    // WordprocessingML body; text lines as separate w:p paragraphs
    // so the multi-paragraph join is load-bearing; even ids DEFLATE
    // the ZIP members, odd ids store them) and extracted back —
    // every document's body text replays the corpus verbatim.
    // Tabs/breaks/hyperlink runs/table order and the refusal ladder
    // are pinned in DocxSpec against a JDK-zip-written fixture.
    Gate("x_docx_extract", (s, d) => {
      val packed = sharedFixture("docx", s, d)(
        graft.ops.Docx.packTextDocx(t(s, d, "documents"), "doc_id", "text"))
      graft.ops.Docx.decodeText(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("text"), col("decoded"))
    },
      // docx: pack → extract round-trips the text column verbatim
      """
      SELECT doc_id, coalesce(text, '') AS text, true AS decoded
      FROM documents"""),

    // DOCX furniture parts (round 13): headers (two parts when
    // id % 3 == 0, proving part-name ordering), footer, and
    // footnotes by w:id with the separator/continuation stock
    // entries (ids -1 and 0) skipped — every row replays from
    // doc_id arithmetic alongside the verbatim body.
    Gate("x_docx_parts", (s, d) => {
      val packed = sharedFixture("docx", s, d)(
        graft.ops.Docx.packTextDocx(t(s, d, "documents"), "doc_id", "text"))
      graft.ops.Docx.decodeParts(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("kind"), col("seq"), col("text"))
    },
      """
      SELECT doc_id, 'body' AS kind, CAST(0 AS BIGINT) AS seq,
             coalesce(text, '') AS text FROM documents
      UNION ALL
      SELECT doc_id, 'header', 0, 'Header ' || doc_id FROM documents
      UNION ALL
      SELECT doc_id, 'header', 1, 'Header2 ' || doc_id FROM documents
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, 'footer', 0, 'Footer ' || doc_id || ' page' FROM documents
      UNION ALL
      SELECT doc_id, 'footnote', k, 'Note ' || k || ' for doc ' || doc_id
      FROM documents, (VALUES (1), (2)) f(k)
      WHERE k <= doc_id % 2 + 1"""),

    // PPTX extraction (round 11): text lines become one slide EACH,
    // listed in reversed package order with double-digit slide
    // numbers, so the reader's numeric (not lexicographic) slide
    // sort is load-bearing; body text replays the corpus verbatim.
    Gate("x_pptx_extract", (s, d) => {
      val packed = graft.ops.Office.packTextPptx(docs(s, d), "doc_id", "text")
      graft.ops.Office.decodePptxText(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("text"), col("decoded"))
    },
      // pptx/odt: same verbatim round-trip contract
      """
      SELECT doc_id, coalesce(text, '') AS text, true AS decoded
      FROM documents"""),

    // ODT extraction (round 11): OASIS OpenDocument content.xml with
    // the mimetype member first (the ODF convention); text:p blocks
    // replay the corpus verbatim. tab/line-break/text:s expansion
    // and the footnote skip are pinned in OfficeSpec.
    Gate("x_odt_extract", (s, d) => {
      val packed = graft.ops.Office.packTextOdt(docs(s, d), "doc_id", "text")
      graft.ops.Office.decodeOdtText(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("text"), col("decoded"))
    },
      """
      SELECT doc_id, coalesce(text, '') AS text, true AS decoded
      FROM documents"""),

    // RTF extraction (round 15 continuation): the document text
    // round-trips through real RTF — fonttbl/info/{\*\generator}
    // destinations that must be SKIPPED, both escape rungs (\'hh
    // cp1252 bytes on odd ids, \uN with \uc1 fallbacks elsewhere,
    // surrogate pairs as two \u words), \par/\tab, structural
    // escapes — so one wrong state transition anywhere in the group
    // stack hash-mismatches against the verbatim corpus text.
    Gate("x_rtf_extract", (s, d) => {
      val packed = graft.ops.Rtf.packTextRtf(t(s, d, "documents"), "doc_id", "text")
      graft.ops.Rtf.extractText(packed, "id", "payload")
        .select(col("id"), col("decoded"),
          md5(encode(col("text"), "UTF-8")).as("digest"))
    },
      // rtf: the verbatim text identity through the group/escape walk
      """
      SELECT doc_id AS id, true AS decoded,
             md5(coalesce(text, '')) AS digest
      FROM documents"""),

    // mbox/email (round 11): the corpus packed into 8 real mbox
    // files — subjects cycling plain / RFC 2047 B / Q encoded-word
    // forms, bodies cycling quoted-printable / base64 / raw-7bit
    // transfer encodings with real mboxrd From-quoting, every fifth
    // id a multipart/alternative whose text/plain part must win —
    // and parsed back: every header field and the decoded body
    // replay from corpus columns with a windowed per-file seq.
    Gate("x_mbox_messages", (s, d) => {
      val packed = graft.ops.Email.packDocsMbox(t(s, d, "documents"), "doc_id", "text")
      graft.ops.Email.messages(packed, "file_id", "payload")
        .select(regexp_extract(col("message_id"), "m(\\d+)@", 1).cast("long").as("doc_id"),
          col("seq"), col("from"), col("to"), col("subject"), col("date"),
          col("message_id"), col("content_type"), col("body_is_html"), col("text"))
    },
      // mbox: every header and the decoded body replay from corpus
      // columns; the decoded subject is identical for the B and Q
      // planted forms
      """
      WITH ranked AS (
        SELECT doc_id, coalesce(text, '') AS t,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
                    AS INTEGER) AS seq
        FROM documents)
      SELECT doc_id, seq,
             'sender' || doc_id || '@example.com' AS "from",
             'rcpt' || doc_id || '@example.org' AS "to",
             CASE doc_id % 4
               WHEN 0 THEN 'Subject ' || doc_id
               WHEN 1 THEN 'Sübject ' || doc_id
               WHEN 2 THEN 'Sübject ' || doc_id
               ELSE 'Plain subject ' || doc_id END AS subject,
             'Thu, 1 Jan 2026 10:0' || (doc_id % 6) || ':00 +0000' AS date,
             '<m' || doc_id || '@example.com>' AS message_id,
             'text/plain; charset=utf-8' AS content_type,
             false AS body_is_html,
             t AS text
      FROM ranked"""),

    // Markdown extraction (round 11): the planted document fires
    // every rule — ATX + setext headers, blockquote, both list
    // marker kinds, a fence whose CONTENT must survive, image-
    // before-link nesting, reference links + definition lines,
    // autolinks, emphasis/backticks — with the corpus text flowing
    // through the same chain on both engines.
    Gate("x_markdown_extract", (s, d) => {
      val id = col("doc_id")
      val md = concat(
        lit("# Doc "), id, lit("\nTitle "), id, lit("\n====\n"),
        lit("> quoted from "), coalesce(col("source"), lit("")), lit("\n"),
        lit("- item one\n1. item "), id, lit("\n"),
        lit("```scala\nval x"), id, lit(" = 1 < 2 && 3 > 2\n```\n"),
        lit("![logo "), id, lit("](http://img.example/"), id, lit(".png)\n"),
        lit("See [link "), id, lit("](http://x.example/"), id, lit(") and [ref "), id, lit("][r1].\n"),
        lit("[r1]: http://ref.example/"), id, lit("\n"),
        lit("<https://auto.example/"), id, lit(">\n"),
        lit("**bold "), id, lit("** *em* `tick` ~~strike~~\n"),
        coalesce(col("text"), lit("")))
      docs(s, d).select(id,
        TextAnalysis.markdownExtract(md).as("extracted"))
    },
      // markdown: the same rule chain replayed stage for stage (RE2
      // group references are \1 in DuckDB, $1 in Spark)
      """
      WITH raw AS (
        SELECT doc_id,
          '# Doc ' || doc_id || chr(10) || 'Title ' || doc_id || chr(10) || '====' || chr(10) ||
          '> quoted from ' || coalesce(source, '') || chr(10) ||
          '- item one' || chr(10) || '1. item ' || doc_id || chr(10) ||
          '```scala' || chr(10) || 'val x' || doc_id || ' = 1 < 2 && 3 > 2' || chr(10) || '```' || chr(10) ||
          '![logo ' || doc_id || '](http://img.example/' || doc_id || '.png)' || chr(10) ||
          'See [link ' || doc_id || '](http://x.example/' || doc_id || ') and [ref ' || doc_id || '][r1].' || chr(10) ||
          '[r1]: http://ref.example/' || doc_id || chr(10) ||
          '<https://auto.example/' || doc_id || '>' || chr(10) ||
          '**bold ' || doc_id || '** *em* `tick` ~~strike~~' || chr(10) ||
          coalesce(text, '') AS md
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(md, '(?m)^[ \t]*```[^\n]*\n?', '', 'g') AS t FROM raw),
      s2 AS (SELECT doc_id, regexp_replace(t, '(?m)^#{1,6}[ \t]+', '', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t, '(?m)^(=+|-+|\*\*\*+)[ \t]*$\n?', '', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id, regexp_replace(t, '(?m)^[ \t]*>[ \t]?', '', 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, regexp_replace(t, '(?m)^[ \t]*([-*+]|[0-9]+\.)[ \t]+', '', 'g') AS t FROM s4),
      s6 AS (SELECT doc_id, regexp_replace(t, '(?m)^\[[^\]]+\]:[ \t]+[^\n]*$\n?', '', 'g') AS t FROM s5),
      s7 AS (SELECT doc_id, regexp_replace(t, '!\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s6),
      s8 AS (SELECT doc_id, regexp_replace(t, '\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s7),
      s9 AS (SELECT doc_id, regexp_replace(t, '\[([^\]]*)\]\[[^\]]*\]', '\1', 'g') AS t FROM s8),
      s10 AS (SELECT doc_id, regexp_replace(t, '<(https?://[^>]+)>', '\1', 'g') AS t FROM s9),
      s11 AS (SELECT doc_id, regexp_replace(t, '\*\*|~~|\*', '', 'g') AS t FROM s10)
      SELECT doc_id, regexp_replace(t, '`', '', 'g') AS extracted FROM s11"""),

    // Subtitle cues (round 11): even ids SRT (comma decimal, index
    // lines), odd ids WebVTT (dot decimal, signature, a NOTE block
    // that must skip whole, cue ids on every second cue, settings
    // after the end timestamp) — one cue per text line with
    // id-derived timings; whitespace-only lines sanitize to '.'
    // (both engines replay the same rule), markup strip + entity
    // decode applied to cue text. Every (seq, start, end, text)
    // replays from a parallel unnest.
    Gate("x_subtitle_cues", (s, d) => {
      val packed = {
        import s.implicits._
        t(s, d, "documents")
          .select(col("doc_id").cast("long"), coalesce(col("text"), lit("")))
          .as[(Long, String)]
          .map { case (id, text) =>
            val lines = text.split("\n", -1)
              .map(l => if (l.matches("[ \\t\\r]*")) "." else l)
            def ts(ms: Long, dot: Boolean): String =
              f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:${ms / 1000 % 60}%02d" +
                (if (dot) "." else ",") + f"${ms % 1000}%03d"
            def startOf(i: Int): Long = i.toLong * 2000 + (id % 7) * 13
            val body =
              if (id % 2 == 0)
                lines.zipWithIndex.map { case (l, i) =>
                  val st = startOf(i)
                  s"${i + 1}\n${ts(st, dot = false)} --> ${ts(st + 1500, dot = false)}\n$l\n"
                }.mkString("\n")
              else
                "WEBVTT\n\nNOTE planted comment\nsecond note line\n\n" +
                  lines.zipWithIndex.map { case (l, i) =>
                    val st = startOf(i)
                    (if (i % 2 == 0) s"cue-$id-$i\n" else "") +
                      s"${ts(st, dot = true)} --> ${ts(st + 1500, dot = true)} align:start\n$l\n"
                  }.mkString("\n")
            (id, body)
          }
          .toDF("doc_id", "sub")
      }
      graft.ops.Subtitles.extract(packed, "doc_id", "sub")
        .select(col("id").as("doc_id"), col("seq"), col("start_ms"),
          col("end_ms"), col("text"))
    },
      // subtitle cues: timings from seq/doc_id arithmetic, text through
      // the same sanitize + markup-strip + entity-decode both engines run
      """
      WITH s AS (
        SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
        FROM documents),
      u AS (
        SELECT doc_id, CAST(unnest(range(len(ls))) AS INTEGER) AS seq,
               unnest(ls) AS line
        FROM s),
      v AS (
        SELECT doc_id, seq,
               CASE WHEN regexp_matches(line, '^[ \t\r]*$') THEN '.' ELSE line END AS line
        FROM u)
      SELECT doc_id, seq,
             CAST(seq * 2000 + (doc_id % 7) * 13 AS BIGINT) AS start_ms,
             CAST(seq * 2000 + (doc_id % 7) * 13 + 1500 AS BIGINT) AS end_ms,
             replace(replace(replace(replace(replace(replace(replace(
               regexp_replace(line, '<[^>]*>', '', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
               '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS text
      FROM v"""),

    // Jupyter notebook cells (round 11): one nbformat-4 notebook per
    // document, a cell per text line in the on-disk array-source
    // form with alternating code/markdown types — every (seq,
    // cell_type, language, source) replays from a parallel unnest
    // of the line-split corpus text.
    Gate("x_ipynb_cells", (s, d) => {
      val packed = graft.ops.Ipynb.packTextIpynb(t(s, d, "documents"), "doc_id", "text")
      graft.ops.Ipynb.decodeCells(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("seq"), col("cell_type"),
          col("language"), col("source"))
    },
      // ipynb: cells replay from a parallel unnest of the line split
      """
      WITH s AS (
        SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
        FROM documents),
      u AS (
        SELECT doc_id, CAST(unnest(range(len(ls))) AS INTEGER) AS seq,
               unnest(ls) AS source
        FROM s)
      SELECT doc_id, seq,
             CASE WHEN seq % 2 = 0 THEN 'code' ELSE 'markdown' END AS cell_type,
             'python' AS language, source
      FROM u"""),

    // nbformat-3 notebooks (round 13; previously refused): the
    // legacy worksheets layout real dumps still hold — code cells
    // carry `input` with a per-cell language, every third line is a
    // `heading` cell whose level cycles 1-3, and id%4==0 notebooks
    // split across TWO worksheets. The reader applies the published
    // v3->v4 upgrade rules (input -> source, heading -> '#'-prefixed
    // markdown, language from the first code cell, worksheets
    // concatenated), so both vintages land in one schema and every
    // row replays from the corpus text by line arithmetic.
    Gate("x_ipynb_v3", (s, d) => {
      // corpus text is one line — plant five more so the heading
      // levels, the markdown path, and the id%4 worksheet split are
      // all exercised on every document
      val planted = concat(coalesce(col("text"), lit("")),
        lit("\nmd cell for "), col("doc_id"),
        lit("\nheading one "), col("doc_id"),
        lit("\ncode two "), col("doc_id"),
        lit("\nmd two "), col("doc_id"),
        lit("\nheading two "), col("doc_id"))
      val packed = graft.ops.Ipynb.packTextIpynbV3(
        t(s, d, "documents").select(col("doc_id"), planted.as("text")),
        "doc_id", "text")
      graft.ops.Ipynb.decodeCells(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("seq"), col("cell_type"),
          col("language"), col("source"))
    },
      // nbformat-3: the v3->v4 upgrade rules replayed by line index
      // over the six planted lines
      """
      WITH s AS (
        SELECT doc_id, string_split(
                 coalesce(text, '') ||
                 chr(10) || 'md cell for ' || doc_id ||
                 chr(10) || 'heading one ' || doc_id ||
                 chr(10) || 'code two ' || doc_id ||
                 chr(10) || 'md two ' || doc_id ||
                 chr(10) || 'heading two ' || doc_id, chr(10)) AS ls
        FROM documents),
      u AS (
        SELECT doc_id, CAST(unnest(range(len(ls))) AS INTEGER) AS seq,
               unnest(ls) AS line
        FROM s)
      SELECT doc_id, seq,
             CASE WHEN seq % 3 = 0 THEN 'code' ELSE 'markdown' END AS cell_type,
             'python' AS language,
             CASE WHEN seq % 3 = 2
                  THEN repeat('#', (seq // 3) % 3 + 1) || ' ' || line
                  ELSE line END AS source
      FROM u"""),

    // EPUB extraction (round 11): text lines chunked three-per-
    // chapter with the manifest listed in REVERSE, so the OCF →
    // OPF → spine reading-order chain is load-bearing, not the
    // package layout; spine text replays the corpus verbatim.
    Gate("x_epub_extract", (s, d) => {
      val packed = graft.ops.Epub.packTextEpub(docs(s, d), "doc_id", "text")
      graft.ops.Epub.decodeText(packed, "id", "payload")
        .select(col("id").as("doc_id"), col("text"), col("decoded"))
    },
      // epub: spine round-trips the text column verbatim
      """
      SELECT doc_id, coalesce(text, '') AS text, true AS decoded
      FROM documents"""),

    // XLSX cells (round 11): the corpus packed into 8 real .xlsx
    // workbooks (real workbook→rels→sheet discovery chain, doc_id
    // as a number cell, source as a SHARED string — the table
    // dedups, so index resolution is load-bearing — text as an
    // inline string; even files DEFLATE, odd store) and read back
    // as long-format cells; every (file, sheet, row, col, value)
    // replays from corpus columns with a windowed row-number.
    Gate("x_xlsx_cells", (s, d) => {
      val packed = graft.ops.Xlsx.packDocsXlsx(
        t(s, d, "documents"), "doc_id", "source", "text")
      graft.ops.Xlsx.decodeCells(packed, "file_id", "payload")
    },
      """
      WITH ranked AS (
        SELECT doc_id, doc_id % 8 AS fid, coalesce(source, '') AS source,
               coalesce(text, '') AS text,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS r
        FROM documents)
      SELECT fid AS id, 'docs' AS sheet, CAST(r AS BIGINT) AS row, col, value FROM (
        SELECT fid, r, 'A' AS col, CAST(doc_id AS VARCHAR) AS value FROM ranked
        UNION ALL SELECT fid, r, 'B', source FROM ranked
        UNION ALL SELECT fid, r, 'C', text FROM ranked)"""),

    // XML source (round 11): the corpus entity-escaped into 8 real
    // .xml shards on disk (&/</> through &amp;-family escapes, so
    // already-escaped corpus text DOUBLE-escapes and must
    // single-decode back), read through the record-per-element xml
    // source — every field replays the corpus columns verbatim.
    // Namespace/nesting/quarantine rungs are pinned in XmlSpec.
    Gate("x_xml_source", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-xmlsrc").toFile
      val base = dir.getAbsolutePath
      import s.implicits._
      t(s, d, "documents")
        .select(col("doc_id").cast("long"), coalesce(col("source"), lit("")),
          coalesce(col("text"), lit("")))
        .as[(Long, String, String)]
        .groupByKey(_._1 % 8)
        .mapGroups { (fid, rows) =>
          def esc(x: String) =
            x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
          val sb = new StringBuilder(
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<docs>\n")
          rows.toSeq.sortBy(_._1).foreach { case (id, src, txt) =>
            sb.append("  <doc><id>").append(id).append("</id><source>")
              .append(esc(src)).append("</source><text>").append(esc(txt))
              .append("</text></doc>\n")
          }
          sb.append("</docs>\n")
          (fid, sb.toString)
        }
        .foreach { (kv: (Long, String)) =>
          val out = new java.io.FileOutputStream(
            new java.io.File(base, f"part-${kv._1}%05d.xml"))
          try out.write(kv._2.getBytes("UTF-8")) finally out.close()
        }
      graft.sources.SourceReader.read(s,
        graft.spec.SourceSpec("xmlsrc", "xml", graft.spec.Config.of(
          "path" -> s"$base/*.xml", "record_tag" -> "doc",
          "fields" -> Seq("id", "source", "text"))))
        .select(col("id").cast("long").as("doc_id"), col("source"), col("text"))
    },
      // xml source: escape → parse round-trips every field to the
      // corpus columns verbatim
      """
      SELECT doc_id, coalesce(source, '') AS source, coalesce(text, '') AS text
      FROM documents"""),

    // WET generation (round 11): corpus → WARC shards → packWet →
    // read the WET files BACK through the same parser (WET files
    // ARE WARC files) — every conversion record's text/plain body
    // must equal the charset-decoded, html-extracted response page,
    // which the oracle replays from corpus columns through the
    // htmlExtract regex chain verbatim. Refers-To provenance and
    // record ordering are pinned in WarcSpec.
    Gate("x_wet_extract", (s, d) => {
      val packed = sharedFixture("warc", s, d)(
        Warc.packDocsWarcGz(t(s, d, "documents"), "doc_id", "source", "text"))
      val wet = Warc.packWet(Warc.records(packed, "file_id", "payload"))
      Warc.records(wet, "file_id", "payload")
        .where(col("warc_type") === "conversion")
        .select(regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("content_type"), decode(col("body"), "UTF-8").as("wet_text"))
    },
      // WET contract: conversion bodies = the htmlExtract regex chain
      // over the planted page, replayed stage for stage
      """
      WITH raw AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
            coalesce(source, '') || '</p><div>' || coalesce(text, '') ||
            '</div></body></html>' AS page
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(page, '(?is)<script[^>]*>.*?</script>', '', 'g') AS t FROM raw),
      s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', '', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id, regexp_replace(t,
        '(?i)<(br|hr)[ \t]*/?>|</(p|div|li|tr|h1|h2|h3|h4|h5|h6|ul|ol|table|blockquote|pre)>',
        chr(10), 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM s4),
      s6 AS (SELECT doc_id,
          replace(replace(replace(replace(replace(replace(replace(t,
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
            '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t FROM s5),
      s7 AS (SELECT doc_id, regexp_replace(t, '[ \t\r]+', ' ', 'g') AS t FROM s6),
      s8 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s7),
      s9 AS (SELECT doc_id, regexp_replace(t, '\n\n\n+', chr(10) || chr(10), 'g') AS t FROM s8)
      SELECT doc_id, 'text/plain' AS content_type,
             regexp_replace(t, '^[ \t\r\n]+|[ \t\r\n]+$', '', 'g') AS wet_text
      FROM s9"""),

    // HTTP wire-encoding ladder (round 11; br decode round 13):
    // response bodies cycle identity / chunked (with chunk extension
    // + trailer) / gzip / gzip-then-chunked / deflate (half
    // zlib-wrapped as RFC 9110 names it, half RAW — the classic
    // server bug) / br. The br class itself cycles real brotli in
    // compressed framing, real brotli in uncompressed-meta-block
    // framing, and junk bytes under the br label — the reader must
    // decode the real streams through the from-spec RFC 7932 decoder
    // and REFUSE the corrupt one with empty text rather than
    // mojibake — text, encoding header, and the decoded flag all
    // replay from corpus columns.
    Gate("x_warc_http_decode", (s, d) => {
      val packed = Warc.packDocsWarcGzHttpEncoded(
        t(s, d, "documents"), "doc_id", "source", "text")
      Warc.responseText(Warc.records(packed, "file_id", "payload"))
        .select(regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status").cast("long").as("status"), col("text"),
          col("content_encoding"), col("payload_decoded"))
    },
      // wire-encoding contract: text identical to the unencoded page
      // for every decodable class, empty for the refused one; header
      // and flag replay from doc_id arithmetic
      """
      SELECT doc_id, CAST(200 AS BIGINT) AS status,
        CASE WHEN doc_id % 6 = 5 AND (doc_id // 6) % 3 = 2 THEN ''
             ELSE '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
                  coalesce(source, '') || '</p><div>' || coalesce(text, '') ||
                  '</div></body></html>' END AS text,
        CASE doc_id % 6 WHEN 2 THEN 'gzip' WHEN 3 THEN 'gzip'
             WHEN 4 THEN 'deflate' WHEN 5 THEN 'br' ELSE NULL END AS content_encoding,
        NOT (doc_id % 6 = 5 AND (doc_id // 6) % 3 = 2) AS payload_decoded
      FROM documents"""),

    // charset ladder over real crawl bytes: bodies cycle five
    // encoding variants (declared utf-8 / declared cp1252 / meta
    // iso-8859-1 / undeclared-valid-utf8 / undeclared-cp1252), and
    // the decode must pick the right rung AND the right bytes — the
    // oracle replays both the resolution and the decoded page
    // byte-exact from corpus columns.
    Gate("x_warc_charset", (s, d) => {
      val packed = Warc.packDocsWarcCharsets(t(s, d, "documents"), "doc_id", "source", "text")
      Warc.responseText(Warc.records(packed, "file_id", "payload"))
        .select(regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("charset"), col("charset_src"), col("text"))
    },
      // charset-ladder contract: the resolved charset, the detection
      // rung, and the decoded page all replay from doc_id % 5 — the
      // non-utf8 variants plant the page over the ASCII projection of
      // the text ([^ -~] stripped, the cross-engine sanitize) plus
      // charset-separating markers (€ is cp1252-only, bare é is
      // invalid UTF-8)
      """
      SELECT doc_id,
        CASE WHEN doc_id % 5 IN (0, 3) THEN 'UTF-8' ELSE 'windows-1252' END AS charset,
        CASE doc_id % 5 WHEN 0 THEN 'header' WHEN 1 THEN 'header' WHEN 2 THEN 'meta'
             WHEN 3 THEN 'valid-utf8' ELSE 'fallback' END AS charset_src,
        CASE doc_id % 5
          WHEN 0 THEN '<html><head><title>Doc ' || doc_id || '</title></head><body><p>From ' ||
            coalesce(source, '') || '</p><div>' || coalesce(text, '') || '</div></body></html>'
          WHEN 1 THEN '<html><head><title>Doc ' || doc_id || '</title></head><body>cp1252 café €½ ' ||
            regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') || '</body></html>'
          WHEN 2 THEN '<html><head><meta charset="iso-8859-1"><title>Doc ' || doc_id ||
            '</title></head><body>latin café ±½ ' ||
            regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') || '</body></html>'
          WHEN 3 THEN '<html><head><title>Doc ' || doc_id || '</title></head><body>utf8 π☃ ' ||
            regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') || '</body></html>'
          ELSE '<html><head><title>Doc ' || doc_id || '</title></head><body>fallback café ' ||
            regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') || '</body></html>'
        END AS text
      FROM documents"""),
  )
}
