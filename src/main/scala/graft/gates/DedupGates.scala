package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.{Components, Dedup, Multimodal, Similarity, TextAnalysis}

import Fixtures._

/** Deduplication and similarity: exact/substring/line/minhash/
  * simhash/embedding dedup, contamination, near-dup groups and ANN search. */
object DedupGates {
  /** Sign-LSH planes per table, passed to each embedding gate's op and
    * replayed by its oracle's buckets: 8 for the dedup/contamination
    * gates, 6 for the multi-table contamination gate and the ANN probe. */
  private val dedupPlanes = 8
  private val probePlanes = 6
  /** x_dedup_simhash signature width, shared with its oracle's bit votes. */
  private val simhashBits = 60

  val gates: Seq[Gate] = Seq(
    // int8 scalar quantization of embeddings: per-vector max-abs
    // scale, explicit floor(v+0.5) rounding so DuckDB replays exactly.
    // codes is serialized to a CSV scalar because the oracle compare's pandas
    // canonicalizer can't hash array cells (same fix as x_group_sample)
    // Matryoshka truncation: first-16-dims + renormalize. The oracle
    // recomputes the prefix norm directly from the raw embedding
    // (bit-stable double fold, the sq8 discipline); the op's output
    // is checked through two float-rounding-safe surfaces — its own
    // L2 (exactly 1 or 0 after 6dp) and an |dot(out, prefix) - norm|
    // tolerance verdict, since the op stores float32 components.
    Gate("x_embed_matryoshka", (s, d) => {
      val out = Similarity.truncateEmbeddings(
        t(s, d, "embeddings"), "embedding", 16).withColumnRenamed("embedding", "out")
      val raw = t(s, d, "embeddings").select(col("vec_id"),
        transform(slice(col("embedding"), 1, 16), x => x.cast("double")).as("pre"))
      out.join(raw, "vec_id").select(col("vec_id"),
        size(col("out")).as("dim"),
        sqrt(aggregate(transform(col("out"), x => x.cast("double")),
          lit(0.0d), (a, x) => a + x * x)).as("unit"),
        sqrt(aggregate(col("pre"), lit(0.0d), (a, x) => a + x * x)).as("norm16"),
        (abs(aggregate(zip_with(transform(col("out"), x => x.cast("double")), col("pre"),
          (a, b) => a * b), lit(0.0d), (a, x) => a + x) -
          sqrt(aggregate(col("pre"), lit(0.0d), (a, x) => a + x * x))) < 1e-4 ||
          sqrt(aggregate(col("pre"), lit(0.0d), (a, x) => a + x * x)) === 0.0).as("ok"))
    },
      // matryoshka: prefix norm recomputed directly; unit-length and
      // dot-recovery contracts are exact after canonical rounding
      """
      WITH n AS (
        SELECT vec_id,
          sqrt(list_aggregate(list_transform(embedding[1:16],
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm16
        FROM embeddings)
      SELECT vec_id, 16 AS dim,
             CASE WHEN norm16 = 0 THEN 0.0 ELSE 1.0 END AS unit,
             norm16, true AS ok
      FROM n"""),

    Gate("x_embed_sq8", (s, d) =>
      Similarity.quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws(",", col("codes")).as("codes_csv")),
      """
      WITH s AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings)
      SELECT vec_id, scale,
        coalesce(array_to_string(
          CASE WHEN scale IS NULL OR scale = 0 THEN
            list_transform(embedding, x -> 0)
          ELSE
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INTEGER))
          END, ','), '') AS codes_csv
      FROM s"""),
    // quantization-ladder recall vs exact cosine (measured at sf0.01,
    // self-excluded like every ANN tier: binary 0.25 — sign bits on
    // uncentered data are the honest coarse tier; int8 ADC 1.0):
    // boolean-verdict contract like the ivf/pq recall gates
    Gate("x_ann_quant_recall", (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", 10)
      val bin = Similarity.binaryTopK(e, "vec_id", "embedding", q, "vec_id", 64, 10)
      val sq8 = Similarity.sq8TopK(e, "vec_id", "embedding", q, "vec_id", 10)
      Similarity.recallAt(bin, exact)
        .agg(count(lit(1)).cast("long").as("n_queries"),
          (avg(col("recall")) >= 0.15).as("bin_recall_ge_015"))
        .crossJoin(Similarity.recallAt(sq8, exact)
          .agg((avg(col("recall")) >= 0.8).as("sq8_recall_ge_080")))
    },
      """
      SELECT CAST(10 AS BIGINT) AS n_queries, true AS bin_recall_ge_015,
             true AS sq8_recall_ge_080"""),
    // int8 ADC top-10 for 5 queries — scores (scale_q*scale_c)*codedot
    // are bit-identical cross-engine (integer dot + two IEEE
    // multiplies), so ranks replay exactly in the oracle
    Gate("x_ann_sq8", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.sq8TopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", k = 10)
    },
      """
      WITH q8 AS (
        SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
          CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
          THEN list_transform(embedding, x -> 0)
          ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /
            list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) + 0.5) AS INTEGER))
          END AS codes
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, scale AS qs, codes AS qc FROM q8 WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          (c.scale * q.qs) * CAST(list_sum(list_transform(generate_series(1, 64),
            i -> CAST(c.codes[i] AS BIGINT) * qc[i])) AS DOUBLE) AS score
        FROM q8 c CROSS JOIN q
        WHERE c.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 10"""),
    // binary-quantized hamming top-10 for 5 queries; sign bits packed
    // into 32-bit words so every intermediate is exact on both engines
    Gate("x_ann_binary", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.binaryTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", dim = 64, k = 10)
    },
      """
      WITH bits AS (
        SELECT vec_id, list_transform(generate_series(0, 1), w ->
          CAST(list_sum(list_transform(generate_series(0, 31), b ->
            CASE WHEN embedding[w*32 + b + 1] > 0 THEN (CAST(1 AS BIGINT) << b)
                 ELSE 0 END)) AS BIGINT)) AS words
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, words AS qw FROM bits WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
          bit_count(xor(b.words[1], q.qw[1])) + bit_count(xor(b.words[2], q.qw[2])) AS h
        FROM bits b CROSS JOIN q
        WHERE b.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, CAST(h AS BIGINT) AS hamming,
             CAST(rank AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY h, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 10"""),
    Gate("x_text_fingerprint", (s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      """
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      FROM documents"""),
    Gate("x_text_ngram_sim", (s, d) => {
      val docs = Fixtures.docs(s, d)
      val a = docs.select(col("doc_id").as("a_id"), col("text").as("__ta"))
      val b = docs.select(col("doc_id").as("b_id"), col("text").as("__tb"))
      a.join(b, col("b_id") === col("a_id") + 250)
        .select(col("a_id"), col("b_id"),
          Dedup.ngramJaccard(col("__ta"), col("__tb"), 3).as("char_jaccard"))
    },
      """
      WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(greatest(length(text)-3, 0)+1),
                 i -> substr(text, CAST(i+1 AS BIGINT), 3))) AS grams
        FROM documents)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CASE WHEN (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) > 0
                  THEN CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                       / (CAST(len(a.grams) + len(b.grams) AS DOUBLE) - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE))
                  ELSE 0.0 END AS char_jaccard
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 250"""),

    // ==== extensions: deduplication family ====
    Gate("x_dedup_exact", (s, d) =>
      Dedup.exactByFingerprint(t(s, d, "documents"), "text", "doc_id"),
      """
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
          ORDER BY doc_id) AS __rn
        FROM documents) WHERE __rn = 1"""),
    // corpus version diff: the "new" version drops doc_id%7==0,
    // rewrites text for doc_id%5==0, and adds ids 100000+; the diff
    // must classify every id exactly
    Gate("x_corpus_diff", (s, d) => {
      val old = docs(s, d).select(col("doc_id"), col("text"))
      val newV = old.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0, concat(lit("edited "), col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.filter(pmod(col("doc_id"), lit(9)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Dedup.corpusDiff(old, newV, "doc_id", "text")
    },
      """
      WITH oldv AS (
        SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents),
      newv AS (
        SELECT doc_id,
          md5(trim(regexp_replace(lower(
            CASE WHEN doc_id % 5 = 0 THEN 'edited ' || text ELSE text END),
            '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000,
          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        FROM documents WHERE doc_id % 9 = 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
             ELSE 'changed' END AS status
      FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id"""),
    // repeated-span dedup: the corpus has natural cross-doc duplicated
    // 8-grams, so no planting — every non-canonical occurrence of a
    // repeated 8-token window loses its tokens; oracle replays the
    // gram digests, canonical row_number pick, and indexed rebuild
    Gate("x_dedup_spans", (s, d) =>
      Dedup.dedupSpans(t(s, d, "documents"), "doc_id", "text", k = 8, minCount = 2),
      """
      WITH tk AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      occ AS (
        SELECT doc_id, i AS pos,
          md5(array_to_string(toks[i+1:i+8], ' ')) AS dg
        FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 8)) AS i
              FROM tk WHERE len(toks) >= 8)),
      freq AS (
        SELECT dg, doc_id AS cid, pos AS cpos FROM (
          SELECT dg, doc_id, pos,
                 count(*) OVER (PARTITION BY dg) AS c,
                 row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn
          FROM occ) WHERE c >= 2 AND rn = 1),
      covered AS (
        SELECT DISTINCT o.doc_id, unnest(generate_series(o.pos, o.pos + 7)) AS cp
        FROM occ o JOIN freq f USING (dg)
        WHERE NOT (o.doc_id = f.cid AND o.pos = f.cpos)),
      rm AS (SELECT doc_id, count(*) AS n_rm FROM covered GROUP BY doc_id)
      SELECT t.doc_id,
        coalesce((
          SELECT string_agg(tok, ' ' ORDER BY j)
          FROM (SELECT unnest(t.toks) AS tok, generate_subscripts(t.toks, 1) - 1 AS j)
          WHERE j NOT IN (SELECT cp FROM covered c WHERE c.doc_id = t.doc_id)), '') AS text,
        coalesce(r.n_rm, 0) AS n_tokens_removed
      FROM tk t LEFT JOIN rm r USING (doc_id)"""),
    // true exact-substring dedup (Lee et al. ExactSubstr CUT: every
    // occurrence of a >= 10-token duplicated substring removed,
    // including the first); oracle re-derives removed spans exactly
    Gate("x_dedup_substring", (s, d) =>
      Dedup.exactSubstrCut(t(s, d, "documents"), "doc_id", "text",
        minLen = 10, prefilterK = 4),
      // ExactSubstr CUT: coverage by ALL occurrences of duplicated
      // 10-token windows — no canonical exclusion — plus maximal-span
      // counting via the islands trick.
      """
      WITH tk AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        FROM documents),
      occ AS (
        SELECT doc_id, i AS pos,
          md5(array_to_string(toks[i+1:i+10], ' ')) AS dg
        FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 10)) AS i
              FROM tk WHERE len(toks) >= 10)),
      dup AS (SELECT dg FROM occ GROUP BY dg HAVING count(*) >= 2),
      covered AS (
        SELECT DISTINCT o.doc_id, unnest(generate_series(o.pos, o.pos + 9)) AS cp
        FROM occ o JOIN dup USING (dg)),
      runs AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rm,
               CAST(count(*) FILTER (WHERE isnew) AS BIGINT) AS n_spans
        FROM (SELECT doc_id, cp,
                coalesce(cp - lag(cp) OVER (PARTITION BY doc_id ORDER BY cp) <> 1, true) AS isnew
              FROM covered) GROUP BY doc_id)
      SELECT t.doc_id,
        coalesce((
          SELECT string_agg(tok, ' ' ORDER BY j)
          FROM (SELECT unnest(t.toks) AS tok, generate_subscripts(t.toks, 1) - 1 AS j)
          WHERE j NOT IN (SELECT cp FROM covered c WHERE c.doc_id = t.doc_id)), '') AS text,
        coalesce(r.n_rm, 0) AS n_tokens_removed,
        coalesce(r.n_spans, 0) AS n_spans_removed
      FROM tk t LEFT JOIN runs r USING (doc_id)"""),
    // corpus-level line dedup: the corpus has no newlines, so the gate
    // synthesizes multi-line docs (6-word chunks) and plants two
    // boilerplate lines on doc_id strides; dedupLines must strip every
    // planted occurrence (df 167/125 >= 100 at sf0.01) and leave the
    // chunked body intact. The oracle replays chunking, planting,
    // distinct-doc line counts, and indexed rebuild.
    Gate("x_dedup_lines", (s, d) => {
      val toks = split(col("text"), " ")
      val chunks = transform(
        sequence(lit(0), ceil(size(toks) / lit(6.0)).cast("int") - 1),
        i => concat_ws(" ", slice(toks, i * 6 + 1, lit(6))))
      val noLine = array().cast("array<string>")
      val lined = concat_ws("\n", concat(
        when(pmod(col("doc_id"), lit(3)) === 0,
          array(lit("subscribe to our newsletter today"))).otherwise(noLine),
        chunks,
        when(pmod(col("doc_id"), lit(4)) === 0,
          array(lit("all rights reserved"))).otherwise(noLine)))
      Dedup.dedupLines(
          t(s, d, "documents").select(col("doc_id"), lined.as("text")),
          "doc_id", "text", minDf = 100)
        .select(col("doc_id"), col("text"), col("n_lines_removed"))
    },
      """
      WITH lined AS (
        SELECT doc_id, array_to_string(
          list_concat(list_concat(
            CASE WHEN doc_id % 3 = 0 THEN ['subscribe to our newsletter today']
                 ELSE [] END,
            list_transform(
              generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 6.0) AS INT) - 1),
              i -> array_to_string(string_split(text, ' ')[i*6+1:i*6+6], ' '))),
            CASE WHEN doc_id % 4 = 0 THEN ['all rights reserved'] ELSE [] END),
          chr(10)) AS text
        FROM documents),
      lines AS (
        SELECT doc_id, i - 1 AS pos, md5(trim(l)) AS dg
        FROM (SELECT doc_id,
                unnest(string_split(text, chr(10))) AS l,
                generate_subscripts(string_split(text, chr(10)), 1) AS i
              FROM lined)
        WHERE trim(l) <> ''),
      frequent AS (
        SELECT dg FROM lines GROUP BY dg HAVING count(DISTINCT doc_id) >= 100),
      removals AS (
        SELECT doc_id, list(pos) AS rm, count(*) AS n_rm
        FROM lines WHERE dg IN (SELECT dg FROM frequent) GROUP BY doc_id)
      SELECT d.doc_id,
        CASE WHEN r.rm IS NULL THEN d.text ELSE (
          SELECT coalesce(string_agg(l, chr(10) ORDER BY i), '')
          FROM (SELECT unnest(string_split(d.text, chr(10))) AS l,
                       generate_subscripts(string_split(d.text, chr(10)), 1) AS i)
          WHERE NOT list_contains(r.rm, i - 1)) END AS text,
        coalesce(r.n_rm, 0) AS n_lines_removed
      FROM lined d LEFT JOIN removals r USING (doc_id)"""),
    Gate("x_dedup_minhash", (s, d) =>
      Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text", threshold = 0.7),
      // Oracle brute-forces all pairs (fine at oracle scale); the Spark
      // side uses MinHash-LSH candidates + exact verify. Recall at the
      // 0.7 threshold with 16 bands × 4 rows is 1 - (1-j^4)^16 ≥ 0.988,
      // and every pair in this corpus at/above threshold has j ≥ 0.9
      // (miss probability < 1e-7), so the sets agree.
      """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents))
      SELECT a_id, b_id, jaccard FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.7"""),
    // near-dup pairs -> transitive clusters (large-star/small-star);
    // output: every clustered doc with its canonical (min-id) component
    Gate("x_dedup_cluster", (s, d) =>
      Components.connectedComponents(
        Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text", threshold = 0.7))
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component")),
      // Same exact-jaccard pair set as x_dedup_minhash (recall argument
      // above), then transitive closure by min-label propagation — the
      // declarative spec of what large-star/small-star computes.
      """
      WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents)),
      pairs AS (
        SELECT a_id, b_id FROM (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.7),
      edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
      SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id"""),
    // the one-call GROUPS surface of text MinHash dedup (linear
    // output; see minhashDedupGroups scaladoc): every document gets
    // the min id reachable through the ≥0.7-jaccard relation, unique
    // docs keep their own id. The oracle replays the closure with
    // recursive min-label reachability over the exact all-pairs edge
    // set — same recall argument as x_dedup_minhash, then left-joins
    // the full corpus so singleton rows are checked too.
    Gate("x_dedup_groups", (s, d) =>
      Dedup.minhashDedupGroups(t(s, d, "documents"), "doc_id", "text", threshold = 0.7)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("group_id").cast("long").as("group_id")),
      // x_dedup_cluster's transitive closure extended to EVERY document:
      // clustered docs get the min reachable id, singletons their own.
      """
      WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents)),
      pairs AS (
        SELECT a_id, b_id FROM (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.7),
      edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
      comp AS (SELECT id, min(r) AS g FROM reach GROUP BY id)
      SELECT d.doc_id, CAST(coalesce(c.g, d.doc_id) AS BIGINT) AS group_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"""),
    // cross-corpus contamination: documents split into a "train" and
    // "eval" side by id arithmetic; the op must surface every eval doc
    // that near-copies a train doc. Oracle = exact all-pairs jaccard
    // across the split (recall argument: planted cross pairs are all
    // ≥ 0.9 jaccard, where 16×4 banding recall is ≈ 1 − 4e-8).
    Gate("x_dedup_contamination", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashContamination(
        docs.where(col("doc_id") % 4 === 0), docs.where(col("doc_id") % 4 =!= 0),
        "doc_id", "doc_id", "text", threshold = 0.7)
        .select(col("left_id").cast("long").as("eval_id"),
          col("right_id").cast("long").as("train_id"), col("jaccard"))
    },
      // Exact all-pairs jaccard ACROSS the id-split — the declarative
      // spec of what the bipartite banded join + digest fast path must
      // surface (same recall argument as x_dedup_minhash).
      """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents))
      SELECT eval_id, train_id, jaccard FROM (
        SELECT a.doc_id AS eval_id, b.doc_id AS train_id,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0)
      WHERE jaccard >= 0.7"""),
    // EXACT n-gram decontamination (the GPT-3 13-gram method): train
    // docs flagged when any of their distinct lowercase word 13-grams
    // appears in the held-out quarter. The planted near-dup pairs that
    // cross the doc_id%4 split are exactly the contaminated set; the
    // oracle re-derives every gram with DuckDB list lambdas and joins
    // on the STRINGS, so the Spark side's hash-first join is verified
    // collision-free, not assumed.
    Gate("x_ngram_contamination", (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.ngramContamination(
        docs.where(col("doc_id") % 4 =!= 0), docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", n = 13)
    },
      """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS w
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS g
        FROM toks, unnest(range(1, greatest(len(w)-11, 1))) AS u(i)),
      train AS (SELECT doc_id, g FROM grams WHERE doc_id % 4 <> 0),
      test AS (SELECT DISTINCT g FROM grams WHERE doc_id % 4 = 0)
      SELECT t.doc_id,
             count(*) AS n_ngrams,
             count(x.g) AS n_hit,
             (count(x.g) > 0) AS contaminated
      FROM train t LEFT JOIN test x USING (g)
      GROUP BY t.doc_id"""),
    // INCREMENTAL dedup as a checked equivalence, not a scaladoc
    // claim: the corpus arrives as 3 ingest batches (doc_id % 3 —
    // planted near-dup pairs deliberately span batch boundaries);
    // each batch is deduped within itself (minhashNearDups) and
    // against the standing corpus of earlier batches (the bipartite
    // minhashContamination shape). The UNION of all per-batch pair
    // sets must equal the one-shot full-corpus pair set — the oracle
    // is literally x_dedup_minhash's exact all-pairs SQL, so any
    // missed cross-batch pair, duplicated pair, or drifted jaccard
    // hash-mismatches. Works because signatures/banding/verify are
    // pure functions of content: a pair collides in the bipartite run
    // iff it collides in the self-join run.
    Gate("x_dedup_incremental", (s, d) => {
      val docs = t(s, d, "documents")
      val batches = (0 to 2).map(i => docs.where(col("doc_id") % 3 === i))
      // shared-scan ingest: every batch is tokenized + minhashed
      // EXACTLY ONCE — its cached signaturesFor frame answers all
      // three questions (within-batch pairs via selfCheck, pairs vs
      // the standing corpus via checkSig, and the index advance via
      // appendSig). The pair sets are identical to the recompute path
      // (OpsSpec equivalence), so the oracle — the one-shot
      // full-corpus all-pairs SQL — is unchanged; corpus text is only
      // point-read for verify candidates.
      // Sign each batch EXACTLY ONCE and PERSIST the signature frame
      // (parquet) — the production standing-index story: an ingest
      // batch's signatures are written to storage at arrival, and
      // every later question reads the stored rows at scan speed. All
      // five pair questions — within-batch (selfCheck, from stored
      // rows) and batch-vs-standing (checkSig; the standing index at
      // step i is the union of the earlier batches' stored frames,
      // appendSig's algebra) — then run as ONE union DAG whose
      // branches and AQE broadcast sub-jobs re-READ the tiny parquet
      // sig files instead of re-tokenizing text or contending on a
      // shared cache fill (measured: parquet-backed beats cache-backed
      // ~3x here, because a union DAG of 5 banded-join branches spawns
      // dozens of broadcast sub-jobs, each of which would otherwise
      // pull the whole signature pipeline).
      val ix0 = Dedup.NearDupIndex.build(batches(0), "doc_id", "text")
      val ixDir = java.nio.file.Files.createTempDirectory("graft_incr_ix").toString
      val sigs = batches.zipWithIndex.map { case (b, i) =>
        val sig = if (i == 0) ix0.sig
          else Dedup.NearDupIndex.signaturesFor(ix0, b, "doc_id", "text")
        sig.write.parquet(s"$ixDir/sig$i")
        s.read.parquet(s"$ixDir/sig$i")
      }
      val within = batches.zipWithIndex.map { case (b, i) =>
        Dedup.NearDupIndex.selfCheck(
          ix0, sigs(i), b, "doc_id", "text", threshold = 0.7)
      }
      val cross = (1 to 2).map { i =>
        val standing = batches.take(i).reduce(_ unionByName _)
        val ixI = ix0.copy(sig = sigs.take(i).reduce(_ unionByName _))
        Dedup.NearDupIndex.checkSig(ixI, sigs(i),
          batches(i), "doc_id", "text", standing, "doc_id", "text", threshold = 0.7)
          .select(least(col("batch_id"), col("corpus_id")).as("a_id"),
            greatest(col("batch_id"), col("corpus_id")).as("b_id"), col("jaccard"))
      }
      (within ++ cross).reduce(_ unionByName _)
    },
      // incremental-dedup equivalence: the batched union must equal the
      // one-shot full-corpus pair set, so the oracle IS the full-corpus
      // exact all-pairs query (same SQL as x_dedup_minhash).
      """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                 ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM documents))
      SELECT a_id, b_id, jaccard FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.7"""),

    // md5-hash simhash variant: same banded plan as the xxhash64 scale
    // path, but the signature is recomputable by the DuckDB oracle
    Gate("x_dedup_simhash", (s, d) =>
      Dedup.simhashNearDups(
        Dedup.simhashMd5(t(s, d, "documents"), "doc_id", "text"), "doc_id",
        maxDist = 3, bits = simhashBits, bands = 4)
        .withColumn("hamming", col("hamming").cast("long")),
      s"""
      WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
        FROM documents),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
      sig AS (SELECT doc_id, ${simhashVotesSql(simhashBits)} AS simhash FROM h GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
    Gate("x_dedup_embed", (s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, bruteForce = true)
        .withColumn("cosine", round(col("cosine"), 4)),
      """
      SELECT a_id, b_id, round(cosine, 4) AS cosine FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      WHERE cosine >= 0.3"""),
    // the scale (sign-LSH bucketed) branch of the same op, oracle-gated
    // against DuckDB recomputing the identical md5-derived buckets;
    // dim intentionally NOT passed — exercises the probe-from-data path
    Gate("x_dedup_embed_lsh", (s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, planes = dedupPlanes, bruteForce = false)
        .withColumn("cosine", round(col("cosine"), 4)),
      s"""
      WITH c AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding", 64, dedupPlanes)} AS bkt
        FROM embeddings)
      SELECT a_id, b_id, round(cosine, 4) AS cosine FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))) AS cosine
        FROM c a JOIN c b ON a.vec_id < b.vec_id AND a.bkt = b.bkt)
      WHERE cosine >= 0.3"""),

    // the one-call GROUPS surface of embedding dedup (linear output —
    // the x_dedup_groups analogue over vectors): every vector gets the
    // min id reachable through the ≥0.3-cosine relation over the
    // md5-derived sign-LSH candidate graph; unpaired vectors keep
    // their own id. Oracle replays the identical buckets, exact
    // cosine, and recursive min-label closure, then left-joins the
    // full corpus so singleton rows are checked too.
    Gate("x_embed_neardup_groups", (s, d) =>
      Dedup.embeddingDedupGroups(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, planes = dedupPlanes)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("group_id").cast("long").as("group_id")),
      // x_dedup_embed_lsh's pair set contracted to its transitive
      // closure over EVERY vector (the x_dedup_groups pattern): same
      // md5-bucket replay + exact cosine, then recursive min-label
      // reachability; singletons keep their own id via the left join.
      s"""
      WITH RECURSIVE c AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding", 64, dedupPlanes)} AS bkt
        FROM embeddings),
      pairs AS (
        SELECT a_id, b_id FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))) AS cosine
          FROM c a JOIN c b ON a.vec_id < b.vec_id AND a.bkt = b.bkt)
        WHERE cosine >= 0.3),
      edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
      comp AS (SELECT id, min(r) AS g FROM reach GROUP BY id)
      SELECT emb.vec_id, CAST(coalesce(cp.g, emb.vec_id) AS BIGINT) AS group_id
      FROM embeddings emb LEFT JOIN comp cp ON cp.id = emb.vec_id"""),

    // SemDeDup (Abbas et al. 2023) with md5-derived gate centroids
    // (the sign-LSH precedent): EVERY stage — scan-local argmax
    // cell assignment, centroid cosine, and the paper's
    // upper-triangular drop rule over the (centroid_cos, id) keep
    // order — replays in SQL, so the complete per-vector verdict
    // table is hash-gated. Production mode is spherical k-means
    // (SemDedupSpec pins the planted-twin behavior); the hash mode
    // shares every line of code after centroid choice.
    Gate("x_dedup_semantic", (s, d) =>
      Dedup.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 8, eps = 0.3, centroidMode = "hash")
        .withColumn("centroid_cos", round(col("centroid_cos"), 6)),
      // SemDeDup replay: md5 centroids re-derived in SQL, same element-
      // order cosine folds, argmax by (cos DESC, cell DESC), drop iff a
      // strictly keep-preferred same-cell neighbor clears eps.
      s"""
      WITH cent AS (
        SELECT c,
               list_transform(range(64), j ->
                 CAST(('0x' || substr(md5('centroid_42_' || CAST(c AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 / 1000000.0 - 0.5) AS cv
        FROM (SELECT unnest(range(8)) AS c)),
      cn AS (
        SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm FROM cent),
      e AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(64), i ->
                 CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS vn
        FROM embeddings
        WHERE len(embedding) = 64),
      sc AS (
        SELECT e.vec_id, e.embedding, e.vn, cn.c AS cell,
               list_sum(list_transform(range(64), i ->
                 CAST(e.embedding[i+1] AS DOUBLE) * cn.cv[CAST(i+1 AS INTEGER)]))
                 / (e.vn * cn.cnorm) AS cos
        FROM e CROSS JOIN cn
        WHERE e.vn > 0),
      best AS (
        SELECT vec_id, embedding, vn, cell, cos FROM sc
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) = 1),
      drops AS (
        SELECT DISTINCT x.vec_id
        FROM best x JOIN best y ON x.cell = y.cell
          AND (y.cos < x.cos OR (y.cos = x.cos AND y.vec_id < x.vec_id))
          AND list_sum(list_transform(range(64), i ->
                CAST(x.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE)))
              / (x.vn * y.vn) >= 0.3)
      SELECT b.vec_id, CAST(b.cell AS INTEGER) AS cell,
             round(b.cos, 6) AS centroid_cos,
             (d.vec_id IS NULL) AS kept
      FROM best b LEFT JOIN drops d ON b.vec_id = d.vec_id"""),

    // SemDeDup with the cell-size cap: cells over 48 rows re-split by
    // the first p_c bits of the md5-derived 16-plane sign-LSH bucket
    // (p_c integer-derived from the cell count — the whole re-split,
    // and so the drop set, replays in SQL). Bounds verify work at
    // O(N·maxCellSize) where fixed-k SemDeDup is O((N/k)²)·k.
    Gate("x_dedup_semantic_capped", (s, d) =>
      Dedup.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 8, eps = 0.3, centroidMode = "hash", maxCellSize = 48)
        .withColumn("centroid_cos", round(col("centroid_cos"), 6)),
      // capped SemDeDup replay: same centroid/argmax pipeline, then
      // per-cell p from integer arithmetic over the cell counts and a
      // sub-cell from the first p bits of the 16-plane md5 sign-LSH
      // bucket (seed 42 + 104729); drops pair only within (cell, sub).
      s"""
      WITH cent AS (
        SELECT c,
               list_transform(range(64), j ->
                 CAST(('0x' || substr(md5('centroid_42_' || CAST(c AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 / 1000000.0 - 0.5) AS cv
        FROM (SELECT unnest(range(8)) AS c)),
      cn AS (
        SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnorm FROM cent),
      e AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(64), i ->
                 CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS vn
        FROM embeddings
        WHERE len(embedding) = 64),
      sc AS (
        SELECT e.vec_id, e.embedding, e.vn, cn.c AS cell,
               list_sum(list_transform(range(64), i ->
                 CAST(e.embedding[i+1] AS DOUBLE) * cn.cv[CAST(i+1 AS INTEGER)]))
                 / (e.vn * cn.cnorm) AS cos
        FROM e CROSS JOIN cn
        WHERE e.vn > 0),
      best AS (
        SELECT vec_id, embedding, vn, cell, cos FROM sc
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) = 1),
      counts AS (SELECT cell, count(*) AS n FROM best GROUP BY cell),
      pc AS (
        SELECT cell,
               coalesce(list_min(list_filter(range(17),
                 p -> n <= 48 * (1 << CAST(p AS INTEGER)))), 16) AS p
        FROM counts),
      sub AS (
        SELECT b.vec_id, b.embedding, b.vn, b.cell, b.cos,
               CAST((${lshBucketSql("b.embedding", 64, 16, 42L + 104729L)}) AS BIGINT)
                 % (1 << CAST(pc.p AS INTEGER)) AS subcell
        FROM best b JOIN pc USING (cell)),
      drops AS (
        SELECT DISTINCT x.vec_id
        FROM sub x JOIN sub y ON x.cell = y.cell AND x.subcell = y.subcell
          AND (y.cos < x.cos OR (y.cos = x.cos AND y.vec_id < x.vec_id))
          AND list_sum(list_transform(range(64), i ->
                CAST(x.embedding[i+1] AS DOUBLE) * CAST(y.embedding[i+1] AS DOUBLE)))
              / (x.vn * y.vn) >= 0.3)
      SELECT b.vec_id, CAST(b.cell AS INTEGER) AS cell,
             round(b.cos, 6) AS centroid_cos,
             (d.vec_id IS NULL) AS kept
      FROM best b LEFT JOIN drops d ON b.vec_id = d.vec_id"""),

    // embedding-space contamination across an id split: the semantic
    // sibling of x_dedup_contamination (paraphrased leaks). Oracle
    // recomputes the identical md5-derived single-table buckets +
    // exact cross cosine.
    Gate("x_embed_contamination", (s, d) => {
      val e = t(s, d, "embeddings")
      Dedup.embeddingContamination(
        e.where(col("vec_id") % 4 === 0), e.where(col("vec_id") % 4 =!= 0),
        "vec_id", "vec_id", "embedding", threshold = 0.3, planes = dedupPlanes, dim = 64)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      s"""
      WITH c AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding", 64, dedupPlanes)} AS bkt
        FROM embeddings)
      SELECT left_id, right_id, round(cosine, 4) AS cosine FROM (
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))) AS cosine
        FROM c a JOIN c b ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0 AND a.bkt = b.bkt)
      WHERE cosine >= 0.3"""),

    // multi-table variant of the same gate: 3 independent 6-plane
    // tables — proves the recall lever (OR over per-table collisions)
    // is bit-reproducible end to end, not just unit-tested: the
    // oracle re-derives every table's buckets and ORs the collision
    // condition.
    Gate("x_embed_contamination_mt", (s, d) => {
      val e = t(s, d, "embeddings")
      Dedup.embeddingContamination(
        e.where(col("vec_id") % 4 === 0), e.where(col("vec_id") % 4 =!= 0),
        "vec_id", "vec_id", "embedding", threshold = 0.3, planes = probePlanes, dim = 64, tables = 3)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${lshBucketSql("embedding", 64, probePlanes, 42L)} AS b0,
               ${lshBucketSql("embedding", 64, probePlanes, 42L + 7919L)} AS b1,
               ${lshBucketSql("embedding", 64, probePlanes, 42L + 15838L)} AS b2
        FROM embeddings)
      SELECT left_id, right_id, round(cosine, 4) AS cosine FROM (
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))) AS cosine
        FROM c a JOIN c b ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0
          AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2))
      WHERE cosine >= 0.3"""),

    // the GROUPS surface of pHash image dedup (linear output, same
    // contraction as audio's x_audio_fingerprint_groups): with the
    // planted class PNGs, same-class images are byte-identical
    // (hamming 0) and all cross-class pHash distances are > 3
    // (pinned id-independently in PhashSpec), so each group is
    // exactly one class and group_id = the class's minimum doc_id —
    // which the oracle computes with a window min, assuming nothing
    // about id contiguity.
    Gate("x_image_neardup_groups", (s, d) =>
      graft.ops.Phash.imageDedupGroups(
        sharedFixture("classpng", s, d)(
          Multimodal.packClassPng(t(s, d, "documents"), "doc_id", classes = 10)),
        "id", "media", maxDist = 3, bands = 4)
        .select(col("id").cast("long").as("doc_id"),
          col("group_id").cast("long").as("group_id")),
      // groups = planted classes; group_id = min doc_id of the class
      // (window min — no assumption that ids start at 0 or are dense)
      """
      SELECT doc_id,
             CAST(min(doc_id) OVER (PARTITION BY doc_id % 10) AS BIGINT) AS group_id
      FROM documents"""),

    // The groups (linear-output) surface of the same fingerprint
    // pipeline: rep-level landmark pairs contract through connected
    // components, members map through their digest. The planted class
    // graph's transitive closure is hand-derivable — distance-6/7
    // edges chain classes {0,1,2,3,6,7,8,9} into ONE component
    // (0-7-1-8-2-9-3 via 0-6) while classes 4 and 5 stay singleton —
    // so every clip's group_id replays from id arithmetic.
    Gate("x_audio_fingerprint_groups", (s, d) =>
      graft.ops.AudioFingerprint.audioDedupGroups(
        sharedFixture("tonewav", s, d)(
          graft.ops.AudioFingerprint.packToneSequenceWav(
            t(s, d, "documents"), "doc_id")),
        "id", "media", minMatch = 3)
        .withColumnRenamed("id", "doc_id"),
      // groups contract: classes {0,1,2,3,6,7,8,9} chain into the
      // component whose canonical rep is doc 0; classes 4 and 5 group
      // under their own class-minimum doc ids.
      """
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 10 IN (4, 5) THEN doc_id % 10 ELSE 0 END AS BIGINT) AS group_id
      FROM documents"""),

    // Sentence-level corpus dedup (round 12): CCNet's boilerplate
    // mode — a newsletter pitch planted in EVERY doc and a promo
    // sentence shared by each id%5 class both cross min_df = 10 and
    // vanish; the corpus-text sentence and the per-doc unique tail
    // survive. Frequencies shuffle as digests, never bodies.
    Gate("x_dedup_sentences", (s, d) => {
      val id = col("doc_id")
      val planted = concat(coalesce(col("text"), lit("")), lit(". "),
        lit("Subscribe to our newsletter now please."),
        lit(" Special doc "), pmod(id, lit(5)), lit(" promo offer here."),
        lit(" Unique tail for doc "), id, lit(" indeed."))
      graft.ops.Dedup.dedupSentences(
        docs(s, d).select(id, planted.as("text")), "doc_id", "text", minDf = 10)
        .select(col("doc_id"), col("text"), col("n_sentences_removed"))
    },
      // sentence-dedup contract: the two planted boilerplate sentences
      // vanish, the corpus sentence and unique tail survive in order
      """
      SELECT doc_id,
             coalesce(text, '') || '. Unique tail for doc ' || doc_id || ' indeed.' AS text,
             CAST(2 AS BIGINT) AS n_sentences_removed
      FROM documents"""),

    // ==== extensions: similarity search ====
    Gate("x_ann_topk", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(
        e.where(col("vec_id") < 10), e, "vec_id", "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      """
      SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))))) AS cosine,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))))) DESC,
                 c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON q.vec_id <> c.vec_id)
      WHERE rank <= 5"""),
    Gate("x_ann_lsh", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(
        e.where(col("vec_id") < 10), e, "vec_id", "vec_id", "embedding",
        k = 5, dim = 64, planes = probePlanes)
        .withColumn("cosine", round(col("cosine"), 4))
    },
      s"""
      WITH c AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding", 64, probePlanes)} AS bkt
        FROM embeddings),
      q AS (SELECT * FROM c WHERE vec_id < 10)
      SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))))) AS cosine,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(64), i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))))) DESC,
                 c.vec_id ASC) AS rank
        FROM q JOIN c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id)
      WHERE rank <= 5"""),
    // IVF quality contract, oracle-checkable: recall@5 of the IVF
    // tier (replicas=4: near-isotropic embeddings — this testdata —
    // are IVF's worst case; multi-assignment buys the recall that
    // cluster structure would otherwise provide, see IvfIndex.build),
    // measured in-engine against the exact bruteForceTopK result. The
    // oracle can't re-derive k-means cells, but it CAN check the
    // contract: 10 queries, mean recall ≥ 0.9 (measured 0.92 at
    // sf0.01; deterministic under the fixed seed). An IVF regression
    // flips the boolean → hash mismatch. (The former rows-only
    // x_ann_ivf entry is folded into this gate — same build + search
    // configuration, but every emitted value is oracle-checkable.)
    Gate("x_ann_ivf_recall", (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 10)
      val approx = Similarity.IvfIndex
        .build(e, "vec_id", "embedding", dim = 64, nlist = 16, replicas = 4)
        .search(q, "vec_id", "embedding", k = 5, nprobe = 4)
      val exact = Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "vec_id", "embedding", k = 5)
      Similarity.recallAt(approx, exact)
        .agg(count(lit(1)).cast("long").as("n_queries"),
          (avg(col("recall")) >= 0.9).as("mean_recall_ge_090"))
    },
      // IVF recall contract: the oracle asserts the contract, the engine
      // measures it.
      """
      SELECT CAST(10 AS BIGINT) AS n_queries, true AS mean_recall_ge_090"""),

    // PQ quality contract, same pattern as x_ann_ivf_recall: ADC
    // search over 16x16 codes (16 bytes/vector vs 256 raw) must keep
    // mean recall@5 >= 0.3 vs the exact ranking. The bound is honest
    // for NEAR-RANDOM vectors (this testdata is PQ's worst case — no
    // structure to preserve; measured 0.44); PqSpec pins the
    // structured-data behavior (cluster retrieval, planted twins).
    // PCA/whitening contract (boolean gate, same shape as the recall
    // gates): components orthonormal, eigenvalues descending, and the
    // WHITENED projection's population variance is 1 on every kept
    // direction — the variance check runs distributed over the table,
    // so the gate exercises the codegen'd projection path end to end.
    Gate("x_embed_pca", (s, d) => {
      val e = t(s, d, "embeddings")
      val m = graft.ops.Pca.fit(e, "embedding", dim = 64, k = 16)
      val orthDev = (for (i <- 0 until 16; j <- i until 16) yield {
        val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
        math.abs(dot - (if (i == j) 1.0 else 0.0))
      }).max
      val monotone = m.eigenvalues.sliding(2).forall(w => w(0) >= w(1) - 1e-12)
      val proj = m.project(e, "embedding", "w", whiten = true)
      val varDevs = (1 to 16).map(j => abs(var_pop(element_at(col("w"), j)) - 1.0))
      proj.agg(count(lit(1)).cast("long").as("n_vectors"),
        (greatest(varDevs: _*) < 1e-6).as("whitened_unit_var"))
        .withColumn("orthonormal", lit(orthDev < 1e-9))
        .withColumn("eigen_monotone", lit(monotone))
        .select("n_vectors", "orthonormal", "eigen_monotone", "whitened_unit_var")
    },
      """
      SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS orthonormal,
             true AS eigen_monotone, true AS whitened_unit_var
      FROM embeddings"""),
    Gate("x_ann_pq_recall", (s, d) => {
      val e = t(s, d, "embeddings")
      val model = graft.ops.Pq.train(e, "embedding", dim = 64, m = 16, ksub = 16,
        idCol = Some("vec_id"))
      val enc = model.encode(e, "vec_id", "embedding")
      val q = e.where(col("vec_id") < 10)
      val approx = model.search(q, "vec_id", "embedding", enc, k = 5)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      Similarity.recallAt(approx, exact)
        .agg(count(lit(1)).cast("long").as("n_queries"),
          (avg(col("recall")) >= 0.3).as("mean_recall_ge_030"))
    },
      """
      SELECT CAST(10 AS BIGINT) AS n_queries, true AS mean_recall_ge_030"""),

    // IVF×PQ composition gate, through the RESIDUAL formulation the
    // README advertises (FAISS IndexIVFPQ shape): nprobe=8 of
    // nlist=16 — probing bounds WHICH rows are scored, the 16-byte
    // codes (m=16 subspaces × 8-bit codebooks, the standard FAISS
    // IndexIVFPQ configuration) bound WHAT a row costs. The round-7
    // ksub 16 → 256 move is the textbook recall lever at unchanged
    // code BYTES (a 4-bit code wastes half of each byte): measured
    // recall@5 0.44 → 0.88 at sf0.01 (curve in BASELINE.md), so the
    // gate bound tightens 0.3 → 0.6. Same contract pattern as the
    // other recall gates: the oracle asserts the bound, the engine
    // measures it against exact bruteForceTopK.
    Gate("x_ann_ivfpq_recall", (s, d) => {
      val e = t(s, d, "embeddings")
      val ix = graft.ops.Pq.IvfPq.build(e, "vec_id", "embedding", dim = 64,
        nlist = 16, m = 16, ksub = 256, residual = true)
      val q = e.where(col("vec_id") < 10)
      val approx = graft.ops.Pq.IvfPq.search(ix, q, "vec_id", "embedding", k = 5, nprobe = 8)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      Similarity.recallAt(approx, exact)
        .agg(count(lit(1)).cast("long").as("n_queries"),
          (avg(col("recall")) >= 0.6).as("mean_recall_ge_060"))
    },
      // residual IVF×PQ recall contract (see x_ann_ivfpq_recall).
      """
      SELECT CAST(10 AS BIGINT) AS n_queries, true AS mean_recall_ge_060"""),
  )
}
