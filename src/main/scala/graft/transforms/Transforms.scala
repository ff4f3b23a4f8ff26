package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

import graft.GraftAnalysisException
import graft.spec.{Config, TransformSpec}

/** The transform operator set: each op is `(DataFrame, Config, ctx) =>
  * DataFrame`, purely declarative — it extends the Catalyst logical
  * plan and never triggers an action, so pushdown / pruning / codegen
  * apply across the whole chain.
  *
  * Covers the reference's 8 transforms (main.py:159-291) with the
  * declared semantics of SURVEY §2.5, plus the relational surface the
  * reference lacks (SURVEY §2.4 ABSENT list): limit, explicit union,
  * window functions, multi-aggregation, distinct aggregation, rollup /
  * cube, non-inner joins, and a full SQL escape hatch.
  */
object Transforms {

  type Ctx = Map[String, DataFrame]

  def apply(df: DataFrame, t: TransformSpec, ctx: Ctx): DataFrame = t.transformType match {
    case "filter"      => FilterOp(df, t.config)
    case "map"         => MapOp(df, t.config)
    case "aggregate"   => AggregateOp(df, t.config)
    case "join"        => JoinOp(df, t.config, ctx)
    case "sort"        => SortOp(df, t.config)
    case "deduplicate" => DedupOp(df, t.config)
    case "select"      => SelectOp(df, t.config)
    case "rename"      => RenameOp(df, t.config)
    case "limit"       => LimitOp(df, t.config)
    case "union"       => UnionOp(df, t.config, ctx)
    case "intersect"   => SetOp(df, t.config, ctx, "intersect")
    case "except"      => SetOp(df, t.config, ctx, "except")
    case "distinct"    => df.distinct()
    case "window"      => WindowOp(df, t.config)
    case "sql"         => SqlOp(df, t.config, ctx)
    case "sample"      => SampleOp(df, t.config)
    case "stratified_sample" => StratifiedSampleOp(df, t.config)
    case "token_budget" => TokenBudgetOp(df, t.config)
    case "split"       => SplitOp(df, t.config)
    // event-time watermark (streaming pipelines): bounds state for
    // downstream windowed aggregates; a no-op semantic on batch data
    case "pivot"       => PivotOp(df, t.config)
    case "unpivot"     => UnpivotOp(df, t.config)
    case "explode"     => ExplodeOp(df, t.config)
    // physical-layout controls: repartition shuffles to n partitions /
    // by key columns (co-location before N downstream joins, or
    // sizing output files); coalesce merges partitions without a
    // shuffle (small-file compaction on write)
    case "repartition" =>
      val cols = t.config.strList("by")
      (t.config.int("n"), cols) match {
        case (Some(n), Nil)  => df.repartition(n)
        case (Some(n), cs)   => df.repartition(n, cs.map(Transforms.c): _*)
        case (None, cs) if cs.nonEmpty => df.repartition(cs.map(Transforms.c): _*)
        case _ => throw new GraftAnalysisException("repartition: needs 'n' and/or 'by'")
      }
    case "coalesce" =>
      df.coalesce(t.config.int("n").getOrElse(
        throw new GraftAnalysisException("coalesce: needs 'n'")))
    case "watermark" =>
      df.withWatermark(t.config.reqStr("field"), t.config.str("delay").getOrElse("10 minutes"))
    // tumbling/sliding event-time window aggregation: adds the window
    // struct as group key; works in both batch and streaming mode
    case "window_agg" =>
      val cfg = t.config
      val ts = cfg.reqStr("time_field")
      val win = cfg.str("slide") match {
        case Some(sl) => window(c(ts), cfg.str("duration").getOrElse("5 minutes"), sl)
        case None     => window(c(ts), cfg.str("duration").getOrElse("5 minutes"))
      }
      val withWin = df.groupBy((win.as("window") +: cfg.strList("group_by").map(c)): _*)
      val aggs = AggregateOp.buildAggs(cfg)
      withWin.agg(aggs.head, aggs.tail: _*)
        .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
          col("*")).drop("window")
    // §2.6 extension ops, addressable from pipeline specs / the CLI
    case "dedup_exact" =>
      graft.ops.Dedup.exactByFingerprint(df,
        t.config.str("text_field").getOrElse("text"), t.config.reqStr("tie_break"))
    case "dedup_minhash" =>
      graft.ops.Dedup.minhashNearDups(df,
        t.config.reqStr("id_field"), t.config.str("text_field").getOrElse("text"),
        t.config.double("threshold").getOrElse(0.7),
        maxBucketSize = t.config.int("max_bucket").getOrElse(0))
    // linear-output text dedup: one (id, group_id) row per document —
    // the near-dup closure without materializing member pairs
    case "dedup_groups" =>
      graft.ops.Dedup.minhashDedupGroups(df,
        t.config.reqStr("id_field"), t.config.str("text_field").getOrElse("text"),
        t.config.double("threshold").getOrElse(0.7),
        maxBucketSize = t.config.int("max_bucket").getOrElse(0))
    case "text_profile" =>
      graft.ops.TextAnalysis.profile(df, t.config.str("text_field").getOrElse("text"))
    case "dedup_simhash" =>
      val cfg = t.config
      graft.ops.Dedup.simhashNearDups(
        graft.ops.Dedup.simhash(df, cfg.reqStr("id_field"),
          cfg.str("text_field").getOrElse("text")),
        cfg.reqStr("id_field"),
        maxDist = cfg.int("max_dist").getOrElse(3),
        maxBucketSize = cfg.int("max_bucket").getOrElse(0))
    case "dedup_embed" =>
      val cfg = t.config
      graft.ops.Dedup.embeddingNearDups(df,
        cfg.reqStr("id_field"), cfg.str("vec_field").getOrElse("embedding"),
        threshold = cfg.double("threshold").getOrElse(0.95),
        planes = cfg.int("planes").getOrElse(8),
        bruteForce = cfg.bool("brute_force").getOrElse(false),
        dim = cfg.int("dim").getOrElse(0),
        tables = cfg.int("tables").getOrElse(1))
    // linear-output embedding dedup: (id, group_id) closure over the
    // sign-LSH near-dup relation, no member-pair materialization
    case "embed_neardup_groups" =>
      val cfg = t.config
      graft.ops.Dedup.embeddingDedupGroups(df,
        cfg.reqStr("id_field"), cfg.str("vec_field").getOrElse("embedding"),
        threshold = cfg.double("threshold").getOrElse(0.95),
        planes = cfg.int("planes").getOrElse(8),
        seed = cfg.long("seed").getOrElse(42L),
        dim = cfg.int("dim").getOrElse(0),
        tables = cfg.int("tables").getOrElse(1))
    // SemDeDup (Abbas et al. 2023): semantic dedup by embedding
    // clustering — per-row (cell, centroid_cos, kept) verdicts
    case "semdedup" =>
      val cfg = t.config
      graft.ops.Dedup.semDedup(df,
        cfg.reqStr("id_field"), cfg.str("vec_field").getOrElse("embedding"),
        dim = cfg.reqLong("dim").toInt,
        k = cfg.int("k").getOrElse(16),
        eps = cfg.double("eps").getOrElse(0.95),
        seed = cfg.long("seed").getOrElse(42L),
        centroidMode = cfg.str("centroids").getOrElse("kmeans"))
    // cross-corpus near-dup (train/test contamination): current stream
    // is the EVAL side, `against` names the train-side source (same
    // context mechanism as join/ann_topk)
    case "contamination" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val right = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"contamination: unknown source '$rName'"))
      graft.ops.Dedup.minhashContamination(df, right,
        cfg.reqStr("id_field"),
        cfg.str("right_id_field").getOrElse(cfg.reqStr("id_field")),
        cfg.str("text_field").getOrElse("text"),
        threshold = cfg.double("threshold").getOrElse(0.7))
    case "contamination_embed" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val right = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"contamination_embed: unknown source '$rName'"))
      graft.ops.Dedup.embeddingContamination(df, right,
        cfg.reqStr("id_field"),
        cfg.str("right_id_field").getOrElse(cfg.reqStr("id_field")),
        cfg.str("vec_field").getOrElse("embedding"),
        threshold = cfg.double("threshold").getOrElse(0.95),
        planes = cfg.int("planes").getOrElse(8),
        dim = cfg.int("dim").getOrElse(0),
        tables = cfg.int("tables").getOrElse(1))
    // exact n-gram decontamination (GPT-3 13-gram method): current
    // stream is the TRAIN side, `against` names the benchmark source
    case "contamination_ngram" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val right = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"contamination_ngram: unknown source '$rName'"))
      graft.ops.Dedup.ngramContamination(df, right,
        cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"),
        n = cfg.int("n").getOrElse(13),
        broadcastTest = cfg.bool("broadcast").getOrElse(true))
    case "text_repetition" =>
      val tf = t.config.str("text_field").getOrElse("text")
      df.withColumn("__rep", graft.ops.TextAnalysis.repetitionStruct(c(tf)))
        .select(col("*"), col("__rep.*")).drop("__rep")
    case "text_top_ngram" =>
      graft.ops.TextAnalysis.topNgramStats(df, t.config.reqStr("id_field"),
        t.config.str("text_field").getOrElse("text"),
        n = t.config.int("n").getOrElse(2))
    // perplexity-proxy scoring; `lm_source` (optional) names the
    // corpus the unigram LM is fit on — default: the stream itself
    case "text_unigram_ppx" =>
      val cfg = t.config
      val tf = cfg.str("text_field").getOrElse("text")
      val lmDf = cfg.str("lm_source").map(n => ctx.getOrElse(n,
        throw new GraftAnalysisException(s"text_unigram_ppx: unknown source '$n'"))).getOrElse(df)
      graft.ops.TextAnalysis.unigramNll(df, cfg.reqStr("id_field"), tf,
        graft.ops.TextAnalysis.unigramLogProbs(lmDf, tf))
    // order-2 interpolated LM scoring; LM counts come from this frame
    // (self-scoring, the CCNet shape trains on a reference corpus —
    // point lm at another source when that lands in the spec schema)
    case "text_bigram_ppx" =>
      val cfg = t.config
      graft.ops.TextAnalysis.bigramNll(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        lambda = cfg.double("lambda").getOrElse(0.7))
    // closed-form NB classifier: full score matrix, or argmax rows
    // when predict=true
    case "nb_classify" =>
      val cfg = t.config
      val scores = graft.ops.TextAnalysis.nbScores(df, cfg.reqStr("id_field"),
        cfg.reqStr("label_field"), cfg.str("text_field").getOrElse("text"),
        alpha = cfg.double("alpha").getOrElse(1.0))
      if (cfg.bool("predict").getOrElse(false))
        graft.ops.TextAnalysis.nbPredict(scores, cfg.reqStr("id_field"))
      else scores
    // fastText-style closed-form linear classifier: fit on this input
    // (labels in label_field), emit scores or argmax predictions
    case "linear_classify" =>
      val cfg = t.config
      val m = graft.ops.LinearClassifier.fit(df, cfg.reqStr("id_field"),
        cfg.reqStr("label_field"), cfg.str("text_field").getOrElse("text"),
        nBuckets = cfg.long("buckets").getOrElse(512L).toInt,
        lambda = cfg.double("lambda").getOrElse(1e-4))
      if (cfg.bool("predict").getOrElse(false))
        m.predict(df, cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"))
      else m.score(df, cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"))
    // CMS-prefiltered exact heavy hitters (the Bloom sibling): keys
    // with true weight >= threshold, exact counts, no full-key shuffle
    case "heavy_hitters" =>
      graft.ops.CountMin.heavyHittersOp(df, t.config)
    // trained language identifier: the linear_classify machinery over
    // char-n-gram + Unicode-script features (labels in label_field;
    // predict=true is the default — langid is used for its verdict)
    case "langid_classify" =>
      val cfg = t.config
      val m = graft.ops.TextAnalysis.langIdFit(df, cfg.reqStr("id_field"),
        cfg.reqStr("label_field"), cfg.str("text_field").getOrElse("text"),
        nBuckets = cfg.long("buckets").getOrElse(2048L).toInt,
        lambda = cfg.double("lambda").getOrElse(1e-4))
      if (cfg.bool("predict").getOrElse(true))
        m.predict(df, cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"))
      else m.score(df, cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"))
    // order-3: BOS-padded uniform positions, λ₃/λ₂/λ₁ interpolation
    case "text_trigram_ppx" =>
      val cfg = t.config
      graft.ops.TextAnalysis.trigramNll(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        l3 = cfg.double("l3").getOrElse(0.5),
        l2 = cfg.double("l2").getOrElse(0.3),
        l1 = cfg.double("l1").getOrElse(0.2))
    // check the stream (a new ingest batch) against a PERSISTED
    // signature index; `against` names the corpus source whose text
    // the exact-Jaccard verify point-reads for candidates
    case "dedup_index_check" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val corpus = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"dedup_index_check: unknown source '$rName'"))
      val ix = graft.ops.Dedup.NearDupIndex.load(df.sparkSession, cfg.reqStr("index_path"))
      graft.ops.Dedup.NearDupIndex.check(ix, df,
        cfg.reqStr("id_field"), cfg.str("text_field").getOrElse("text"),
        corpus, cfg.str("right_id_field").getOrElse(cfg.reqStr("id_field")),
        cfg.str("right_text_field").getOrElse(cfg.str("text_field").getOrElse("text")),
        threshold = cfg.double("threshold").getOrElse(0.7))
    case "pack_sequences" =>
      val cfg = t.config
      val capacity = cfg.int("capacity").getOrElse(
        throw new GraftAnalysisException("pack_sequences: 'capacity' is required")).toLong
      val pack = cfg.str("strategy").getOrElse("greedy") match {
        case "greedy" => graft.ops.Packing.packGreedy _
        case "bfd"    => graft.ops.Packing.packBestFitDecreasing _
        case other => throw new GraftAnalysisException(
          s"pack_sequences: unknown strategy '$other' (greedy | bfd)")
      }
      pack(df, cfg.reqStr("id_field"), cfg.reqStr("group_field"),
        cfg.str("text_field").getOrElse("text"), capacity)
    // corpus datasheet: per-class volumes + exact-dup redundancy
    case "corpus_report" =>
      val cfg = t.config
      graft.ops.TextAnalysis.corpusReport(df,
        cfg.str("text_field").getOrElse("text"), cfg.reqStr("class_field"))
    // tf-idf term scores (every doc-term pair, smoothed idf)
    case "tfidf" =>
      val cfg = t.config
      graft.ops.TextAnalysis.tfidfScores(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"))
    // C4 line/page quality filter: drop rejected pages, keep only
    // terminal-punctuated >=5-word non-javascript lines
    case "c4_filter" =>
      graft.ops.TextAnalysis.c4Filter(df,
        t.config.str("text_field").getOrElse("text"))
    // DSIR importance weights: log p_target/p_source under hashed
    // n-gram bag models; `target` names the target-domain source
    case "dsir_weights" =>
      val cfg = t.config
      val tName = cfg.reqStr("target")
      val target = ctx.getOrElse(tName,
        throw new GraftAnalysisException(s"dsir_weights: unknown source '$tName'"))
      graft.ops.TextAnalysis.dsirLogWeights(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        target, cfg.str("target_text_field").getOrElse("text"),
        buckets = cfg.int("buckets").getOrElse(4096),
        alpha = cfg.double("alpha").getOrElse(1.0))
    // corpus version diff vs a second declared source: added /
    // removed / changed / unchanged per id by content fingerprint
    case "corpus_diff" =>
      val cfg = t.config
      val oName = cfg.reqStr("old")
      val old = ctx.getOrElse(oName,
        throw new GraftAnalysisException(s"corpus_diff: unknown source '$oName'"))
      graft.ops.Dedup.corpusDiff(old, df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"))
    // repeated-span dedup: remove non-canonical occurrences of any
    // k-token window repeated >= min_count times corpus-wide
    case "dedup_spans" =>
      val cfg = t.config
      graft.ops.Dedup.dedupSpans(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        k = cfg.int("k").getOrElse(8),
        minCount = cfg.int("min_count").getOrElse(2))
    // exact-substring dedup, Lee et al. ExactSubstr CUT semantics:
    // every occurrence of any >= min_len-token duplicated substring
    // is removed (dedup_spans is the keep-canonical tier)
    case "dedup_substrings" =>
      val cfg = t.config
      graft.ops.Dedup.exactSubstrCut(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        minLen = cfg.int("min_len").getOrElse(50),
        prefilterK = cfg.int("prefilter_k").getOrElse(8))
    // corpus-level line dedup: strip lines appearing in >= min_df
    // distinct documents (C4/RefinedWeb boilerplate removal)
    case "dedup_lines" =>
      val cfg = t.config
      graft.ops.Dedup.dedupLines(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        cfg.int("min_df").getOrElse(
          throw new GraftAnalysisException("dedup_lines: 'min_df' is required")))
    // per-doc sliding windows with overlap (RAG chunking)
    case "sliding_chunks" =>
      val cfg = t.config
      graft.ops.Packing.slidingChunks(df, cfg.reqStr("id_field"),
        cfg.str("text_field").getOrElse("text"),
        chunkSize = cfg.int("size").getOrElse(
          throw new GraftAnalysisException("sliding_chunks: 'size' is required")),
        stride = cfg.int("stride").getOrElse(
          throw new GraftAnalysisException("sliding_chunks: 'stride' is required")))
    // symmetric int8 scalar quantization of an embedding column
    case "quantize_int8" =>
      val cfg = t.config
      graft.ops.Similarity.quantizeInt8(df, cfg.reqStr("id_field"),
        cfg.str("vector_field").getOrElse("embedding"))
    // concat-and-chunk fixed context windows (documents cross window
    // boundaries; the group is the parallelism unit)
    case "chunk_windows" =>
      val cfg = t.config
      graft.ops.Packing.chunkWindows(df, cfg.reqStr("id_field"),
        cfg.reqStr("group_field"), cfg.str("text_field").getOrElse("text"),
        windowSize = cfg.int("window_size").getOrElse(
          throw new GraftAnalysisException("chunk_windows: 'window_size' is required")),
        eod = cfg.str("eod").getOrElse("<|eod|>"))
    // temperature rebalancing: per-class keep rate (n_min/n_c)^(1-a)
    case "temperature_sample" =>
      val cfg = t.config
      graft.ops.Packing.temperatureSample(df, cfg.reqStr("key"),
        cfg.reqStr("class_field"),
        alpha = cfg.double("alpha").getOrElse(0.5),
        seed = cfg.long("seed").getOrElse(0L))
    // reproducible training-order shuffle: md5-of-key order into
    // nShards, position within shard — same epoch on any engine
    case "shuffle_shards" =>
      val cfg = t.config
      graft.ops.Packing.shuffleShards(df, cfg.reqStr("key"),
        cfg.int("n_shards").getOrElse(
          throw new GraftAnalysisException("shuffle_shards: 'n_shards' is required")),
        seed = cfg.long("seed").getOrElse(0L))
    case "bpe_tokens" =>
      val cfg = t.config
      val tf = cfg.str("text_field").getOrElse("text")
      val lmDf = cfg.str("train_source").map(n => ctx.getOrElse(n,
        throw new GraftAnalysisException(s"bpe_tokens: unknown source '$n'"))).getOrElse(df)
      graft.ops.Bpe.train(lmDf, tf,
          numMerges = cfg.int("num_merges").getOrElse(200),
          vocabWords = cfg.int("vocab_words").getOrElse(10000))
        .encodeCounts(df, cfg.reqStr("id_field"), tf)
    // BYTE-level BPE (GPT-2/tiktoken family): raw-text token budgets —
    // punctuation, case, whitespace, non-Latin all count; encoding
    // never fails (256-byte alphabet + byte fallback)
    case "byte_bpe_tokens" =>
      val cfg = t.config
      val tf = cfg.str("text_field").getOrElse("text")
      val lmDf = cfg.str("train_source").map(n => ctx.getOrElse(n,
        throw new GraftAnalysisException(s"byte_bpe_tokens: unknown source '$n'"))).getOrElse(df)
      graft.ops.BpeBytes.train(lmDf, tf,
          numMerges = cfg.int("num_merges").getOrElse(200),
          vocabWords = cfg.int("vocab_words").getOrElse(10000))
        .encodeCounts(df, cfg.reqStr("id_field"), tf)
    // WordPiece tokenizer (BERT family): likelihood-scored merges,
    // greedy longest-match encode with ## continuations and [UNK]
    case "wordpiece_tokens" =>
      val cfg = t.config
      val tf = cfg.str("text_field").getOrElse("text")
      val lmDf = cfg.str("train_source").map(n => ctx.getOrElse(n,
        throw new GraftAnalysisException(s"wordpiece_tokens: unknown source '$n'"))).getOrElse(df)
      graft.ops.WordPiece.train(lmDf, tf,
          numMerges = cfg.int("num_merges").getOrElse(200),
          vocabWords = cfg.int("vocab_words").getOrElse(10000))
        .encodeCounts(df, cfg.reqStr("id_field"), tf)
    // unigram-LM (SentencePiece-family) tokenizer: EM-trained piece
    // probabilities, Viterbi segmentation; same output surface as
    // bpe_tokens so token budgets compare column for column
    case "unigram_tokens" =>
      val cfg = t.config
      val tf = cfg.str("text_field").getOrElse("text")
      val lmDf = cfg.str("train_source").map(n => ctx.getOrElse(n,
        throw new GraftAnalysisException(s"unigram_tokens: unknown source '$n'"))).getOrElse(df)
      graft.ops.Unigram.train(lmDf, tf,
          vocabSize = cfg.int("vocab_size").getOrElse(512),
          maxPieceLen = cfg.int("max_piece_len").getOrElse(6),
          vocabWords = cfg.int("vocab_words").getOrElse(10000))
        .encodeCounts(df, cfg.reqStr("id_field"), tf)
    case "redact_pii" =>
      val f = t.config.str("field").getOrElse("text")
      df.withColumn(t.config.str("out_field").getOrElse(f),
        graft.ops.TextAnalysis.redactPii(c(f)))
    // HTML -> text extraction (crawl ingest: strip script/style/
    // comments/tags, decode entities, normalize whitespace)
    case "html_extract" =>
      val f = t.config.str("field").getOrElse("html")
      df.withColumn(t.config.str("out_field").getOrElse("text"),
        graft.ops.TextAnalysis.htmlExtract(c(f)))
    case "markdown_extract" =>
      val f = t.config.str("field").getOrElse("markdown")
      df.withColumn(t.config.str("out_field").getOrElse("text"),
        graft.ops.TextAnalysis.markdownExtract(c(f)))
    // writing-system histogram + dominant script
    case "text_script" =>
      val f = t.config.str("field").getOrElse("text")
      df.withColumn(t.config.str("out_field").getOrElse("script"),
        graft.ops.TextAnalysis.scriptProfile(c(f)))
    // encoding repair (ftfy's core case): reverse UTF-8-as-cp1252
    // mojibake; clean text passes through identical
    case "fix_encoding" =>
      val f = t.config.str("field").getOrElse("text")
      df.withColumn(t.config.str("out_field").getOrElse(f),
        graft.ops.TextAnalysis.fixEncoding(c(f)))
    // compression-ratio entropy proxy: both tails of the ratio
    // distribution are filter candidates (template spam low,
    // encoded junk high)
    case "compression_ratio" =>
      val f = t.config.str("field").getOrElse("text")
      df.withColumn(t.config.str("out_field").getOrElse("compression_ratio"),
        graft.ops.TextAnalysis.compressionRatio(c(f)))
    // block-level boilerplate classification + main-content extract
    case "boilerplate_blocks" =>
      graft.ops.Boilerplate.blocks(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("html"))
    case "boilerplate_extract" =>
      graft.ops.Boilerplate.extract(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("html"))
    // HTML table cells in long format
    case "html_tables" =>
      graft.ops.Tables.extract(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("html"))
    // sentence-level corpus dedup (CCNet boilerplate mode)
    case "dedup_sentences" =>
      graft.ops.Dedup.dedupSentences(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("text"),
        minDf = t.config.int("min_df").getOrElse(2))
    // sentence segmentation + sentence-boundary RAG chunking
    case "split_sentences" =>
      graft.ops.Sentences.split(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("text"))
    case "sentence_chunks" =>
      graft.ops.Sentences.chunkBySentence(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("field").getOrElse("text"),
        maxChars = t.config.int("max_chars").getOrElse(2000),
        overlap = t.config.int("overlap").getOrElse(0))
    // SFT conversation ops: messages-convention JSON → long turn
    // rows / role-grammar check / chat-template render
    case "chat_parse" =>
      graft.ops.Chat.parseConversations(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("json_field").getOrElse("json"))
    case "chat_validate" =>
      graft.ops.Chat.validateAlternation(
        graft.ops.Chat.parseConversations(df,
          t.config.str("id_field").getOrElse("id"),
          t.config.str("json_field").getOrElse("json")))
    case "chat_render" =>
      graft.ops.Chat.renderTemplate(
        graft.ops.Chat.parseConversations(df,
          t.config.str("id_field").getOrElse("id"),
          t.config.str("json_field").getOrElse("json")))
    // Unicode normalization (UAX #15): NFC before hashing/dedup,
    // NFKC as the tokenizer-grade compatibility fold; bad form name
    // is an analysis error before the job launches
    case "normalize_unicode" =>
      val f = t.config.str("field").getOrElse("text")
      val form = t.config.str("form").getOrElse("NFC")
      if (!graft.expr.UnicodeNormalizeKernel.Forms(form))
        throw new graft.GraftAnalysisException(
          s"transform '${t.name}': normalize_unicode form must be one of " +
            s"${graft.expr.UnicodeNormalizeKernel.Forms.mkString("/")}, got '$form'")
      df.withColumn(t.config.str("out_field").getOrElse(f),
        graft.ops.TextAnalysis.normalizeUnicode(c(f), form))
    // PDF ingest: extract text + structure from a PDF payload column
    case "pdf_extract" =>
      graft.ops.Pdf.extractPdfText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("media_field").getOrElse("media"))
    // .zst ingest: decompress a zstd payload column (from-spec
    // RFC 8878 decoder) into a text column for downstream ops
    case "zstd_decode" =>
      graft.ops.Multimodal.decodeZstdText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("media_field").getOrElse("media"))
    // dictionary-compressed zstd: payload + dictionary columns
    // (raw-content or trained/structured dictionaries)
    case "zstd_decode_dict" =>
      graft.ops.ZstdCodec.decodeDictText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("payload_field").getOrElse("payload"),
        t.config.str("dict_field").getOrElse("dict"))
    // .gz ingest: same seam through the from-spec RFC 1952 decoder
    case "gzip_decode" =>
      graft.ops.Multimodal.decodeGzipText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("media_field").getOrElse("media"))
    // .br ingest: same seam through the from-spec RFC 7932 decoder
    case "brotli_decode" =>
      graft.ops.Brotli.decodeBrotliText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("media_field").getOrElse("media"))
    // sniff-dispatched universal decode: format chain + text surface
    // for extensionless mixed-format payloads
    case "decode_any" =>
      graft.ops.DecodeAny.decode(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("payload_field").getOrElse("payload"))
    // Delta transaction-log replay: (version, content) commit rows ->
    // the table's current active-file set
    case "delta_snapshot" =>
      graft.ops.DeltaLog.activeFiles(df,
        t.config.str("version_field").getOrElse("version"),
        t.config.str("content_field").getOrElse("content"))
    // Iceberg manifest decode: (id, manifest-avro payload) rows ->
    // one row per manifest_entry (status/path/format/counts)
    case "iceberg_manifest" =>
      graft.ops.Iceberg.entriesDf(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("payload_field").getOrElse("payload"))
    // bloom membership vs another source: build a deterministic
    // bloom over `against`'s key field (one fixed-state aggregation,
    // no key shuffle) and flag each row's key — the crawl-frontier
    // "seen in an earlier batch?" check without a join
    case "bloom_check" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val right = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"bloom_check: unknown source '$rName'"))
      val keyField = cfg.str("field").getOrElse("url")
      val rightKey = cfg.str("right_field").getOrElse(keyField)
      val k = cfg.int("hashes").getOrElse(4)
      val m = cfg.int("bits").getOrElse(
        graft.ops.Bloom.sizeFor(math.max(1L, right.count()), k,
          cfg.double("fpp").getOrElse(0.01)))
      val filter = graft.ops.Bloom.build(right, rightKey, m, k)
      df.withColumn(cfg.str("out_field").getOrElse("seen"),
        graft.ops.Bloom.mightContain(filter, k, c(keyField).cast("string")))
    // bloom-pruned join: same result as `join` (inner/left_semi only),
    // but the big left stream is pruned AT ITS SCAN with a filter
    // built over the right side's keys, so rows that cannot match
    // never enter the shuffle — the explicit runtime-filter pattern
    // for 100 TB probe sides
    case "bloom_join" =>
      val cfg = t.config
      val rName = cfg.reqStr("right")
      val right0 = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"bloom_join: unknown right source '$rName'"))
      val lk = cfg.str("left_key").getOrElse("id")
      val rk = cfg.str("right_key").getOrElse("id")
      val how = cfg.str("how").getOrElse("inner")
      if (how != "inner" && how != "left_semi")
        throw new GraftAnalysisException(
          s"bloom_join: only inner/left_semi (pruning is lossless for those); got '$how'")
      // inner keeps right columns under the JoinOp prefix convention;
      // left_semi emits left columns only, so no rename is needed
      val prefix = cfg.str("prefix").getOrElse("r_")
      val right = if (how == "inner")
        right0.select(right0.columns.map(cn => c(cn).as(prefix + cn)).toSeq: _*)
      else right0
      val rkEff = if (how == "inner") prefix + rk else rk
      graft.ops.Bloom.prunedJoin(df, right, lk, rkEff, how,
        cfg.int("hashes").getOrElse(5), cfg.double("fpp").getOrElse(0.01),
        cfg.int("right_count").map(_.toLong))
    // matryoshka truncation: first-k dims (+ renormalize) of an
    // MRL-style embedding column, in place
    case "embed_truncate" =>
      graft.ops.Similarity.truncateEmbeddings(df,
        t.config.str("field").getOrElse("embedding"),
        t.config.int("dims").getOrElse(64),
        t.config.bool("renormalize").getOrElse(true))
    // URL blocklist (UT1-style): drop rows whose URL hits a host
    // suffix, path prefix, or regex rule; action=flag keeps rows and
    // adds a `blocked` column instead
    case "url_filter" =>
      val f = c(t.config.str("field").getOrElse("url"))
      val blocked = graft.ops.DomainCap.urlBlocked(f,
        t.config.strList("block_hosts"), t.config.strList("block_paths"),
        t.config.strList("block_patterns"))
      if (t.config.str("action").getOrElse("drop") == "flag")
        df.withColumn(t.config.str("out_field").getOrElse("blocked"), blocked)
      else df.where(!blocked)
    // robots.txt politeness (RFC 9309): evaluate each row's URL
    // against the `against` source's per-host robots bodies for the
    // configured agent; action=flag appends the verdict, drop keeps
    // only fetchable rows. Hosts with no robots row are allowed.
    case "robots_filter" =>
      val cfg = t.config
      val rName = cfg.reqStr("against")
      val robots = ctx.getOrElse(rName,
        throw new GraftAnalysisException(s"robots_filter: unknown source '$rName'"))
      val urlField = cfg.str("field").getOrElse("url")
      val hostField = cfg.str("host_field").getOrElse("host")
      val contentField = cfg.str("content_field").getOrElse("robots_txt")
      val agent = cfg.str("agent").getOrElse("*")
      if (cfg.str("action").getOrElse("drop") == "flag")
        graft.ops.Robots.verdicts(df, urlField, robots, hostField, contentField,
          agent, cfg.str("out_field").getOrElse("allowed"))
      else
        graft.ops.Robots.filter(df, urlField, robots, hostField, contentField, agent)
    // domain-diversity cap: keep ≤ max_per_host docs per URL host
    // (mode first|sample), schemeless rows exempt; rows filter in
    // place via semi-join on the id field
    case "domain_cap" =>
      val idField = t.config.str("id_field").getOrElse("doc_id")
      val flags = graft.ops.DomainCap.capPerHost(df,
        t.config.str("field").getOrElse("url"), idField,
        t.config.int("max_per_host").getOrElse(1000),
        t.config.str("mode").getOrElse("first"))
      df.join(flags.where(col("kept")).select(col("id").cast(df.schema(idField).dataType).as(idField)),
        Seq(idField), "left_semi")
    case "url_normalize" =>
      df.withColumn(t.config.str("out_field").getOrElse("url_norm"),
        graft.ops.TextAnalysis.normalizeUrl(c(t.config.str("field").getOrElse("url"))))
    case "pca_whiten" =>
      val cfg = t.config
      val vecF = cfg.str("vec_field").getOrElse("embedding")
      val dim = cfg.int("dim").getOrElse(
        throw new GraftAnalysisException("pca_whiten: 'dim' is required"))
      val k = cfg.int("k").getOrElse(dim)
      graft.ops.Pca.fit(df, vecF, dim, k)
        .project(df, vecF, cfg.str("out_field").getOrElse("pca"),
          whiten = cfg.bool("whiten").getOrElse(true))
    case "ann_topk" =>
      val cfg = t.config
      val qName = cfg.reqStr("queries")
      val q = ctx.getOrElse(qName,
        throw new GraftAnalysisException(s"ann_topk: unknown queries source '$qName'"))
      val (idF, vecF) = (cfg.str("id_field").getOrElse("vec_id"),
        cfg.str("vec_field").getOrElse("embedding"))
      val k = cfg.int("k").getOrElse(10)
      cfg.str("method").getOrElse("brute") match {
        case "brute" => graft.ops.Similarity.bruteForceTopK(q, df, idF, idF, vecF, k)
        case "lsh" => graft.ops.Similarity.lshTopK(q, df, idF, idF, vecF, k,
          dim = cfg.int("dim").getOrElse(64), planes = cfg.int("planes").getOrElse(6),
          tables = cfg.int("tables").getOrElse(1))
        // `index_path` reopens a persisted index (build once over the
        // corpus, search many times) instead of re-clustering per run
        case "ivf" =>
          val ix = cfg.str("index_path") match {
            case Some(p) => graft.ops.Similarity.IvfIndex.load(df.sparkSession, p)
            case None => graft.ops.Similarity.IvfIndex.build(df, idF, vecF,
              dim = cfg.int("dim").getOrElse(64), nlist = cfg.int("nlist").getOrElse(16))
          }
          ix.search(q, idF, vecF, k, nprobe = cfg.int("nprobe").getOrElse(4))
        // compression tier: train + encode + ADC search in one step
        // (persist the codebook via Pq.save/load for build-once flows)
        case "pq" =>
          val model = graft.ops.Pq.train(df, vecF, dim = cfg.int("dim").getOrElse(64),
            m = cfg.int("m").getOrElse(8), ksub = cfg.int("ksub").getOrElse(16),
            idCol = Some(idF))
          model.search(q, idF, vecF, model.encode(df, idF, vecF), k)
        // the production composition: IVF bounds WHICH rows, PQ bounds
        // WHAT a row costs; residual encoding on by default (beats
        // flat PQ at equal code size — see Pq.IvfPq scaladoc)
        case "ivfpq" =>
          val ix = cfg.str("index_path") match {
            case Some(p) => graft.ops.Pq.IvfPq.load(df.sparkSession, p)
            case None => graft.ops.Pq.IvfPq.build(df, idF, vecF,
              dim = cfg.int("dim").getOrElse(64), nlist = cfg.int("nlist").getOrElse(16),
              m = cfg.int("m").getOrElse(8), ksub = cfg.int("ksub").getOrElse(16),
              residual = cfg.bool("residual").getOrElse(true),
              opq = cfg.bool("opq").getOrElse(false))
          }
          graft.ops.Pq.IvfPq.search(ix, q, idF, vecF, k,
            nprobe = cfg.int("nprobe").getOrElse(4))
        // 32x-compression tier: packed sign bits, XOR-popcount hamming
        case "binary" => graft.ops.Similarity.binaryTopK(df, idF, vecF, q, idF,
          dim = cfg.int("dim").getOrElse(64), k = k)
        case other => throw new GraftAnalysisException(s"ann_topk: unknown method '$other'")
      }
    case "text_lang" =>
      df.withColumn("lang_id",
        graft.ops.TextAnalysis.langId(col(t.config.str("text_field").getOrElse("text"))))
    case "multimodal_pack" =>
      graft.ops.Multimodal.packText(df, t.config.str("text_field").getOrElse("text"),
        t.config.str("mime").getOrElse("text/plain"))
    case "multimodal_features" =>
      graft.ops.Multimodal.extractFeatures(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    case "multimodal_resize" =>
      val resizer = t.config.str("codec").getOrElse("stub") match {
        case "stub" => new graft.ops.Multimodal.FakeResizer()
        case "png"  => new graft.ops.Multimodal.PngResizer() // real pixels for PNG, stub fallback
        case other => throw new GraftAnalysisException(
          s"multimodal_resize: unknown codec '$other' (stub | png)")
      }
      graft.ops.Multimodal.resize(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        t.config.int("width").getOrElse(64), t.config.int("height").getOrElse(64),
        resizer = resizer)
    case "multimodal_frames" =>
      graft.ops.Multimodal.frameSample(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        t.config.int("n_frames").getOrElse(8), t.config.int("stride").getOrElse(1))
    // perceptual-hash image near-dup: DCT pHash signatures through
    // the simhash pigeonhole banding
    case "image_neardup" =>
      graft.ops.Phash.imageNearDups(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        maxDist = t.config.int("max_dist").getOrElse(3),
        bands = t.config.int("bands").getOrElse(4),
        maxBucketSize = t.config.int("max_bucket_size").getOrElse(0))
    // linear-output image dedup: pHash near-dup closure as
    // (id, group_id) assignments
    case "image_neardup_groups" =>
      graft.ops.Phash.imageDedupGroups(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        maxDist = t.config.int("max_dist").getOrElse(3),
        bands = t.config.int("bands").getOrElse(4),
        maxBucketSize = t.config.int("max_bucket_size").getOrElse(0))
    // REAL frame-level decode for MJPEG AVI payloads (RIFF demux +
    // from-spec JPEG decode per frame chunk)
    case "mjpeg_frames" =>
      graft.ops.Multimodal.decodeMjpegFrames(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        stride = t.config.int("stride").getOrElse(1))
    // REAL frame-level decode for animated WebP payloads (VP8X/ANIM/
    // ANMF demux + pinned VP8/VP8L/ALPH frame decode + canvas
    // composition per the spec's blend/dispose rules)
    case "webp_frames" =>
      graft.ops.Multimodal.decodeWebpAnimFrames(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // REAL frame-level decode for animated GIF payloads (GCE demux,
    // LZW per frame, renderer-consensus disposal composition)
    case "gif_frames" =>
      graft.ops.Multimodal.decodeGifAnimFrames(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // REAL frame-level decode for MP4 payloads (sample-table walk +
    // per-sample JPEG decode; H.264/HEVC samples refuse by absence)
    case "mp4_frames" =>
      graft.ops.Multimodal.decodeMp4Frames(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        stride = t.config.int("stride").getOrElse(1))
    // REAL frame-level decode for Matroska payloads (cluster/block
    // walk + per-block JPEG decode; laced blocks refuse by name)
    case "mkv_frames" =>
      graft.ops.Multimodal.decodeMkvFrames(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        stride = t.config.int("stride").getOrElse(1))
    // Gap sessionization for STREAMING pipelines (chain after a
    // `watermark` transform). Modes: event_time (watermark-closed,
    // production default), out_of_order (sorter-buffered, tolerates
    // bounded disorder), no_timeout (closed-by-data only — needs the
    // caller to guarantee closure, e.g. sentinels). Batch pipelines
    // use the window/lag segmentation instead (x_sessionize) — a
    // batch Dataset has no watermark, so the state machine would
    // never release or close anything; fail fast.
    // bounded-forever stream dedup: fixed Bloom state per shard for
    // the stream's whole life (the crawl-frontier contract); batch
    // pipelines use dedup/bloom_check instead
    case "bloom_dedup" =>
      if (!df.isStreaming)
        throw new GraftAnalysisException(
          "bloom_dedup: streaming-only (batch pipelines use deduplicate or bloom_check)")
      graft.streaming.Streaming.bloomDedup(df,
        t.config.strList("fields") match {
          case Nil => Seq(t.config.str("field").getOrElse("id"))
          case fs => fs
        },
        mBits = t.config.int("bits").getOrElse(1 << 20),
        k = t.config.int("hashes").getOrElse(4),
        nShards = t.config.int("shards").getOrElse(16))
    case "sessionize" =>
      if (!df.isStreaming)
        throw new GraftAnalysisException(
          "sessionize: streaming-only (batch pipelines segment via window/lag — see x_sessionize)")
      val spark2 = df.sparkSession
      import spark2.implicits._
      val cfg = t.config
      val gapMs = cfg.long("gap_ms").getOrElse(1800000L)
      val ev = df.select(
        col(cfg.str("user_field").getOrElse("user_id")).cast("long").as("user_id"),
        col(cfg.str("ts_field").getOrElse("ts")).as("ts"),
        col(cfg.str("value_field").getOrElse("value")).cast("double").as("value"))
        .as[graft.streaming.Streaming.SessionEvent]
      (cfg.str("mode").getOrElse("event_time") match {
        case "event_time"   => graft.streaming.Streaming.sessionizeEventTime(ev, gapMs)
        case "out_of_order" => graft.streaming.Streaming.sessionizeOutOfOrder(ev, gapMs)
        case "no_timeout"   => graft.streaming.Streaming.sessionize(ev, gapMs)
        case other => throw new GraftAnalysisException(s"sessionize: unknown mode '$other'")
      }).toDF()
    // REAL header decode (PNG/JPEG/GIF): mime sniff + dimensions
    case "image_meta" =>
      graft.ops.Multimodal.decodeImageMeta(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // ICC color-profile metadata (JPEG APP2 / PNG iCCP / WebP ICCP)
    case "image_icc" =>
      graft.ops.Multimodal.decodeImageIcc(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // REAL audio header decode (RIFF/WAV): channels, rate, duration
    case "audio_meta" =>
      graft.ops.Multimodal.decodeAudioMeta(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // REAL pixel decode (PNG/GIF by content): dims + verifiable stats
    case "image_pixels" =>
      graft.ops.Multimodal.decodeImagePixels(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // REAL MP4 box-tree parse: brand, duration, track dimensions
    case "video_meta" =>
      graft.ops.Multimodal.decodeVideoMeta(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // audio near-dup: spectral landmark fingerprints -> shared-landmark pairs
    case "audio_fingerprint" =>
      graft.ops.AudioFingerprint.audioNearDups(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        minMatch = t.config.int("min_match").getOrElse(3),
        frameSize = t.config.int("frame_size").getOrElse(1024),
        maxLandmarkDf = t.config.int("max_landmark_df").getOrElse(0))
    // linear-output audio dedup: fingerprint pairs contracted to
    // (id, group_id) via connected components
    case "audio_dedup_groups" =>
      graft.ops.AudioFingerprint.audioDedupGroups(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        minMatch = t.config.int("min_match").getOrElse(3),
        frameSize = t.config.int("frame_size").getOrElse(1024),
        maxLandmarkDf = t.config.int("max_landmark_df").getOrElse(0))
    // spectral features: Hann frames -> radix-2 FFT -> centroid/
    // rolloff/flatness/dominant frequency per clip
    case "audio_spectral" =>
      graft.ops.Spectral.spectralDf(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"),
        frameSize = t.config.int("frame_size").getOrElse(1024))
    // REAL PCM sample decode + integer clip features
    case "audio_features" =>
      graft.ops.Multimodal.decodeAudioFeatures(df,
        t.config.reqStr("id_field"), t.config.str("media_field").getOrElse("media"))
    // time-series joins against a named source (graft.ops.TemporalJoins)
    case "asof_join" =>
      val cfg = t.config
      val rightName = cfg.reqStr("right")
      val right = ctx.getOrElse(rightName,
        throw new GraftAnalysisException(s"asof_join: unknown right source '$rightName'"))
      graft.ops.TemporalJoins.asOf(df, right,
        leftKeys = cfg.strList("left_keys"), rightKeys = cfg.strList("right_keys"),
        leftTime = cfg.reqStr("left_time"), rightTime = cfg.reqStr("right_time"),
        rightPayload = cfg.strList("payload"),
        rightTieBreak = cfg.reqStr("tie_break"),
        strict = cfg.bool("strict").getOrElse(false),
        prefix = cfg.str("prefix").getOrElse("asof_"))
    case "range_join" =>
      val cfg = t.config
      val rightName = cfg.reqStr("right")
      val right = ctx.getOrElse(rightName,
        throw new GraftAnalysisException(s"range_join: unknown right source '$rightName'"))
      graft.ops.TemporalJoins.rangeJoin(df, right,
        aKeys = cfg.strList("left_keys"), bKeys = cfg.strList("right_keys"),
        aTime = cfg.reqStr("left_time"), bTime = cfg.reqStr("right_time"),
        lowerMs = cfg.long("lower").getOrElse(0L), upperMs = cfg.reqLong("upper"),
        prefix = cfg.str("prefix").getOrElse("r_"))
    // near-dup pairs -> transitive clusters / cluster-level dedup
    case "connected_components" =>
      graft.ops.Components.connectedComponents(df,
        t.config.str("a_field").getOrElse("a_id"),
        t.config.str("b_field").getOrElse("b_id"))
    // HTML link extraction + RFC 3986 resolution: one (id, link,
    // anchor, seq) row per kept http/https link — the edge producer
    // feeding pagerank/frontier ops
    case "html_links" =>
      graft.ops.Links.extract(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("url_field").getOrElse("url"),
        t.config.str("html_field").getOrElse("html"),
        t.config.int("max_links").getOrElse(10000))
    // public-suffix registrable domain (eTLD+1): appends out_field
    // from the host of url_field (or host_field directly); rules
    // inline (rules) or from a one-column source (rules_from)
    case "registrable_domain" =>
      val cfg = t.config
      val inlineRules = cfg.strList("rules")
      val fromSource = cfg.str("rules_from").map { n =>
        val rdf = ctx.getOrElse(n,
          throw new GraftAnalysisException(s"registrable_domain: unknown source '$n'"))
        val f = cfg.str("rules_field").getOrElse("rule")
        // rules tables are list-sized (the real PSL is ~10k rows);
        // the collect is capped and fails fast, the assertQueryCap
        // discipline
        val cap = 1 << 20
        val rows = rdf.select(c(f).cast("string")).na.drop()
          .limit(cap + 1).collect()
        if (rows.length > cap) throw new GraftAnalysisException(
          s"registrable_domain: rules source '$n' has > $cap rows — not a suffix list")
        rows.map(_.getString(0)).toSeq
      }.getOrElse(Seq.empty)
      val rules = graft.ops.Psl.parse(inlineRules ++ fromSource)
      val out = cfg.str("out_field").getOrElse("registrable_domain")
      cfg.str("host_field") match {
        case Some(hf) =>
          df.withColumn(out, graft.ops.Psl.registrableDomainCol(c(hf), rules))
        case None =>
          graft.ops.Psl.withRegistrableDomain(df,
            cfg.str("url_field").getOrElse("url"), out, rules)
      }
    // DOCX body text from a binary payload column (ECMA-376 on the
    // from-spec Zip + Xml stack)
    case "docx_extract" =>
      graft.ops.Docx.decodeText(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // DOCX furniture: headers/footers/footnotes long rows
    case "docx_parts" =>
      graft.ops.Docx.decodeParts(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // PPTX / ODT body text from binary payload columns (same
    // Zip + Xml seam as docx_extract)
    case "pptx_extract" =>
      graft.ops.Office.decodePptxText(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    case "odt_extract" =>
      graft.ops.Office.decodeOdtText(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // audio tag metadata (id3v2 / vorbis comments) from a payload column
    case "audio_tags" =>
      graft.ops.AudioTags.decodeTags(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // GGUF metadata (kv + tensor infos) from a payload column
    case "gguf_meta" =>
      graft.ops.Gguf.decodeMeta(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // npz (numpy archive) tensors from a payload column
    case "npz_tensors" =>
      graft.ops.Npy.decodeNpz(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // RTF text extraction from a payload column
    case "rtf_extract" =>
      graft.ops.Rtf.extractText(df,
        t.config.str("id_field").getOrElse("id"),
        t.config.str("payload_field").getOrElse("payload"))
    // MAT-file v5 numeric arrays (name, class, dims, values)
    case "mat_vars" =>
      graft.ops.Mat5.decodeVars(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // netCDF classic variables (name, dtype, dims, values)
    case "netcdf_vars" =>
      graft.ops.Netcdf.decodeVars(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // HDF5 datasets (path, dtype, dims, values) from a payload column
    case "hdf5_datasets" =>
      graft.ops.Hdf5.decodeDatasets(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // Arrow IPC (key, vector) rows from stream payloads
    case "arrow_vectors" =>
      graft.ops.ArrowIpc.decodeVecRows(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"),
        t.config.str("key_field").getOrElse("vec_id"),
        t.config.str("vector_field").getOrElse("embedding"))
    // safetensors tensor metadata + F32 values from a payload column
    case "safetensors_tensors" =>
      graft.ops.Safetensors.decodeTensors(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // mbox/RFC 5322 messages from a binary payload column
    case "mbox_messages" =>
      graft.ops.Email.messages(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // SRT/WebVTT subtitle cues from a text column
    case "subtitle_cues" =>
      graft.ops.Subtitles.extract(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("text_field").getOrElse("text"))
    // Jupyter notebook cells in long format
    case "ipynb_cells" =>
      graft.ops.Ipynb.decodeCells(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // EPUB spine text from a binary payload column
    case "epub_extract" =>
      graft.ops.Epub.decodeText(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // XLSX cells in long format: (id, sheet, row, col, value)
    case "xlsx_cells" =>
      graft.ops.Xlsx.decodeCells(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("payload_field").getOrElse("payload"))
    // Sitemap: directives out of robots.txt bodies — the discovery
    // feed into sitemap_parse
    case "robots_sitemaps" =>
      graft.ops.Robots.sitemapUrls(df,
        t.config.str("host_field").getOrElse("host"),
        t.config.str("content_field").getOrElse("robots_txt"))
    // sitemaps.org protocol parse: (id, seq, kind, loc, lastmod,
    // changefreq, priority, in_scope) rows per sitemap document —
    // the frontier-seeding sibling of robots_filter
    case "sitemap_parse" =>
      graft.ops.Sitemap.extract(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("url_field").getOrElse("url"),
        t.config.str("xml_field").getOrElse("xml"))
    // RSS/Atom feed parse: (id, seq, format, title, link, entry_id,
    // published, summary) rows — the incremental-crawl poll surface
    case "feed_parse" =>
      graft.ops.Feed.extract(df,
        t.config.str("id_field").getOrElse("doc_id"),
        t.config.str("xml_field").getOrElse("xml"))
    // link-graph PageRank over an edge stream (src, dst): (node, rank)
    case "pagerank" =>
      graft.ops.PageRank.ranks(df,
        t.config.str("src_field").getOrElse("src"),
        t.config.str("dst_field").getOrElse("dst"),
        t.config.int("iterations").getOrElse(10),
        t.config.double("damping").getOrElse(0.85))
    case "dedup_cluster" =>
      val cfg = t.config
      val pairsName = cfg.reqStr("pairs")
      val pairs = ctx.getOrElse(pairsName,
        throw new GraftAnalysisException(s"dedup_cluster: unknown pairs source '$pairsName'"))
      graft.ops.Components.keepClusterRepresentatives(df, cfg.reqStr("id_field"), pairs,
        cfg.str("a_field").getOrElse("a_id"), cfg.str("b_field").getOrElse("b_id"))
    case other =>
      throw new GraftAnalysisException(s"transform '${t.name}': unknown transform type '$other'")
  }

  /** Known transform types, for spec validation. */
  val knownTypes: Set[String] = Set(
    "filter", "map", "aggregate", "join", "sort", "deduplicate",
    "select", "rename", "limit", "union", "intersect", "except",
    "distinct", "window", "sql", "sample", "stratified_sample", "token_budget", "split",
    "pivot", "unpivot", "explode", "repartition", "coalesce", "watermark", "window_agg", "bloom_dedup",
    "sessionize",
    "dedup_exact", "dedup_minhash", "dedup_groups", "text_profile", "asof_join", "range_join",
    "dedup_simhash", "dedup_embed", "embed_neardup_groups", "semdedup", "ann_topk", "text_lang", "contamination", "contamination_embed",
    "contamination_ngram", "text_script", "text_repetition", "text_top_ngram", "text_unigram_ppx",
    "text_bigram_ppx", "text_trigram_ppx", "nb_classify", "linear_classify", "langid_classify", "pca_whiten",
    "url_normalize", "domain_cap", "url_filter", "robots_filter", "redact_pii", "html_extract", "fix_encoding", "normalize_unicode", "compression_ratio", "split_sentences", "sentence_chunks", "dedup_sentences", "html_tables", "boilerplate_blocks", "boilerplate_extract", "chat_parse", "chat_validate", "chat_render", "zstd_decode", "zstd_decode_dict", "gzip_decode", "brotli_decode", "decode_any", "delta_snapshot", "iceberg_manifest", "bpe_tokens", "byte_bpe_tokens", "unigram_tokens", "wordpiece_tokens", "pack_sequences", "shuffle_shards",
    "temperature_sample", "chunk_windows", "sliding_chunks", "quantize_int8", "embed_truncate", "bloom_check", "bloom_join", "pdf_extract",
    "dedup_lines", "dedup_spans", "dedup_substrings", "corpus_diff", "dsir_weights", "c4_filter", "heavy_hitters",
    "corpus_report", "tfidf", "dedup_index_check",
    "multimodal_pack", "multimodal_features", "multimodal_resize", "multimodal_frames",
    "image_meta", "image_icc", "audio_meta", "video_meta", "image_pixels", "audio_features", "audio_spectral", "audio_fingerprint", "audio_dedup_groups", "mjpeg_frames", "webp_frames", "gif_frames", "mp4_frames", "mkv_frames", "image_neardup", "image_neardup_groups",
    "connected_components", "dedup_cluster", "pagerank", "html_links",
    "sitemap_parse", "feed_parse", "registrable_domain", "robots_sitemaps",
    "docx_extract", "docx_parts", "pptx_extract", "odt_extract", "xlsx_cells",
    "epub_extract", "ipynb_cells", "subtitle_cues", "markdown_extract",
    "mbox_messages", "safetensors_tensors", "npz_tensors", "gguf_meta",
    "arrow_vectors", "audio_tags", "hdf5_datasets", "netcdf_vars", "mat_vars",
    "rtf_extract")

  private[transforms] def c(name: String): Column = col(quote(name))
  private[transforms] def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** JSON literal → typed Spark literal (the filter comparison value,
    * reference main.py:183). Typed comparison replaces the reference's
    * `type(value)(v)` runtime coercion (main.py:188) — declared
    * deviation (a) in SURVEY §2.5.
    */
  private[transforms] def jlit(v: JValue): Column = v match {
    case JString(s)  => lit(s)
    case JInt(i)     => lit(i.toLong)
    case JLong(i)    => lit(i)
    case JDouble(d)  => lit(d)
    case JDecimal(d) => lit(d.toDouble)
    case JBool(b)    => lit(b)
    case JNull       => lit(null)
    case other       => throw new GraftAnalysisException(s"unsupported literal: $other")
  }
}

import Transforms.{c, jlit, quote, Ctx}

/** Row predicate (reference main.py:180-203). Ops: eq ne gt lt ge le
  * contains notnull isnull in between. Typed comparison; NULL never
  * matches (standard three-valued logic) — deviations (a)/(b) of
  * SURVEY §2.5 vs the reference's coercion quirks. `notnull` keeps the
  * reference's intentional "not null and not empty-string" semantics
  * (main.py:201), with the empty-string clause applied only to string
  * columns. Unknown op is an analysis error, not a silent row drop
  * (reference drops rows on unknown op — no else branch, main.py:203).
  */
object FilterOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val field = cfg.reqStr("field")
    val op = cfg.str("op").getOrElse("eq")
    lazy val v = jlit(cfg.value("value").getOrElse(
      throw new GraftAnalysisException(s"filter $op on '$field' needs 'value'")))
    val isString = df.schema.find(_.name == field).exists(_.dataType == StringType)
    val pred: Column = op match {
      case "eq" => c(field) === v
      case "ne" => c(field) =!= v
      case "gt" => c(field) > v
      case "lt" => c(field) < v
      case "ge" | "gte" => c(field) >= v
      case "le" | "lte" => c(field) <= v
      case "contains" => c(field).cast(StringType).contains(v.cast(StringType))
      case "notnull" => if (isString) c(field).isNotNull && c(field) =!= lit("") else c(field).isNotNull
      case "isnull" => c(field).isNull
      case "in" => c(field).isin(cfg.rawList("value").map {
        case JString(s) => s
        case JInt(i)    => i.toLong
        case JLong(i)   => i
        case JDouble(d) => d
        case JBool(b)   => b
        case o          => throw new GraftAnalysisException(s"bad 'in' element: $o")
      }: _*)
      case "between" =>
        val lo = jlit(cfg.value("low").getOrElse(throw new GraftAnalysisException("between needs 'low'")))
        val hi = jlit(cfg.value("high").getOrElse(throw new GraftAnalysisException("between needs 'high'")))
        c(field) >= lo && c(field) <= hi
      case other => throw new GraftAnalysisException(s"filter: unknown op '$other'")
    }
    df.filter(pred)
  }
}

/** Single-field value transform (reference main.py:205-224). Ops:
  * upper lower strip(=trim) ltrim rtrim length abs int float str.
  *
  * Cast semantics: `try_cast` — failures become NULL (typed-column
  * model). The reference's keep-original-on-failure (main.py:219-222)
  * is available as `keep_original: true`, valid only on string
  * columns: `coalesce(cast(try_cast(x) as string), x)` normalizes
  * parseable values and passes failures through, the closest
  * single-typed-column analogue of the reference's dynamic rows.
  * Unknown op is an analysis error (reference silently defaults to
  * str, main.py:214 — declared deviation).
  */
object MapOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val field = cfg.reqStr("field")
    val op = cfg.str("operation").orElse(cfg.str("op")).getOrElse("str")
    val out = cfg.str("as").getOrElse(field)
    val q = quote(field)
    // try_cast's failure path throws+catches per row (~18× slower than
    // a successful cast, measured: 5.9s vs 0.33s over 600k failing
    // rows). A regex fast-path keeps exact try_cast semantics: strings
    // the guard proves safe take the plain cast; everything else
    // (overflow-length digits, exotic forms, non-strings) falls back
    // to real try_cast. Guard FALSE never skips a castable value: ≤18
    // digits can't overflow BIGINT; the double guard's accepted forms
    // can't throw (1e999 → Infinity, not an error).
    def castTo(t: String): Column = {
      val isString = df.schema.find(_.name == field).exists(_.dataType == StringType)
      val guarded: Column =
        if (!isString) expr(s"try_cast($q AS $t)")
        else t match {
          // ANSI string→bigint accepts exactly: [\x00-\x20]-trimmed,
          // optional sign, digits (verified empirically — no decimals,
          // no exponents, no hex). So the regex is an exact decision
          // procedure: ≤18 digits → plain cast (can't overflow);
          // 19+ digits → try_cast (overflow check); no match → NULL
          // with zero exception cost.
          case "BIGINT" =>
            when(c(field).rlike("^[\\x00-\\x20]*[+-]?\\d{1,18}[\\x00-\\x20]*$"),
              c(field).cast("bigint"))
              .when(c(field).rlike("^[\\x00-\\x20]*[+-]?\\d{19,}[\\x00-\\x20]*$"),
                expr(s"try_cast($q AS BIGINT)"))
              .otherwise(lit(null).cast("bigint"))
          case "DOUBLE" =>
            when(c(field).rlike("^\\s*[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d{1,3})?\\s*$"),
              c(field).cast("double"))
              .otherwise(expr(s"try_cast($q AS DOUBLE)"))
          case _ => expr(s"try_cast($q AS $t)")
        }
      if (cfg.bool("keep_original").getOrElse(false))
        coalesce(guarded.cast(StringType), c(field).cast(StringType))
      else guarded
    }
    val e: Column = op match {
      case "upper"  => upper(c(field))
      case "lower"  => lower(c(field))
      case "strip" | "trim" => trim(c(field))
      case "ltrim"  => ltrim(c(field))
      case "rtrim"  => rtrim(c(field))
      case "length" => length(c(field))
      case "abs"    => abs(c(field))
      case "int" | "long" => castTo("BIGINT")
      case "float" | "double" => castTo("DOUBLE")
      case "str" | "string" => c(field).cast(StringType)
      // event-time normalization → timestamp, adaptive to how the
      // source stored the column: epoch-nanos long (integer div: `/`
      // is double division and drifts a microsecond at 1e18
      // magnitudes), TIMESTAMP_NTZ (cast through the session zone —
      // UTC in every graft session, so instants are preserved), or
      // already a timestamp (no-op). Keeps one spec working across
      // testdata vintages that switched the physical type.
      case "ns_to_timestamp" =>
        df.schema.find(_.name == field).map(_.dataType) match {
          case Some(org.apache.spark.sql.types.TimestampNTZType) => c(field).cast("timestamp")
          case Some(org.apache.spark.sql.types.TimestampType) => c(field)
          case _ => timestamp_micros(expr(s"$q div 1000"))
        }
      case other => throw new GraftAnalysisException(s"map: unknown operation '$other'")
    }
    df.withColumn(out, e)
  }
}

/** Group-by aggregation (reference main.py:226-249), generalized to
  * multi-aggregation and the standard SQL function set. The reference
  * supports a single `{field, function}` — that shape still works and
  * keeps the reference's `{field}_{fn}` output naming (main.py:239-247)
  * and count-all-rows-including-null semantics (count = len(rows),
  * main.py:239 → count(1) here).
  *
  * Scale notes: hash aggregation with partial (map-side) combine comes
  * from Catalyst/`HashAggregateExec` for free. `exact_decimal: N`
  * computes sum/avg through `DECIMAL(38,N)` — exact, order-independent
  * arithmetic, so results are reproducible across any partitioning
  * (floating sums are not), then casts back to double. Rollup/cube via
  * `grouping: "rollup"|"cube"`.
  */
object AggregateOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val groupBy = cfg.strList("group_by")
    val grouping = cfg.str("grouping").getOrElse("groupby")
    val aggSpecs: Seq[Config] =
      if (cfg.objList("aggregations").nonEmpty) cfg.objList("aggregations") else Seq(cfg)
    // NOTE (optimization round 18): fanning an under-split scan out
    // before the aggregate was tried here and REJECTED by a same-window
    // alternating A/B (the method tools/ab.sh runs): a keyless repartition pays a
    // local sort of every row before the exchange (SPARK-23207, guide
    // §2.5) and map-side partial aggregation already reduces the
    // shuffle to ~|groups| rows, so "aggregate before you shuffle"
    // (guide §2.3) wins even when the scan is a single task — plain
    // 0.7-1.0 s vs fanned 1.0-2.4 s across three aggregate shapes at
    // sf0.1.
    val src = df
    if ((grouping == "rollup" || grouping == "cube") && groupBy.nonEmpty
        && aggSpecs.forall(decomposable))
      return hierarchical(src, groupBy, grouping, aggSpecs)
    val aggCols = buildAggs(cfg)
    val grouped = grouping match {
      case "rollup" => src.rollup(groupBy.map(c): _*)
      case "cube"   => src.cube(groupBy.map(c): _*)
      case _        => src.groupBy(groupBy.map(c): _*)
    }
    grouped.agg(aggCols.head, aggCols.tail: _*)
  }

  /** Aggregates whose partials re-aggregate exactly: counts, min/max,
    * and DECIMAL-exact sum/avg (decimal addition is associative —
    * float sums are NOT, so plain double sum/avg stays on the native
    * path to keep results bit-identical).
    */
  private def decomposable(a: Config): Boolean =
    a.str("function").getOrElse("count") match {
      case "count" | "count_nonnull" | "min" | "max" => true
      case "sum" | "avg" | "mean" => a.int("exact_decimal").isDefined
      case _ => false
    }

  /** Rollup/cube as hierarchical re-aggregation: ONE pass aggregates
    * at the finest granularity (map-side partials, one shuffle of
    * ~|groups| rows), then each grouping set re-aggregates that tiny
    * result. Spark's native plan Expand-multiplies EVERY input row by
    * the number of grouping sets before the shuffle — |sets|×|input|
    * intermediate rows, the part that scales with data; here the
    * |sets| factor applies only to |groups|. Output rows are identical
    * (cube ≡ union of per-set group-bys; exact-decimal partials
    * re-aggregate associatively).
    */
  private def hierarchical(
      df: DataFrame, keys: Seq[String], grouping: String, specs: Seq[Config]): DataFrame = {
    val partials = scala.collection.mutable.ArrayBuffer.empty[Column]
    val finals = scala.collection.mutable.ArrayBuffer.empty[Column]
    specs.zipWithIndex.foreach { case (a, i) =>
      val fn = a.str("function").getOrElse("count")
      val field = a.str("field").getOrElse("*")
      val alias = a.str("as").getOrElse(s"${if (field == "*") "row" else field}_$fn")
      val scale = a.int("exact_decimal")
      fn match {
        case "count" =>
          partials += count(lit(1)).as(s"__p$i")
          finals += sum(col(s"__p$i")).cast("long").as(alias)
        case "count_nonnull" =>
          partials += count(c(field)).as(s"__p$i")
          finals += sum(col(s"__p$i")).cast("long").as(alias)
        case "min" =>
          partials += min(c(field)).as(s"__p$i")
          finals += min(col(s"__p$i")).as(alias)
        case "max" =>
          partials += max(c(field)).as(s"__p$i")
          finals += max(col(s"__p$i")).as(alias)
        case "sum" => // decomposable() guarantees exact_decimal here
          partials += sum(c(field).cast(DecimalType(18, scale.get))).as(s"__p$i")
          finals += sum(col(s"__p$i")).cast(DoubleType).as(alias)
        case "avg" | "mean" =>
          partials += sum(c(field).cast(DecimalType(18, scale.get))).as(s"__p${i}s")
          partials += count(c(field)).as(s"__p${i}c")
          finals += (sum(col(s"__p${i}s")).cast(DoubleType) / sum(col(s"__p${i}c")))
            .cast(DoubleType).as(alias)
        case other => throw new GraftAnalysisException(s"not decomposable: '$other'")
      }
    }
    val sets: Seq[Seq[String]] = grouping match {
      case "rollup" => (keys.length to 0 by -1).map(keys.take)
      case _ => (0 until (1 << keys.length))
        .map(m => keys.zipWithIndex.collect { case (k, i) if ((m >> i) & 1) == 1 => k })
    }
    val base = df.groupBy(keys.map(c): _*).agg(partials.head, partials.toSeq.tail: _*)
    val aliases = specs.zipWithIndex.map { case (a, i) =>
      val field = a.str("field").getOrElse("*")
      a.str("as").getOrElse(s"${if (field == "*") "row" else field}_${a.str("function").getOrElse("count")}")
    }
    sets.map { s =>
      // empty set via a constant group key: zero rows on empty input
      // (matching grouping-sets semantics), never a spurious global row
      val grouped =
        if (s.isEmpty) base.groupBy(lit(true).as("__all")) else base.groupBy(s.map(c): _*)
      grouped.agg(finals.head, finals.toSeq.tail: _*)
        .select(keys.map(k =>
          (if (s.contains(k)) c(k) else lit(null).cast(df.schema(k).dataType)).as(k)) ++
          aliases.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** Aggregation column list from config — shared with `window_agg`. */
  def buildAggs(cfg: Config): Seq[Column] = {
    val aggSpecs: Seq[Config] =
      if (cfg.objList("aggregations").nonEmpty) cfg.objList("aggregations")
      else Seq(cfg) // reference single-agg shape {field, function}
    aggSpecs.map { a =>
      val fn = a.str("function").getOrElse("count")
      val field = a.str("field").getOrElse("*")
      val alias = a.str("as").getOrElse(s"${if (field == "*") "row" else field}_$fn")
      val scale = a.int("exact_decimal")
      // precision 18: Spark's Decimal stays compact-long (measured
      // 1.65× faster than precision 38's Int128/BigDecimal path,
      // bit-identical result). The sum accumulator gets precision+10
      // → 10^(28-s) capacity: ~10^22 at scale 6, ample for 100 TB row
      // counts × monetary magnitudes.
      def exact(col0: Column): Column = scale match {
        case Some(s) => col0.cast(DecimalType(18, s))
        case None    => col0
      }
      val e: Column = fn match {
        case "count" => if (field == "*") count(lit(1)) else count(lit(1)) // reference: counts all rows incl. null field
        case "count_nonnull" => count(c(field))
        case "count_distinct" => countDistinct(c(field))
        case "approx_count_distinct" => approx_count_distinct(c(field))
        case "sum" => scale match {
          case Some(_) => sum(exact(c(field))).cast(DoubleType)
          case None    => sum(c(field))
        }
        case "avg" | "mean" => scale match {
          // exact decimal sum / count, final division in double: one
          // deterministic double op regardless of partitioning.
          case Some(_) => (sum(exact(c(field))).cast(DoubleType) / count(c(field))).cast(DoubleType)
          case None    => avg(c(field))
        }
        case "min" => min(c(field))
        case "max" => max(c(field))
        case "first" => first(c(field), ignoreNulls = true)
        case "last" => last(c(field), ignoreNulls = true)
        case "stddev" => stddev(c(field))
        case "variance" => variance(c(field))
        case "collect_set_size" => size(collect_set(c(field)))
        case "percentile" =>
          percentile_approx(c(field), lit(a.double("p").getOrElse(0.5)), lit(a.int("accuracy").getOrElse(10000)))
        case other => throw new GraftAnalysisException(s"aggregate: unknown function '$other'")
      }
      e.as(alias)
    }
  }
}

/** Join current stream (left) against a named source from the run
  * context (reference main.py:251-263). Generalized from the
  * reference's single shape (inner, 1:1 last-wins right) to all Spark
  * join types; right columns get a configurable prefix (reference:
  * "r_", main.py:261), applied to all right columns including the key.
  *
  * Right-dedup contract (reference main.py:256 builds a dict keyed by
  * right_key → duplicate keys: *last wins*): `right_dedup:
  * "last"|"first"` reproduces it deterministically with a window over
  * an explicit `right_order` column — required, because "input order"
  * is not a well-defined concept for a distributed scan (SURVEY §7.3).
  * Default is no dedup (standard relational join).
  *
  * Scale notes: Catalyst + AQE choose broadcast-hash vs sort-merge at
  * runtime from actual sizes; `broadcast: true` forces the hint for
  * known-small dimensions. The reference's dict lookup is itself a
  * broadcast hash join, so parity pipelines set it for small right
  * sides.
  */
object JoinOp {
  def apply(df: DataFrame, cfg: Config, ctx: Ctx): DataFrame = {
    val rightName = cfg.reqStr("right")
    val right0 = ctx.getOrElse(rightName,
      throw new GraftAnalysisException(s"join: unknown right source '$rightName'"))
    // single-key (reference shape) or composite keys via *_keys lists
    val lks = if (cfg.strList("left_keys").nonEmpty) cfg.strList("left_keys")
      else Seq(cfg.str("left_key").getOrElse("id"))
    val rks = if (cfg.strList("right_keys").nonEmpty) cfg.strList("right_keys")
      else Seq(cfg.str("right_key").getOrElse("id"))
    if (lks.size != rks.size)
      throw new GraftAnalysisException("join: left_keys and right_keys must have the same arity")
    val how = cfg.str("how").getOrElse("inner")
    val prefix = cfg.str("prefix").getOrElse("r_")

    val right1 = cfg.str("right_dedup") match {
      case Some(keep @ ("last" | "first")) =>
        val ord = cfg.str("right_order").getOrElse(throw new GraftAnalysisException(
          "join: right_dedup needs 'right_order' (a column that defines input order)"))
        val w = Window.partitionBy(rks.map(c): _*)
          .orderBy(if (keep == "last") c(ord).desc else c(ord).asc)
        right0.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case None | Some("none") => right0
      case Some(other) => throw new GraftAnalysisException(s"join: unknown right_dedup '$other'")
    }
    val right = right1.select(right1.columns.map(cn => col(quote(cn)).as(prefix + cn)).toSeq: _*)
    // strategy hints: broadcast (dimension tables), merge (both sides
    // pre-sorted/bucketed), shuffle_hash (big⋈medium where sort
    // dominates). AQE picks well from runtime sizes; hints are for
    // when the author knows better (e.g. size stats lie).
    val rightB = cfg.str("hint").orElse(
      if (cfg.bool("broadcast").getOrElse(false)) Some("broadcast") else None) match {
      case Some("broadcast") => broadcast(right)
      case Some(h @ ("merge" | "shuffle_hash" | "shuffle_replicate_nl")) => right.hint(h)
      case Some(other) => throw new GraftAnalysisException(s"join: unknown hint '$other'")
      case None => right
    }
    val cond = lks.zip(rks).map { case (lk, rk) => c(lk) === col(quote(prefix + rk)) }
      .reduce(_ && _)

    // Skew-key salting (`salt: N`): left rows get a pseudo-random salt
    // in [0,N), the right side is replicated N× with every salt value,
    // and the join key becomes (keys, salt) — a hot key's rows spread
    // over N reducers instead of one. Result set is identical to the
    // unsalted join (every left row still meets every matching right
    // row exactly once). AQE's skew-join split handles moderate skew
    // automatically; explicit salting is for the pathological keys AQE
    // can't split (e.g. one key = 30% of 100 TB). Inner/left only —
    // right/outer would multiply unmatched right rows.
    cfg.int("salt") match {
      case Some(n) if n > 1 =>
        if (how != "inner" && how != "left")
          throw new GraftAnalysisException(s"join: salt is only valid for inner/left joins, not '$how'")
        val salted = df.withColumn("__salt_l", pmod(monotonically_increasing_id(), lit(n.toLong)))
        val rightSalted = rightB.withColumn("__salt_r", explode(
          sequence(lit(0L), lit(n.toLong - 1))))
        salted.join(rightSalted, cond && col("__salt_l") === col("__salt_r"), how)
          .drop("__salt_l", "__salt_r")
      case _ => df.join(rightB, cond, how)
    }
  }
}

/** Sort (reference main.py:265-268), extended to multi-column with
  * per-column direction and null placement. Spark executes a total
  * sort via range partitioning (sampled split points) — the
  * distributed equivalent of the reference's single-list Timsort.
  * With `limit`, Catalyst plans `TakeOrderedAndProject` instead: a
  * per-partition top-k + driver merge, no full sort — the only
  * scalable form of "give me the top N of 100 TB".
  */
object SortOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val keys: Seq[Config] =
      if (cfg.objList("columns").nonEmpty) cfg.objList("columns")
      else Seq(cfg) // reference single shape {field, descending}
    val exprs = keys.map { k =>
      val f = c(k.reqStr("field"))
      val desc0 = k.bool("descending").getOrElse(false)
      (desc0, k.str("nulls").getOrElse(if (desc0) "last" else "first")) match {
        case (false, "first") => f.asc_nulls_first
        case (false, _)       => f.asc_nulls_last
        case (true, "first")  => f.desc_nulls_first
        case (true, _)        => f.desc_nulls_last
      }
    }
    val sorted = df.orderBy(exprs: _*)
    cfg.int("limit") match {
      case Some(n) => sorted.limit(n)
      case None    => sorted
    }
  }
}

/** Deduplicate (reference main.py:270-279: keep-first by key tuple).
  *
  * Two modes with very different scale profiles:
  *  - `keep: "any"` → `dropDuplicates(keys)`: hash-aggregate with
  *    map-side partial combine; cheapest, result row per key is
  *    arbitrary but the *set of keys* is exact. Default.
  *  - `keep: "first"|"last"` with `order_by`: window `row_number`
  *    filter — one shuffle + per-key sort; deterministic row choice.
  *    This is the reference's first-wins semantics (main.py:270-279)
  *    made well-defined: "first" must be first *by some column*, since
  *    distributed scans have no inherent order (SURVEY §7.3).
  * Empty `keys` → dedup over all columns (exact duplicate removal).
  */
object DedupOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val keys = cfg.strList("keys")
    cfg.str("keep").getOrElse("any") match {
      case "any" =>
        if (keys.isEmpty) df.dropDuplicates() else df.dropDuplicates(keys)
      case keep @ ("first" | "last") =>
        if (keys.isEmpty) throw new GraftAnalysisException("deduplicate: keep first/last needs 'keys'")
        val ords = cfg.strList("order_by")
        if (ords.isEmpty) throw new GraftAnalysisException(
          "deduplicate: keep first/last needs 'order_by' (columns defining input order)")
        // Three equivalent plans (identical output under the
        // unique-order-key contract; measured at sf0.1, 13× key
        // duplication, steady-state: min_join 0.36 s, window 0.38 s,
        // min_by 0.41 s):
        //  - min_join (default): aggregate min/max(order) per key —
        //    the partial agg carries ONLY (keys, order), never row
        //    bodies — then a semi join keeps the winning rows. AQE
        //    broadcasts the per-key extremes when they fit, shuffles
        //    them when they don't; either way the full rows cross the
        //    wire at most once. Requires the order key to be unique
        //    per group (ties would keep every tied row).
        //  - min_by/max_by hash aggregation: one shuffle, but partial
        //    aggs pack and compare whole rows map-side.
        //  - window row_number: shuffles every row into a per-key
        //    sort; the plan that funnels hot keys into one reducer.
        // Ties on order_by pick an arbitrary row in min_by/window —
        // the determinism contract requires a unique order key.
        cfg.str("impl").getOrElse("min_join") match {
          case "window" =>
            // nulls LAST in both directions: a row with a NULL order
            // value loses to any real value but is still kept when its
            // group has nothing better — same contract as min_by/
            // min_join below.
            val w = Window.partitionBy(keys.map(c): _*)
              .orderBy(ords.map(o => if (keep == "last") c(o).desc_nulls_last else c(o).asc_nulls_last): _*)
            df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
          case "min_by" =>
            // Order key wrapped with a null flag per column: bare
            // min_by skips rows whose order is NULL, so an all-NULL
            // group would collapse to a NULL struct (every column of
            // the kept "row" null). The flag makes NULL-ordered rows
            // comparable-but-losing instead of invisible.
            val ordExpr = struct(ords.flatMap { o =>
              val oc = c(o)
              if (keep == "first") Seq(oc.isNull, oc) else Seq(oc.isNotNull, oc)
            }: _*)
            val rowStruct = struct(df.columns.map(cn => col(quote(cn))).toSeq: _*)
            val picked = if (keep == "first") min_by(rowStruct, ordExpr) else max_by(rowStruct, ordExpr)
            df.groupBy(keys.map(c): _*).agg(picked.as("__row")).select(col("__row.*"))
          case "min_join" =>
            val extremes = ords.map(c) match {
              case Seq(one) =>
                df.groupBy(keys.map(c): _*)
                  .agg((if (keep == "first") min(one) else max(one)).as(ords.head))
              case many => // lexicographic extreme via struct ordering,
                // unpacked so the semi join is on plain columns
                df.groupBy(keys.map(c): _*)
                  .agg((if (keep == "first") min(struct(many: _*)) else max(struct(many: _*))).as("__m"))
                  .select(keys.map(c) :+ col("__m.*"): _*)
            }
            // Null-safe (<=>) join condition, NOT using-columns: a
            // plain equi-join never matches NULL, so rows with a NULL
            // key or NULL order value would silently vanish — both the
            // min_by/window plans (groupBy groups NULLs) and the
            // reference's tuple-key dict keep them. A group whose
            // order values are ALL NULL keeps every row here (min()
            // of all-NULL is NULL, which <=>-matches them all) — the
            // unique-order-key contract makes that a non-case.
            val joinCols = keys ++ ords
            val renamed = extremes.select(joinCols.map(n => c(n).as(s"__m_$n")): _*)
            val cond = joinCols.map(n => c(n) <=> col(quote(s"__m_$n"))).reduce(_ && _)
            df.join(renamed, cond, "left_semi")
          case other => throw new GraftAnalysisException(s"deduplicate: unknown impl '$other'")
        }
      case other => throw new GraftAnalysisException(s"deduplicate: unknown keep '$other'")
    }
  }
}

/** Projection (reference main.py:281-283). A missing field is an
  * analysis error here (relational model), not a silently absent key.
  */
object SelectOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val fields = cfg.strList("fields")
    if (fields.isEmpty) throw new GraftAnalysisException("select: needs non-empty 'fields'")
    df.select(fields.map(c): _*)
  }
}

/** Rename old→new (reference main.py:285-291). A rename that collides
  * with an existing column is an analysis error — declared deviation
  * (d) of SURVEY §2.5 from the reference's silent value clobber.
  */
object RenameOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val mapping = cfg.strMap("mapping")
    if (mapping.isEmpty) throw new GraftAnalysisException("rename: needs non-empty 'mapping'")
    val cols = df.columns.toSet
    mapping.foreach { case (from, to) =>
      if (!cols.contains(from)) throw new GraftAnalysisException(s"rename: no such column '$from'")
      if (cols.contains(to) && !mapping.contains(to))
        throw new GraftAnalysisException(s"rename: target '$to' already exists (collision)")
    }
    df.withColumnsRenamed(mapping)
  }
}

/** Limit (ABSENT in the reference, SURVEY §2.4). */
object LimitOp {
  def apply(df: DataFrame, cfg: Config): DataFrame =
    df.limit(cfg.int("n").getOrElse(throw new GraftAnalysisException("limit: needs 'n'")))
}

/** Explicit union of the current stream with named sources, by column
  * name with null-fill for missing columns — the declared semantics of
  * the reference's implicit concat of heterogeneous sources
  * (main.py:437-443; SURVEY §2.5 item 8). Union is plan-level only —
  * no shuffle, partitions are simply concatenated.
  */
object UnionOp {
  def apply(df: DataFrame, cfg: Config, ctx: Ctx): DataFrame = {
    val names = cfg.strList("inputs")
    if (names.isEmpty) throw new GraftAnalysisException("union: needs non-empty 'inputs'")
    names.foldLeft(df) { (acc, n) =>
      val other = ctx.getOrElse(n, throw new GraftAnalysisException(s"union: unknown input '$n'"))
      acc.unionByName(other, allowMissingColumns = true)
    }
  }
}

/** INTERSECT / EXCEPT against a named source (ABSENT in the
  * reference, SURVEY §2.4). Set semantics (deduplicating), like the
  * SQL operators; `all: true` keeps duplicates (INTERSECT ALL /
  * EXCEPT ALL).
  */
object SetOp {
  def apply(df: DataFrame, cfg: Config, ctx: Ctx, kind: String): DataFrame = {
    val name = cfg.reqStr("other")
    val other = ctx.getOrElse(name, throw new GraftAnalysisException(s"$kind: unknown input '$name'"))
    val all = cfg.bool("all").getOrElse(false)
    (kind, all) match {
      case ("intersect", false) => df.intersect(other)
      case ("intersect", true)  => df.intersectAll(other)
      case ("except", false)    => df.except(other)
      case ("except", true)     => df.exceptAll(other)
      case _ => throw new GraftAnalysisException(s"unknown set op '$kind'")
    }
  }
}

/** Pivot (ABSENT in the reference): group by keys, spread a pivot
  * column's values into output columns. `values` must be declared —
  * at 100 TB an undeclared pivot means an extra full pass just to
  * discover the column set, and nondeterministic output schemas break
  * downstream consumers.
  */
object PivotOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val groupBy = cfg.strList("group_by")
    val pivotCol = cfg.reqStr("pivot")
    val values = cfg.strList("values")
    if (values.isEmpty)
      throw new GraftAnalysisException("pivot: needs declared 'values' (schema must be static)")
    val aggs = AggregateOp.buildAggs(cfg)
    df.groupBy(groupBy.map(c): _*).pivot(pivotCol, values).agg(aggs.head, aggs.tail: _*)
  }
}

/** Unpivot / melt (inverse of [[PivotOp]]): declared value columns
  * become (name, value) rows. Plan-level fan-out, no shuffle.
  */
object UnpivotOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val ids = cfg.strList("ids")
    val values = cfg.strList("values")
    if (values.isEmpty) throw new GraftAnalysisException("unpivot: needs 'values'")
    df.unpivot(ids.map(c).toArray, values.map(c).toArray,
      cfg.str("name_to").getOrElse("name"), cfg.str("value_to").getOrElse("value"))
  }
}

/** Explode an array column into one row per element (with optional
  * position). Plan-level fan-out — no shuffle; generated rows stay in
  * their parent's partition.
  */
object ExplodeOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val field = cfg.reqStr("field")
    val out = cfg.str("as").getOrElse(field)
    if (cfg.bool("with_position").getOrElse(false))
      df.select(col("*"), posexplode(c(field)).as(Seq(s"${out}_pos", s"${out}_value")))
        .drop(field)
    else
      df.withColumn(out + "_value", explode(c(field))).drop(field)
  }
}

/** Deterministic content-hash sampling (ABSENT in the reference; a
  * core training-data-pipeline op). The sampling decision is
  * `md5(key) mod M < below` — a pure function of the row's key, so the
  * sample is stable across runs, engines, partitionings, and data
  * relayouts (unlike `rand()` or `TABLESAMPLE`), and downstream joins
  * of two independently-sampled tables on the same key stay
  * consistent.
  */
object SampleOp {
  /** md5-derived bucket in [0, mod): first 8 hex chars as an int.
    * Cross-engine reproducible (md5 is md5 everywhere). */
  private[transforms] def bucket(key: Column, mod: Int): Column =
    pmod(conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10).cast(LongType), lit(mod.toLong))

  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val key = c(cfg.reqStr("key"))
    val mod = cfg.int("mod").getOrElse(100)
    val below = cfg.int("below").getOrElse(
      throw new GraftAnalysisException("sample: needs 'below' (keep rows with bucket < below)"))
    df.filter(bucket(key, mod) < below)
  }
}

/** Stratified deterministic sampling: a per-class keep-fraction over
  * the SAME md5 hash-bucket mechanism as [[SampleOp]] — so the sample
  * is reproducible across engines AND across runs (a re-processed
  * corpus keeps/drops the same rows), which seeded `rand()` sampling
  * cannot promise. Classes absent from `fractions` keep the `default`
  * rate (0 = drop). The classic rebalancing move for skewed corpora:
  * downsample the dominant language/source, keep the tail whole.
  */
object StratifiedSampleOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val key = c(cfg.reqStr("key"))
    val classCol = c(cfg.reqStr("class_field"))
    val mod = cfg.int("mod").getOrElse(100)
    val default = cfg.int("default_below").getOrElse(0)
    val fracs = cfg.strMap("below") // class value -> bucket threshold
    if (fracs.isEmpty && default == 0)
      throw new GraftAnalysisException(
        "stratified_sample: needs 'below' {class: threshold} and/or 'default_below'")
    val b = SampleOp.bucket(key, mod)
    val threshold = fracs.foldRight(lit(default): Column) { case ((cls, below), els) =>
      val t = try below.toInt catch {
        case _: NumberFormatException =>
          throw new GraftAnalysisException(s"stratified_sample: threshold for '$cls' not an int: $below")
      }
      when(classCol.cast(StringType) === cls, lit(t)).otherwise(els)
    }
    df.filter(b < threshold)
  }
}

/** Token-budget corpus selection — epoch construction for LLM
  * training: per class (source / language / domain), keep documents
  * in a deterministic pseudo-random order (md5-of-key, the same
  * cross-engine mechanism as [[SampleOp]]) until the class's TOKEN
  * budget is reached. "Mix 10 B CommonCrawl tokens with 2 B books
  * tokens" is exactly this op with a budgets map; unlisted classes
  * get `default_budget` (0 = drop). A document is kept iff the
  * running total INCLUDING it fits — budgets never overshoot.
  *
  * Scale shape: one shuffle on the class key + a running-sum window
  * per class — the class is the parallelism unit, same contract as
  * [[graft.ops.Packing]] (a class is a source/shard, not the corpus).
  * Deterministic order means a re-run, a re-partitioned input, or a
  * different engine selects the SAME epoch — which `rand()`-based
  * selection cannot promise.
  */
object TokenBudgetOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = c(cfg.reqStr("key"))
    val classCol = c(cfg.reqStr("class_field"))
    val textCol = c(cfg.str("text_field").getOrElse("text"))
    val default = cfg.long("default_budget").getOrElse(0L)
    val budgets = cfg.strMap("budgets")
    if (budgets.isEmpty && default == 0L)
      throw new GraftAnalysisException(
        "token_budget: needs 'budgets' {class: tokens} and/or 'default_budget'")
    val budget = budgets.foldRight(lit(default): Column) { case ((cls, b), els) =>
      val t = try b.toLong catch {
        case _: NumberFormatException =>
          throw new GraftAnalysisException(s"token_budget: budget for '$cls' not a long: $b")
      }
      when(classCol.cast(StringType) === cls, lit(t)).otherwise(els)
    }
    val w = Window.partitionBy(classCol)
      .orderBy(md5(key.cast(StringType)), key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", graft.ops.TextAnalysis.tokenCount(textCol))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }
}

/** Deterministic train/validation/test split: same hash-bucket
  * mechanism as [[SampleOp]], emitted as a label column. Stable
  * splits are what keep eval sets eval sets when the corpus is
  * re-processed.
  */
object SplitOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val key = c(cfg.reqStr("key"))
    val mod = cfg.int("mod").getOrElse(100)
    val trainBelow = cfg.int("train_below").getOrElse(90)
    val valBelow = cfg.int("val_below").getOrElse(trainBelow)
    val out = cfg.str("as").getOrElse("split")
    val b = SampleOp.bucket(key, mod)
    df.withColumn(out,
      when(b < trainBelow, lit("train"))
        .when(b < valBelow, lit("val"))
        .otherwise(lit("test")))
  }
}

/** Window functions (ABSENT in the reference, SURVEY §2.4): ranking,
  * offsets, and framed running aggregates over
  * `partition_by`/`order_by`. One shuffle on the partition keys; all
  * functions over the same window spec share it.
  */
object WindowOp {
  def apply(df: DataFrame, cfg: Config): DataFrame = {
    val parts = cfg.strList("partition_by")
    val ords = cfg.objList("order_by").map { o =>
      if (o.bool("descending").getOrElse(false)) c(o.reqStr("field")).desc else c(o.reqStr("field")).asc
    } match {
      case Nil => cfg.strList("order_by_fields").map(f => c(f).asc)
      case xs  => xs
    }
    val base = Window.partitionBy(parts.map(c): _*).orderBy(ords: _*)
    val fns = cfg.objList("functions")
    if (fns.isEmpty) throw new GraftAnalysisException("window: needs 'functions'")
    fns.foldLeft(df) { (acc, f) =>
      val fn = f.reqStr("function")
      lazy val field = c(f.reqStr("field"))
      val alias = f.str("as").getOrElse(fn)
      val w = f.str("frame").getOrElse("") match {
        case "running" => base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        case ""        => base
        case other     => throw new GraftAnalysisException(s"window: unknown frame '$other'")
      }
      // ranking functions surface as BIGINT (SQL-standard width, and
      // what every SQL engine returns for them)
      val e: Column = fn match {
        case "row_number" => row_number().over(base).cast(LongType)
        case "rank"       => rank().over(base).cast(LongType)
        case "dense_rank" => dense_rank().over(base).cast(LongType)
        case "lag"        => lag(field, f.int("offset").getOrElse(1)).over(base)
        case "lead"       => lead(field, f.int("offset").getOrElse(1)).over(base)
        case "sum"        => sum(field).over(w)
        case "count"      => count(field).over(w)
        case "min"        => min(field).over(w)
        case "max"        => max(field).over(w)
        case "avg"        => avg(field).over(w)
        case other        => throw new GraftAnalysisException(s"window: unknown function '$other'")
      }
      acc.withColumn(alias, e)
    }
  }
}

/** Full SQL over the named sources + the current stream (as `_input`).
  * The reference has no SQL surface of its own (SURVEY §2.4) — this
  * closes that gap with Spark SQL itself.
  */
object SqlOp {
  def apply(df: DataFrame, cfg: Config, ctx: Ctx): DataFrame = {
    val q = cfg.reqStr("query")
    val spark = df.sparkSession
    ctx.foreach { case (n, d) => d.createOrReplaceTempView(n) }
    df.createOrReplaceTempView("_input")
    spark.sql(q)
  }
}
