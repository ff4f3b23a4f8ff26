package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.6):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design notes (the point of each algorithm):
  *  - exact: one ranked window partitioned by a 16-byte digest, over
  *    one read of the input. A partial per-task group limit keeps only
  *    each task's first rows per digest, so a hot digest is cut down
  *    before the shuffle.
  *  - MinHash+LSH: signatures are pure column expressions (codegen, no
  *    shuffle); candidate generation explodes each doc into `bands`
  *    rows (small constant) and self-joins on (band, band-hash) — the
  *    only pairwise work happens inside buckets, never across the full
  *    corpus (no O(n²) cross join anywhere).
  *  - SimHash: one explode + hash-aggregate per doc (map-side partial
  *    agg), then banded self-join on 16-bit chunks: any two signatures
  *    within Hamming distance 3 share at least one of 4 chunks
  *    (pigeonhole), so candidates are found without comparing all
  *    pairs.
  *  - embedding: cosine via normalized vectors; candidate generation by
  *    sign-LSH buckets (see [[Similarity.hyperplaneBuckets]]).
  */
object Dedup {


  /** Subplan-checkpoint knobs (round-19, measured by same-window
    * alternating A/B against the un-checkpointed plan — see
    * OPTIMIZATION_r19.md):
    *
    *  - `spark.graft.dedup.checkpointCandidates` (default FALSE):
    *    checkpoint the bounded candidate/membership frames of the
    *    MinHash family (cands/sets/lMembers/rMembers). Local A/B says
    *    the checkpoint LOSES wall at gate scale (contamination 1.5x,
    *    incremental 1.2x slower): the duplicated subplans run on idle
    *    cores inside one job (and share shuffle output via
    *    ReuseExchange), while an up-front materialization serializes
    *    the pipeline. On a SATURATED cluster duplicated work is
    *    duplicated wall — turn this on there to run the banded
    *    pipeline once per call instead of 2-3 times.
    *
    *  - `spark.graft.dedup.checkpointCorpus` (default TRUE):
    *    checkpoint corpus-derived frames that several passes re-read
    *    (tokenized arrays in span/substring dedup, positional digests
    *    in line/sentence dedup). Checkpointing pins O(corpus) executor
    *    storage (MEMORY_AND_DISK — spills, never OOMs) and truncates
    *    lineage, so an executor loss fails the job instead of
    *    recomputing (ADVICE r18 #4). FALSE trades 1-2 extra corpus
    *    passes for full lineage-based fault tolerance and zero pinned
    *    storage; results are identical either way (DedupSpec pins it).
    */
  private def ckptCandidates(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.dedup.checkpointCandidates")
        .exists(_.toBoolean)) df.localCheckpoint(false)
    else df

  private def ckptCorpus(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.dedup.checkpointCorpus")
        .forall(_.toBoolean)) df.localCheckpoint(eager)
    else df

  /** Exact dedup by content fingerprint: keep the row with the minimal
    * `tieBreak` per normalized-content digest, by [[keepFirst]]. Every
    * row tied on the minimum stays; a NULL `tieBreak` loses to any real
    * one; NULL text (a NULL digest) is one group and is kept.
    */
  def exactByFingerprint(df: DataFrame, textCol: String, tieBreak: String): DataFrame =
    keepFirst(df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq(col("__fp")), Seq(col(tieBreak).asc_nulls_last)).drop("__fp")

  /** The one rule for "the first row of each group": keep every row
    * whose `orderBy` value ranks first within its `partitionBy` group
    * (`rank() = 1`). Ties on the best value all survive, so the result
    * does not depend on partitioning. Callers pass each order column
    * as `asc_nulls_last` (keep first) or `desc_nulls_last` (keep last):
    * a NULL order value then loses to any real value, and a group whose
    * order values are all NULL keeps all its rows. NULL keys form one
    * group, like `groupBy`.
    *
    * Spark plans `rank = 1` with a partial `WindowGroupLimit` below the
    * exchange, so each map task ships only its local winners (a hot key
    * is cut down before the shuffle), and the input is read once.
    */
  def keepFirst(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    df.withColumn("__rank", rank().over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .filter(col("__rank") === 1).drop("__rank")

  /** Corpus-level LINE dedup — the C4/RefinedWeb boilerplate-removal
    * move: delete every occurrence of any line whose trimmed form
    * appears in at least `minDf` DISTINCT documents (nav bars, cookie
    * banners, "all rights reserved" footers). Documents shrink; none
    * are dropped. Blank/whitespace-only lines are neither counted nor
    * removed. Emits `n_lines_removed` alongside the rewritten text.
    *
    * Scale shape: line frequencies travel as (id, pos, 16-byte digest)
    * — document bodies are never exploded into the shuffle. The
    * frequent-digest set is bounded (≤ corpus lines / minDf); the
    * per-doc removal lists cover only affected documents, so the final
    * left join is a candidate for AQE broadcast, and degrades to a
    * plain shuffle join on the id when boilerplate is pervasive — the
    * one unavoidable doc-body shuffle in any rewrite. Rebuild is
    * scan-local: an indexed array filter over split(text), no
    * re-sort of line fragments.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"dedupLines: minDf must be >= 2, got $minDf")
    // thin (id, pos, digest) rows, referenced by the frequency
    // aggregate AND the removal join: checkpoint (ckptCorpus, default
    // on — A/B-verified win) so the explode+md5 pass runs once
    val lines = ckptCorpus(Partitioning.fanOut(df)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .filter(trim(col("__line")) =!= "")
      .select(col("__id"), col("__pos"), md5(trim(col("__line"))).as("__dg")),
      eager = true)
    val frequent = lines.groupBy(col("__dg"))
      .agg(count_distinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__dg"))
    val removals = lines.join(frequent, "__dg")
      .groupBy(col("__id")).agg(collect_set(col("__pos")).as("__rm"))
    val rebuilt = when(col("__rm").isNull, col(textCol)).otherwise(
      concat_ws("\n",
        filter(split(col(textCol), "\n", -1), (_, i) => !array_contains(col("__rm"), i))))
    // fanOut the rebuild side too: `removals` broadcasts, so the
    // CPU-dense re-split+filter runs at the raw SCAN's width — 1–2
    // splits for the gate's single file (profiled: a 1.4 s single-task
    // rebuild stage). No-op at real scale (many splits).
    Partitioning.fanOut(df).join(removals, col(idCol) === col("__id"), "left")
      .withColumn(textCol, rebuilt)
      .withColumn("n_lines_removed", coalesce(size(col("__rm")), lit(0)).cast("long"))
      .drop("__id", "__rm")
  }

  /** Sentence-level corpus dedup (the CCNet mode of [[dedupLines]]):
    * drop every SENTENCE that appears in at least `minDf` distinct
    * documents — newsletter pitches, cookie notices, and share
    * blurbs repeat verbatim at sentence granularity even when the
    * pages embedding them differ everywhere else, and line-level
    * dedup misses them whenever the boilerplate shares a line with
    * real prose. Segmentation is [[Sentences.sentencesOf]] (the
    * deterministic rule splitter), frequencies shuffle as md5
    * digests — never sentence bodies — and the rebuild re-splits
    * scan-local and drops by position, kept sentences rejoined with
    * one space. Output: `textCol` rewritten + `n_sentences_removed`.
    *
    * Scale shape — the SAME plan as [[dedupLines]]: the frequency
    * side explodes (id, pos, 16-byte digest) only; the per-doc
    * removal lists cover only affected documents, so the one join
    * back onto the corpus is a left join of a SMALL aggregate (AQE
    * broadcast candidate), and the rebuild is a codegen'd scan-local
    * kernel ([[graft.expr.SentenceDrop]]) over (text, __rm) —
    * document bodies never enter an Exchange and never pay a
    * Dataset serialization round-trip. Pinned by PlanShapeSpec.
    */
  def dedupSentences(df: DataFrame, idCol: String, textCol: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"dedupSentences: minDf must be >= 2, got $minDf")
    val sents = ckptCorpus(Sentences.split(Partitioning.fanOut(df), idCol, textCol)
      .select(col("id").as("__id"), col("seq").as("__pos"),
        md5(col("sentence")).as("__dg")),
      eager = true) // referenced twice — see dedupLines
    val frequent = sents.groupBy(col("__dg"))
      .agg(count_distinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__dg"))
    val removals = sents.join(frequent, "__dg")
      .groupBy(col("__id")).agg(collect_set(col("__pos")).as("__rm"))
    // rebuild scan-local: only rows WITH removals pay the re-split
    // kernel (left join, null __rm = byte-identical passthrough)
    val rebuilt = when(col("__rm").isNull, col(textCol)).otherwise(
      graft.expr.SentenceDrop(col(textCol).cast("string"), col("__rm")))
    // NO fanOut here, unlike dedupLines: the SentenceDrop kernel only
    // fires on rows WITH removals (few at the gate's minDf), so a
    // round-robin exchange of document BODIES costs more than the
    // narrow rebuild saves (A/B r19: 1.36× WORSE with fanOut)
    df.join(removals, col(idCol).cast("long") === col("__id"), "left")
      .withColumn(textCol, rebuilt)
      .withColumn("n_sentences_removed", coalesce(size(col("__rm")), lit(0)).cast("long"))
      .drop("__id", "__rm")
  }

  /** Corpus version diff — the bookkeeping half of incremental corpus
    * maintenance (pairs with [[NearDupIndex]]): compare two corpus
    * versions by id and content fingerprint and classify every id as
    * `added` (new only), `removed` (old only), `changed` (both, body
    * differs), or `unchanged`. Output: (id, status) — feed the added ∪
    * changed slice to the dedup/quality passes instead of recleaning
    * the world.
    *
    * Scale shape: fingerprints are computed scan-local
    * ([[TextAnalysis.fingerprint]]); the full-outer join shuffles
    * (id, 32-hex digest) pairs only, never bodies.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // existence travels as its own marker — NULL text fingerprints
    // NULL, so fp nullity cannot double as "row absent" (a null-text
    // doc present in both versions is unchanged, not added)
    def keyed(df: DataFrame, fp: String, present: String) = Partitioning.fanOut(df)
      .select(col(idCol).as("__id"),
        TextAnalysis.fingerprint(col(textCol)).as(fp), lit(true).as(present))
    keyed(oldDf, "__fpo", "__po")
      .join(keyed(newDf, "__fpn", "__pn"), Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__po").isNull, lit("added"))
          .when(col("__pn").isNull, lit("removed"))
          .when(col("__fpo") <=> col("__fpn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Repeated-SPAN dedup — the k-gram approximation of exact
    * substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): any k-token window whose content
    * occurs at least `minCount` times in the corpus is a duplicated
    * span; every occurrence except the canonical first (min (doc, pos))
    * is removed, token-wise. Operates on — and OUTPUTS — the
    * normalized token stream ([[TextAnalysis.tokens]], lowercased
    * alphanumeric rejoined with single spaces): original casing,
    * punctuation, and whitespace are not preserved, the same contract
    * as every token-level op here; run span dedup before, not after,
    * any formatting-sensitive stage. Docs shorter than k tokens lose
    * no tokens (n_tokens_removed = 0).
    *
    * Scale shape: windows shuffle as (id, pos, md5-of-gram) — 32-byte
    * digests, never token payloads; the frequency+canonical pass is
    * one hash aggregate keyed by digest (min of a (doc,pos) struct —
    * no Window); covered positions come back as bounded per-doc
    * lists and the rebuild is a scan-local indexed array filter.
    * Total shuffled volume is O(corpus tokens) — the inherent cost of
    * exact span-level dedup (the suffix-array formulation pays the
    * same); there is no all-pairs step anywhere.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k >= 2, s"dedupSpans: k must be >= 2, got $k")
    require(minCount >= 2, s"dedupSpans: minCount must be >= 2, got $minCount")
    // ckptCorpus (LAZY — A/B round 19: lazy beat the round-18 eager
    // 0.79x; the digest aggregate materializes it anyway): referenced
    // by the gram pass AND the final rebuild join — un-truncated, each
    // reference re-tokenizes the corpus. Token arrays are corpus-sized:
    // see the knob scaladoc for the storage/fault-tolerance trade.
    val toked = ckptCorpus(Partitioning.fanOut(df)
      .select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks")),
      eager = false)
    val occ = toked
      .select(col("__id"), explode(when(size(col("__toks")) >= k,
          transform(sequence(lit(0), size(col("__toks")) - k),
            i => struct(i.as("pos"),
              md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(k)))).as("dg"))))
        .otherwise(array().cast("array<struct<pos:int,dg:string>>"))).as("__o"))
      .select(col("__id"), col("__o.pos").as("__pos"), col("__o.dg").as("__dg"))
    val freq = occ.groupBy(col("__dg"))
      .agg(count(lit(1)).as("__c"), min(struct(col("__id"), col("__pos"))).as("__canon"))
      .filter(col("__c") >= minCount)
      .select(col("__dg"), col("__canon"))
    val covered = occ.join(freq, Seq("__dg"))
      .filter(!(col("__id") === col("__canon.__id") && col("__pos") === col("__canon.__pos")))
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + k - 1)).as("__cp"))
      .groupBy(col("__id")).agg(collect_set(col("__cp")).as("__rm"))
    val kept = when(col("__rm").isNull, col("__toks")).otherwise(
      filter(col("__toks"), (_, i) => !array_contains(col("__rm"), i)))
    toked.join(covered, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        concat_ws(" ", kept).as(textCol),
        // |__rm| IS the removed-token count: covered positions are
        // in-bounds by construction and collect_set dedups overlaps
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_tokens_removed"))
  }

  /** Exact-substring dedup with the CUT semantics of Lee et al. 2021
    * (ExactSubstr, the released suffix-array tool's behavior): a token
    * is removed iff it lies inside ANY substring of `minLen` or more
    * tokens that occurs two or more times in the corpus — including
    * the first occurrence (the tool's documented aggressive contract;
    * [[dedupSpans]] remains the keep-canonical tier). Outputs the
    * rebuilt normalized token stream plus the removed-token count and
    * the number of MAXIMAL removed spans per doc.
    *
    * Exactness: a token at position p is inside a duplicated
    * substring of length ≥ L iff some length-L window containing p
    * occurs ≥ 2 times (any occurrence of the longer substring
    * contains an occurrence of that window, and a duplicated window
    * IS a duplicated length-L substring). So fixed-L window coverage
    * equals suffix-array ≥L-match coverage — the same removed set the
    * suffix-array formulation derives, without materializing suffix
    * ranks. Self-repeats inside one doc and overlapping occurrences
    * are counted by position, exactly as suffix-array matching does.
    *
    * Scale shape, two tiers (the "k-mer prefix group → in-group
    * extension" decomposition): stage 1 hashes only `prefilterK`-token
    * prefixes at every eligible position (cheap, O(k) per position)
    * and keeps positions whose prefix group has ≥ 2 members — every
    * duplicated L-window must start with a duplicated k-prefix, so
    * the prune is lossless. Stage 2 computes the full L-token digest
    * ONLY at surviving positions, via one join of candidate position
    * lists back to the token arrays (token payloads shuffle once,
    * keyed by id; digests — 32 bytes — are all that shuffles wide).
    * The per-doc rebuild is a scan-local indexed filter; maximal-span
    * merge is a scan-local pass over the sorted covered positions.
    * No Window over the corpus, no all-pairs step.
    */
  def exactSubstrCut(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, prefilterK: Int = 8): DataFrame = {
    require(minLen >= 2, s"exactSubstrCut: minLen must be >= 2, got $minLen")
    require(prefilterK >= 2 && prefilterK <= minLen,
      s"exactSubstrCut: prefilterK must be in [2, minLen], got $prefilterK")
    // ckptCorpus (LAZY — see dedupSpans; A/B round 19: 0.85x vs the
    // round-18 eager): referenced by the prefix-digest pass, the
    // candidate-window pass AND the final rebuild join. Corpus-sized —
    // see the knob scaladoc for the storage/fault-tolerance trade.
    val toked = ckptCorpus(Partitioning.fanOut(df)
      .select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks")),
      eager = false)
    // stage 1: cheap k-token prefix digests at every position that can
    // start a full minLen window
    val kpos = toked
      .select(col("__id"), explode(when(size(col("__toks")) >= minLen,
          transform(sequence(lit(0), size(col("__toks")) - minLen),
            i => struct(i.as("pos"),
              md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(prefilterK)))).as("kdg"))))
        .otherwise(array().cast("array<struct<pos:int,kdg:string>>"))).as("__o"))
      .select(col("__id"), col("__o.pos").as("__pos"), col("__o.kdg").as("__kdg"))
    val dupPrefix = kpos.groupBy(col("__kdg"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2).select("__kdg")
    val candidates = kpos.join(dupPrefix, Seq("__kdg"), "left_semi")
      .groupBy(col("__id")).agg(collect_list(col("__pos")).as("__cands"))
    // stage 2: in-group extension — full-window digests at candidate
    // positions only (docs with no candidate drop out of the join)
    val lpos = toked.join(candidates, Seq("__id"))
      .select(col("__id"),
        explode(transform(col("__cands"),
          p => struct(p.as("pos"),
            md5(concat_ws(" ", slice(col("__toks"), p + 1, lit(minLen)))).as("ldg")))).as("__o"))
      .select(col("__id"), col("__o.pos").as("__pos"), col("__o.ldg").as("__ldg"))
    val dupWindow = lpos.groupBy(col("__ldg"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2).select("__ldg")
    // CUT: every occurrence's positions are covered — no canonical kept
    val covered = lpos.join(dupWindow, Seq("__ldg"), "left_semi")
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + minLen - 1)).as("__cp"))
      .groupBy(col("__id")).agg(sort_array(collect_set(col("__cp"))).as("__rm"))
    val kept = when(col("__rm").isNull, col("__toks")).otherwise(
      filter(col("__toks"), (_, i) => !array_contains(col("__rm"), i)))
    // a maximal span starts wherever the sorted covered list breaks
    val nSpans = when(col("__rm").isNull, lit(0L)).otherwise(
      size(filter(transform(sequence(lit(0), size(col("__rm")) - 1),
        // CaseWhen is lazy: element_at(__rm, 0) (invalid index) is
        // never evaluated on the i = 0 branch
        i => when(i === 0, lit(true)).otherwise(
          element_at(col("__rm"), i + 1) =!= element_at(col("__rm"), i) + 1)),
        b => b)).cast("long"))
    toked.join(covered, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        concat_ws(" ", kept).as(textCol),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_tokens_removed"),
        nSpans.as("n_spans_removed"))
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic MinHash parameters: h_i(x) = (a_i·x + b_i) mod p
    * over xxhash64(shingle). Constants from a fixed seed so signatures
    * are reproducible across runs and clusters.
    */
  private val MinhashP = 2147483647L // 2^31 - 1
  private def minhashCoeffs(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Shingle hash column: one tokenize+shingle+hash pass per document.
    * Kept as its own projection so the signature step references the
    * computed array instead of re-deriving it — higher-order functions
    * get no common-subexpression elimination, so inlining this into 64
    * hash expressions would re-tokenize every document 64 times.
    * Reducing the 64-bit hash mod p up front also keeps a·x+b < 2^62 —
    * no long overflow under ANSI mode.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    transform(TextAnalysis.shingles(text, k), s => pmod(xxhash64(s), lit(MinhashP)))

  /** MinHash signature (array<long> of length `numHashes`) from a
    * precomputed [[shingleHashes]] column.
    *
    * Deliberately unrolled Scala-side into `numHashes` expressions
    * (NOT a `transform` over `sequence(0, n-1)`): `hs` must appear
    * many times *syntactically* so `CollapseProject` refuses to inline
    * the upstream shingle-hash projection. A single reference inside a
    * lambda looks "used once" to the optimizer, gets inlined, and is
    * then re-evaluated per outer-loop iteration — 64 tokenizations per
    * document (measured: minutes instead of seconds at sf0.1).
    */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    array(minhashCoeffs(numHashes, seed).map { case (a, b) =>
      array_min(transform(hs, x => pmod(lit(a) * x + lit(b), lit(MinhashP))))
    }: _*)

  /** Convenience single-column form (prefer the two-step
    * [[shingleHashes]] → [[minhashSignatureFromHashes]] in pipelines so
    * the tokenize pass is shared). */
  def minhashSignature(text: Column, numHashes: Int = 64, k: Int = 3, seed: Long = 42L): Column =
    minhashSignatureFromHashes(shingleHashes(text, k), numHashes, seed)

  /** LSH candidate pairs from MinHash signatures: docs whose signature
    * agrees on all rows of at least one band. `bands`×`rowsPerBand`
    * must equal the signature length. Returns (a_id, b_id) with
    * a_id < b_id, distinct.
    *
    * `maxBucketSize > 0` drops band buckets holding more members —
    * the skew guard for adversarial corpora (a pile of near-identical
    * docs puts them all in the same buckets → quadratic candidates in
    * one join partition). Recall contract under a cap: a pair is only
    * missed if EVERY band it collides on is oversized; exact
    * duplicates are unaffected because [[minhashNearDups]] collapses
    * them before banding. Callers should run that collapse (or dedup
    * exactly) first — capping is for the residual near-dup skew.
    */
  /** (id, band, hash-of-band-slice) rows — `bands` small rows per doc,
    * never the doc body. Signature via the native codegen'd
    * expressions (graft.expr.MinHashExpressions): one kernel call per
    * row instead of 64×|shingles| interpreted lambda dispatches
    * (14 s → sub-second for 5k docs at sf0.1). The band array is
    * unrolled Scala-side so `__sig` is referenced `bands` times
    * syntactically — a single lambda-internal reference would let
    * CollapseProject inline the signature and recompute it per band.
    */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, k: Int, bands: Int, seed: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandHashes = (0 until bands).map(b => xxhash64(slice(col("__sig"), b * r + 1, r)))
    df.select(col(idCol).as("__id"),
        graft.expr.MinHashExpressions.textShingleHashes(col(textCol), k).as("__hs"))
      .select(col("__id"),
        graft.expr.MinHashExpressions.minhashSignature(col("__hs"), numHashes, seed).as("__sig"))
      .select(col("__id"), posexplode(array(bandHashes: _*)).as(Seq("__band", "__bh")))
  }

  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, k: Int = 3, bands: Int = 16, seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, numHashes, k, bands, seed)
    val capped =
      if (maxBucketSize <= 0) banded
      else banded.join(
        banded.groupBy("__band", "__bh").count().where(col("count") > maxBucketSize),
        Seq("__band", "__bh"), "left_anti")
    val a = capped.select(col("__band"), col("__bh"), col("__id").as("a_id"))
    val b = capped.select(col("__band"), col("__bh"), col("__id").as("b_id"))
    a.join(b, Seq("__band", "__bh")).where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Near-dup pairs: LSH candidates verified with exact Jaccard over
    * shingle sets, kept when ≥ `threshold`.
    *
    * Exact duplicates are collapsed BEFORE banding: the LSH self-join
    * runs on one representative per distinct fingerprint, so a corpus
    * of N identical documents costs one banded row-set instead of an
    * N² bucket explosion (the degenerate case that kills banded LSH).
    * Same-fingerprint pairs are emitted directly with jaccard 1.0 —
    * exact, because [[TextAnalysis.fingerprint]] normalizes with the
    * same tokenizer as [[TextAnalysis.shingles]], so equal fingerprint
    * ⟹ equal shingle set. Cross-content pairs found at representative
    * level fan back out to member pairs (work ∝ output size, which is
    * the lower bound). The result set is bit-identical to banding the
    * raw corpus: identical docs have identical signatures, so rep-level
    * band collisions are exactly member-level collisions.
    * `maxBucketSize` caps residual near-dup bucket skew
    * (see [[minhashCandidates]]).
    */
  /** Shared core of the MinHash near-dup family: exact-duplicate
    * collapse + banded LSH + exact-Jaccard verify, stopping at
    * REP-level pairs. Returns (members(__id, __fp),
    * reps(__fp, __rid), repPairs(a_id, b_id, jaccard)); the pair
    * surface fans members back out, the groups surface contracts
    * instead.
    */
  private def minhashRepPairs(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      numHashes: Int, k: Int, bands: Int, seed: Long,
      maxBucketSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val src = Partitioning.fanOut(df) // hashing-heavy: don't let 1-2 input splits serialize it
    // membership: id → content fingerprint. Checkpointed: it feeds
    // reps here plus both fan-out sides downstream (ma/mb), and each
    // un-truncated reference re-scans the corpus and re-hashes every
    // document (Catalyst shares no subplans). Two small columns per
    // doc — cheap to hold, saves 2+ full corpus passes.
    val members = src.select(col(idCol).as("__id"),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .localCheckpoint(true)
    val reps = members.groupBy("__fp").agg(min("__id").as("__rid"))
    val repDf = src.join(reps.select(col("__rid")), col(idCol) === col("__rid"), "left_semi")

    // ckptCandidates (default OFF — round-19 A/B: the round-18
    // eager checkpoint made the family 1.2-1.5x SLOWER at gate scale;
    // duplicated subplan branches run on idle cores and share shuffle
    // output via ReuseExchange, while a blocking materialization
    // serializes the pipeline). On a saturated cluster, turn the knob
    // on: `cands` is referenced 3x below and the banded pipeline then
    // runs once instead of three times.
    val cands = ckptCandidates(
      minhashCandidates(repDf, idCol, textCol, numHashes, k, bands, seed, maxBucketSize))
    // shingle sets only for reps that appear in some candidate pair —
    // the verify step re-tokenizes O(candidates) documents, not O(corpus)
    val candIds = cands.select(col("a_id").as("__cid"))
      .union(cands.select(col("b_id"))).distinct()
    // ckptCandidates too (same knob): joined twice (a-side, b-side)
    // below; each un-truncated reference re-tokenizes candidate docs
    val sets = ckptCandidates(
      repDf.join(candIds, col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("__id"),
        array_distinct(TextAnalysis.shingles(col(textCol), k)).as("__sh")))
    val withSets = cands
      .join(sets.withColumnsRenamed(Map("__id" -> "a_id", "__sh" -> "__sha")), "a_id")
      .join(sets.withColumnsRenamed(Map("__id" -> "b_id", "__sh" -> "__shb")), "b_id")
    // codegen'd set-Jaccard kernel: bit-exact with the
    // size(array_intersect)/union chain on these distinct inputs, and
    // the verify join stops paying interpreted array_intersect per pair
    val repPairs = withSets
      .withColumn("jaccard", graft.expr.ArrayJaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    (members, reps, repPairs)
  }

  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, k: Int = 3, bands: Int = 16, seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame = {
    val (members, reps, repPairs) = minhashRepPairs(
      df, idCol, textCol, threshold, numHashes, k, bands, seed, maxBucketSize)

    // fan rep-level pairs back out to member pairs
    val ridFp = reps.select(col("__rid"), col("__fp"))
    val ma = members.select(col("__fp").as("__fpa"), col("__id").as("__ida"))
    val mb = members.select(col("__fp").as("__fpb"), col("__id").as("__idb"))
    val crossPairs = repPairs
      .join(ridFp.withColumnsRenamed(Map("__rid" -> "a_id", "__fp" -> "__fpa")), "a_id")
      .join(ridFp.withColumnsRenamed(Map("__rid" -> "b_id", "__fp" -> "__fpb")), "b_id")
      .join(ma, "__fpa").join(mb, "__fpb")
      .select(least(col("__ida"), col("__idb")).as("a_id"),
        greatest(col("__ida"), col("__idb")).as("b_id"), col("jaccard"))
    // same-fingerprint members: pairwise exact duplicates, jaccard 1
    val identicalPairs = ma.join(mb, col("__fpa") === col("__fpb"))
      .where(col("__ida") < col("__idb"))
      .select(col("__ida").as("a_id"), col("__idb").as("b_id"), lit(1.0).as("jaccard"))
    crossPairs.unionByName(identicalPairs)
  }

  /** The SCALE surface of MinHash text dedup: one (id, group_id) row
    * per document instead of member pairs — the text analogue of
    * [[graft.ops.AudioFingerprint.audioDedupGroups]]. The pair
    * surface's output is inherently O(Σ group²); on a corpus whose
    * near-dup groups grow with the corpus (boilerplate, viral copies)
    * that fan-out dominates the job even though every upstream stage
    * is linear. This variant stops at REP-level verified pairs,
    * contracts them with [[Components.connectedComponents]]
    * (large/small-star — no driver union-find), and maps members
    * through their content fingerprint: work and output stay linear
    * at any duplication density. `group_id` is the minimum document
    * id reachable through the near-dup relation (exact-duplicate
    * edges included); documents with no mate keep their fingerprint
    * representative (= min id among exact copies, itself for unique
    * text). Keep-one-per-group is then `filter(id === group_id)`.
    */
  def minhashDedupGroups(
      df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, k: Int = 3, bands: Int = 16, seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame = {
    val (members, reps, repPairs) = minhashRepPairs(
      df, idCol, textCol, threshold, numHashes, k, bands, seed, maxBucketSize)
    val comps = Components.connectedComponents(repPairs.select("a_id", "b_id"))
    // rep → component (its own id when unpaired), then members map
    // through their fingerprint — the only per-member work is one join
    val repGroup = reps
      .join(comps, reps("__rid") === comps("id"), "left")
      .select(col("__fp"), coalesce(col("component"), col("__rid")).as("group_id"))
    members.join(repGroup, Seq("__fp"))
      .select(col("__id").as(idCol), col("group_id"))
  }

  /** CROSS-corpus near-duplicate pairs: documents of `left` that
    * near-match documents of `right` — the train/test CONTAMINATION
    * check every LLM data pipeline needs (is any eval document a
    * near-copy of a training document?). Output: (left_id, right_id,
    * jaccard) for every cross pair with exact word-shingle Jaccard ≥
    * `threshold`.
    *
    * The same bipartite shape IS incremental dedup: `left` = today's
    * ingest batch, `right` = the standing corpus — the batch is
    * checked against 100 TB without re-deduplicating the corpus
    * itself (the corpus side's banded signatures are a pure function
    * of its text, so they can be precomputed and persisted).
    *
    * Same scale shape as the self-join [[minhashNearDups]], with the
    * self-join's symmetries replaced by a bipartite band join:
    *  - exact duplicates collapse to one representative per
    *    fingerprint WITHIN each side; identical content ACROSS sides
    *    short-circuits through a fingerprint equi-join (jaccard 1.0
    *    exactly, no banding, no tokenization) — the common
    *    "verbatim leak" case costs a digest join;
    *  - only representatives with DIFFERENT fingerprints enter the
    *    banded join, keyed (band, bandHash): the shuffle carries ids
    *    and 8-byte hashes, never text;
    *  - candidates verify with the codegen'd exact-Jaccard kernel on
    *    shingle sets built ONLY for candidate reps (O(candidates));
    *  - rep-level pairs fan back to member pairs through each side's
    *    fingerprint membership (work ∝ output size).
    */
  def minhashContamination(
      left: DataFrame, right: DataFrame,
      leftIdCol: String, rightIdCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, k: Int = 3,
      bands: Int = 16, seed: Long = 42L): DataFrame = {
    val l = Partitioning.fanOut(left)
    val r = Partitioning.fanOut(right)
    // ckptCandidates (default OFF — see minhashRepPairs): each side's
    // membership feeds the digest join, the reps aggregate, AND the
    // member fan-out; the knob trades re-fingerprinting passes against
    // pipeline serialization, and gate-scale A/B picked re-execution
    // (contamination was 1.5x slower checkpointed)
    val lMembers = ckptCandidates(l.select(col(leftIdCol).as("__lid"),
      TextAnalysis.fingerprint(col(textCol)).as("__lfp")))
    val rMembers = ckptCandidates(r.select(col(rightIdCol).as("__rid"),
      TextAnalysis.fingerprint(col(textCol)).as("__rfp")))
    // verbatim leaks: identical normalized content across the corpora
    val identical = lMembers.join(rMembers, col("__lfp") === col("__rfp"))
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"),
        lit(1.0).as("jaccard"))
    // one rep per fingerprint per side
    val lReps = lMembers.groupBy("__lfp").agg(min("__lid").as("__lrid"))
    val rReps = rMembers.groupBy("__rfp").agg(min("__rid").as("__rrid"))
    val lRepDf = l.join(lReps.select(col("__lrid")), col(leftIdCol) === col("__lrid"), "left_semi")
    val rRepDf = r.join(rReps.select(col("__rrid")), col(rightIdCol) === col("__rrid"), "left_semi")
    // bipartite band join (same signature kernel both sides)
    val lBanded = bandedSignatures(lRepDf, leftIdCol, textCol, numHashes, k, bands, seed)
    val rBanded = bandedSignatures(rRepDf, rightIdCol, textCol, numHashes, k, bands, seed)
    // ckptCandidates (default OFF — see minhashRepPairs): referenced
    // 3x below (both semi-joins + the verify join)
    val cands = ckptCandidates(
      lBanded.select(col("__band"), col("__bh"), col("__id").as("__la"))
      .join(rBanded.select(col("__band"), col("__bh"), col("__id").as("__rb")),
        Seq("__band", "__bh"))
      .select("__la", "__rb").distinct()
      // different-fingerprint pairs only: identical content is already
      // emitted exactly through the digest join above
      .join(lReps.withColumnsRenamed(Map("__lrid" -> "__la")), "__la")
      .join(rReps.withColumnsRenamed(Map("__rrid" -> "__rb")), "__rb")
      .where(col("__lfp") =!= col("__rfp"))
      .select("__la", "__rb"))
    // exact verify on candidate reps only
    val lSets = lRepDf.join(cands.select(col("__la")).distinct(),
        col(leftIdCol) === col("__la"), "left_semi")
      .select(col(leftIdCol).as("__la"),
        array_distinct(TextAnalysis.shingles(col(textCol), k)).as("__sha"))
    val rSets = rRepDf.join(cands.select(col("__rb")).distinct(),
        col(rightIdCol) === col("__rb"), "left_semi")
      .select(col(rightIdCol).as("__rb"),
        array_distinct(TextAnalysis.shingles(col(textCol), k)).as("__shb"))
    val repPairs = cands.join(lSets, "__la").join(rSets, "__rb")
      .withColumn("jaccard", graft.expr.ArrayJaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select(col("__la"), col("__rb"), col("jaccard"))
    // fan rep pairs back out to member pairs on both sides
    val crossPairs = repPairs
      .join(lReps.withColumnsRenamed(Map("__lrid" -> "__la")), "__la")
      .join(rReps.withColumnsRenamed(Map("__rrid" -> "__rb")), "__rb")
      .join(lMembers, "__lfp").join(rMembers, "__rfp")
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"), col("jaccard"))
    crossPairs.unionByName(identical)
  }

  /** Exact word-n-gram benchmark decontamination — the published
    * GPT-3 method (Brown et al. 2020, appendix C: a training document
    * is contaminated iff it shares any exact lowercase 13-gram with an
    * evaluation document; PaLM and Llama report the same family of
    * checks). This is the EXACT sibling of [[minhashContamination]]:
    * no banding, no threshold — one shared n-gram flags the doc.
    *
    * Output, one row per train document with at least n tokens:
    * (trainIdCol, n_ngrams, n_hit, contaminated) where n_ngrams is
    * the document's DISTINCT n-gram count, n_hit how many of those
    * appear anywhere in the test corpus. Shorter documents have no
    * n-grams and no row, matching the reference method's domain.
    *
    * Shape at 100 TB: the train side explodes to (id, gram) pairs and
    * partially aggregates — but the test side is a benchmark suite
    * (MBs, not TBs), so its distinct gram set BROADCASTS and the train
    * side is never shuffled before the final per-doc aggregate:
    * scan → project/explode → broadcast join → hash agg, with the agg
    * keyed on the train id (map-side combine bounds state at one row
    * per doc per task). The join key leads with the 8-byte xxhash64 of
    * the gram; the gram string rides along as a verify column so a
    * hash collision cannot manufacture a contamination the string-only
    * oracle would not find. `broadcastTest = false` drops the hint for
    * a test corpus too big to broadcast — same result, shuffle join on
    * the hash.
    */
  def ngramContamination(
      train: DataFrame, test: DataFrame,
      trainIdCol: String, textCol: String,
      n: Int = 13, broadcastTest: Boolean = true): DataFrame = {
    require(n >= 1, s"ngramContamination: n must be >= 1, got $n")
    def grams(c: Column): Column =
      // bind (TextAnalysis): slice the once-tokenized array per
      // position — the lambda must not re-run the tokenizer (O(n²)).
      TextAnalysis.bind(TextAnalysis.tokens(c)) { toks =>
        // sequence(1, 0) would count DOWN in Spark; guard short docs to
        // an empty array (explode then drops them, as the oracle does)
        array_distinct(
          when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - n + 1),
              i => array_join(slice(toks, i, lit(n)), " ")))
            .otherwise(array()))
      }
    val tg = Partitioning.fanOut(train)
      .select(col(trainIdCol).as("__id"), explode(grams(col(textCol))).as("__g"))
      .select(col("__id"), xxhash64(col("__g")).as("__gh"), col("__g"))
    val xgBase = test
      .select(explode(grams(col(textCol))).as("__g")).distinct()
      .select(xxhash64(col("__g")).as("__gh"), col("__g"), lit(1).as("__hit"))
    val xg = if (broadcastTest) broadcast(xgBase) else xgBase
    tg.join(xg, Seq("__gh", "__g"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_ngrams"), count(col("__hit")).as("n_hit"))
      .select(col("__id").as(trainIdCol), col("n_ngrams"), col("n_hit"),
        (col("n_hit") > 0).as("contaminated"))
  }

  /** Persisted near-dup signature index — the standing-corpus half of
    * incremental dedup, in the shape production systems actually run:
    * signatures are computed ONCE at ingest and stored; checking a new
    * batch against a 100 TB standing corpus re-signatures only the
    * batch and reads the index (id, fp, band, bh) — never the corpus
    * text, except for the bounded candidate set the verify step
    * point-reads (semi-join pushed into the corpus scan).
    *
    * Contract: the stored (band, bh) come from the same codegen'd
    * signature kernel as [[minhashContamination]]/[[minhashNearDups]],
    * so `check` returns the identical pair set the recompute path
    * would (unit-pinned in OpsSpec), and indexes built anywhere with
    * the same (numHashes, k, bands, seed) are join-compatible.
    *
    * Skew note: `check` does not pre-collapse identical batch
    * documents (the index is the general table; a batch is an ingest
    * increment, orders of magnitude smaller). Batches with massive
    * internal duplication should be exact-deduped first — the same
    * guidance the banded self-join documents.
    */
  final case class NearDupIndex(
      sig: DataFrame, numHashes: Int, k: Int, bands: Int, seed: Long)

  object NearDupIndex {

    /** (id, fp, band, bh) — `bands` small rows per document. */
    private def signatures(df: DataFrame, idCol: String, textCol: String,
        numHashes: Int, k: Int, bands: Int, seed: Long): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      val r = numHashes / bands
      val bandHashes = (0 until bands).map(b => xxhash64(slice(col("__sig"), b * r + 1, r)))
      Partitioning.fanOut(df)
        .select(col(idCol).as("id"),
          TextAnalysis.fingerprint(col(textCol)).as("fp"),
          graft.expr.MinHashExpressions.textShingleHashes(col(textCol), k).as("__hs"))
        .select(col("id"), col("fp"),
          graft.expr.MinHashExpressions.minhashSignature(col("__hs"), numHashes, seed).as("__sig"))
        .select(col("id"), col("fp"),
          posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
    }

    def build(df: DataFrame, idCol: String, textCol: String,
        numHashes: Int = 64, k: Int = 3, bands: Int = 16, seed: Long = 42L): NearDupIndex =
      NearDupIndex(signatures(df, idCol, textCol, numHashes, k, bands, seed),
        numHashes, k, bands, seed)

    /** A batch's signature rows under this index's parameters —
      * compute ONCE (and cache) per ingest batch, then feed the same
      * frame to [[selfCheck]] (within-batch pairs), [[checkSig]]
      * (batch-vs-corpus pairs) and [[appendSig]] (index advance): the
      * batch text is tokenized/minhashed exactly once per ingest
      * instead of once per question asked of it.
      */
    def signaturesFor(ix: NearDupIndex, batch: DataFrame,
        idCol: String, textCol: String): DataFrame =
      signatures(batch, idCol, textCol, ix.numHashes, ix.k, ix.bands, ix.seed)

    /** Fold a new batch's signatures into the index (after a `check`,
      * typically) — signatures are computed once here and never again.
      */
    def append(ix: NearDupIndex, batch: DataFrame, idCol: String, textCol: String): NearDupIndex =
      appendSig(ix, signatures(batch, idCol, textCol, ix.numHashes, ix.k, ix.bands, ix.seed))

    /** [[append]] from a precomputed [[signaturesFor]] frame. */
    def appendSig(ix: NearDupIndex, batchSig: DataFrame): NearDupIndex =
      ix.copy(sig = ix.sig.unionByName(batchSig))

    /** Lifecycle-managed [[append]] for a long-lived ingest loop: the
      * new (old ∪ batch) signature frame is cached and materialized
      * NOW — while the superseded cache is still warm, so the union
      * reads memory rather than recomputing the whole corpus — and
      * the superseded cache is then unpersisted. Without the swap the
      * loop leaks one cached signature frame per batch (executor
      * storage memory grows without bound); with it exactly one cached
      * copy of the index is alive at any time. `unpersist` on a
      * never-cached predecessor (first append) is a harmless no-op.
      */
    def appendCached(ix: NearDupIndex, batch: DataFrame, idCol: String, textCol: String): NearDupIndex = {
      val next = append(ix, batch, idCol, textCol).sig.cache()
      next.count(): Unit
      ix.sig.unpersist()
      ix.copy(sig = next)
    }

    def save(ix: NearDupIndex, path: String): Unit = {
      ix.sig.write.mode("overwrite").parquet(s"$path/sig")
      val spark = ix.sig.sparkSession
      import spark.implicits._
      Seq((ix.numHashes, ix.k, ix.bands, ix.seed))
        .toDF("num_hashes", "k", "bands", "seed")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }

    def load(spark: SparkSession, path: String): NearDupIndex = {
      val m = spark.read.parquet(s"$path/meta").head()
      NearDupIndex(spark.read.parquet(s"$path/sig"),
        m.getAs[Int]("num_hashes"), m.getAs[Int]("k"),
        m.getAs[Int]("bands"), m.getAs[Long]("seed"))
    }

    /** Near-dup pairs (batch_id, corpus_id, jaccard) between a new
      * batch and the indexed corpus. Identical content (equal
      * fingerprint) is emitted exactly at jaccard 1.0 via the digest
      * join; banded candidates verify with exact Jaccard against
      * corpus text point-read for candidates only.
      */
    def check(ix: NearDupIndex, batch: DataFrame, batchIdCol: String, textCol: String,
        corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
        threshold: Double = 0.7): DataFrame =
      checkSig(ix,
        signatures(batch, batchIdCol, textCol, ix.numHashes, ix.k, ix.bands, ix.seed),
        batch, batchIdCol, textCol, corpus, corpusIdCol, corpusTextCol, threshold)

    /** [[check]] from a precomputed [[signaturesFor]] frame — `batch`
      * is still needed for the candidate-only text point-read.
      */
    def checkSig(ix: NearDupIndex, bSig: DataFrame,
        batch: DataFrame, batchIdCol: String, textCol: String,
        corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
        threshold: Double = 0.7): DataFrame = {
      val bFp = bSig.select(col("id").as("__bid"), col("fp").as("__bfp")).distinct()
      val cFp = ix.sig.select(col("id").as("__cid"), col("fp").as("__cfp")).distinct()
      val identical = bFp.join(cFp, col("__bfp") === col("__cfp"))
        .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"),
          lit(1.0).as("jaccard"))
      // ckptCandidates (default OFF) — referenced 3x below (both
      // semi-joins + the verify join); see minhashRepPairs
      val cands = ckptCandidates(
        bSig.select(col("band"), col("bh"), col("id").as("__bid"), col("fp").as("__bfp"))
        .join(ix.sig.select(col("band"), col("bh"), col("id").as("__cid"), col("fp").as("__cfp")),
          Seq("band", "bh"))
        .where(col("__bfp") =!= col("__cfp")) // verbatim pairs already exact above
        .select("__bid", "__cid").distinct())
      val bSets = batch.join(cands.select(col("__bid")).distinct(),
          col(batchIdCol) === col("__bid"), "left_semi")
        .select(col(batchIdCol).as("__bid"),
          array_distinct(TextAnalysis.shingles(col(textCol), ix.k)).as("__sha"))
      val cSets = corpus.join(cands.select(col("__cid")).distinct(),
          col(corpusIdCol) === col("__cid"), "left_semi")
        .select(col(corpusIdCol).as("__cid"),
          array_distinct(TextAnalysis.shingles(col(corpusTextCol), ix.k)).as("__shb"))
      val verified = cands.join(bSets, "__bid").join(cSets, "__cid")
        .withColumn("jaccard", graft.expr.ArrayJaccard(col("__sha"), col("__shb")))
        .where(col("jaccard") >= threshold)
        .select(col("__bid").as("batch_id"), col("__cid").as("corpus_id"), col("jaccard"))
      identical.unionByName(verified)
    }

    /** WITHIN-corpus near-dup pairs derived from stored signature
      * rows — bit-identical to [[minhashNearDups]] on the same corpus
      * (OpsSpec pins the equivalence) but without re-tokenizing or
      * re-minhashing anything: `sig` is a [[signaturesFor]] /
      * [[build]] frame (typically cached or loaded from parquet) and
      * `corpus` text is point-read for verify candidates only. Same
      * rep-collapse shape: reps band-join among themselves, candidates
      * verify with exact Jaccard, rep pairs fan back through
      * fingerprint membership, identical-fingerprint members pair at
      * jaccard 1.0 directly.
      */
    def selfCheck(ix: NearDupIndex, sig: DataFrame, corpus: DataFrame,
        idCol: String, textCol: String, threshold: Double = 0.7): DataFrame = {
      val members = sig.select(col("id").as("__id"), col("fp").as("__fp")).distinct()
      val reps = members.groupBy("__fp").agg(min("__id").as("__rid"))
      val repSig = sig.join(reps.select(col("__rid")), col("id") === col("__rid"), "left_semi")
      val a = repSig.select(col("band"), col("bh"), col("id").as("a_id"))
      val b = repSig.select(col("band"), col("bh"), col("id").as("b_id"))
      // cands/sets under ckptCandidates (default OFF) — see
      // minhashRepPairs: cands is referenced 3x and sets joined 2x
      val cands = ckptCandidates(
        a.join(b, Seq("band", "bh")).where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct())
      val candIds = cands.select(col("a_id").as("__cid"))
        .union(cands.select(col("b_id"))).distinct()
      val sets = ckptCandidates(
        corpus.join(candIds, col(idCol) === col("__cid"), "left_semi")
        .select(col(idCol).as("__sid"),
          array_distinct(TextAnalysis.shingles(col(textCol), ix.k)).as("__sh")))
      val repPairs = cands
        .join(sets.withColumnsRenamed(Map("__sid" -> "a_id", "__sh" -> "__sha")), "a_id")
        .join(sets.withColumnsRenamed(Map("__sid" -> "b_id", "__sh" -> "__shb")), "b_id")
        .withColumn("jaccard", graft.expr.ArrayJaccard(col("__sha"), col("__shb")))
        .where(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard"))
      val ridFp = reps.select(col("__rid"), col("__fp"))
      val ma = members.select(col("__fp").as("__fpa"), col("__id").as("__ida"))
      val mb = members.select(col("__fp").as("__fpb"), col("__id").as("__idb"))
      val crossPairs = repPairs
        .join(ridFp.withColumnsRenamed(Map("__rid" -> "a_id", "__fp" -> "__fpa")), "a_id")
        .join(ridFp.withColumnsRenamed(Map("__rid" -> "b_id", "__fp" -> "__fpb")), "b_id")
        .join(ma, "__fpa").join(mb, "__fpb")
        .select(least(col("__ida"), col("__idb")).as("a_id"),
          greatest(col("__ida"), col("__idb")).as("b_id"), col("jaccard"))
      val identicalPairs = ma.join(mb, col("__fpa") === col("__fpb"))
        .where(col("__ida") < col("__idb"))
        .select(col("__ida").as("a_id"), col("__idb").as("b_id"), lit(1.0).as("jaccard"))
      crossPairs.unionByName(identicalPairs)
    }
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document: per-bit majority vote over
    * xxhash64(token). Explode + single hash-aggregate: 64 SUM columns
    * with map-side partial aggregation, then bits reassembled.
    * Output: df.select(idCol, "simhash").
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, xxhash64(_), bits = 64)

  /** SimHash over a 60-bit md5-derived token hash. ~10× slower per
    * token than xxhash64 (use [[simhash]] at scale) but md5 is a
    * cross-engine standard, so the signature — and therefore the whole
    * near-dup pair set — is reproducible bit-for-bit by any SQL engine
    * for differential testing (the driver's DuckDB oracle recomputes
    * it; 15 hex chars keep the value inside a signed 64-bit int in
    * both engines).
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"), bits = 60)

  private def simhashWith(df: DataFrame, idCol: String, textCol: String,
      hashFn: Column => Column, bits: Int): DataFrame = {
    val tok = Partitioning.fanOut(df).select(col(idCol).as("__id"),
      explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .withColumn("__h", hashFn(col("__t")))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"__v$j")
    }
    val agg = tok.groupBy(col("__id")).agg(votes.head, votes.tail: _*)
    val bitCols = (0 until bits).map(j =>
      when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    agg.select(col("__id").as(idCol),
      bitCols.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Pairs within Hamming distance `maxDist` (≤ bands-1): by
    * pigeonhole, such pairs agree exactly on ≥1 of the `bands` equal
    * chunks, so a self-join per chunk finds all of them without
    * O(n²) comparison. `bits` must match the signature producer
    * (64 for [[simhash]], 60 for [[simhashMd5]]).
    */
  /** Shared core of the SimHash/pHash near-dup family: identical-
    * signature collapse + pigeonhole banding + exact popcount verify,
    * stopping at REP-level pairs. Returns (members(__id, simhash),
    * reps(simhash, __rid), repPairs(a_id, b_id, hamming, __sa, __sb)).
    */
  private def simhashRepPairs(sig: DataFrame, idCol: String, maxDist: Int,
      bits: Int, bands: Int, maxBucketSize: Int): (DataFrame, DataFrame, DataFrame) = {
    require(bits % bands == 0, "simhashNearDups: bands must divide bits")
    require(maxDist < bands, "simhashNearDups: pigeonhole needs maxDist < bands")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // collapse identical signatures before banding (same rationale and
    // same exactness argument as minhashNearDups: equal signature ⟹
    // every band collides, so rep-level results ARE member-level
    // results); signature piles then cost O(pairs out), not a banded
    // join explosion
    // checkpointed LAZY, unconditionally: `sig` is typically a full
    // signature computation (explode + 64 majority-vote sums) and
    // members is referenced by the rep derivation AND both member
    // fan-out sides — truncation makes the signature pass run once
    // (round-19 A/B: strong win, 0.60x vs un-checkpointed)
    val members = sig.select(col(idCol).as("__id"), col("simhash"))
      .localCheckpoint(false)
    val reps = members.groupBy("simhash").agg(min("__id").as("__rid"))
    val chunks = (0 until bands).map(i =>
      shiftright(col("simhash"), i * width).bitwiseAND(lit(mask)))
    val banded = reps.select(col("__rid").as("__id"), col("simhash"),
      posexplode(array(chunks: _*)).as(Seq("__band", "__chunk")))
    val capped =
      if (maxBucketSize <= 0) banded
      else banded.join(
        banded.groupBy("__band", "__chunk").count().where(col("count") > maxBucketSize),
        Seq("__band", "__chunk"), "left_anti")
    val cappedCk = capped.localCheckpoint(false) // joined twice below
    val a = cappedCk.select(col("__band"), col("__chunk"),
      col("__id").as("a_id"), col("simhash").as("__sa"))
    val b = cappedCk.select(col("__band"), col("__chunk"),
      col("__id").as("b_id"), col("simhash").as("__sb"))
    val repPairs = a.join(b, Seq("__band", "__chunk")).where(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))))
      .where(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"), col("__sa"), col("__sb")).distinct()
    (members, reps, repPairs)
  }

  def simhashNearDups(sig: DataFrame, idCol: String, maxDist: Int = 3,
      bits: Int = 64, bands: Int = 4, maxBucketSize: Int = 0): DataFrame = {
    val (members, _, repPairs) =
      simhashRepPairs(sig, idCol, maxDist, bits, bands, maxBucketSize)
    val ma = members.select(col("simhash").as("__sa"), col("__id").as("__ida"))
    val mb = members.select(col("simhash").as("__sb"), col("__id").as("__idb"))
    val crossPairs = repPairs
      .join(ma, "__sa").join(mb, "__sb")
      .select(least(col("__ida"), col("__idb")).as("a_id"),
        greatest(col("__ida"), col("__idb")).as("b_id"), col("hamming"))
    val identicalPairs = ma.join(mb, col("__sa") === col("__sb"))
      .where(col("__ida") < col("__idb"))
      .select(col("__ida").as("a_id"), col("__idb").as("b_id"),
        bit_count(lit(0L)).as("hamming"))
    crossPairs.unionByName(identicalPairs)
  }

  /** The SCALE surface of SimHash dedup: one (id, group_id) row per
    * signature-bearing row instead of member pairs — same contraction
    * as [[minhashDedupGroups]] (rep-level pairs →
    * [[Components.connectedComponents]] → members map through their
    * signature), linear output at any duplication density. `group_id`
    * is the minimum id reachable through the ≤`maxDist` Hamming
    * relation; rows with no mate keep their signature representative.
    */
  def simhashDedupGroups(sig: DataFrame, idCol: String, maxDist: Int = 3,
      bits: Int = 64, bands: Int = 4, maxBucketSize: Int = 0): DataFrame = {
    val (members, reps, repPairs) =
      simhashRepPairs(sig, idCol, maxDist, bits, bands, maxBucketSize)
    val comps = Components.connectedComponents(repPairs.select("a_id", "b_id"))
    val repGroup = reps
      .join(comps, reps("__rid") === comps("id"), "left")
      .select(col("simhash"), coalesce(col("component"), col("__rid")).as("group_id"))
    members.join(repGroup, Seq("simhash"))
      .select(col("__id").as(idCol), col("group_id"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Character-n-gram Jaccard similarity between two text columns —
    * the exact verifier used on candidate pairs (from LSH or any
    * blocking scheme). Delegates to the codegen'd
    * [[graft.expr.NgramJaccardExpr]] kernel (the declarative
    * array_distinct/array_intersect form is interpreted and ~20×
    * slower; semantics identical).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    graft.expr.NgramJaccard(a, b, n)

  // ------------------------------------------------- embedding near-dup

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`.
    * Candidates come from sign-LSH hyperplane buckets (no cross join);
    * exact cosine verifies each candidate.
    *
    * `tables` > 1 unions candidates from that many INDEPENDENT
    * hyperplane tables (distinct seeds): a pair survives if it
    * collides in ANY table, so recall = 1-(1-p^planes)^tables instead
    * of the single-table p^planes — the banding lever for cosine LSH.
    * Measured on the controlled near-dup corpus (20k vectors, truth =
    * exact cosine ≥ 0.8): 1×8 planes → recall 0.40; 8×12 planes →
    * ~0.8 with FEWER candidates verified per table (2^12 buckets).
    * Candidates travel as id pairs only and are deduplicated BEFORE
    * vectors are re-joined for the exact-cosine verify, so each pair
    * pays one kernel evaluation however many tables it collided in —
    * and the banded join never carries vector payloads.
    *
    * `bruteForce = true` compares all pairs exactly with a broadcast
    * mapPartitions kernel: O(n²·d) in a tight JVM loop accumulating in
    * the same element order as the expression kernel, so results are
    * bit-identical. Brute force collects the vectors to the driver —
    * exact/oracle mode for corpora that fit; the LSH path is the scale
    * path.
    */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 8, seed: Long = 42L,
      bruteForce: Boolean = false, dim: Int = 0, tables: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (bruteForce) {
      val data = df
        .select(col(idCol).cast("long").as("id"), Similarity.toDoubleVec(col(vecCol)).as("v"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val norms = data.map { case (_, v) =>
        var s = 0.0; var k = 0
        while (k < v.length) { s += v(k) * v(k); k += 1 }
        math.sqrt(s)
      }
      val bc = spark.sparkContext.broadcast((data, norms))
      val th = threshold
      spark.sparkContext
        .parallelize(data.indices, math.max(1, math.min(data.length, 64)))
        .flatMap { i =>
          val (arr, ns) = bc.value
          val (ia, va) = arr(i)
          val na = ns(i)
          (i + 1 until arr.length).iterator.flatMap { j =>
            val (ib, vb) = arr(j)
            var d = 0.0; var k = 0
            while (k < va.length) { d += va(k) * vb(k); k += 1 }
            val cos = d / (na * ns(j))
            if (cos >= th) Some((ia, ib, cos)) else None
          }
        }.toDF("a_id", "b_id", "cosine")
    } else embeddingLshRepPairs(df, idCol, vecCol, threshold, planes, seed, dim, tables) match {
      case None => // empty corpus → empty pair set with the right schema
        df.select(col(idCol).as("a_id"), col(idCol).as("b_id"),
          lit(0.0).as("cosine")).where(lit(false))
      case Some(EmbedRepPairs(members, _, repPairs, selfCos)) =>
        // fan rep-level pairs back out to member pairs through vector-
        // fingerprint membership; identical vectors pair among
        // themselves with their (expression-pipeline) self-cosine
        val ma = members.select(col("__vfp").as("__fpa"), col("__id").as("__ida"))
        val mb = members.select(col("__vfp").as("__fpb"), col("__id").as("__idb"))
        val crossPairs = repPairs
          .join(ma, "__fpa").join(mb, "__fpb")
          .select(least(col("__ida"), col("__idb")).as("a_id"),
            greatest(col("__ida"), col("__idb")).as("b_id"), col("cosine"))
        val identicalPairs = ma.join(mb, col("__fpa") === col("__fpb"))
          .where(col("__ida") < col("__idb"))
          .join(selfCos.withColumnsRenamed(Map("__vfp" -> "__fpa")), "__fpa")
          .where(col("__c") >= threshold)
          .select(col("__ida").as("a_id"), col("__idb").as("b_id"), col("__c").as("cosine"))
        crossPairs.unionByName(identicalPairs)
    }
  }

  /** Rep-level decomposition of the sign-LSH embedding near-dup plan —
    * the [[minhashRepPairs]] analogue. `members` is the thin
    * (id → vector-fingerprint) membership, `reps` the min-id per
    * fingerprint, `repPairs` the verified rep pairs
    * (a_id, b_id, cosine, __fpa, __fpb), `selfCos` each distinct
    * vector's self-cosine through the identical expression pipeline
    * (bit-exact vs the un-collapsed plan; NaN for zero vectors, which
    * therefore never qualify for identity edges).
    */
  private case class EmbedRepPairs(
      members: DataFrame, reps: DataFrame, repPairs: DataFrame, selfCos: DataFrame)

  /** Shared sign-LSH core of the embedding near-dup family: exact-
    * duplicate collapse by vector fingerprint, multi-table hyperplane
    * bucketing (ids-only shuffle), exact-cosine verify — stopping at
    * REP-level pairs. Returns None when the corpus is empty (no
    * dimensionality to bucket). The corpus-wide scans are
    * checkpointed: `membersFull` (one md5-of-json fingerprint pass —
    * referenced by the rep derivation, the base semi-join, and both
    * fan-out sides) and `base` (rep vectors + norms — referenced by
    * the bucketing, both verify sides, and selfCos); Catalyst shares
    * no subplans, so without truncation each reference would re-scan
    * and re-hash the corpus.
    */
  private def embeddingLshRepPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planes: Int, seed: Long, dim: Int, tables: Int): Option[EmbedRepPairs] = {
    // hyperplane expressions need the dimensionality at plan time;
    // when the caller doesn't supply it, probe one row (a LIMIT-1
    // scan of a single file split, regardless of corpus size)
    val d = if (dim > 0) dim else
      df.select(size(col(vecCol)).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0) return None
    // collapse bit-identical vectors before bucketing (same rationale
    // as the minhash/simhash pre-collapse: equal vector ⟹ equal
    // bucket, so rep-level collisions ARE member-level collisions; a
    // pile of identical embeddings costs O(pairs out), not a bucket
    // explosion). Identical pairs get cosine 1.0 — exact, because
    // cos(v, v) of the same finite nonzero vector is exactly 1 in
    // IEEE double... except it isn't (x·x / (‖x‖·‖x‖) can round to
    // 0.99999…), so compute it via the same dot/norm expressions on
    // the rep vector to stay bit-identical with the un-collapsed plan.
    val membersFull = Partitioning.fanOut(df).select(col(idCol).as("__id"),
      Similarity.toDoubleVec(col(vecCol)).as("__v"))
      .withColumn("__vfp", md5(to_json(struct(col("__v")))))
      .localCheckpoint(true)
    val members = membersFull.select(col("__id"), col("__vfp"))
    val reps = members.groupBy("__vfp").agg(min("__id").as("__rid"))
    val base = membersFull.join(reps, membersFull("__id") === reps("__rid"), "left_semi")
      .select(col("__id"), col("__v"), col("__vfp"))
      .withColumn("__n", Similarity.l2norm(col("__v")))
      .localCheckpoint(true)
    // (table, bucket) per vector per table — ids only; the banded
    // self-join must not carry 8×dim-byte vector payloads through
    // the shuffle, and with tables > 1 a pair found in several
    // tables must still verify exactly once (distinct before join)
    val nt = math.max(1, tables)
    val tableBuckets = (0 until nt).map(t => struct(lit(t).as("t"),
      Similarity.hyperplaneBuckets(col("__v"), d, planes, seed + 7919L * t).as("h")))
    val bucketed = base
      .select(col("__id"), explode(array(tableBuckets: _*)).as("__tb"))
      .select(col("__id"), col("__tb.t").as("__tbl"), col("__tb.h").as("__bkt"))
    val cands = bucketed.select(col("__tbl"), col("__bkt"), col("__id").as("a_id"))
      .join(bucketed.select(col("__tbl"), col("__bkt"), col("__id").as("b_id")),
        Seq("__tbl", "__bkt"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sideA = base.select(col("__id").as("a_id"), col("__v").as("__va"),
      col("__n").as("__na"), col("__vfp").as("__fpa"))
    val sideB = base.select(col("__id").as("b_id"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("__vfp").as("__fpb"))
    // try_divide: a zero-norm vector has no cosine to anything (null,
    // which fails every >= threshold filter) — under ANSI mode a plain
    // division would instead abort the job on the first zero vector
    val repPairs = cands.join(sideA, "a_id").join(sideB, "b_id")
      .withColumn("cosine",
        try_divide(Similarity.dot(col("__va"), col("__vb")), col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"), col("__fpa"), col("__fpb"))
    // self-cosine of each duplicated vector, via the identical
    // expression pipeline (bit-exact vs the raw-corpus plan)
    val selfCos = base.withColumn("__c",
        try_divide(Similarity.dot(col("__v"), col("__v")), col("__n") * col("__n")))
      .select(col("__vfp"), col("__c"))
    Some(EmbedRepPairs(members, reps, repPairs, selfCos))
  }

  /** The SCALE surface of embedding dedup: one (id, group_id) row per
    * vector instead of member pairs — the embedding analogue of
    * [[minhashDedupGroups]]/[[simhashDedupGroups]], closing the
    * groups family. [[embeddingNearDups]]'s output is inherently
    * O(Σ group²); this variant stops at REP-level verified pairs,
    * contracts them with [[Components.connectedComponents]]
    * (large/small-star — no driver union-find), and maps members
    * through their vector fingerprint: work and output stay linear at
    * any duplication density. `group_id` is the minimum id reachable
    * through the ≥`threshold`-cosine relation over the sign-LSH
    * candidate graph (identical-vector edges included, PROVIDED the
    * vector's self-cosine clears the threshold — a zero vector has no
    * cosine edge even to its own copies, exactly as on the pair
    * surface); vectors with no mate keep their own id.
    * Keep-one-per-group is then `filter(id === group_id)`.
    */
  def embeddingDedupGroups(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double = 0.95,
      planes: Int = 8, seed: Long = 42L, dim: Int = 0, tables: Int = 1): DataFrame = {
    embeddingLshRepPairs(df, idCol, vecCol, threshold, planes, seed, dim, tables) match {
      case None => // empty corpus → empty assignment with the right schema
        df.select(col(idCol), col(idCol).cast("long").as("group_id")).where(lit(false))
      case Some(EmbedRepPairs(members, reps, repPairs, selfCos)) =>
        val comps = Components.connectedComponents(repPairs.select("a_id", "b_id"))
        val repGroup = reps
          .join(comps, reps("__rid") === comps("id"), "left")
          .select(col("__vfp"), coalesce(col("component"), col("__rid")).as("__grp"))
        // identity edges exist only when the fingerprint's self-cosine
        // clears the threshold (pair-surface parity): members of a
        // non-qualifying fingerprint each keep their own id
        val okFp = selfCos.where(col("__c") >= threshold)
          .select(col("__vfp"), lit(true).as("__ok"))
        members
          .join(repGroup, Seq("__vfp"), "left")
          .join(okFp, Seq("__vfp"), "left")
          .select(col("__id").as(idCol),
            when(col("__ok"), col("__grp")).otherwise(col("__id")).as("group_id"))
    }
  }

  // ------------------------------------------------------------ SemDeDup

  /** md5-derived pseudo-random centroids — the [[graft.expr.SignLshKernel]]
    * convention with a `centroid_` label, so an oracle can re-derive
    * every component as
    * `pmod(conv(substring(md5('centroid_{seed}_{c}_{j}'), 1, 8), 16, 10), 1e6)/1e6 - 0.5`.
    */
  private[graft] def hashCentroids(k: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(k, dim) { (c, j) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"centroid_${seed}_${c}_$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      (v % 1000000L).toDouble / 1000000.0 - 0.5
    }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by embedding clustering — cluster the corpus with
    * k-means, then inside each cluster drop every example whose
    * cosine to a KEEP-PREFERRED neighbor clears `eps`. Keep
    * preference is the paper's rule: the example with the LOWEST
    * cosine to its cluster centroid survives a duplicate pair (edge
    * examples carry more training signal than cluster-center
    * boilerplate). The published implementation realizes this as an
    * upper-triangular max over the centroid-similarity order, which
    * is exactly the declarative rule used here — drop x iff some y in
    * the same cluster has (centroid_cos, id) strictly below x's and
    * cosine(x, y) ≥ eps — no sequential pass, no recursion, no
    * Window.
    *
    * `centroidMode`:
    *  - "kmeans" (production): spherical Lloyd's on the bounded
    *    deterministic sample — the [[Similarity.IvfIndex]] trainer.
    *  - "hash": md5-derived fixed centroids ([[hashCentroids]]) —
    *    every stage replays in SQL, so the full drop set is
    *    hash-oracle-checkable (the sign-LSH gate precedent).
    *
    * Output: (idCol, cell, centroid_cos, kept) for EVERY input row
    * with a non-null vector.
    *
    * Scale shape: assignment is scan-local (k×dim centroid literals
    * ride the plan; one argmax struct per row — zero shuffle); the
    * within-cluster pair probe shuffles (cell, id, vector) once and
    * self-joins per cell — O(Σ n_c²) exact-cosine kernel evals, the
    * paper's own cost model, controlled by k (clusters per corpus
    * grows with the corpus: n/k items per cluster stays bounded).
    * The drop set is a semi-join back on id. No driver collect
    * anywhere but the bounded k-means sample (and, with
    * `maxCellSize`, one k-row cell-count collect).
    *
    * `maxCellSize` > 0 bounds the within-cell quadratic WITHOUT
    * growing k (k more centroid literals would grow the plan, and the
    * paper's k ∝ N regime is unreachable once k stops fitting a
    * broadcast argmax): any cell whose population n_c exceeds the cap
    * is re-split deterministically by sign-LSH — sub-cell = the first
    * p_c bits of the md5-derived [[Similarity.hyperplaneBuckets]]
    * bucket, p_c = min over {p : n_c ≤ maxCellSize·2^p} (integer
    * arithmetic, capped at 16), so EXPECTED sub-cell population is ≤
    * maxCellSize and total verify work is O(N·maxCellSize) instead of
    * O((N/k)²)·k. The recall trade is the same kind the paper makes
    * when k grows with N: an eps-close pair straddling a hyperplane
    * is missed (P ≈ 1−(1−θ/π)^p per pair). Cell sizes come from one
    * k-row count (the only extra job); hyperplanes are md5-derived,
    * so the whole re-split — and therefore the full drop set — stays
    * replayable in SQL for the oracle.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int = 16, eps: Double = 0.95, seed: Long = 42L,
      centroidMode: String = "kmeans", sampleSize: Int = 65536,
      maxCellSize: Int = 0): DataFrame = {
    require(dim > 0, s"semdedup: dim=$dim must be positive")
    require(k >= 2, s"semdedup: k=$k must be >= 2")
    require(eps > 0 && eps <= 1, s"semdedup: eps=$eps must be in (0, 1]")
    val centroids: Array[Array[Double]] = centroidMode match {
      case "hash" => hashCentroids(k, dim, seed)
      case "kmeans" =>
        // train on exactly the population assignment will see: right
        // dim, non-null, non-zero norm
        val base = df.select(col(idCol).as("__id"),
          Similarity.toDoubleVec(col(vecCol)).as("__v"))
          .where(col("__v").isNotNull && size(col("__v")) === dim &&
            Similarity.l2norm(col("__v")) > 0)
        val sample = Kmeans.sampleVectors(base, Seq(col("__id")), col("__v"),
          Kmeans.cappedSampleSize(sampleSize, dim))
        Kmeans.fit(sample, k, seed, maxIter = 30, spherical = true)
      case other =>
        throw new IllegalArgumentException(
          s"semdedup: centroidMode '$other' (want kmeans|hash)")
    }
    val norms = centroids.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      math.sqrt(s)
    }
    // scan-local argmax assignment: max of (cosine, cell) structs —
    // ties (identical cosines) break toward the HIGHEST cell on both
    // engines' struct orderings, a total deterministic rule
    val cands = centroids.indices.map { c =>
      struct((graft.expr.VecDot(col("__v"), lit(centroids(c))) /
        (Similarity.l2norm(col("__v")) * lit(norms(c)))).as("cos"), lit(c).as("cell"))
    }
    val assigned = df
      .select(col(idCol).cast("long").as("__id"),
        Similarity.toDoubleVec(col(vecCol)).as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) === dim &&
        Similarity.l2norm(col("__v")) > 0) // zero vectors have no cosine geometry
      .withColumn("__m", greatest(cands.toIndexedSeq: _*))
      .select(col("__id"), col("__v"), col("__m.cell").as("cell"),
        col("__m.cos").as("centroid_cos"),
        Similarity.l2norm(col("__v")).as("__n"))
    // cell-size cap: deterministic sign-LSH re-split of oversized
    // cells (see scaladoc). p per cell from one k-row count; the
    // per-row sub-bucket is the SignLsh kernel masked to p bits.
    val probed =
      if (maxCellSize <= 0) assigned.withColumn("subcell", lit(0L))
      else {
        val maskByCell: Seq[(Int, Long)] = assigned.groupBy("cell").count().collect()
          .map { r =>
            val n = r.getLong(1)
            val p = (0 to 16).find(p => n <= (maxCellSize.toLong << p)).getOrElse(16)
            r.getInt(0) -> ((1L << p) - 1)
          }.toSeq
        val maskExpr: Column =
          if (maskByCell.isEmpty) lit(0L)
          else coalesce(element_at(
            map(maskByCell.flatMap { case (c, m) => Seq(lit(c), lit(m)) }: _*),
            col("cell")), lit(0L))
        val bkt = Similarity.hyperplaneBuckets(col("__v"), dim, 16, seed + 104729L)
        assigned.withColumn("subcell", bkt.bitwiseAND(maskExpr))
      }
    val a = probed.select(col("cell"), col("subcell"), col("__id").as("__xa"),
      col("__v").as("__va"), col("__n").as("__na"), col("centroid_cos").as("__ca"))
    val b = probed.select(col("cell"), col("subcell"), col("__id").as("__xb"),
      col("__v").as("__vb"), col("__n").as("__nb"), col("centroid_cos").as("__cb"))
    // drop x iff a keep-preferred same-cell neighbor is eps-close
    val dropped = a.join(b, Seq("cell", "subcell"))
      .where(struct(col("__cb"), col("__xb")) < struct(col("__ca"), col("__xa")))
      .where(Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= eps)
      .select(col("__xa").as("__dropped")).distinct()
    assigned
      .join(dropped, col("__id") === col("__dropped"), "left")
      .select(col("__id").as(idCol), col("cell"), col("centroid_cos"),
        col("__dropped").isNull.as("kept"))
  }

  /** CROSS-corpus embedding near-duplicates: `left` (eval) vectors
    * whose cosine against some `right` (train) vector clears
    * `threshold` — the semantic-space contamination check, catching
    * paraphrased leaks that the text-level [[minhashContamination]]
    * misses. Output: (left_id, right_id, cosine).
    *
    * Bipartite version of [[embeddingNearDups]]'s LSH tier with the
    * same scale shape: per-side identical-vector pre-collapse,
    * bit-identical vectors across sides short-circuit through a digest
    * equi-join (cosine from the same self-cosine expression pipeline,
    * no bucketing), different-fingerprint reps meet in (table, bucket)
    * hyperplane buckets carrying ids only, candidates verify once with
    * the codegen'd exact-cosine kernel, and rep pairs fan back to
    * member pairs through each side's fingerprint membership.
    */
  def embeddingContamination(
      left: DataFrame, right: DataFrame,
      leftIdCol: String, rightIdCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 8, seed: Long = 42L,
      dim: Int = 0, tables: Int = 1): DataFrame = {
    val d = if (dim > 0) dim else
      left.select(size(col(vecCol)).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0)
      return left.select(col(leftIdCol).as("left_id"), col(leftIdCol).as("right_id"),
        lit(0.0).as("cosine")).where(lit(false))
    def side(df: DataFrame, idCol: String): (DataFrame, DataFrame, DataFrame) = {
      val members = Partitioning.fanOut(df).select(col(idCol).as("__id"),
        Similarity.toDoubleVec(col(vecCol)).as("__v"))
        .withColumn("__vfp", md5(to_json(struct(col("__v")))))
      val reps = members.groupBy("__vfp").agg(min("__id").as("__rid"))
      val base = members.join(reps, members("__id") === reps("__rid"), "left_semi")
        .select(col("__id"), col("__v"), col("__vfp"))
        .withColumn("__n", Similarity.l2norm(col("__v")))
      (members, reps, base)
    }
    val (lm, lReps, lBase) = side(left, leftIdCol)
    val (rm, rReps, rBase) = side(right, rightIdCol)
    // bit-identical vectors across the corpora: digest join + the same
    // self-cosine expression pipeline embeddingNearDups uses
    val selfCos = lBase.withColumn("__c",
        Similarity.dot(col("__v"), col("__v")) / (col("__n") * col("__n")))
      .select(col("__vfp"), col("__c"))
    val identical = lm.select(col("__id").as("__lid"), col("__vfp"))
      .join(rm.select(col("__id").as("__rid"), col("__vfp")), "__vfp")
      .join(selfCos, "__vfp")
      .where(col("__c") >= threshold)
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"), col("__c").as("cosine"))
    val nt = math.max(1, tables)
    def banded(base: DataFrame, as: String): DataFrame =
      base.select(col("__id").as(as), explode(array((0 until nt).map(t =>
        struct(lit(t).as("t"),
          Similarity.hyperplaneBuckets(col("__v"), d, planes, seed + 7919L * t).as("h"))): _*)).as("__tb"))
        .select(col(as), col("__tb.t").as("__tbl"), col("__tb.h").as("__bkt"))
    val repPairs = banded(lBase, "__la").join(banded(rBase, "__rb"), Seq("__tbl", "__bkt"))
      .select("__la", "__rb").distinct()
      .join(lBase.select(col("__id").as("__la"), col("__v").as("__va"),
        col("__n").as("__na"), col("__vfp").as("__lfp")), "__la")
      .join(rBase.select(col("__id").as("__rb"), col("__v").as("__vb"),
        col("__n").as("__nb"), col("__vfp").as("__rfp")), "__rb")
      .where(col("__lfp") =!= col("__rfp"))
      .withColumn("cosine", Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select(col("__la"), col("__rb"), col("cosine"), col("__lfp"), col("__rfp"))
    val crossPairs = repPairs
      .join(lm.select(col("__vfp").as("__lfp"), col("__id").as("__lid")), "__lfp")
      .join(rm.select(col("__vfp").as("__rfp"), col("__id").as("__rid")), "__rfp")
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"), col("cosine"))
    crossPairs.unionByName(identical)
  }
}
