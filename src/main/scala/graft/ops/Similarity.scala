package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2.6).
  *
  * Three tiers, by corpus size:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set
  *    against the corpus; one scan, no corpus shuffle. The baseline
  *    and the correctness oracle for the approximate tiers.
  *  - sign-LSH ([[hyperplaneBuckets]] / [[lshTopK]]): deterministic
  *    random-hyperplane buckets; only same-bucket pairs are compared.
  *    Recall is tunable via number of planes (fewer planes → bigger
  *    buckets → higher recall, more work).
  *  - IVF ([[IvfIndex]]): k-means coarse quantizer; queries probe the
  *    `nprobe` nearest centroids only — the FAISS-style scale path.
  *
  * All vector math is expression-level (`zip_with`/`aggregate` fold in
  * element order → deterministic), computed in double precision.
  */
object Similarity {

  /** Cast array<float> → array<double> so all arithmetic is double. */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Symmetric int8 scalar quantization — the cheap 4× embedding
    * compression every vector store ships (per-vector max-abs scale,
    * code = round-half-up(127·x/scale)): 75% less storage and a
    * codes-only distance path, next to [[Pq]]'s stronger-ratio tier.
    * Deterministic and cross-engine exact: double multiply/divide are
    * IEEE correctly-rounded and rounding is an explicit
    * floor(v + 0.5) — no engine-specific "round" semantics (DuckDB
    * rounds half away from zero, Java half-up; floor sidesteps both).
    * Scan-local projection, no shuffle; the scale column is
    * materialized first so the per-element transform references an
    * attribute, not a re-evaluated max-abs tree (the Column-tree
    * duplication trap). Empty/null vectors yield null scale and
    * pass codes through empty/null.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Partitioning.fanOut(df)
      .select(col(idCol),
        col(vecCol),
        array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale").isNull || col("scale") === 0,
          transform(col(vecCol), _ => lit(0)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") * 127.0 / col("scale") + 0.5).cast("int")))
          .as("codes"))

  /** Matryoshka truncation (Kusupati et al. 2022): MRL-trained
    * embeddings keep most of their signal in a prefix, so the
    * cheapest compression is simply the first `dims` components,
    * re-normalized to unit length for cosine math downstream. The
    * storage/recall ladder below [[quantizeInt8]]: 4× fewer dims
    * beats 4× coarser codes when the model was trained for it.
    * Scan-local projection, no shuffle; the norm is materialized as
    * a column first (the quantizeInt8 attribute discipline), zero
    * vectors pass through un-normalized rather than dividing by
    * zero, null vectors stay null. */
  def truncateEmbeddings(df: DataFrame, vecCol: String, dims: Int,
      renormalize: Boolean = true): DataFrame = {
    require(dims > 0, "dims must be positive")
    val sliced = slice(col(vecCol), 1, dims)
    if (!renormalize) df.withColumn(vecCol, sliced)
    else df
      .withColumn("__trunc", transform(sliced, x => x.cast("double")))
      .withColumn("__norm",
        sqrt(aggregate(col("__trunc"), lit(0.0d), (a, x) => a + x * x)))
      .withColumn(vecCol,
        when(col("__norm").isNull || col("__norm") === 0.0, sliced)
          .otherwise(transform(col("__trunc"), x => (x / col("__norm")).cast("float"))))
      .drop("__trunc", "__norm")
  }

  /** Inverse of [[quantizeInt8]] for distance math on the dequantized
    * side: x̂ = code·scale/127. */
  def dequantizeInt8(df: DataFrame, codesCol: String, scaleCol: String,
      outCol: String): DataFrame =
    df.withColumn(outCol,
      transform(col(codesCol), c => c.cast("double") * col(scaleCol) / 127.0))

  /** Exact top-k by symmetric int8 ADC score — the [[quantizeInt8]]
    * search path: score = (scale_q · scale_c) · Σ code_q·code_c
    * (the /127² constant is rank-neutral and dropped). The code dot
    * is an exact integer (≤ 127²·dim, far under 2^53) and the two
    * double multiplies are IEEE correctly-rounded in a fixed
    * parenthesization, so scores — and therefore ranks, ties broken
    * by id — are bit-identical on any engine. Same shape as the
    * other brute tiers: corpus quantized scan-local, queries capped +
    * broadcast, bounded-heap ranking.
    */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, k: Int): DataFrame = {
    require(k > 0, s"sq8TopK: k must be positive, got $k")
    val q = broadcast(
      quantizeInt8(assertQueryCap(queries, "sq8TopK"), queryIdCol, vecCol)
        .select(col(queryIdCol).cast("long").as("query_id"),
          col("scale").as("__qs"), col("codes").as("__qc")))
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col("scale").as("__cs"), col("codes").as("__cc"))
    val dot = aggregate(
      zip_with(col("__cc"), col("__qc"), (a, b) => (a * b).cast("long")),
      lit(0L), (acc, v) => acc + v)
    // junk corpus vectors (empty → null scale, length-mismatched →
    // null-padded zip) score NaN, which TopKByScore ranks last — the
    // same degradation contract as bruteForceTopK's zero-norm NaNs
    val score = coalesce((col("__cs") * col("__qs")) * dot.cast("double"),
      lit(Double.NaN))
    c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id")) // siblings' self-exclusion contract
      .select(col("query_id"), col("neighbor_id"), score.as("score"))
      .groupBy(col("query_id"))
      .agg(TopKByScore.of(col("score"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__p")))
      .select(col("query_id"), col("__p._2").as("neighbor_id"),
        col("__p._1").as("score"), (col("__pos") + 1).cast("long").as("rank"))
  }

  /** Binary (1-bit) quantization: sign bits packed into 32-bit words
    * (array<long>, each element < 2^32) — 32× compression, the
    * coarsest rung of the quantization ladder ([[Pq]] 16×,
    * [[quantizeInt8]] 4×). Words are 32-bit on purpose: packing bit
    * 63 of a 64-bit word via ANY arithmetic overflows signed BIGINT
    * somewhere (Spark wraps, DuckDB promotes to HUGEINT — different
    * answers), while 32-bit words make every intermediate exact on
    * both engines. Unrolled Scala-side into static literal shifts:
    * loop indices in a Column lambda can't feed `shiftleft`, and
    * unrolling keeps the whole expression codegen'd.
    */
  def binarizeSign(vec: Column, dim: Int): Column = {
    require(dim > 0, s"binarizeSign: dim must be positive, got $dim")
    val words = (dim + 31) / 32
    array((0 until words).map { w =>
      (0 until 32).map { b =>
        val i = w * 32 + b
        if (i < dim) when(element_at(vec, i + 1) > 0, lit(1L << b)).otherwise(lit(0L))
        else lit(0L)
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between two packed sign-bit arrays. */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0L), (acc, v) => acc + v.cast("long"))

  /** Exact top-k by Hamming distance over sign-bit codes — the
    * binary-quantized brute tier: corpus binarized scan-local, the
    * (capped, broadcast) query codes XOR-popcount against every
    * corpus code, ranking via the bounded-heap [[TopKByScore]]
    * aggregate (score = −hamming; ties → smaller id — the same total
    * order as the oracle's ORDER BY hamming, id). Same scale shape as
    * the cosine brute tier: corpus scanned once, never shuffled
    * beyond k rows per query.
    */
  def binaryTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, dim: Int, k: Int): DataFrame = {
    require(k > 0, s"binaryTopK: k must be positive, got $k")
    assertVecDim(corpus, vecCol, dim, "binaryTopK")
    val q = broadcast(assertQueryCap(queries, "binaryTopK")
      .select(col(queryIdCol).cast("long").as("query_id"),
        binarizeSign(col(vecCol), dim).as("__qb")))
    val c = Partitioning.fanOut(corpus)
      .select(col(idCol).cast("long").as("neighbor_id"),
        binarizeSign(col(vecCol), dim).as("__cb"))
    // null-guarded like sq8TopK: a junk vector's null hamming ranks last
    val score = coalesce(-hammingPacked(col("__cb"), col("__qb")).cast("double"),
      lit(Double.NaN))
    c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id")) // siblings' self-exclusion contract
      .select(col("query_id"), col("neighbor_id"), score.as("__s"))
      .groupBy(col("query_id"))
      .agg(TopKByScore.of(col("__s"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__p")))
      .select(col("query_id"), col("__p._2").as("neighbor_id"),
        (-col("__p._1")).cast("long").as("hamming"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  /** LIMIT-1 dim probe (the [[Dedup]] precedent): `binarizeSign`'s
    * static bit layout silently ignores dimensions past `dim` and
    * zero-fills short vectors, so a mismatched declared dim must fail
    * at analysis, not return silently wrong neighbors. */
  private def assertVecDim(df: DataFrame, vecCol: String, dim: Int, op: String): Unit =
    df.select(size(col(vecCol)).as("__d")).filter(col("__d") >= 0).limit(1)
      .collect().headOption.foreach { r =>
        val d = r.getInt(0)
        if (d != dim) throw new graft.GraftAnalysisException(
          s"$op: declared dim=$dim but '$vecCol' vectors have length $d")
      }

  /** Enforce the small-query-set contract every ANN tier relies on:
    * the query side is driver-collected (PQ LUTs) or broadcast
    * (brute-force / LSH / IVF probes), so an unboundedly large query
    * frame must fail fast as an ANALYSIS error — not surface later as
    * a driver OOM or an 8 GB broadcast failure (the stdout sink's
    * capped-collect philosophy, applied to the ANN family). The check
    * is `limit(cap+1).count()`: a bounded probe that never pulls more
    * than cap+1 rows off the cluster regardless of the frame's size.
    * Cap knob: `spark.graft.ann.maxQueries` (default 65536 rows —
    * ~16 MB of 64-dim query vectors, comfortably broadcastable);
    * callers with genuinely bigger query sets batch them, or flip the
    * asymmetry and make the smaller side the query side.
    */
  private[ops] def assertQueryCap(queries: DataFrame, op: String): DataFrame = {
    val cap = queries.sparkSession.conf.get("spark.graft.ann.maxQueries", "65536").toInt
    val n = queries.limit(cap + 1).count()
    if (n > cap) throw new graft.GraftAnalysisException(
      s"$op: query set has > $cap rows, violating the broadcast-query contract " +
        s"(ANN query sides are driver-collected/broadcast). Batch the query set, " +
        s"swap the smaller side into the query position, or raise " +
        s"spark.graft.ann.maxQueries if the driver can hold it.")
    queries
  }

  /** Dot product, accumulated in element order — deterministic.
    * Delegates to the codegen'd [[graft.expr.VecDot]] kernel, which is
    * bit-exact with the declarative fold it replaced
    * (`aggregate(zip_with(a,b,_*_), 0.0, _+_)`): same IEEE double
    * sequence, 20-100× less per-row dispatch (HOFs are interpreted).
    */
  def dot(a: Column, b: Column): Column = graft.expr.VecDot(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-random hyperplane component for (plane i,
    * dim j): uniform in [-0.5, 0.5) derived from md5 — identical on
    * every executor/run without shipping a matrix, and (being a
    * literal) constant-folded by Catalyst at plan time, so the hash
    * choice has zero runtime cost. md5 rather than xxhash64 so any
    * engine with a standard md5 can re-derive the exact buckets (the
    * driver's DuckDB oracle does).
    */
  private def planeComponent(i: Int, j: Int, seed: Long): Column =
    (pmod(conv(substring(md5(lit(s"plane_${seed}_${i}_$j")), 1, 8), 16, 10).cast("long"),
      lit(1000000L)).cast("double") / lit(1000000.0)) - lit(0.5)

  /** Sign-LSH bucket id: one bit per hyperplane (sign of projection).
    * Vectors in the same bucket are "angle-close" candidates.
    * Delegates to the codegen'd [[graft.expr.SignLsh]] kernel — the
    * unrolled `planes × dim`-term expression form is numerically
    * identical but costs ~7.5 s of one-time codegen compilation per
    * plan shape (see SignLsh scaladoc for the bit-exactness argument).
    */
  def hyperplaneBuckets(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column =
    graft.expr.SignLsh(vec, dim, planes, seed)

  /** Reference formulation of the plane constants (kept for the
    * contract doc + OpsSpec equivalence test; [[graft.expr.SignLshKernel
    * .component]] must match this chain bit-for-bit). */
  def hyperplaneBucketsUnrolled(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column = {
    val bits = (0 until planes).map { i =>
      val proj = (0 until dim)
        .map(j => element_at(vec, j + 1) * planeComponent(i, j, seed))
        .reduce(_ + _)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a.bitwiseOR(b))
  }

  /** Rank scored candidates into per-query top-k via the bounded-heap
    * aggregate (TopKByScore) instead of a
    * `row_number().over(Window.partitionBy(query_id))` sort: the window
    * form collects EVERY candidate of a query on one reducer — the
    * plan that dies first at 100× (popular query / big bucket → one
    * straggler sorting the whole candidate set). The aggregate keeps
    * O(k) state, combines map-side, ships k rows per query.
    * Input columns: (query_id, neighbor_id: long, cosine).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKByScore.of(col("cosine"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__p")))
      .select(col("query_id"), col("__p._2").as("neighbor_id"),
        col("__p._1").as("cosine"), (col("__pos") + 1).cast("long").as("rank"))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (queryIdCol, vecCol) — must be small (it is broadcast);
    * `corpus`: (idCol, vecCol) — any size, never shuffled, scanned
    * once. Ranking ties broken by corpus id for determinism.
    * Output: (query_id, neighbor_id, cosine, rank), self-matches
    * excluded.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(assertQueryCap(queries, "bruteForceTopK").select(
      col(queryIdCol).as("query_id"), toDoubleVec(col(vecCol)).as("__qv")))
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("__cv"))
    val scored = c.crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("__qv"), col("__cv"))
        / (l2norm(col("__qv")) * l2norm(col("__cv"))))
    rankTopK(scored.select("query_id", "neighbor_id", "cosine"), k)
  }

  /** LSH-bucketed approximate top-k: like [[bruteForceTopK]] but a
    * query is compared only against corpus vectors sharing its
    * hyperplane bucket. Trades recall for a `2^planes`-fold reduction
    * in comparisons.
    */
  /** Sign-LSH bucketed top-k. `tables` > 1 unions candidates from
    * that many independent hyperplane tables (distinct seeds) — the
    * same recall lever as multi-table near-dup banding: a candidate
    * surfaces if query and neighbor share a bucket in ANY table. The
    * query side stays broadcast (now with one bucket per table); the
    * corpus side's per-table bucket rows are map-side only — the join
    * remains broadcast, the corpus is never shuffled. Duplicate
    * (query, neighbor) hits from several tables are deduplicated
    * before ranking so they cannot occupy multiple top-k heap slots.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, corpusIdCol: String, vecCol: String,
      k: Int, dim: Int, planes: Int = 6, seed: Long = 42L, tables: Int = 1): DataFrame = {
    val nt = math.max(1, tables)
    def withBuckets(df: DataFrame, vec: String): DataFrame =
      df.select(col("*"), explode(array((0 until nt).map(t => struct(lit(t).as("t"),
        hyperplaneBuckets(col(vec), dim, planes, seed + 7919L * t).as("h"))): _*)).as("__tb"))
        .select(col("*"), col("__tb.t").as("__tbl"), col("__tb.h").as("__bkt"))
        .drop("__tb")
    val q = broadcast(withBuckets(assertQueryCap(queries, "lshTopK")
      .select(col(queryIdCol).as("query_id"), toDoubleVec(col(vecCol)).as("__qv")), "__qv"))
    val c = withBuckets(corpus
      .select(col(corpusIdCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("__cv")), "__cv")
    val scored = c.join(q, Seq("__tbl", "__bkt"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("__qv"), col("__cv"))
        / (l2norm(col("__qv")) * l2norm(col("__cv"))))
      .select("query_id", "neighbor_id", "cosine")
    rankTopK(if (nt > 1) scored.distinct() else scored, k)
  }

  /** IVF (inverted-file) index: k-means coarse quantizer over the
    * corpus; search probes only the `nprobe` closest centroids.
    * Centroids are tiny and broadcast; the corpus is scanned/shuffled
    * once at build time, and each query touches `nprobe/nlist` of the
    * data — the standard ANN scale path when sign-LSH recall is not
    * enough.
    */
  final class IvfIndex private (
      val assigned: DataFrame, // (neighbor_id, __cv, __cell)
      val centroids: Array[(Int, Array[Double])],
      val dim: Int) {

    /** The `nprobe` nearest cells per query — picked with the same
      * bounded-heap aggregate as the final ranking, so no
      * `Window.partitionBy(query_id)` anywhere in the op. Public so
      * other tiers (IVF×PQ) can reuse the probing decision.
      */
    def probeCells(queries: DataFrame, queryIdCol: String, vecCol: String,
        nprobe: Int): DataFrame = {
      val spark = queries.sparkSession
      val centDf = broadcast(spark.createDataFrame(centroids.map { case (i, v) => (i, v) }.toSeq)
        .toDF("__cell", "__centroid"))
      val q = queries.select(col(queryIdCol).as("query_id"), toDoubleVec(col(vecCol)).as("__qv"))
      rankTopK(
        q.crossJoin(centDf)
          .withColumn("cosine", dot(col("__qv"), col("__centroid"))
            / (l2norm(col("__qv")) * l2norm(col("__centroid"))))
          .select(col("query_id"), col("__cell").cast("long").as("neighbor_id"), col("cosine")),
        nprobe)
        .select(col("query_id"), col("neighbor_id").cast("int").as("__cell"))
    }

    def search(queries: DataFrame, queryIdCol: String, vecCol: String,
        k: Int, nprobe: Int = 4): DataFrame = {
      val q = assertQueryCap(queries, "IvfIndex.search")
        .select(col(queryIdCol).as("query_id"), toDoubleVec(col(vecCol)).as("__qv"))
      val probes = probeCells(queries, queryIdCol, vecCol, nprobe).join(q, "query_id")
        .select(col("query_id"), col("__qv"), col("__cell"))
      // static partition pruning (same as IvfPq.search): the union of
      // probed cells is a small driver-side set, so push it as a
      // literal IN filter — a load()ed cell-partitioned index then
      // skips every unprobed cell's FILES at the scan instead of
      // relying on the join to discard their rows post-read
      val probedCells = {
        import queries.sparkSession.implicits._
        probes.select(col("__cell")).distinct().as[Int].collect().sorted.toSeq
      }
      val scored = broadcast(probes)
        .join(assigned.where(col("__cell").isin(probedCells: _*)), Seq("__cell"))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", dot(col("__qv"), col("__cv"))
          / (l2norm(col("__qv")) * l2norm(col("__cv"))))
      // distinct BEFORE ranking: with replicas > 1 a corpus vector can
      // sit in several probed cells, and duplicate (query, neighbor)
      // rows would occupy multiple top-k heap slots, crowding out real
      // neighbors (measured: recall DROPPED as nprobe grew). The
      // shuffle carries only (id, id, double) — vectors never move.
      rankTopK(scored.select("query_id", "neighbor_id", "cosine").distinct(), k)
    }

    /** Persist the index: inverted lists as parquet PARTITIONED BY
      * CELL — a probe touching `nprobe` cells can skip every other
      * cell's files (static pruning for fixed cells, dynamic partition
      * pruning for runtime probe sets) — plus the tiny centroid table
      * as a single json file. Build once over the 100 TB corpus,
      * search many times without re-clustering.
      */
    def save(path: String): Unit = {
      val spark = assigned.sparkSession
      import spark.implicits._
      assigned.write.partitionBy("__cell").mode("overwrite").parquet(s"$path/assigned")
      centroids.toSeq.map { case (i, v) => (i, v.toSeq) }
        .toDF("cell", "centroid")
        .withColumn("dim", lit(dim))
        .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
    }
  }

  /** Per-query recall@k of an approximate ranking against the exact
    * one: |approx ∩ exact| / |exact| over (query_id, neighbor_id)
    * pairs. Both inputs are ≤ k rows per query, so this is a join of
    * two tiny frames — the measurement costs nothing next to either
    * search. The IVF/LSH gate queries publish this so "approximate"
    * ships with a checked quality contract, not a shrug.
    */
  def recallAt(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id")).withColumn("__hit", lit(1L))
    exact.select("query_id", "neighbor_id")
      .join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") / count(lit(1))).as("recall"))
  }

  object IvfIndex {
    /** Build: bounded deterministic sample → driver-local SPHERICAL
      * Lloyd's ([[Kmeans.fit]]) → one broadcast-centroid assignment
      * scan.
      *
      * Spherical: vectors are L2-normalized before clustering AND the
      * centroids are renormalized to unit L2 every update, so `dot`
      * against a centroid IS cosine — assignment (top-r by dot of
      * normalized vector × unit centroid) and probing (cosine) rank
      * cells identically by construction. Without unit centroids the
      * two sides can disagree about cell nearness (k-means means of
      * unit vectors are not unit) and recall craters — measured
      * 0.60 → 0.84 mean recall@5 at sf0.01, nprobe=4/nlist=16.
      *
      * Scale/determinism contract (same as [[Pq.train]]): training
      * reads one bounded top-k-by-hash sample (`sampleSize` knob, no
      * full-corpus iteration), the fit is driver-local and sequential,
      * so the quantizer is bit-identical under any partitioning/core
      * count — a recall gate cannot flip because the file-split layout
      * changed. Assignment is the only corpus-wide pass: broadcast
      * nlist unit centroids, bounded-heap top-`replicas` per vector,
      * no corpus shuffle.
      *
      * `replicas` > 1 stores each corpus vector in its r nearest
      * cells (FAISS-style multi-assignment): r× the inverted-list
      * storage for a large recall boost on corpora with weak cluster
      * structure (near-isotropic embeddings — this testdata — are
      * IVF's worst case).
      */
    def build(corpus: DataFrame, idCol: String, vecCol: String,
        dim: Int, nlist: Int = 16, seed: Long = 42L, replicas: Int = 1,
        sampleSize: Int = 65536, maxIter: Int = 30): IvfIndex = {
      val base = withNormalized(
        corpus.select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("__cv")),
        "__cv", "__nv")
      val sample = Kmeans.sampleVectors(base, Seq(col("neighbor_id")), col("__nv"),
        Kmeans.cappedSampleSize(sampleSize, dim))
      val cents = Kmeans.fit(sample, nlist, seed, maxIter = maxIter, spherical = true)
        .zipWithIndex.map { case (v, i) => (i, v) }
      // top-r cells per vector, expression-level: nlist dots against
      // LITERAL unit centroids (dot of unit vectors == cosine), sorted
      // descending, top `replicas` exploded. Pure scan→project→generate
      // — assignment never shuffles or joins the corpus, for any r.
      // Ties on the dot break to the higher cell id via the struct's
      // natural order — total, so assignment is deterministic.
      val ranked = sort_array(array(cents.map { case (i, v) =>
        struct(dot(col("__nv"), typedLit(v.toSeq)).as("d"), lit(i).as("c"))
      }: _*), asc = false)
      val assigned = base
        .select(col("neighbor_id"), col("__cv"),
          explode(slice(ranked, 1, math.max(1, replicas))).as("__topcell"))
        .select(col("neighbor_id"), col("__cv"), col("__topcell.c").as("__cell"))
      new IvfIndex(assigned, cents, dim)
    }

    /** Reopen a [[IvfIndex.save]]d index. The inverted lists stay a
      * lazy parquet scan of the cell-partitioned layout; only the
      * centroid table (nlist tiny rows) is collected.
      */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val centRows = spark.read.json(s"$path/centroids").collect()
      val cents = centRows.map(r => (r.getAs[Long]("cell").toInt,
        r.getAs[Seq[Double]]("centroid").toArray)).sortBy(_._1)
      val dim = centRows.head.getAs[Long]("dim").toInt
      val assigned = spark.read.parquet(s"$path/assigned")
        .select(col("neighbor_id"), col("__cv"), col("__cell").cast("int").as("__cell"))
      new IvfIndex(assigned, cents, dim)
    }
  }

  /** Adds `out` = vec/‖vec‖ (zero vector → zeros, not NaN). The norm
    * is materialized as its own projection and referenced twice
    * syntactically, so CollapseProject cannot inline the O(dim) fold
    * into the per-element lambda (which would make normalization
    * O(dim²) per row — higher-order functions get no CSE).
    */
  private[ops] def withNormalized(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn("__l2norm", l2norm(col(vecCol)))
      .withColumn(out,
        when(col("__l2norm") > 0, transform(col(vecCol), x => x / col("__l2norm")))
          .otherwise(transform(col(vecCol), x => lit(0.0))))
      .drop("__l2norm")
}
