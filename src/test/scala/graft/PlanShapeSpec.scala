package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LinearClassifier, Phash, Spectral, Multimodal}

/** Physical-plan shape assertions for the round-8 operators — the
  * scaladoc scale claims ("zero-shuffle scoring", "scan-local
  * projection", "one fan-out repartition only") pinned against the
  * actual plans so a refactor cannot silently regress them.
  */
class PlanShapeSpec extends SparkSuite {
  import spark.implicits._

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.sparkPlan.toString).length

  private val docs = Seq(
    (1L, "alpha beta gamma", "a"), (2L, "delta beta", "a"),
    (3L, "omega psi chi", "b"), (4L, "psi tau", "b"))

  test("linear classifier scoring is a zero-shuffle projection") {
    // multi-partition input: a single-partition local relation would
    // let the aggregate skip its exchange and mask a regression
    val df = docs.toDF("id", "text", "y").repartition(3)
    val m = LinearClassifier.fit(df, "id", "y", "text", nBuckets = 32)
    // the one Exchange in scope is the fixture's own repartition
    val scoreEx = exchanges(m.score(df, "id", "text"))
    assert(scoreEx == 1,
      "score() must stay scan-local — weights ride as literals")
    // predict adds at most the one argmax aggregate shuffle (adjacent
    // exchanges collapse, so the fixture repartition may be subsumed)
    val predictEx = exchanges(m.predict(df, "id", "text"))
    assert(predictEx <= scoreEx + 1, s"predict grew shuffles: $predictEx")
  }

  test("phash and spectral feature extraction are scan-local") {
    val media = Seq((1L, "x".getBytes("UTF-8"))).toDF("id", "p")
      .select(col("id"), struct(col("p").as("payload"), lit("x").as("mime")).as("media"))
    assert(exchanges(Phash.phashDf(media, "id", "media")) == 0)
    assert(exchanges(Spectral.spectralDf(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeMjpegFrames(media, "id", "media")) == 0)
  }

  test("round-16 frame/metadata ops are scan-local — no Exchange in any plan") {
    val media = Seq((1L, "x".getBytes("UTF-8"))).toDF("id", "p")
      .select(col("id"), struct(col("p").as("payload"), lit("x").as("mime")).as("media"))
    assert(exchanges(Multimodal.decodeWebpAnimFrames(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeGifAnimFrames(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeMp4Frames(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeMkvFrames(media, "id", "media")) == 0)
    val texts = Seq((1L, "hello")).toDF("doc_id", "text")
    assert(exchanges(Multimodal.webpLossyParity(texts, "doc_id", "text")) == 0)
    assert(exchanges(Multimodal.webpAlphaParity(texts, "doc_id", "text")) == 0)
    // the pack side carries at most the one fan-out repartition
    assert(exchanges(Multimodal.packTextWebpAnim(texts, "doc_id", "text")) <= 1)
    assert(exchanges(Multimodal.packTextGifAnim(texts, "doc_id", "text")) <= 1)
    assert(exchanges(Multimodal.packTextMjpegMp4(texts, "doc_id", "text")) <= 1)
    assert(exchanges(Multimodal.packTextMjpegMkv(texts, "doc_id", "text")) <= 1)
  }

  test("round-17 decode ops are scan-local — no Exchange in any plan") {
    val media = Seq((1L, "x".getBytes("UTF-8"))).toDF("id", "p")
      .select(col("id"), struct(col("p").as("payload"), lit("x").as("mime")).as("media"))
    // fragmented MP4 and laced MKV ride the same decode surfaces
    assert(exchanges(Multimodal.decodeMp4Frames(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeMkvFrames(media, "id", "media")) == 0)
    assert(exchanges(Multimodal.decodeImageIcc(media, "id", "media")) == 0)
    val texts = Seq((1L, "hello")).toDF("doc_id", "text")
    assert(exchanges(Multimodal.packTextMjpegFmp4(texts, "doc_id", "text")) <= 1)
    assert(exchanges(Multimodal.packTextMjpegMkvLaced(texts, "doc_id", "text")) <= 1)
    // byte-BPE encode is broadcast-ranks + memo: scan-local
    val model = graft.ops.BpeBytes.Model(Seq(("a", "b")))
    assert(exchanges(model.encodeCounts(texts, "doc_id", "text")) == 0)
  }

  test("semdedup shuffles only for the within-cell pair probe and verdict join") {
    val vecs = (0L until 20L).map(i => (i, Seq.tabulate(8)(j => ((i + j) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(vecs, "vec_id", "embedding", dim = 8,
      k = 4, eps = 0.99, centroidMode = "hash")
    // assignment is scan-local (centroid literals): the only
    // exchanges are the cell-keyed self-join sides and the final
    // dropped-ids join — bounded, not O(corpus²)
    val n = exchanges(out)
    assert(n <= 5, s"semdedup plan grew unexpected shuffles ($n):\n" +
      out.queryExecution.sparkPlan.toString.take(2000))
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), "semdedup must never cross-join")
  }

  test("dedupSentences rebuild is scan-local — no body-carrying Exchange beyond dedupLines's") {
    // multi-partition input so no exchange can be elided by a
    // single-partition LocalTableScan
    val df = Seq(
      (1L, "Promo pitch here. Real prose one."),
      (2L, "Promo pitch here. Real prose two."),
      (3L, "Unique text three."))
      .toDF("id", "text").repartition(3)
    val out = Dedup.dedupSentences(df, "id", "text", minDf = 2)
    // the corpus (body-carrying) side of the final removal join: the
    // streamed side of the OUTERMOST join. The old shape paid an
    // InternalRow⇄object round-trip (Dataset map) plus a second
    // full-body id join there — both must stay gone. (The digest side
    // still uses the Sentences.split generator — that's the long-
    // format (id, pos, digest) stream, bodies never exchanged.)
    val outerJoin = out.queryExecution.sparkPlan.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.getOrElse(fail("dedupSentences plan lost its removal join"))
    val bodySide = outerJoin.left.toString
    assert(!bodySide.contains("SerializeFromObject") && !bodySide.contains("MapElements") &&
      !bodySide.contains("MapPartitions"),
      "rebuild must be a codegen'd kernel over the raw corpus scan, not a Dataset map:\n" + bodySide.take(2000))
    // the only exchange on the body side is the fixture's own repartition
    assert("Exchange".r.findAllIn(bodySide).length <= 1,
      "corpus bodies must not shuffle beyond the fixture repartition:\n" + bodySide.take(2000))
    // same shuffle budget as the sibling dedupLines on the same input:
    // digest explode/agg + removal agg + the one removal join
    val lineEx = exchanges(Dedup.dedupLines(df, "id", "text", minDf = 2))
    val sentEx = exchanges(out)
    assert(sentEx <= lineEx,
      s"dedupSentences shuffles ($sentEx) exceed dedupLines's ($lineEx)")
  }

  test("delta readTable holds ONE scan node however many partition tuples the table has") {
    // a real table partitioned by date×source has 10³–10⁵ distinct
    // partition tuples; the reader must not build one union arm (one
    // scan relation) per tuple — that dies in driver analysis long
    // before any data moves. 1000 files, 1000 distinct tuples → one
    // FileScan + one broadcast manifest join, built in bounded time.
    val tableDir = java.nio.file.Files.createTempDirectory("graft-delta-fan").toFile
    val tmp = java.nio.file.Files.createTempDirectory("graft-delta-one").toFile
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    (0 until 1000).foreach { i =>
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(tableDir, s"f$i.parquet").toPath)
    }
    val logDir = new java.io.File(tableDir, "_delta_log")
    logDir.mkdirs()
    val lines =
      """{"metaData":{"id":"t","schemaString":"{}","partitionColumns":["d","src"]}}""" +:
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +:
      (0 until 1000).map(i =>
        s"""{"add":{"path":"f$i.parquet","partitionValues":{"d":"2024-${i % 50}","src":"s${i / 50}"},"size":1,"modificationTime":0,"dataChange":true}}""")
    java.nio.file.Files.write(new java.io.File(logDir, f"${0L}%020d.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val t0 = System.nanoTime()
    val df = graft.ops.DeltaLog.readTable(spark, tableDir.getAbsolutePath)
    val plan = df.queryExecution.sparkPlan.toString
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert("FileScan".r.findAllIn(plan).length == 1,
      "delta reader must plan ONE scan over all active files:\n" + plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "partition values must arrive via a broadcast manifest join:\n" + plan.take(2000))
    assert(elapsedSec < 60, s"plan construction took ${elapsedSec}s — scaling with tuple count")
  }

  test("delta DV read: one data scan, a broadcast hash ANTI join, positions exploded off-driver") {
    // the deletion-vector anti-filter must not multiply scans or
    // shuffle the data side: one FileScan over the data files, the
    // (file key, position) side broadcast, LeftAnti hash join
    val dir = graft.ops.TableFixtures.writeDeltaDvTable(
      spark, (0L until 56L).toDF("doc_id")
        .select($"doc_id", concat(lit("s"), $"doc_id" % 3).as("source"),
          ($"doc_id" * 7).as("n_chars")), "doc_id")
    val df = graft.ops.DeltaLog.readTable(spark, dir)
    val plan = df.queryExecution.sparkPlan.toString
    assert("FileScan".r.findAllIn(plan).length == 1,
      "DV read must keep ONE scan over the data files:\n" + plan.take(2000))
    assert(plan.contains("LeftAnti"),
      "deleted positions must anti-join, not filter driver-side:\n" + plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the position side is bounded metadata — it must broadcast:\n" + plan.take(2000))
    // and the data survives correctly: id%7==0 deleted on buckets 0-2
    val ids = df.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 56L).filterNot(i => i % 7 == 0 && i % 4 != 3))
  }

  test("classifier gate label and kernel stay inside whole-stage codegen") {
    // range input: LocalTableScan skips whole-stage codegen, a real
    // (codegen-capable) leaf does not
    val withB = spark.range(100)
      .select(concat_ws(" ", lit("alpha"), col("id").cast("string")).as("text"))
      .select(LinearClassifier.bucketArray(col("text"), 32).as("b"))
    // compact plan strings mark WholeStageCodegen stages with "*(n)"
    val plan = withB.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"),
      "hashed_gram_buckets kernel must ride codegen'd projections:\n" + plan)
  }

  test("normalize_unicode and compression_ratio ride whole-stage codegen, no shuffle") {
    val df = spark.range(100)
      .select(concat_ws(" ", lit("café"), col("id").cast("string")).as("text"))
      .select(
        graft.ops.TextAnalysis.normalizeUnicode(col("text"), "NFKC").as("n"),
        graft.ops.TextAnalysis.compressionRatio(col("text")).as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"),
      "scalar text signals must stay inside one codegen'd projection:\n" + plan)
    assert(!plan.contains("Exchange"), "scan-local ops must not shuffle:\n" + plan)
  }

  test("stage observations keep the scan's pushed filters: parquet -> map -> filter") {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftpush").toString + "/li"
    (0 until 40).map(i => (i.toLong, (i % 50).toDouble, s"F$i"))
      .toDF("l_orderkey", "l_quantity", "l_returnflag").write.parquet(dir)
    val spec = PipelineSpec("push", "",
      Seq(SourceSpec("li", "parquet", Config.of("path" -> dir))),
      Seq(TransformSpec("flag", "map",
          Config.of("field" -> "l_returnflag", "operation" -> "lower", "as" -> "flag"), Nil, 0),
        TransformSpec("big", "filter", Config.of("field" -> "l_quantity", "op" -> "gt", "value" -> 24), Nil, 1)),
      Seq(SinkSpec("out", "parquet", Config.of("path" -> (dir + "_out")))))
    def pushed(observe: Boolean): Seq[String] =
      graft.compile.PipelineCompiler.compile(spark, spec, observeStages = observe)
        .df.queryExecution.executedPlan.collectLeaves().collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq("PushedFilters", "PartitionFilters").map(s.metadata.getOrElse(_, "")).mkString(" ")
        }
    val off = pushed(observe = false)
    assert(off.exists(_.contains("GreaterThan(l_quantity,24.0)")), off)
    assert(pushed(observe = true) == off)
  }

  /** curate's transforms up to the dedup (redact_pii → text_profile →
    * filter token_count >= 20 → dedup_exact) over 40 parquet docs. */
  private def curateSpec(): graft.spec.PipelineSpec = {
    import graft.spec._
    val dir = java.nio.file.Files.createTempDirectory("graftprofile").toString + "/docs"
    (0 until 40).map(i => (i.toLong, s"doc $i: the cat and the dog in the house of the king " * 2))
      .toDF("doc_id", "text").write.parquet(dir)
    PipelineSpec("curate", "",
      Seq(SourceSpec("docs", "parquet", Config.of("path" -> dir))),
      Seq(TransformSpec("redact", "redact_pii", Config.of("field" -> "text"), Nil, 0),
        TransformSpec("profile", "text_profile", Config.of(), Nil, 1),
        TransformSpec("quality", "filter",
          Config.of("field" -> "token_count", "op" -> "ge", "value" -> 20), Nil, 2),
        TransformSpec("dedup", "dedup_exact",
          Config.of("text_field" -> "text", "tie_break" -> "doc_id"), Nil, 3)),
      Seq(SinkSpec("out", "parquet", Config.of("path" -> (dir + "_out")))))
  }

  /** Calls of `E` in a physical operator's own expressions. */
  private def calls[E <: org.apache.spark.sql.catalyst.expressions.Expression](
      p: org.apache.spark.sql.execution.SparkPlan)(implicit e: scala.reflect.ClassTag[E]): Int =
    p.expressions.map(_.collect { case x if e.runtimeClass.isInstance(x) => x }.size).sum

  test("text_profile tokenizes once per signal; pushed filters and dedup keys stay token-count sized") {
    import graft.expr.{RedactPiiExpr, TextProfileExpr}
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.execution.{CollapseCodegenStages, FileSourceScanExec, FilterExec,
      InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
    val plan = graft.compile.PipelineCompiler.compile(spark, curateSpec()).df.queryExecution.sparkPlan
    import org.apache.spark.sql.catalyst.expressions.Alias
    def kernelCalls(p: ProjectExec): Int = calls[TextProfileExpr](p)
    def redactCalls(p: ProjectExec): Int = calls[RedactPiiExpr](p)
    val profileProjects = plan.collect {
      case p: ProjectExec if p.projectList.exists {
        case a: Alias => a.name == "token_count"
        case _ => false
      } => p
    }
    val profile = profileProjects.map(_.projectList.mkString(", "))
    assert(profile.size == 1, plan.toString)
    // token_count, lang_id and the quality struct: one kernel call, in
    // the projection right below the one that reads its fields
    val kernelProjects = plan.collect { case p: ProjectExec if kernelCalls(p) > 0 => p }
    assert(kernelProjects.size == 1 && kernelCalls(kernelProjects.head) == 1, plan.toString)
    assert(kernelCalls(profileProjects.head) == 0 && (profileProjects.head.child eq kernelProjects.head),
      plan.toString)
    val kernelProject = kernelProjects.head.projectList.mkString(", ")
    for (e <- Seq(kernelProject, profile.head))
      assert(!e.contains("lambdafunction") && !e.contains("regexp_extract_all(lower("),
        s"a lambda or a tokenizer in the profile projections:\n$e")
    // the kernel projection compiles into a whole-stage codegen stage
    def ownNodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case _ => p.children.flatMap(ownNodes) })
    def staged(calls: ProjectExec => Int): Seq[ProjectExec] =
      CollapseCodegenStages()(plan).collect { case w: WholeStageCodegenExec =>
        ownNodes(w.child).collect { case p: ProjectExec if calls(p) == 1 => p } }.flatten
    assert(staged(kernelCalls).size == 1, plan.toString)
    // redact_pii: one kernel call in the projections, codegen'd; none of
    // the four regexes it replaced
    assert(plan.collect { case p: ProjectExec => redactCalls(p) }.sum == 1, plan.toString)
    assert(staged(redactCalls).size == 1, plan.toString)
    val emailRegexes = plan.flatMap(_.expressions.flatMap(_.collect {
      case r: RegExpReplace if r.rep.toString.contains("<EMAIL>") => r }))
    assert(emailRegexes.isEmpty, plan.toString)
    // filters below the dedup window (the rank = 1 filter sits above it)
    val pushed = plan.collect {
      case f: FilterExec if f.find(_.isInstanceOf[WindowExec]).isEmpty => f.condition.toString }
    assert(pushed.nonEmpty && pushed.forall(_.contains("text_profile(")), plan.toString)
    // the kernel and both counts compile: no interpreted lambda in
    // the pushed filter or in the profile's count columns
    val counts = profileProjects.head.projectList.collect {
      case a: Alias if Set("token_count", "bpeish_token_count")(a.name) => a.toString }
    assert(counts.size == 2, profile.head)
    for (e <- pushed ++ counts)
      assert(!e.contains("lambdafunction"), s"lambda in a pushed filter or a profile count:\n$e")
    // dedup_exact reads its input once and cuts each digest down per
    // task before the shuffle
    assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan.toString)
    val limits = plan.collect { case l: WindowGroupLimitExec => l }
    assert(limits.exists(_.mode == Partial), plan.toString)
    val windowSide = plan.collect { case w: WindowExec =>
      (w.partitionSpec ++ w.orderSpec).mkString(", ") } ++
      limits.map(l => (l.partitionSpec ++ l.orderSpec).mkString(", "))
    assert(windowSide.nonEmpty, plan.toString)
    // a profile signal copied here would re-run per row
    for (e <- pushed ++ windowSide; f <- Seq("array_contains", "aggregate("))
      assert(!e.contains(f), s"$f in a pushed filter or the dedup window's partition/order side:\n$e")
  }

  test("observed curate plan: the token_count filter reads the profile, one kernel call and one redact") {
    import graft.expr.{RedactPiiExpr, TextProfileExpr}
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
    // the run path compiles with stage observations, which block the
    // filter's pushdown below the profile projection
    val plan = graft.compile.PipelineCompiler.compile(spark, curateSpec(), observeStages = true)
      .df.queryExecution.sparkPlan
    assert(plan.collect { case p => calls[TextProfileExpr](p) }.sum == 1, plan.toString)
    assert(plan.collect { case p => calls[RedactPiiExpr](p) }.sum == 1, plan.toString)
    val kernel = plan.collect { case p: ProjectExec if calls[TextProfileExpr](p) == 1 => p }
    assert(kernel.size == 1, plan.toString)
    val quality = plan.collect { case f: FilterExec
      if f.condition.references.exists(_.name == "token_count") => f }
    assert(quality.size == 1, plan.toString)
    assert(quality.head.find(_ eq kernel.head).isDefined,
      "the token_count filter must sit above the kernel projection:\n" + plan)
  }
}
