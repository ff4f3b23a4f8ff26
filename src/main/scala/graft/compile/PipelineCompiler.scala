package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftAnalysisException
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.spec.PipelineSpec
import graft.transforms.Transforms

/** Spec → Catalyst logical plan.
  *
  * The reference's run loop (main.py:415-474) eagerly reads every
  * source into memory, concatenates them, and folds transforms over
  * Python lists. Here compilation is fully lazy: each source is a scan
  * node, the implicit concat is `unionByName` (null-fill, SURVEY §1.4),
  * and each transform extends the logical plan. Catalyst then
  * optimizes the *whole* pipeline globally — filters written as the
  * 5th transform still reach the parquet reader as pushed predicates.
  *
  * Validation happens at compile time (unknown types, config keys that
  * name no declared source, dangling depends_on) — the reference only
  * discovers these mid-run (main.py:178; SURVEY §3.3 declared
  * improvement).
  */
object PipelineCompiler {

  final case class Compiled(
      /** Every named source, lazily — the join/union context
        * (reference `source_data`, main.py:437-443). */
      ctx: Map[String, DataFrame],
      /** The final transformed stream all sinks consume. */
      df: DataFrame,
      /** Per-transform row observations kept in `df` (transform name →
        * observed-metric name), when compiled with `observeStages`: the
        * runner reads them from the sink actions' executed plans. See
        * [[StageObservations]] for which stages are observed. */
      stageObs: Seq[(String, String)] = Nil)

  def validate(spec: PipelineSpec): Unit = {
    val errs = Seq.newBuilder[String]
    if (spec.sources.isEmpty) errs += "pipeline has no sources"
    val sourceNames = spec.sources.map(_.name)
    if (sourceNames.distinct.size != sourceNames.size) errs += "duplicate source names"
    spec.sources.filterNot(s => SourceReader.knownTypes.contains(s.sourceType)).foreach { s =>
      errs += s"source '${s.name}': unknown type '${s.sourceType}'"
    }
    val tNames = spec.transforms.map(_.name).toSet
    spec.transforms.foreach { t =>
      Transforms.byName.get(t.transformType) match {
        case None => errs += s"transform '${t.name}': unknown type '${t.transformType}'"
        case Some(op) =>
          for (key <- op.sources) try {
            for (name <- t.config.strList(key) if !sourceNames.contains(name))
              errs += Transforms.undeclaredSource(t, key, name)
          } catch { case e: GraftAnalysisException => errs += s"transform '${t.name}': ${e.getMessage}" }
      }
      // The reference persists depends_on but never validates or uses
      // it (main.py:429,446-447). We validate; execution remains the
      // order_index chain for parity.
      t.dependsOn.filterNot(tNames.contains).foreach { d =>
        errs += s"transform '${t.name}': depends_on '$d' does not exist"
      }
    }
    spec.sinks.foreach { s =>
      if (!SinkWriter.knownTypes.contains(s.sinkType))
        errs += s"sink '${s.name}': unknown type '${s.sinkType}'"
    }
    val es = errs.result()
    if (es.nonEmpty) throw new GraftAnalysisException(es.mkString("invalid pipeline spec:\n  ", "\n  ", ""))
  }

  def compile(spark: SparkSession, spec: PipelineSpec,
      observeStages: Boolean = false): Compiled = {
    validate(spec)
    val ctx: Map[String, DataFrame] =
      spec.sources.map(s => s.name -> SourceReader.read(spark, s)).toMap
    // Implicit UNION ALL by name of all sources, in declaration order
    // (reference main.py:437-443); null-fill for ragged schemas.
    val unioned = spec.sources.map(s => ctx(s.name))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val stages = Seq.newBuilder[(String, DataFrame)]
    val df = spec.transforms.sortBy(_.orderIndex)
      .foldLeft(unioned) { (d, t) =>
        val out = Transforms(d, t, ctx)
        stages += t.name -> out
        out
      }
    // a sink that samples its input for range bounds (cluster_by) runs
    // every stage twice, and stdout's limit stops the stages early:
    // neither would count the rows a stage produced
    val stagesRunOnce = !spec.sinks.exists(s =>
      s.sinkType == "stdout" || s.config.strList("cluster_by").nonEmpty)
    if (!observeStages || !stagesRunOnce) Compiled(ctx, df)
    else {
      val (observed, kept) = StageObservations.place(df, stages.result())
      Compiled(ctx, observed, kept)
    }
  }
}
