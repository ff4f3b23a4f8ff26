package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compile.PipelineCompiler
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.spec.{Config, PipelineSpec, SinkSpec, SourceSpec, TransformSpec}
import graft.transforms.Transforms

/** The transform, source and sink registries against `PipelineCompiler.validate`
  * (pure JVM, no Spark): every config key an op declares as naming a
  * source is checked before Spark starts, and unknown types are refused
  * by name. */
class RegistrySpec extends AnyFunSuite {

  /** The ops that read another declared source, and the key that names it. */
  private val sourceKeys = Map(
    "join" -> "right", "bloom_join" -> "right", "asof_join" -> "right", "range_join" -> "right",
    "union" -> "inputs", "intersect" -> "other", "except" -> "other",
    "contamination" -> "against", "contamination_embed" -> "against",
    "contamination_ngram" -> "against", "dedup_index_check" -> "against",
    "bloom_check" -> "against", "robots_filter" -> "against",
    "text_unigram_ppx" -> "lm_source", "dsir_weights" -> "target", "corpus_diff" -> "old",
    "bpe_tokens" -> "train_source", "byte_bpe_tokens" -> "train_source",
    "wordpiece_tokens" -> "train_source", "unigram_tokens" -> "train_source",
    "ann_topk" -> "queries", "registrable_domain" -> "rules_from", "dedup_cluster" -> "pairs")

  private def spec(transforms: Seq[TransformSpec], sinkType: String = "stdout") =
    PipelineSpec("p", "", Seq(SourceSpec("src", "inline")), transforms,
      Seq(SinkSpec("out", sinkType)))

  private def rejection(s: PipelineSpec): String =
    intercept[GraftAnalysisException](PipelineCompiler.validate(s)).getMessage

  test("registry: no op name is registered twice") {
    val names = Transforms.ops.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(Transforms.knownTypes.size == names.size)
  }

  test("registry: the ops that read another source declare its key") {
    assert(Transforms.ops.filter(_.sources.nonEmpty).map(o => o.name -> o.sources).toMap ==
      sourceKeys.map { case (op, key) => op -> Seq(key) })
  }

  for (op <- Transforms.ops; key <- op.sources) {
    test(s"validate: ${op.name} '$key' must name a declared source") {
      val msg = rejection(spec(Seq(TransformSpec("t1", op.name, Config.of(key -> "ghost")))))
      assert(msg.contains(s"transform 't1': ${op.name} $key 'ghost' is not a declared source"))
      PipelineCompiler.validate(spec(Seq(TransformSpec("t1", op.name, Config.of(key -> "src")))))
    }
  }

  test("validate: each undeclared name in a source list is reported") {
    val msg = rejection(spec(Seq(TransformSpec("u", "union",
      Config.of("inputs" -> Seq("src", "ghost", "phantom"))))))
    assert(msg.contains("union inputs 'ghost'") && msg.contains("union inputs 'phantom'"))
    assert(!msg.contains("'src'"))
  }

  test("validate: a source key that holds no name is reported with the other errors") {
    val msg = rejection(spec(Seq(TransformSpec("j", "join", Config.of("right" -> 5)),
      TransformSpec("t9", "dedup_telepathy"))))
    assert(msg.contains("transform 'j': config key 'right'"))
    assert(msg.contains("transform 't9': unknown type 'dedup_telepathy'"))
  }

  test("validate: an unknown transform type is refused by name") {
    val msg = rejection(spec(Seq(TransformSpec("t9", "dedup_telepathy"))))
    assert(msg.contains("transform 't9': unknown type 'dedup_telepathy'"))
  }

  test("validate: an unknown sink type is refused by name") {
    assert(SinkWriter.knownTypes.contains("stdout") && !SinkWriter.knownTypes.contains("teleport"))
    val msg = rejection(spec(Nil, sinkType = "teleport"))
    assert(msg.contains("sink 'out': unknown type 'teleport'"))
  }

  test("validate: an unknown source type is refused by name, with the other errors") {
    assert(SourceReader.knownTypes.contains("parquet") && !SourceReader.knownTypes.contains("parquett"))
    val msg = rejection(PipelineSpec("p", "", Seq(SourceSpec("src", "parquett"), SourceSpec("ok", "inline")),
      Nil, Seq(SinkSpec("out", "teleport"))))
    assert(msg.contains("source 'src': unknown type 'parquett'"))
    assert(msg.contains("sink 'out': unknown type 'teleport'"))
    assert(!msg.contains("'ok'"))
  }
}
