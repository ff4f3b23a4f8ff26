package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.spec._

/** Spec model + JSON codec + validation (pure JVM, no Spark). */
class SpecSuite extends AnyFunSuite {

  private val spec = PipelineSpec(
    name = "p1", description = "d",
    sources = Seq(SourceSpec("s1", "inline", Config.of("data" -> Seq(Map("x" -> 1))))),
    transforms = Seq(
      TransformSpec("f", "filter", Config.of("field" -> "x", "op" -> "gt", "value" -> 0), Nil, 0),
      TransformSpec("a", "aggregate", Config.of("group_by" -> Seq("x")), Seq("f"), 1)),
    sinks = Seq(SinkSpec("out", "stdout")))

  test("spec JSON round-trip preserves everything") {
    val parsed = SpecJson.parse(spec.json)
    assert(parsed.name == "p1")
    assert(parsed.sources.head.sourceType == "inline")
    assert(parsed.transforms.map(_.name) == Seq("f", "a"))
    assert(parsed.transforms(1).dependsOn == Seq("f"))
    assert(parsed.transforms(1).orderIndex == 1)
    assert(parsed.sinks.head.sinkType == "stdout")
    assert(parsed.transforms.head.config.str("op").contains("gt"))
    assert(parsed.transforms.head.config.int("value").contains(0))
  }

  test("config accessors: typed reads and errors") {
    val c = Config.parse("""{"s":"x","i":7,"d":1.5,"b":true,"l":["a","b"],"m":{"k":"v"}}""")
    assert(c.reqStr("s") == "x")
    assert(c.int("i").contains(7))
    assert(c.double("d").contains(1.5))
    assert(c.bool("b").contains(true))
    assert(c.strList("l") == Seq("a", "b"))
    assert(c.strMap("m") == Map("k" -> "v"))
    assert(c.str("missing").isEmpty)
    assertThrows[GraftAnalysisException](c.reqStr("missing"))
  }

  test("missing order_index defaults to position") {
    val p = SpecJson.parse(
      """{"name":"x","sources":[{"name":"a","type":"inline","config":{"data":[{"v":1}]}}],
         "transforms":[{"type":"filter","config":{}},{"type":"select","config":{}}],
         "sinks":[]}""")
    assert(p.transforms.map(_.orderIndex) == Seq(0, 1))
    assert(p.transforms.map(_.name) == Seq("t0", "t1"))
  }

  test("gate registry: 297 unique gates with oracle SQL; select rejects unknowns") {
    val names = SparkEntry.gates.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"gate names declared twice: $dups")
    assert(names.size == 297)
    val blank = SparkEntry.gates.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates without oracle SQL: $blank")
    val e = intercept[GraftAnalysisException](SparkEntry.select(Seq("q_agg", "q_jion")))
    assert(e.getMessage.contains("q_jion") && !e.getMessage.contains("q_agg"))
  }
}
