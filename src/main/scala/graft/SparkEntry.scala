package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compile.PipelineCompiler
import graft.gates._
import graft.spec._

/** The engine's flagship query and its gate registry: every operator
  * gate, each with the DuckDB SQL that must reproduce its rows (see
  * [[graft.gates.Gate]]). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full spec→compile→DataFrame path of the engine
    * (SURVEY §7.2 slice: filter lineitem, group, exact sum).
    */
  def entry(spark: SparkSession): DataFrame = {
    val spec = PipelineSpec(
      name = "flagship",
      sources = Seq(SourceSpec("lineitem", "parquet",
        Config.of("path" -> "/root/testdata/sf0.001/lineitem.parquet"))),
      transforms = Seq(
        TransformSpec("f", "filter",
          Config.of("field" -> "l_quantity", "op" -> "gt", "value" -> 24), Nil, 0),
        TransformSpec("a", "aggregate", Config.of(
          "group_by" -> Seq("l_returnflag"),
          "aggregations" -> Seq(
            Map("function" -> "count", "as" -> "cnt"),
            Map("field" -> "l_extendedprice", "function" -> "sum",
              "exact_decimal" -> 6, "as" -> "sum_price"))), Nil, 1)))
    PipelineCompiler.compile(spark, spec).df
  }

  /** Every gate, each declared once in its family file. */
  val gates: Seq[Gate] = CoreGates.gates ++ TextGates.gates ++ DedupGates.gates ++
    MediaGates.gates ++ TableGates.gates ++ StreamGates.gates

  /** The named gates, in the given order; fails naming every unknown one. */
  def select(names: Seq[String]): Seq[Gate] = {
    val byName = gates.map(g => g.name -> g).toMap
    val unknown = names.filterNot(byName.contains)
    if (unknown.nonEmpty)
      throw new GraftAnalysisException(s"unknown gate(s): ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }
}
