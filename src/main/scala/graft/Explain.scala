package graft

/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry gates so scan pushdown (PushedFilters/ReadSchema),
  * join strategy (BroadcastHashJoin vs SortMergeJoin), and
  * WholeStageCodegen coverage can be inspected.
  * Usage: graft.Explain <sfDir> [gate ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected =
      if (args.length > 1) SparkEntry.select(args.tail.toSeq) else SparkEntry.gates.sortBy(_.name)
    val spark = GraftSession.local(4)
    selected.foreach { gate =>
      println(s"\n========== ${gate.name} ==========")
      try println(gate.build(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
