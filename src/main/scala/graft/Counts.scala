package graft

/** Machine-readable inventory counts for tools/readme_counts.py —
  * the README's totals are generated from these, never typed (stale
  * hand-maintained counts were flagged two rounds running).
  */
object Counts {
  def main(args: Array[String]): Unit = {
    println(
      s"queries=${SparkEntry.gates.size} " +
        s"ops=${graft.transforms.Transforms.knownTypes.size}")
  }
}
