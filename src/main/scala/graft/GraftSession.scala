package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory with the engine's standard
  * configuration: AQE on (runtime join re-planning, skew splitting,
  * partition coalescing), UTC session time, shuffle parallelism sized
  * to the cluster instead of Spark's legacy default of 200, and the
  * nanosecond-parquet compatibility flag the driver testdata needs.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 0): SparkSession.Builder = {
    val parts =
      if (shufflePartitions > 0) shufflePartitions
      else math.max(2, Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // size-based post-shuffle coalescing (guide §2.2): the default
      // parallelismFirst=true refuses to coalesce below defaultParallelism,
      // so at 32 cores every tiny LM/model-table exchange runs 32
      // near-empty tasks (x_text_trigram_ppx measured 0.34 scaling
      // ratio). Spark's own docs recommend false; coalescing stays
      // byte-driven (advisory 64 MB), so real-volume shuffles are
      // untouched at any scale. Same-window A/B r19: trigram 0.74-0.78,
      // groups-family 0.88-0.94, no consistent loser.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local writes without the chmod fork-per-file of the stock
      // RawLocalFileSystem on hosts missing libhadoop.so — behavior
      // otherwise identical (see graft.util.NoForkLocalFs)
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.NoForkLocalFileSystem].getName)
  }

  /** Local session on `cores` threads with one shuffle partition per
    * core, for the harness mains and the test suite; on a cluster, pass
    * the real master to [[builder]] (or use spark-submit). */
  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
