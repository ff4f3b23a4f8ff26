package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout control for scan-time pruning — "z-order lite".
  *
  * At 100 TB the fastest scan is the one that never happens: parquet
  * footers carry per-file and per-row-group min/max statistics for
  * every column, and the reader skips any unit whose [min, max] range
  * misses the predicate. But statistics only prune if the WRITER
  * clustered the data: a randomly-laid-out table has every file
  * spanning (almost) the full key range, so nothing skips.
  *
  * [[writeRangeClustered]] produces the layout that makes those
  * statistics sharp:
  *  - `repartitionByRange(n, keys)` — Spark range-samples the keys and
  *    assigns each output file a DISJOINT key interval (one shuffle;
  *    skew-robust because bounds come from sampling, not arithmetic);
  *  - `sortWithinPartitions(keys)` — rows inside each file arrive in
  *    key order, so row-group min/max within the file are tight too
  *    (a 1 GB file has ~8 row groups; sorted input prunes at that
  *    granularity as well);
  *  - optional hive-style `partitionBy` directories for the coarse
  *    categorical dimension (pruned at PLAN time from the file
  *    listing, before any footer is read).
  *
  * This is the single-dimension (lexicographic) version of the
  * z-order/Hilbert clustering family (public: Delta Lake OPTIMIZE
  * ZORDER, Iceberg sort orders): for the common
  * one-leading-predicate-column workload it gives the same pruning
  * with one shuffle and no space-filling-curve encoding. Compose a
  * curve column upstream and pass it as the key if multi-dimensional
  * locality is required.
  *
  * The disjoint-interval property is CHECKED, not assumed:
  * [[fileKeyRanges]] reads back per-file min/max on the leading key
  * from the written files themselves (`input_file_name()` + one
  * aggregate), which is what ScaleSpec asserts non-overlapping.
  */
object Layout {

  /** Write `df` to `path` as `numFiles` range-clustered sorted parquet
    * files on `keys` (leading key drives the file ranges). `dirKeys`,
    * when non-empty, adds hive-style directory partitioning on those
    * columns (they must not overlap `keys`). `mode` and `compression`
    * pass through to the writer — except `append`, which is rejected:
    * appending a second range-clustered batch produces files whose key
    * ranges overlap the existing ones, silently voiding the disjoint-
    * interval pruning contract this layout exists to provide.
    * `observe` wraps the clustered rows the write consumes, above the
    * range sampling job, which runs everything below it a second time.
    */
  def writeRangeClustered(df: DataFrame, path: String, keys: Seq[String],
      numFiles: Int, dirKeys: Seq[String] = Nil,
      mode: String = "overwrite", compression: Option[String] = None,
      observe: DataFrame => DataFrame = identity[DataFrame]): Unit = {
    require(keys.nonEmpty, "writeRangeClustered: at least one cluster key")
    require(numFiles >= 1, s"writeRangeClustered: numFiles=$numFiles")
    require(dirKeys.intersect(keys).isEmpty,
      s"writeRangeClustered: dirKeys ${dirKeys.mkString(",")} overlap cluster keys")
    if (mode == "append") throw new graft.GraftAnalysisException(
      "writeRangeClustered: mode=append breaks the disjoint per-file key-range " +
        "contract (new files overlap existing ranges and min/max pruning stops " +
        "working); rewrite the table with overwrite, or drop cluster_by for " +
        "append-style ingest")
    val keyCols = keys.map(col)
    val clustered = observe(df
      .repartitionByRange(numFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*))
    val w0 = clustered.write.mode(mode)
    val w = compression.map(c => w0.option("compression", c)).getOrElse(w0)
    (if (dirKeys.nonEmpty) w.partitionBy(dirKeys: _*) else w).parquet(path)
  }

  /** Per-file (file, min(key), max(key), rows) over a written parquet
    * directory — the observable pruning contract: after
    * [[writeRangeClustered]] these ranges are pairwise disjoint on the
    * leading key, so any selective predicate touches a bounded subset
    * of files. One distributed aggregate keyed on the file name.
    */
  def fileKeyRanges(spark: SparkSession, path: String, key: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("min_key"), max(col(key)).as("max_key"),
        count(lit(1)).as("rows"))
}
