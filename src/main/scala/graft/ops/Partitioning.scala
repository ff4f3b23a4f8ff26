package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** Parallelism guard for compute-heavy operators.
  *
  * Parquet splits by file/row-group size, so a small COMPRESSED input
  * can carry a large per-row compute load on a handful of tasks: a
  * 5 MB embeddings file is 2 splits — every downstream projection
  * (hashing, norms, regex profiling) then runs on 2 of 32 cores.
  * Measured at the 10× bench scale: text-profile 7.3 s → ~1 s once
  * fanned out.
  *
  * `fanOut` round-robins to the session's default parallelism ONLY
  * when the scan would yield fewer splits — on a real cluster reading
  * real data volumes (many splits ≥ parallelism) it is a no-op, so
  * this never introduces a shuffle at the 100 TB design point;
  * locally it costs one tiny shuffle of the source rows.
  *
  * The split count is ESTIMATED from the relation's file index
  * (file bytes + open cost through Spark's own maxSplitBytes formula,
  * `FilePartition.maxSplitBytes`) rather than `df.rdd`: converting to
  * an RDD forces full physical planning of the subtree eagerly, once
  * per query, at PLAN time — a real wart on wide pipelines. Reading
  * the file index is a pure metadata lookup on the analyzed plan.
  */
object Partitioning {

  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    estimatedScanSplits(df) match {
      case Some(splits) if splits < target => df.repartition(target)
      case _ => df // enough splits, or no file scan to size: leave as-is
    }
  }

  /** `groupByKey(keyOf).mapGroups(f)` for the pack-into-N-files
    * fixtures, at N-task parallelism. A typed groupByKey's exchange is
    * ENSURE_REQUIREMENTS, so AQE's byte-driven coalescing merges the
    * KB-sized fixture frames to ONE reducer — the whole pack
    * (deflate/gzip of every archive) then runs on one core (profiled:
    * x_npz paid a 1.2 s single-task pack stage). `HashPartitioner(n)`
    * over the 0..n−1 long keys maps key k to partition k exactly
    * (Long.hashCode(k) = k for k < 2³¹), and an explicit RDD
    * partitioner is never AQE-coalesced, so each file packs on its
    * own task. Determinism: partitioning is key-based (retry-safe,
    * unlike round-robin), groups are emitted in ascending key order,
    * and every caller's body sorts members by id itself — bytes are
    * identical to the mapGroups form.
    */
  /** Chainable form of [[packGroups]]: `.as[T].packGroups(n)(key)(f)`
    * is the drop-in replacement for `.groupByKey(key).mapGroups(f)`. */
  implicit class PackOps[T](private val ds: org.apache.spark.sql.Dataset[T]) {
    def packGroups[R](nFiles: Int)(keyOf: T => Long)(f: (Long, Iterator[T]) => R)(
        implicit er: org.apache.spark.sql.Encoder[R]): org.apache.spark.sql.Dataset[R] =
      Partitioning.packGroups(ds, nFiles)(keyOf)(f)
  }

  def packGroups[T, R](ds: org.apache.spark.sql.Dataset[T], nFiles: Int)(
      keyOf: T => Long)(f: (Long, Iterator[T]) => R)(
      implicit er: org.apache.spark.sql.Encoder[R]): org.apache.spark.sql.Dataset[R] = {
    val keyed = ds.rdd
      .map(t => (keyOf(t), t))(scala.reflect.ClassTag(classOf[(Long, T)]))
    val anyTag = scala.reflect.ClassTag(classOf[Any]).asInstanceOf[scala.reflect.ClassTag[T]]
    val rdd = new org.apache.spark.rdd.PairRDDFunctions(keyed)(
      scala.reflect.ClassTag.Long, anyTag, null)
      .partitionBy(new org.apache.spark.HashPartitioner(nFiles))
      .mapPartitions { it =>
        val m = scala.collection.mutable.LinkedHashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[T]]
        it.foreach { case (k, t) =>
          m.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[T]) += t
        }
        m.toSeq.sortBy(_._1).iterator.map { case (k, ts) => f(k, ts.iterator) }
      }(scala.reflect.ClassTag(classOf[Any]).asInstanceOf[scala.reflect.ClassTag[R]])
    ds.sparkSession.createDataset(rdd)
  }

  /** The file index of the first file relation in `df`'s analyzed
    * plan (v1 or v2): the listing Spark made when the relation was
    * resolved. None when the plan reads no files. */
  private[graft] def scanIndex(df: DataFrame): Option[FileIndex] =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location
      case dsv2: DataSourceV2Relation if dsv2.table.isInstanceOf[FileTable] =>
        dsv2.table.asInstanceOf[FileTable].fileIndex
    }

  /** Estimated FileSourceScan partition count for the first file
    * relation in `df`'s analyzed plan (v1 or v2), replicating
    * `FilePartition.maxSplitBytes` bin-packing arithmetic. None when
    * the plan reads no files (inline/local data).
    */
  private[graft] def estimatedScanSplits(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession
    scanIndex(df).map { idx =>
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val minPartitionNum = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism)
      val fileLens: Seq[Long] = idx match {
        case p: PartitioningAwareFileIndex => p.allFiles().map(_.getLen).toSeq
        case other => // approximation: index only exposes the total
          val n = math.max(1, other.inputFiles.length)
          Seq.fill(n)(other.sizeInBytes / n)
      }
      val totalBytes = fileLens.map(_ + openCost).sum
      val bytesPerCore = totalBytes / math.max(1L, minPartitionNum.toLong)
      val maxSplitBytes =
        math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
      // mirror FilePartition.getFilePartitions: files split into
      // maxSplitBytes pieces, pieces sorted by length descending, then
      // packed first-fit with openCost added per piece
      val pieces = fileLens.flatMap { len =>
        (0L until len by maxSplitBytes).map(off => math.min(maxSplitBytes, len - off))
      }.sortBy(-_)
      var partitions = 0L
      var currentSize = 0L
      pieces.foreach { p =>
        if (currentSize + p > maxSplitBytes || partitions == 0) {
          partitions += 1; currentSize = 0L
        }
        currentSize += p + openCost
      }
      math.max(1L, partitions)
    }
  }
}
