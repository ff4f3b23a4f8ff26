package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Scale-mechanics proofs: the plan-shape properties that matter at
  * 100 TB, asserted on real plans at test scale.
  */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed tables join with no shuffle exchange") {
    val dir = Files.createTempDirectory("graftbkt").toString
    val li = sf("lineitem").select("l_orderkey", "l_quantity")
    val ord = sf("orders").select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/li").mode("overwrite").saveAsTable("bkt_li")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/ord").mode("overwrite").saveAsTable("bkt_ord")
    try {
      val joined = spark.table("bkt_li")
        .join(spark.table("bkt_ord"), col("l_orderkey") === col("o_orderkey"))
      // pre-AQE physical plan: bucketing on the join key on both sides
      // must eliminate the shuffle entirely
      val plan = joined.queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(joined.count() == sf("lineitem").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_li")
      spark.sql("DROP TABLE IF EXISTS bkt_ord")
    }
  }

  test("parquet sink bucket_by writes a shuffle-free-joinable table via the spec surface") {
    import graft.sinks.SinkWriter
    import graft.spec.{Config, SinkSpec}
    val dir = Files.createTempDirectory("graftbktsink").toString
    try {
      SinkWriter.write(sf("lineitem").select("l_orderkey", "l_quantity"),
        SinkSpec("out", "parquet", Config.of("bucket_by" -> Seq("l_orderkey"),
          "num_buckets" -> 8, "table" -> "bkt_sink_li", "path" -> s"$dir/li")))
      SinkWriter.write(sf("orders").select("o_orderkey", "o_totalprice"),
        SinkSpec("out", "parquet", Config.of("bucket_by" -> Seq("o_orderkey"),
          "num_buckets" -> 8, "table" -> "bkt_sink_ord", "path" -> s"$dir/ord")))
      val joined = spark.table("bkt_sink_li")
        .join(spark.table("bkt_sink_ord"), col("l_orderkey") === col("o_orderkey"))
      assert(!joined.queryExecution.sparkPlan.toString.contains("Exchange"))
      assert(joined.count() == sf("lineitem").count())
      // misconfigurations die at analysis
      intercept[graft.GraftAnalysisException] {
        SinkWriter.write(sf("orders"), SinkSpec("out", "parquet",
          Config.of("bucket_by" -> Seq("o_orderkey"), "table" -> "t2"))) // no num_buckets
      }
      intercept[graft.GraftAnalysisException] {
        SinkWriter.write(sf("orders"), SinkSpec("out", "parquet",
          Config.of("bucket_by" -> Seq("o_orderkey"), "num_buckets" -> 8,
            "table" -> "t3", "cluster_by" -> Seq("o_totalprice"))))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_sink_li")
      spark.sql("DROP TABLE IF EXISTS bkt_sink_ord")
    }
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = Files.createTempDirectory("graftpart").toString
    sf("lineitem").write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).where(col("l_returnflag") === "A")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("l_returnflag"),
      s"expected partition pruning in:\n$scan")
    val expected = sf("lineitem").where(col("l_returnflag") === "A").count()
    assert(pruned.count() == expected)
  }

  test("range-clustered layout: per-file key ranges are disjoint and sorted") {
    val dir = Files.createTempDirectory("graftlayout").resolve("li").toString
    graft.ops.Layout.writeRangeClustered(sf("lineitem"), dir, Seq("l_shipdate"), numFiles = 6)
    val ranges = graft.ops.Layout.fileKeyRanges(spark, dir, "l_shipdate")
      .orderBy("min_key").collect()
    assert(ranges.length > 1, "expected multiple clustered files")
    // the pruning contract: no two files overlap on the clustered key
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(!a.getAs[java.time.LocalDateTime]("max_key")
          .isAfter(b.getAs[java.time.LocalDateTime]("min_key")),
        s"overlapping file ranges: ${a} vs ${b}")
    }
    assert(ranges.map(_.getAs[Long]("rows")).sum == sf("lineitem").count())
    // relayout preserves content
    val back = spark.read.parquet(dir)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(expr("bit_xor(xxhash64(l_orderkey, l_linenumber))")).head().getLong(0)
    assert(digest(back) == digest(sf("lineitem")))
  }

  test("filter + projection push into the parquet scan") {
    val df = sf("lineitem").where(col("l_quantity") > 24)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity,24"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection not pruned:\n$scan")
  }

  test("small dimension join plans as broadcast hash join") {
    val joined = sf("orders").join(broadcast(sf("customer")),
      col("o_custkey") === col("c_custkey"))
    assert(joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
  }

  test("ANN rankers rank via bounded-heap aggregate — no per-query window sort") {
    import graft.ops.Similarity
    val e = sf("embeddings")
    val q = e.where(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
    val lsh = Similarity.lshTopK(q, e, "vec_id", "vec_id", "embedding",
      k = 5, dim = 64, planes = 4)
    val ivf = Similarity.IvfIndex.build(e, "vec_id", "embedding", dim = 64, nlist = 4)
      .search(q, "vec_id", "embedding", k = 5, nprobe = 2)
    for ((name, df) <- Seq(("bruteForce", bf), ("lsh", lsh), ("ivf", ivf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name: per-query window sort back in the plan:\n$plan")
    }
    // brute force is exact: every query gets exactly k ranked neighbors
    assert(bf.count() == 3 * 5)
    assert(bf.groupBy("query_id").count().select(max("count")).as[Long].head() == 5)
  }

  test("contamination plan: banded bipartite join, never a cross join") {
    val l = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    val r = Seq((3L, "a b c d e x"), (4L, "unrelated text entirely here")).toDF("doc_id", "text")
    val plan = graft.ops.Dedup.minhashContamination(l, r, "doc_id", "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "contamination must never cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "contamination must never nested-loop")
  }

  test("IVF×PQ probe prunes unprobed cells' files on a persisted index") {
    val rnd = new scala.util.Random(23)
    val corpus = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat))).toDF("vec_id", "embedding")
    val ix = graft.ops.Pq.IvfPq.build(corpus, "vec_id", "embedding", dim = 8,
      nlist = 8, m = 2, ksub = 8, residual = true)
    val dir = Files.createTempDirectory("graftivfpqprune").toString + "/index"
    graft.ops.Pq.IvfPq.save(ix, dir)
    val loaded = graft.ops.Pq.IvfPq.load(spark, dir)
    val q = corpus.where(col("vec_id") < 2)
    val result = graft.ops.Pq.IvfPq.search(loaded, q, "vec_id", "embedding", k = 3, nprobe = 2)
    // the probed-cell IN filter must reach the partitioned scan as a
    // PartitionFilter — at 100 TB that's the difference between
    // reading nprobe cells' files and reading the whole index
    val scan = result.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"probe filter did not reach the scan as a partition filter:\n$scan")
    assert(result.count() > 0)
    // and pruning must not change the answer vs the in-memory index
    val mem = graft.ops.Pq.IvfPq.search(ix, q, "vec_id", "embedding", k = 3, nprobe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    val prn = result.as[(Long, Long, Double, Long)].collect().toSet
    assert(mem == prn)
  }

  test("fanOut sizes from file metadata, not RDD materialization") {
    import graft.ops.Partitioning
    // file-backed scan: estimate agrees with Spark's actual planning
    val docs = sf("documents")
    val est = Partitioning.estimatedScanSplits(docs)
    assert(est.isDefined)
    assert(est.get == docs.rdd.getNumPartitions,
      s"estimate ${est.get} != planned ${docs.rdd.getNumPartitions}")
    // small compressed scan fans out to the session parallelism
    val fanned = Partitioning.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // inline data has no file index: fanOut must be the identity
    val inline = Seq(1, 2, 3).toDF("x")
    assert(Partitioning.estimatedScanSplits(inline).isEmpty)
    assert(Partitioning.fanOut(inline) eq inline)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // 90% of fact rows share one key: the classic skew that strands one
    // reducer with the whole table. Manual salting (q_join_salted) is
    // the always-available fix; this pins the OTHER lever the scale
    // story relies on — AQE re-planning the skewed partition into
    // splits at runtime, no query rewrite.
    val dir = Files.createTempDirectory("graftskew").toString
    // payload must be incompressible and survive column pruning, or the
    // skewed partition's compressed shuffle bytes never cross the
    // detection threshold
    val payload = sha2(concat(lit("s"), col("id")), 256)
    spark.range(100000)
      .select(when(col("id") < 90000, lit(0L)).otherwise(col("id") % 100).as("key"),
        payload.as("payload"))
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(10000).select((col("id") % 100).as("key"), payload.as("p2"))
      .write.mode("overwrite").parquet(s"$dir/other")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/other"), "key")
      // execute and inspect the SAME QueryExecution: count() would plan
      // a fresh one and leave this plan isFinalPlan=false
      val agg = joined.groupBy().agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).as("pl"), sum(length(col("p2"))).as("pl2"))
      assert(agg.collect().head.getLong(0) == 90000L * 100 + 10000 * 100)
      // AQE's final physical plan marks the rewritten join skew=true
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the skewed partition:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join returns exactly the unsalted result") {
    import graft.spec.Config
    import graft.transforms.JoinOp
    val plain = JoinOp(sf("orders"), sf("customer"), Config.of(
      "left_key" -> "o_custkey", "right_key" -> "c_custkey"))
    val salted = JoinOp(sf("orders"), sf("customer"), Config.of(
      "left_key" -> "o_custkey", "right_key" -> "c_custkey", "salt" -> 4))
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }
}
