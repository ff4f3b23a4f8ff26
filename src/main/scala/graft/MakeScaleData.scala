package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize the ≈sf1 scaling-probe dataset (BASELINE.md "Scaling
  * probe at ≈sf1"): N verbatim copies of every sf0.1 table with
  * FK-CONSISTENT id strides — copy k shifts every key of a given
  * entity by `k * stride(entity)`, with the same shift applied to the
  * foreign-key side, so joins land exactly as often as at sf0.1 and
  * the duplicated text/embedding content exercises the dedup paths'
  * documented 10×-duplicated-corpus case. The tiny dimension tables
  * (region, nation) are NOT replicated: their keys are referenced by
  * shifted fact rows modulo nothing — facts keep their original
  * nation/region keys, mirroring how a real 10× corpus still has 25
  * nations. Previously an ad-hoc snippet; a `main` here so the probe
  * is reproducible round over round.
  *
  * Usage: MakeScaleData [srcDir] [outDir] [copies]
  */
object MakeScaleData {
  // stride per replicated entity: a round power of ten comfortably
  // above the sf0.1 key range, so copies never collide
  private val Strides = Map(
    "custkey" -> 1000000L, "orderkey" -> 10000000L, "partkey" -> 1000000L,
    "suppkey" -> 100000L, "event_id" -> 10000000L, "user_id" -> 1000000L,
    "doc_id" -> 1000000L, "vec_id" -> 1000000L)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.local(cpus)

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** `copies` shifted replicas: each listed column gets += k*stride. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val k = explode(sequence(lit(0), lit(copies - 1))).as("copy_k")
      shifts.foldLeft(df.select(col("*"), k)) { case (d, (c, stride)) =>
        d.withColumn(c, (col(c) + col("copy_k") * stride).cast(df.schema(c).dataType))
      }.drop("copy_k")
    }

    val tables: Map[String, DataFrame] = Map(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> replicate(t("customer"), Map("c_custkey" -> Strides("custkey"))),
      "supplier" -> replicate(t("supplier"), Map("s_suppkey" -> Strides("suppkey"))),
      "part" -> replicate(t("part"), Map("p_partkey" -> Strides("partkey"))),
      "orders" -> replicate(t("orders"), Map(
        "o_orderkey" -> Strides("orderkey"), "o_custkey" -> Strides("custkey"))),
      "lineitem" -> replicate(t("lineitem"), Map(
        "l_orderkey" -> Strides("orderkey"), "l_partkey" -> Strides("partkey"),
        "l_suppkey" -> Strides("suppkey"))),
      "events" -> replicate(t("events"), Map(
        "event_id" -> Strides("event_id"), "user_id" -> Strides("user_id"))),
      "documents" -> replicate(t("documents"), Map("doc_id" -> Strides("doc_id"))),
      "embeddings" -> replicate(t("embeddings"), Map("vec_id" -> Strides("vec_id"))))

    tables.foreach { case (name, df) =>
      df.repartition(math.max(4, cpus))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[make-scale] $name -> $out/$name.parquet")
    }
    spark.stop()
  }
}
