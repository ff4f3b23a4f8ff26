package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites: the product session from
  * [[GraftSession.local]] (one JVM-wide session via getOrCreate; lazy so
  * pure-JVM suites never start Spark). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf(name: String) = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}
