package graft

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites: the product session from
  * [[GraftSession.local]] (one JVM-wide session via getOrCreate; lazy so
  * pure-JVM suites never start Spark). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf(name: String) = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")

  /** The Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }
}
