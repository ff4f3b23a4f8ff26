package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

/** Session-isolation bridge. `cloneSession` and `Dataset.ofRows` are
  * `private[sql]` in Spark 4's classic backend, so — like
  * [[ColumnBridge]] — a library that needs a per-query conf override
  * without mutating the caller's shared session exposes them from
  * inside the sql package namespace.
  */
object SessionBridge {

  /** Rebind `df`'s logical plan to a clone of its session with the
    * given conf overrides applied. The clone shares the SparkContext,
    * catalog state, and temp views but has an independent RuntimeConfig,
    * so the overrides are invisible to every other user of the original
    * session — no set/restore window for a concurrent caller to observe.
    */
  def withConfOverrides(df: DataFrame, overrides: Map[String, String]): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => session.conf.set(k, v) }
    classic.Dataset.ofRows(session, df.queryExecution.logical)
  }

  /** Re-register `source`'s (analyzed) plan as temp view `name` in
    * `target`'s catalog. Needed because a temp view created in a
    * cloned session (e.g. a memory sink's output table) is invisible
    * to the original session — the clone copies catalog state at
    * clone time, it doesn't share it. The mirrored plan reads the
    * same live backing relation (a memory sink's plan reads the sink
    * at execution time, not a snapshot).
    */
  def mirrorTempView(target: org.apache.spark.sql.SparkSession,
      source: DataFrame, name: String): Unit =
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession],
      source.queryExecution.analyzed).createOrReplaceTempView(name)

  /** A DataFrame over an already-built logical plan — for callers that
    * rewrite a DataFrame's analyzed plan (the compiler's stage
    * observations) rather than extend it through the Dataset API. */
  def ofPlan(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
}
