package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct}

/** The two Spark internals the traced run needs, behind one bridge: both are
  * package-private to Spark. */
object PerfbenchBridge {

  /** Blocks until every event posted so far has reached the listeners, so a
    * traced op's task metrics are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Rows out of the topmost de-duplication in `df`'s plan — for a staged
    * pair table, the distinct candidate pairs fed to verification. Runs a
    * job; None when the plan has no such node. */
  def distinctRows(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectFirst {
      case d: Deduplicate => d
      case d: Distinct => d
    }.map(p => classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], p).count())
}
