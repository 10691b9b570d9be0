package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer needs. They live under
  * `org.apache.spark` because Spark marks them package-private. */
object SqlEvents {

  /** Analysis + optimization + physical-planning time of the query an
    * execution ran, from its planning tracker (0 when Spark did not
    * attach the query to the event). */
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
      .getOrElse(0.0)

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
