package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The scheduler and SQL facts the tracer needs that Spark keeps
  * package-private.
  */
object Internals {
  /** The listener bus delivers events asynchronously; the tracer drains
    * it before reading its counters so no stage of the measured window
    * is still in flight.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A result stage writes its job's output; a map stage feeds a shuffle. */
  def isResultStage(i: StageInfo): Boolean = i.shuffleDepId.isEmpty

  /** Analysis, optimization and planning seconds of the query an
    * execution ran — the same record QueryExecutionListeners receive.
    */
  def planSeconds(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum / 1e3).getOrElse(0.0)
}
