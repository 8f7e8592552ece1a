package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two `private[spark]` reads the benchmark's listeners need, bridged
  * from Spark's own package. */
object GraftBenchBridge {
  /** Wait until the listener bus has delivered every queued event, so a
    * read right after an action sees all of that action's events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's QueryExecution (planning phases, write
    * metrics); null when the event did not come from this process. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
