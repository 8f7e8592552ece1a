package graft.obs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan capture: every action's plan, including the eager
  * per-round checkpoint and count actions inside iterative operators
  * that `explain` on the returned frame never shows. */
object Plans {
  /** (action name, formatted executed plan) of every successful action
    * `body` runs, in completion order; the listener bus is drained
    * before the capture is read. */
  def capture(spark: SparkSession)(body: => Unit): Seq[(String, String)] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.synchronized {
        plans += funcName -> (
          try qe.explainString(ExplainMode.fromString("formatted"))
          catch { case scala.util.control.NonFatal(e) => s"<explain failed: $e>" })
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(l)
    plans.synchronized(plans.toList)
  }
}
