package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The plans of the `localCheckpoint`s a body takes. A consumer's own plan
  * shows a checkpoint as a `Scan ExistingRDD`; the windows and exchanges
  * that ran inside it are in the query execution of the `localCheckpoint`
  * action, which this records in the order the checkpoints were taken. */
object CheckpointPlans {
  def during[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      GraftListenerBus.drain(spark.sparkContext)
      (a, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
