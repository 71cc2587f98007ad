package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Test helper: counts the Spark jobs (or, [[sqlExecutions]], the SQL
  * executions) a block of code starts. Lives under `org.apache.spark` to
  * drain the (private) listener bus, so the count is exact rather than
  * racing the asynchronous event delivery. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) =
    counting(spark, _.isInstanceOf[SparkListenerJobStart])(body)

  def sqlExecutions[T](spark: SparkSession)(body: => T): (T, Int) =
    counting(spark, _.isInstanceOf[SparkListenerSQLExecutionStart])(body)

  private def counting[T](spark: SparkSession, counted: SparkListenerEvent => Boolean)(
      body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e)) n.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (counted(e)) n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
