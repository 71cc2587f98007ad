package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test helper: counts the Spark jobs a block of code starts. Lives under
  * `org.apache.spark` to drain the (private) listener bus, so the count
  * is exact rather than racing the asynchronous event delivery. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
