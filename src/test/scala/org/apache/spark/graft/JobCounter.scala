package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Listener delivery is
  * asynchronous, so the bus is drained before the listener attaches and
  * again before the count is read (`listenerBus` is `private[spark]`,
  * hence this package). Suites in one JVM run sequentially, so no other
  * test's jobs interleave. */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
