package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-scope count of the Spark jobs a block starts. The listener bus
  * (package-private) is drained before the listener is added and before
  * the count is read, so no earlier job counts and no late event is lost. */
object JobProbe {
  def jobsStarted(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
