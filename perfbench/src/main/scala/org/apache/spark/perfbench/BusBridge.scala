package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus` is private to Spark; this lives in Spark's package so
  * the harness can wait for listener events instead of sleeping. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
