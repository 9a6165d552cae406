package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far, so
 *  that counts read right after an action are complete. The bus is
 *  private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
