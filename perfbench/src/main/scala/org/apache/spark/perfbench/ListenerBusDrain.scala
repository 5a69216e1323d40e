package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached its listeners, so the
  * tracer can attribute Spark's asynchronous listener events to the op that
  * caused them. The bus is Spark-internal, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
