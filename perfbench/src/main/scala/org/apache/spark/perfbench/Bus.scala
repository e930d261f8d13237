package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one private Spark hook the benchmark needs: block until every
  * posted listener event has been delivered, so the tracer's buffers
  * are complete before they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
