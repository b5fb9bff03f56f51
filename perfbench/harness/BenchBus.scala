package org.apache.spark

import org.apache.spark.util.AccumulatorContext

/** Package-private hooks the tracer needs: draining the listener bus at
  * each operation boundary (so every event lands on the operation that
  * caused it) and naming the accumulators of driver-side metric updates.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def accumName(id: Long): Option[String] =
    AccumulatorContext.get(id).flatMap(_.name)
}
