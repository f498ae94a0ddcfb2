package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the listener bus, which is `private[spark]`: the benchmark
  * reads its listeners' aggregates only after every event of the
  * measured pass has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
