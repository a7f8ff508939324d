package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread. The traced run waits
  * for that queue to empty before it reads what the listeners counted,
  * so every event of an operation is charged to that operation.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
