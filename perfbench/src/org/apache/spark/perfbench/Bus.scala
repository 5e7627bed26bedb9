package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; per-operation engine
  * counts are read only after every event an operation posted has been
  * handled. `waitUntilEmpty` is package-private to Spark, hence this
  * file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
