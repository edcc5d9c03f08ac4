package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer waits for
  * it to empty before it detaches its listeners, so that no event of a
  * traced query is lost. `waitUntilEmpty` is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
