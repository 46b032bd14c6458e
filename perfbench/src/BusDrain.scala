package org.apache.spark

/** Listener events reach listeners asynchronously; the tracer waits for the
  * bus to empty before it attributes jobs and tasks to operations. The wait
  * is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
