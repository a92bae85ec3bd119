package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * after it returns, every event posted so far has reached the listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
