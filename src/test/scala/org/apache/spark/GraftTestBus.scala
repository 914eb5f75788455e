package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * a listener counting jobs reads a complete count only after the bus
  * has delivered every event posted so far. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
