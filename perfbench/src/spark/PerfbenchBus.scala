package org.apache.spark

/** The one Spark-internal the benchmark needs: block until every listener
  * event posted so far has been delivered, so per-span job/stage/task
  * attribution is complete before a span's numbers are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
