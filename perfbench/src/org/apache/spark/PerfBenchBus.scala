package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so counters read at a
  * layer boundary include all the work done before it. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
