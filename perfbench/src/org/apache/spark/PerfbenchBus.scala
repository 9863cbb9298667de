package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so job, stage and
  * progress records are complete before metrics are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
