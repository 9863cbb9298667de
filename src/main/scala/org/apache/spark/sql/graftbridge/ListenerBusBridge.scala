package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Listener-bus flush. Spark delivers listener events asynchronously and
  * keeps `SparkContext.listenerBus` `private[spark]`; like [[ColumnBridge]],
  * this shim sits in the `org.apache.spark` package tree to reach it, so
  * `graft.Inspect` reads its job and plan listeners only once every event
  * posted so far has arrived, instead of sleeping and hoping.
  */
object ListenerBusBridge {

  /** Block until every listener event posted so far has been delivered;
    * throws if the bus is still busy after 60 s. */
  def flush(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
