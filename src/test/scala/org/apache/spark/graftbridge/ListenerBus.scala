package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * The bus is `private[spark]` in Spark 4; specs that count or act on
  * jobs through a listener use it to read a settled count.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
