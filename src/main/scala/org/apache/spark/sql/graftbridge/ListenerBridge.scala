package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events are delivered async; counting jobs right after an
  * action races the bus. This shim reaches the `private[spark]` bus drain
  * so job counts (Bench's njobs/nactions, spec job-count asserts) are
  * read only once every posted event has been delivered. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
