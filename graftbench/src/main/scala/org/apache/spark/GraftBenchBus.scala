package org.apache.spark

/** Listener events are delivered asynchronously; a traced boundary reads
  * the engine counters only after every event posted so far has been
  * handled, so an operation's counters are its own. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
