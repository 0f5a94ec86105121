package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: listeners receive job and query events
  * asynchronously, so a test that counts them waits for the bus first. */
object ListenerBusAccess {

  /** Block until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
