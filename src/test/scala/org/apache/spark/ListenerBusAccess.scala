package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * specs that count jobs with a SparkListener wait here until every event
  * posted so far has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
