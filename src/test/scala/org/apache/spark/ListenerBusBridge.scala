package org.apache.spark

/** Test access to the listener bus's drain: `SparkListener` events are
  * delivered asynchronously, so counting the jobs a block started needs the
  * bus emptied before and after it.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
