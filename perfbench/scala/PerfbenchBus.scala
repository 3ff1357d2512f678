package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads an operation's task tally only after every
  * event of that operation has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
