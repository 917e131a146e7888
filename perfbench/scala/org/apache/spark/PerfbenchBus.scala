package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until the listener
  * bus has delivered every event posted so far, so per-operation scheduler
  * counts are read after the operation's last task-end event instead of
  * after a guessed sleep. `listenerBus` is `private[spark]`, hence the
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
