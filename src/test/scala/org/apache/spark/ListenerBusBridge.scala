package org.apache.spark

/** Package-private Spark internals the job-count specs read. */
object ListenerBusBridge {
  /** The listener bus delivers events asynchronously: drain it so every
    * event of the jobs already run has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
