package org.apache.spark

/** Package-private Spark internals the traced run reads. */
object PerfbenchBridge {
  /** The listener bus delivers events asynchronously; the traced run
    * drains it at each request boundary so every job and task event of a
    * request is recorded before the next request starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a shuffle-map stage) rather
    * than returning results to the driver or writing files. */
  def isShuffleMapStage(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
