package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two private Spark members the benchmark reads, hence this file's
  * package. */
object SparkInternals {

  /** Waits until every event posted so far reached the listeners, so the
    * counters read after a call cover all of its jobs. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output. With adaptive execution a map
    * stage often runs as a job of its own, so the last stage of a job is
    * not necessarily a result stage. */
  def isShuffleMapStage(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
