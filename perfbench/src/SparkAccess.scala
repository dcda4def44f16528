package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The few Spark internals a traced run needs: the job-group property key,
  * whether a stage writes shuffle output, and a way to wait until the
  * listener has seen every event of the job that just finished. */
object SparkAccess {
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
