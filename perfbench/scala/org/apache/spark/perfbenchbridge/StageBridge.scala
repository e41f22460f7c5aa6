package org.apache.spark.perfbenchbridge

import org.apache.spark.scheduler.StageInfo

/** Bridge to the `private[spark]` shuffle id of a stage: a stage that
  * writes shuffle output is a map stage, and a job whose final stage is
  * one is a map-stage job (how adaptive execution runs query stages). */
object StageBridge {
  def isShuffleMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
