package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The shuffle a map stage writes, which Spark keeps `private[spark]` on
  * StageInfo. A shuffle read by several jobs gets a new (skipped) stage id
  * in each, so specs that count the jobs reading one shuffle match stages
  * by this id. */
object StageShuffle {
  def apply(s: StageInfo): Option[Int] = s.shuffleDepId
}
