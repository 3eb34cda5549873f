package org.apache.spark

import org.apache.spark.status.api.v1.StageStatus

/** Test bridge to the `private[spark]` status store: how many finished
  * jobs and stages it still keeps. */
object StatusStoreAccess {
  def finishedJobs(sc: SparkContext): Int =
    sc.statusStore.jobsList(null).count(j =>
      j.status != JobExecutionStatus.RUNNING && j.status != JobExecutionStatus.UNKNOWN)

  def finishedStages(sc: SparkContext): Int =
    sc.statusStore.stageList(null).count(s =>
      s.status != StageStatus.ACTIVE && s.status != StageStatus.PENDING)
}
