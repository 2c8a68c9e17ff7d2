package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.status.api.v1.StageStatus

/** Read access to Spark's own status store and listener bus.
  *
  * Both are `private[spark]`, hence this package. The status store is fed
  * by the listener Spark always registers, so reading it adds nothing to
  * the measured run: the untimed reads below are the only cost.
  */
object StatusStore {

  /** Task totals over a set of executed stages. */
  final case class Totals(
      jobs: Int,
      stages: Int,
      tasks: Long,
      cpuNs: Long,
      runMs: Long,
      gcMs: Long,
      shuffleWriteBytes: Long,
      shuffleReadBytes: Long,
      spillBytes: Long,
      inputBytes: Long,
      inputRecords: Long)

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The highest job id seen so far, or -1. */
  def lastJobId(sc: SparkContext): Int = {
    drain(sc)
    sc.statusStore.jobsList(null).map(_.jobId).maxOption.getOrElse(-1)
  }

  /** Totals over the jobs with an id above `afterJob`, counting each
    * executed stage attempt once. Skipped stages ran no tasks.
    */
  def totalsAfter(sc: SparkContext, afterJob: Int): Totals = {
    drain(sc)
    val jobs = sc.statusStore.jobsList(null).filter(_.jobId > afterJob)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val stages = sc.statusStore.stageList(null).filter(s =>
      stageIds.contains(s.stageId) &&
        (s.status == StageStatus.COMPLETE || s.status == StageStatus.FAILED))
    Totals(
      jobs = jobs.size,
      stages = stages.size,
      tasks = stages.map(_.numCompleteTasks.toLong).sum,
      cpuNs = stages.map(_.executorCpuTime).sum,
      runMs = stages.map(_.executorRunTime).sum,
      gcMs = stages.map(_.jvmGcTime).sum,
      shuffleWriteBytes = stages.map(_.shuffleWriteBytes).sum,
      shuffleReadBytes = stages.map(_.shuffleReadBytes).sum,
      spillBytes = stages.map(s => s.memoryBytesSpilled + s.diskBytesSpilled).sum,
      inputBytes = stages.map(_.inputBytes).sum,
      inputRecords = stages.map(_.inputRecords).sum)
  }

  /** Bytes held by persisted RDDs, in memory and on disk. */
  def cachedBytes(sc: SparkContext): Long = {
    drain(sc)
    sc.statusStore.rddList(true).map(r => r.memoryUsed + r.diskUsed).sum
  }
}
