package org.apache.spark.scheduler

import org.apache.spark.executor.ExecutorMetrics
import org.apache.spark.{Success, TaskState}

/** Synthetic listener events for ProgressListenerSpec — lives in the
  * scheduler package because `TaskInfo.markFinished` (which sets the
  * `successful` flag) is `private[spark]`. Test sources only.
  */
object TestTaskEvents {

  /** Block until every posted listener event has been delivered (the bus
    * is asynchronous; `waitUntilEmpty` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def stageSubmitted(stageId: Int, numTasks: Int): SparkListenerStageSubmitted = {
    val info = new StageInfo(
      stageId, 0, s"stage$stageId", numTasks, Seq.empty, Seq.empty, "details",
      null, Seq.empty, None, 0, false, 0)
    SparkListenerStageSubmitted(info)
  }

  /** A successful task-end for (stage, task index) — `attempt > 0` models a
    * speculative duplicate or stage-retry re-run of the same index.
    */
  def successfulTaskEnd(stageId: Int, index: Int, attempt: Int = 0): SparkListenerTaskEnd = {
    val info = new TaskInfo(
      taskId = stageId * 1000L + index * 10L + attempt, index = index,
      attemptNumber = attempt, partitionId = index, launchTime = 0L,
      executorId = s"exec-${attempt % 2}", host = "localhost",
      taskLocality = TaskLocality.ANY, speculative = attempt > 0)
    info.markFinished(TaskState.FINISHED, 1L)
    SparkListenerTaskEnd(
      stageId, stageAttemptId = 0, taskType = "ResultTask", reason = Success,
      taskInfo = info, taskExecutorMetrics = new ExecutorMetrics(), taskMetrics = null)
  }
}
