package org.apache.spark.perfbench

import java.util.Properties

import org.apache.spark.Success
import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._

/** Builds scheduler events for a fleet that never ran on this JVM. The
  * metric setters are package-private to Spark, which is why this one
  * file lives under `org.apache.spark`.
  */
object SyntheticEvents {

  final case class TaskValues(
      inputBytes: Long, inputRecords: Long, runTimeMs: Long, cpuNs: Long,
      peakMemory: Long, outputRecords: Long, outputBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long)

  def applicationStart(appName: String, appId: String, timeMs: Long)
      : SparkListenerApplicationStart =
    SparkListenerApplicationStart(appName, Some(appId), timeMs, "bench",
      None, None, None)

  def applicationEnd(timeMs: Long): SparkListenerApplicationEnd =
    SparkListenerApplicationEnd(timeMs)

  private def stageInfo(stageId: Int, numTasks: Int): StageInfo =
    new StageInfo(stageId, 0, s"stage $stageId", numTasks, Seq.empty,
      Seq.empty, "", null, Seq.empty, None, 0, false, 0)

  def jobStart(jobId: Int, timeMs: Long, stages: Seq[(Int, Int)])
      : SparkListenerJobStart =
    SparkListenerJobStart(jobId, timeMs,
      stages.map { case (id, n) => stageInfo(id, n) }, new Properties())

  def jobEnd(jobId: Int, timeMs: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(jobId, timeMs, JobSucceeded)

  def stageCompleted(stageId: Int, numTasks: Int): SparkListenerStageCompleted =
    SparkListenerStageCompleted(stageInfo(stageId, numTasks))

  def taskEnd(stageId: Int, taskId: Long, index: Int, attempt: Int,
      executorId: String, launchMs: Long, v: TaskValues): SparkListenerTaskEnd = {
    val info = new TaskInfo(taskId, index, attempt, index, launchMs,
      executorId, s"host-$executorId", TaskLocality.PROCESS_LOCAL, false)
    val m = TaskMetrics.empty
    m.setExecutorRunTime(v.runTimeMs)
    m.setExecutorCpuTime(v.cpuNs)
    m.setPeakExecutionMemory(v.peakMemory)
    m.inputMetrics.incBytesRead(v.inputBytes)
    m.inputMetrics.incRecordsRead(v.inputRecords)
    m.outputMetrics.setBytesWritten(v.outputBytes)
    m.outputMetrics.setRecordsWritten(v.outputRecords)
    m.shuffleReadMetrics.incRemoteBytesRead(v.shuffleReadBytes)
    m.shuffleReadMetrics.incRecordsRead(v.shuffleReadRecords)
    m.shuffleWriteMetrics.incBytesWritten(v.shuffleWriteBytes)
    m.shuffleWriteMetrics.incRecordsWritten(v.shuffleWriteRecords)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info,
      new ExecutorMetrics(), m)
  }
}

/** Package-private Spark hooks the benchmark needs from outside. */
object Internals {
  /** Block until the listener bus has delivered every posted event. */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
