package perfbench

import org.apache.spark.scheduler._

/** Task and stage totals of the Spark engine underneath graft, from the listener bus
  * (one bus thread writes; the harness reads after draining the bus). */
final class EngineListener extends SparkListener {
  @volatile var jobs, stages, tasks, failedTasks = 0L
  @volatile var cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  @volatile var inputBytes, inputRows, outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes)
}
