package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Listener accumulation for Bench: shuffle bytes written and spill
  * across all tasks, and the summed wall time of completed stages, since
  * the last [[reset]]. Listener events are asynchronous; [[settle]] polls
  * until the counters stop moving, which is accurate enough for
  * per-query attribution in a single-JVM bench (queries run strictly
  * sequentially). */
class BenchMetrics extends SparkListener {
  private val shuffleWrite = new LongAdder
  private val spill = new LongAdder
  private val stageWallMs = new LongAdder

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    for (a <- sc.stageInfo.completionTime; b <- sc.stageInfo.submissionTime)
      stageWallMs.add(a - b)

  def reset(): Unit = { shuffleWrite.reset(); spill.reset(); stageWallMs.reset() }

  private def read(): (Long, Long, Long) =
    (shuffleWrite.sum(), spill.sum(), stageWallMs.sum())

  /** Wait for the async listener bus to quiesce (counters unchanged for
    * two consecutive polls), then return (shuffleBytes, spillBytes,
    * stageWallMs). */
  def settle(): (Long, Long, Long) = {
    var prev = (-1L, -1L, -1L)
    var cur = read()
    var i = 0
    while (cur != prev && i < 50) {
      prev = cur
      Thread.sleep(50)
      cur = read()
      i += 1
    }
    cur
  }
}
