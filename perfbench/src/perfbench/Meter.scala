package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-side counters of one op, summed over every job, stage and task
  * the op caused. Written by the listener thread, read by the benchmark
  * thread only after the bus is drained. */
final class Counters {
  var jobs, constructJobs, stages, tasks = 0L
  var schedWaitMs, taskRunMs, taskCpuNs, taskGcMs = 0L
  var scanBytes, scanRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleFetchWaitMs = 0L
  var spillBytes, outputBytes = 0L
}

/** Attributes Spark's job, stage and task events to the op in flight.
  *
  * The benchmark runs one op at a time and drains the listener bus at
  * every phase boundary, so an event belongs to the op and phase that were
  * current when it was delivered: attribution by time window, exact with
  * one client. */
final class Meter extends SparkListener {
  @volatile private var cur = new Counters
  @volatile private var phase = ""
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  /** Starts counting for a new op; returns its (empty) counters. */
  def begin(): Counters = synchronized { cur = new Counters; cur }
  def enter(p: String): Unit = phase = p

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    if (phase == "construct") cur.constructJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      cur.stages += 1
      stageSubmitted.remove(e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    stageSubmitted.get(e.stageId).foreach { s =>
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
