package fleetbench

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine-wide counters from Spark's own task metrics, read as deltas
  * around a measured phase. */
final class SparkMetrics extends SparkListener {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val gcMs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val recordsRead = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsRead.add(m.inputMetrics.recordsRead)
    }
  }

  /** Listener events arrive asynchronously: wait for the bus to drain
    * before reading so a phase's tasks are all counted. */
  def snap(sc: SparkContext): SparkMetrics.Snap = {
    SparkMetrics.drain(sc)
    SparkMetrics.Snap(jobs.sum, tasks.sum, runMs.sum, gcMs.sum, shuffleWriteBytes.sum,
      spillBytes.sum, recordsRead.sum)
  }
}

object SparkMetrics {
  final case class Snap(jobs: Long, tasks: Long, runMs: Long, gcMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, recordsRead: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
      gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
      spillBytes - o.spillBytes, recordsRead - o.recordsRead)
  }

  def drain(sc: SparkContext): Unit = {
    // the listener bus is private[spark]; reach it reflectively so the
    // counters include every event posted before this call
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }
  }

  /** MB held by cached or checkpointed blocks right now. */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
