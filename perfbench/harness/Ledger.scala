package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counts what the Spark scheduler and executors did, from listener
  * events only. Registered in traced runs; read as a snapshot
  * difference over a span of work. */
final class Ledger extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskCpuNs = 0L
  @volatile var taskGcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  private val durations = scala.collection.mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  final case class Snap(jobs: Long, stages: Long, tasks: Long,
                        taskCpuNs: Long, taskGcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, nDurations: Int)

  def snap(): Snap = synchronized {
    Snap(jobs, stages, tasks, taskCpuNs, taskGcMs, shuffleWriteBytes,
      shuffleReadBytes, spillBytes, durations.length)
  }

  /** Task durations (ms) recorded after snapshot `from`. */
  def durationsSince(from: Snap): Seq[Long] =
    synchronized(durations.drop(from.nDurations).toList)

  /** Listener delivery is asynchronous: wait until the counters stop
    * moving (at most `maxMs`) before a snapshot is read. */
  def settle(maxMs: Long = 2000L): Snap = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = snap()
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      System.currentTimeMillis() - stableSince < 150L) {
      Thread.sleep(25L)
      val now = snap()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
    last
  }
}

object Ledger {
  /** Bytes held by cached RDD blocks (memory plus disk). */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
