package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduled-work counters read from outside the program: one listener
  * registered by the benchmark (traced runs only). Counters are cumulative;
  * callers take a [[Probe.Snap]] before and after a call and diff them.
  * Events arrive asynchronously, so [[snap]] drains the listener bus first. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val bytesRead = new AtomicLong
  private val recordsRead = new AtomicLong
  private val bytesWritten = new AtomicLong
  // per-stage task durations -> skew ratio (max / median task time)
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSkew = mutable.Map.empty[Int, Double]

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    stages.addAndGet(j.stageInfos.size)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
    taskMs.synchronized {
      taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
        t.taskInfo.duration
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    taskMs.synchronized {
      taskMs.remove(s.stageInfo.stageId).filter(_.nonEmpty).foreach { ds =>
        val sorted = ds.sorted
        stageSkew(s.stageInfo.stageId) =
          sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }
    }

  def snap(): Probe.Snap = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    Probe.Snap(jobs.get, stages.get, cpuNs.get, shuffleBytes.get,
      spillBytes.get, bytesRead.get, recordsRead.get, bytesWritten.get)
  }

  /** Highest stage id completed so far; pass to [[skewAfter]]. */
  def stageMark(): Int = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    taskMs.synchronized(stageSkew.keySet.maxOption.getOrElse(-1))
  }

  /** Largest per-stage skew among stages completed after `mark`. */
  def skewAfter(mark: Int): Double = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    taskMs.synchronized {
      stageSkew.collect { case (id, v) if id > mark => v }
        .maxOption.getOrElse(1.0)
    }
  }
}

object Probe {
  final case class Snap(jobs: Long, stages: Long, cpuNs: Long,
                        shuffleBytes: Long, spillBytes: Long, bytesRead: Long,
                        recordsRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
      spillBytes - o.spillBytes, bytesRead - o.bytesRead,
      recordsRead - o.recordsRead, bytesWritten - o.bytesWritten)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages,
      cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, bytesRead + o.bytesRead,
      recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0)
}
