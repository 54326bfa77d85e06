package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Benchmark-owned SparkListener: sums task metrics per phase. A phase is
  * the value of the [[TaskTap.PhaseKey]] local property on the thread that
  * submitted the job (streaming query threads inherit it from the thread
  * that started the query).
  */
final class TaskTap extends SparkListener {
  import TaskTap.Totals

  private val stagePhase = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(TaskTap.PhaseKey))).foreach { phase =>
      totals.getOrElseUpdate(phase, new Totals).jobs += 1
      e.stageIds.foreach(stagePhase(_) = phase)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (phase <- stagePhase.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(phase, new Totals)
      t.tasks += 1
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outputRecords += m.outputMetrics.recordsWritten
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.runMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Totals of one phase, after every queued event has been delivered. */
  def totalsOf(sc: SparkContext, phase: String): Totals = {
    org.apache.spark.GraftSparkShims.waitForListeners(sc)
    synchronized(totals.getOrElse(phase, new Totals))
  }
}

object TaskTap {
  val PhaseKey = "perfbench.phase"

  final class Totals {
    var jobs, tasks = 0L
    var inputBytes = 0L
    var shuffleWriteBytes, shuffleWriteRecords, spillBytes = 0L
    var outputRecords = 0L
    var cpuNs, gcMs = 0L
    val runMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Slowest task over the median task, in the stage with the most
      * task run time: 1.0 means evenly spread work.
      */
    def taskSkew: Double =
      if (runMsByStage.isEmpty) 0.0
      else {
        val busiest = runMsByStage.values.maxBy(_.sum)
        val sorted = busiest.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med <= 0) 0.0 else sorted.last / med
      }
  }

  /** Run `body` with every job it submits attributed to `phase`. */
  def inPhase[T](sc: SparkContext, phase: String)(body: => T): T = {
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, phase)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }
}
