package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Totals of the Spark work done between two snapshots. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, gcMs: Long = 0,
                        shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                        spillBytes: Long = 0, inputBytes: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes, inputBytes - o.inputBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, runMs + o.runMs,
    gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes)
}

/** The benchmark's own SparkListener: job and task counts, task metrics
  * and task run intervals. Registered only for the traced run. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, runMs, gcMs, shW, shR, spill, input = new AtomicLong(0)
  // (launch, finish) wall-clock ms of every finished task
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  /** Totals so far, after every event already posted has been delivered. */
  def snapshot(): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counts(jobs.get, tasks.get, runMs.get, gcMs.get, shW.get, shR.get, spill.get, input.get)
  }

  /** Totals of the work `body` caused. */
  def measure[T](body: => T): (T, Counts) = {
    val before = snapshot()
    val out = body
    (out, snapshot() - before)
  }

  /** Milliseconds of the wall-clock window [fromMs, toMs) during which no
    * task was running: driver-side planning, scheduling and result
    * handling. */
  def idleMs(fromMs: Long, toMs: Long): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val busy = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
    (toMs - fromMs - SelfTime.unionLength(busy)).toDouble
  }
}

object SparkCounters {
  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters(sc)
    sc.addSparkListener(c)
    c
  }
}
