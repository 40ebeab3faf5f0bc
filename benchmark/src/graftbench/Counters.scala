package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counters: jobs, stages and tasks run, shuffle bytes read
  * and written, and bytes spilled. Read with [[snapshot]], which first
  * drains the asynchronous listener bus so the counts are exact: the
  * same work always reads the same numbers. Snapshots belong outside the
  * timed region. */
final class Counters(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Counters.Snap = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    Counters.Snap(jobs.get, stages.get, tasks.get, shuffleRead.get + shuffleWrite.get, spill.get)
  }
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap =
      Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
        shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
    def +(o: Snap): Snap =
      Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
        shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0)
}
