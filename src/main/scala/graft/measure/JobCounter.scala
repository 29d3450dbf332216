package graft.measure

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Scheduling shape of some work: Spark jobs, completed stages, their
  * tasks, and the bytes those stages read, shuffled and spilled. */
final case class JobCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    inputBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0)

/** Listener accumulating [[JobCounts]] while registered. The bus is
  * asynchronous, so [[take]] drains it first: the counts then include
  * every event of work that has returned, and nothing races a sleep. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private var c = JobCounts()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = Option(e.stageInfo.taskMetrics)
    c = c.copy(stages = c.stages + 1, tasks = c.tasks + e.stageInfo.numTasks,
      inputBytes = c.inputBytes + m.fold(0L)(_.inputMetrics.bytesRead),
      shuffleReadBytes = c.shuffleReadBytes + m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      shuffleWriteBytes = c.shuffleWriteBytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      spillBytes = c.spillBytes + m.fold(0L)(_.diskBytesSpilled))
  }

  /** Counts since registration or the previous `take`, then resets. */
  def take(): JobCounts = {
    GraftBridge.drainListenerBus(spark)
    synchronized { val r = c; c = JobCounts(); r }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
