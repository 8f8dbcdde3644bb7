package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs, stages, tasks, shuffle bytes and SQL executions started
  * while a body runs, counted by a listener (the bus is drained on both
  * sides, so counts are complete).
  */
object SparkEvents {
  /** @param jobTasks tasks started per job, in job start order
    * @param stages stages submitted (a stage whose output already
    *   exists is skipped, never submitted)
    * @param shuffleBytes shuffle bytes written plus read by the tasks
    * @param sqlExecutions SQL executions started (Catalyst-planned runs)
    * @param shuffleMapStages submitted stages that write shuffle output */
  final case class Counts(jobs: Int, tasks: Int, jobTasks: Seq[Int], stages: Int = 0,
      shuffleBytes: Long = 0L, sqlExecutions: Int = 0, shuffleMapStages: Int = 0)

  def of[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val tasks, stages, sqlExecutions, shuffleMapStages = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val jobOfStage = mutable.Map.empty[Int, Int]
    val perJob = mutable.LinkedHashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobOfStage.synchronized {
          e.stageIds.foreach(jobOfStage(_) = e.jobId)
          perJob(e.jobId) = 0
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        if (TestListenerBus.isShuffleMap(e.stageInfo)) shuffleMapStages.incrementAndGet()
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet()
        jobOfStage.synchronized {
          jobOfStage.get(e.stageId).foreach(j => perJob(j) += 1)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, jobOfStage.synchronized(Counts(perJob.size, tasks.get, perJob.values.toSeq,
        stages.get, shuffleBytes.get, sqlExecutions.get, shuffleMapStages.get)))
    } finally sc.removeSparkListener(listener)
  }
}
