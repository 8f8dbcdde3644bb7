package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Cumulative task-level traffic counters (and the jobs and SQL
  * executions started) for a
  * window of Spark jobs — the REGIME-INDEPENDENT half of the scaling
  * evidence. Wall-clock on this sandbox VM swings ±60% between legs
  * with both calibration markers flat (BENCH.md round-4 control
  * leg), but bytes read / shuffled / spilled per task are
  * deterministic properties of the PLAN: identical across regimes, directly comparable across runs,
  * and the quantity that actually predicts cluster behavior (a
  * 1000-executor job lives or dies by what crosses the network, not by
  * one box's fabric). ScalingBench reports the per-build deltas so
  * every LEVEL line carries shuffle-bytes-per-doc alongside wall —
  * flat bytes/doc across core counts is the claim "the job does the
  * same work at every parallelism; only the wall varies", and
  * shuffle-vs-input ratio is the claim "the wide exchanges carry the
  * bit-packed partials, not the corpus".
  *
  * Counters accumulate on the asynchronous listener bus; `settle` polls
  * until they stop moving instead of reaching into the private
  * listener-bus drain API (GraftExpressionBridge stays the one
  * deliberate private-surface reach in this codebase).
  */
final class BuildTraffic extends SparkListener {
  private val input = new AtomicLong
  private val shufWrite = new AtomicLong
  private val shufRead = new AtomicLong
  private val spill = new AtomicLong
  private val jobs = new AtomicLong
  private val sqlExecutions = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet()
    case _ =>
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      input.addAndGet(m.inputMetrics.bytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def snap: BuildTraffic.Snap =
    BuildTraffic.Snap(input.get, shufWrite.get, shufRead.get, spill.get, jobs.get,
      sqlExecutions.get)

  /** Snapshot once the async bus has delivered everything: poll until
    * two reads `quietMs` apart agree (all actions in the measured
    * window have already returned, so only queued events remain; the
    * bus drains them in milliseconds). Bounded at ~5 s so a stuck bus
    * degrades to a visible undercount instead of a hang.
    */
  def settle(quietMs: Long = 200, maxWaitMs: Long = 5000): BuildTraffic.Snap = {
    var prev = snap
    var waited = 0L
    while (waited < maxWaitMs) {
      Thread.sleep(quietMs)
      waited += quietMs
      val cur = snap
      if (cur == prev) return cur
      prev = cur
    }
    prev
  }
}

object BuildTraffic {
  /** @param jobs Spark jobs started
    * @param sqlExecutions SQL executions started (Catalyst-planned runs) */
  final case class Snap(inputBytes: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, spilledBytes: Long, jobs: Long, sqlExecutions: Long = 0L) {
    def -(o: Snap): Snap = Snap(inputBytes - o.inputBytes,
      shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleReadBytes - o.shuffleReadBytes, spilledBytes - o.spilledBytes, jobs - o.jobs,
      sqlExecutions - o.sqlExecutions)
  }
}
