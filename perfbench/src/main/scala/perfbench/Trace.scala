package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one request
  * (one statement, epoch or pass); `parent` is the enclosing span, -1 at
  * the root.
  */
final case class Span(id: Int, name: String, parent: Int, req: Long, startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: summed task metrics of every job
  * submitted while the span was innermost. `schedGapMs` is the part of
  * each job's wall during which none of its tasks was running
  * (scheduling and result handling inside the job).
  */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, schedGapMs = 0.0
  var shuffleWriteB, shuffleReadB, spillB = 0L

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; schedGapMs += o.schedGapMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
  }
}

/** Span recorder plus a bench-owned SparkListener. Spans are kept in
  * memory and written out once at the end of the run. Spark jobs are
  * attributed to spans through the job group the recording thread sets
  * on entering each span. With `enabled = false` every `span` call is a
  * plain call of its body and no listener is registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupPrefix = "perfbench-span-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  /** Spans can be switched off for single requests (the overhead A/B). */
  var recording: Boolean = enabled

  def span[T](name: String, req: Long = -1L)(body: => T): T = {
    if (!recording) return body
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      if (req >= 0) req else parent.map(_.req).getOrElse(-1L), System.nanoTime())
    spans += s
    if (s.parent >= 0) childIndex.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += s
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event, then detach it. */
  def finish(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private val childIndex = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Span]]

  def children(s: Span): Seq[Span] = childIndex.get(s.id).map(_.toSeq).getOrElse(Nil)

  /** Span duration minus the part covered by its children (children run
    * one after another on the recording thread, so they never overlap).
    */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))

  /** Spark work of the span itself (not its children). */
  def own(s: Span): SparkCounters = listener.counters(s.id)

  /** Spark work of the span and everything under it. */
  def total(s: Span): SparkCounters = {
    val c = new SparkCounters
    (s +: descendants(s)).foreach(x => c += own(x))
    c
  }

  def toJson: String = spans.map { s =>
    val c = own(s)
    s"""{"id":${s.id},"name":${Json.string(s.name)},"parent":${s.parent},"req":${s.req},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"tasks":${c.tasks},""" +
      s""""task_run_ms":${c.taskRunMs},"sched_gap_ms":${c.schedGapMs}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  private final class JobListener extends SparkListener {
    private val bySpan = mutable.HashMap.empty[Int, SparkCounters]
    private val jobSpan = mutable.HashMap.empty[Int, Int]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val jobTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

    def counters(span: Int): SparkCounters =
      synchronized(bySpan.getOrElseUpdate(span, new SparkCounters))

    private def spanOfStage(stageId: Int): Int =
      stageJob.get(stageId).flatMap(jobSpan.get).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt).getOrElse(-1)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      jobTasks(e.jobId) = mutable.ArrayBuffer.empty
      // a stage shared by several jobs runs its tasks once, under the first
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
      counters(span).jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      counters(spanOfStage(e.stageInfo.stageId)).stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counters(spanOfStage(e.stageId))
      c.tasks += 1
      stageJob.get(e.stageId).flatMap(jobTasks.get)
        .foreach(_ += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuMs += m.executorCpuTime / 1e6
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.diskBytesSpilled
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val span = jobSpan.getOrElse(e.jobId, -1)
      val wall = (e.time - jobStart.getOrElse(e.jobId, e.time)).toDouble
      val busy = unionLength(jobTasks.remove(e.jobId).getOrElse(mutable.ArrayBuffer.empty))
      counters(span).schedGapMs += math.max(0.0, wall - busy)
    }

    private def unionLength(iv: mutable.ArrayBuffer[(Long, Long)]): Double = {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      if (curE > curS) total += curE - curS
      total.toDouble
    }
  }
}
