package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess, TaskFailedReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a library layer. `parent` is -1 for a top-level
  * span; wall-clock millis are kept beside the nanosecond clock because
  * Spark's listener events carry wall-clock times. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var actions = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var taskFailures = 0
  var planMs = 0L
  var worstSkew = 0.0
  /** Job intervals (wall-clock millis), for idle time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Start times (wall-clock millis) of SQL executions. */
  val execStartsMs = mutable.ArrayBuffer.empty[Long]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; actions += o.actions
    taskNs += o.taskNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    taskFailures += o.taskFailures; planMs += o.planMs
    worstSkew = math.max(worstSkew, o.worstSkew)
    jobIntervals ++= o.jobIntervals
    execStartsMs ++= o.execStartsMs
  }
}

/** Records spans around the benchmark's calls into library layers and
  * attributes Spark jobs, stages, tasks, SQL executions and Catalyst
  * planning to them.
  *
  * Attribution goes by Spark job group: entering a span sets the calling
  * thread's job group to `bench-span-<id>` (and restores the parent's on
  * exit); a query run by `JobControl` runs under the job id as its group,
  * which [[bindGroup]] maps to the span that submitted it. Catalyst
  * planning, whose `QueryExecution` names no job group, goes to the
  * innermost span open when it began. Listener
  * callbacks only append to queues; everything is resolved in [[finish]]
  * after the listener bus has drained, and spans stay in memory until
  * then. A disabled tracer registers nothing and runs bodies bare, so
  * untraced runs pay no listener cost.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private var enabled = false
  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val groupOwner = mutable.Map.empty[String, Int]
  /** (tracked frames, storage bytes used) sampled at span exits. */
  val exitSamples = mutable.ArrayBuffer.empty[(Int, Long)]

  private case class JobEv(jobId: Int, group: String, startMs: Long, stageIds: Seq[Int])
  private case class TaskEv(stageId: Int, durationMs: Long, runNs: Long, gcMs: Long,
                            shW: Long, shWRec: Long, shR: Long, spill: Long, failed: Boolean)
  private case class ExecEv(group: String, startMs: Long)
  private case class PlanEv(startMs: Long, planMs: Long)
  private val jobStarts = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]()
  private val execStarts = new ConcurrentLinkedQueue[ExecEv]()
  private val planEvs = new ConcurrentLinkedQueue[PlanEv]()

  private val listener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      val g = Option(ev.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.add(JobEv(ev.jobId, g.orNull, ev.time, ev.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(ev: SparkListenerJobEnd): Unit = jobEnds.add((ev.jobId, ev.time))
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      stagesDone.add(ev.stageInfo.stageId)
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val m = ev.taskMetrics
      val failed = ev.reason match {
        case TaskSuccess => false
        case r: TaskFailedReason => r.countTowardsTaskFailures
        case _ => false
      }
      if (m != null)
        taskEvs.add(TaskEv(ev.stageId, ev.taskInfo.duration, m.executorRunTime * 1000000L,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, failed))
      else taskEvs.add(TaskEv(ev.stageId, ev.taskInfo.duration, 0, 0, 0, 0, 0, 0, failed))
    }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case s: SparkListenerSQLExecutionStart =>
        execStarts.add(ExecEv(s.jobGroupId.orNull, s.time))
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planEvs.add(PlanEv(phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def isEnabled: Boolean = enabled

  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  private def groupOf(id: Int) = s"bench-span-$id"

  /** Time `body` as span `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) -1 else open.top
      val sc = spark.sparkContext
      open.push(id)
      groupOwner(groupOf(id)) = id
      sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      try body
      finally {
        val endNs = System.nanoTime()
        val endMs = System.currentTimeMillis()
        open.pop()
        if (parent >= 0) sc.setJobGroup(groupOf(parent), "", interruptOnCancel = false)
        else sc.clearJobGroup()
        spans += Span(id, parent, name, runId, startNs, endNs, startMs, endMs)
        val storage = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
        exitSamples += ((graft.CacheRegistry.trackedCount, storage))
      }
    }

  /** Attribute Spark work run under job group `group` (set by another
    * thread, e.g. a `JobControl` worker) to the innermost open span. */
  def bindGroup(group: String): Unit =
    if (enabled && open.nonEmpty) groupOwner(group) = open.top

  /** Resolve every listener event to its span. Returns span id → the
    * Spark work done directly under it (children not included). */
  def finish(): Map[Int, SparkWork] = {
    if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)
    val work = mutable.Map.empty[Int, SparkWork]
    def w(id: Int) = work.getOrElseUpdate(id, new SparkWork)
    val ends = jobEnds.asScala.toMap
    val stageOwner = mutable.Map.empty[Int, Int]
    for (j <- jobStarts.asScala; owner <- Option(j.group).flatMap(groupOwner.get)) {
      val sw = w(owner)
      sw.jobs += 1
      sw.jobIntervals += ((j.startMs, ends.getOrElse(j.jobId, j.startMs)))
      j.stageIds.foreach(s => stageOwner(s) = owner)
    }
    val done = stagesDone.asScala.toSet
    stageOwner.foreach { case (s, owner) => if (done(s)) w(owner).stages += 1 }
    for ((stage, evs) <- taskEvs.asScala.groupBy(_.stageId); owner <- stageOwner.get(stage)) {
      val sw = w(owner)
      evs.foreach { t =>
        sw.tasks += 1; sw.taskNs += t.runNs; sw.gcMs += t.gcMs
        sw.shuffleWriteBytes += t.shW; sw.shuffleWriteRecords += t.shWRec
        sw.shuffleReadBytes += t.shR; sw.spillBytes += t.spill
        if (t.failed) sw.taskFailures += 1
      }
      if (evs.size >= 2) {
        val d = evs.map(_.durationMs.toDouble).toArray.sorted
        val med = Stats.median(d.toSeq)
        if (med > 0) sw.worstSkew = math.max(sw.worstSkew, d.last / med)
      }
    }
    for (e <- execStarts.asScala; owner <- Option(e.group).flatMap(groupOwner.get)) {
      w(owner).actions += 1
      w(owner).execStartsMs += e.startMs
    }
    // a QueryExecution does not carry its execution id, so planning goes to
    // the innermost span open when it began; the one client thread makes
    // that span the caller
    for (p <- planEvs.asScala) {
      val open = spans.filter(s => s.startMs <= p.startMs && p.startMs <= s.endMs)
      if (open.nonEmpty) w(open.maxBy(s => (s.startNs, s.id)).id).planMs += p.planMs
    }
    work.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, lo); val e = math.min(e0, hi)
      if (e > s) {
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    }
    if (curE > curS) total += curE - curS
    total
  }
}
