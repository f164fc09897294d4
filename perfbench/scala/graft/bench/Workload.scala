package graft.bench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One timed operation: a pipeline run, or one submitted query.
  *
  * @param items    work units the operation completed (words, edge
  *                 supersteps, documents, queries)
  * @param error    the failure, named by workload and operation; a wrong
  *                 output is a failure too
  * @param expected output units the checks expected
  * @param matched  output units the checks found correct
  */
final case class OpOutcome(name: String, seconds: Double, items: Double,
                           error: Option[String], expected: Long, matched: Long)

/** What a traced run hands a workload to derive its own per-layer metrics. */
final case class LayerView(spans: Seq[Span], work: Map[Int, SparkWork]) {
  private val byId = spans.map(s => s.id -> s).toMap
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  /** Spark work under `span`, its descendants included. */
  def workUnder(span: Span): SparkWork = {
    val out = new SparkWork
    spans.filter(s => isWithin(s, span)).foreach(s => work.get(s.id).foreach(out.add))
    out
  }
  private def isWithin(s: Span, anc: Span): Boolean = {
    var cur = s
    while (cur.id != anc.id && cur.parent >= 0) cur = byId(cur.parent)
    cur.id == anc.id
  }
  /** Wall seconds of `span` during which no Spark job ran. */
  def idleSeconds(span: Span): Double = {
    val busy = Stats.covered(workUnder(span).jobIntervals.toSeq, span.startMs, span.endMs)
    math.max(0L, (span.endMs - span.startMs) - busy) / 1000.0
  }
  /** Mean seconds of one call traced as `name`. */
  def perCallSeconds(name: String): Double = {
    val calls = named(name)
    if (calls.isEmpty) 0.0 else calls.map(_.seconds).sum / calls.size
  }
}

trait Workload {
  def name: String
  /** One line on the generated inputs, for the report. */
  def describe: String
  /** Write the inputs for `seed` under `dir` and load what the operations
    * read. Runs once per set-up round, on a fresh session. */
  def setUp(spark: SparkSession, seed: Long, dir: String): Unit
  /** Untimed pass before measurement; its outcomes are checked and count
    * as attempted operations. */
  def warmUp(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] =
    cycle(spark, tracer)
  /** One cycle of timed operations. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[OpOutcome]
  /** Workload-specific per-layer metrics from the traced cycles. */
  def layerMetrics(spark: SparkSession, view: LayerView): Map[String, Double]
  /** Extra report lines for a traced run. */
  def report(view: LayerView): Seq[String] = Nil
  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("remap-mr", "pregel-powerlaw", "dedup-nearcopies", "job-stream")

  def apply(name: String): Workload = name match {
    case "remap-mr" => new MrWorkload
    case "pregel-powerlaw" => new PregelWorkload
    case "dedup-nearcopies" => new DedupWorkload
    case "job-stream" => new JobStreamWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Run `body` as the timed operation `op` of `workload` inside a
    * top-level span, then run `check` on its result outside the clock.
    * Any exception, in the body or the check, becomes the outcome's error
    * with the workload and operation named; none is swallowed. */
  def timedOp[T](workload: String, op: String, tracer: Tracer, items: Double,
                 spanName: String = "op")(
      body: => T)(check: T => (Long, Long, Seq[String])): OpOutcome = {
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span(spanName)(body))
      catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Left(e) =>
        val msg = s"$workload/$op: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $msg")
        e.printStackTrace()
        OpOutcome(op, secs, 0, Some(msg), 1, 0)
      case Right(v) =>
        try {
          val (expected, matched, problems) = check(v)
          val err = if (problems.isEmpty) None
            else Some(s"$workload/$op: wrong output: ${problems.take(5).mkString("; ")}")
          err.foreach(m => System.err.println(s"[perfbench] FAILED $m"))
          OpOutcome(op, secs, if (err.isEmpty) items else 0, err, expected, matched)
        } catch { case e: Throwable =>
          val msg = s"$workload/$op: check raised ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] FAILED $msg")
          e.printStackTrace()
          OpOutcome(op, secs, 0, Some(msg), 1, 0)
        }
    }
  }
}

/** Heap used right after a full collection, sampled where a workload's
  * outputs are still live. */
object Heap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / 1048576.0
}
