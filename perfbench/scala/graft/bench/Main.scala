package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, LocalSession}

/** One benchmark run in one JVM:
  *
  *   1. set-up, three rounds, each a fresh `LocalSession` plus the
  *      workload's seeded inputs; `setup_s` is the median round;
  *   2. an untimed, checked warm-up pass;
  *   3. cycles of timed operations until their summed time reaches
  *      `--seconds`. Untraced runs time every cycle bare. Traced runs
  *      alternate untraced and traced cycles, derive the per-layer
  *      metrics from the traced ones and the tracing overhead from the
  *      difference of the two medians.
  *
  * Usage: `graft.bench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --work <dir> --out <result.json>
  * [--spans <spans.jsonl>]`; `perfbench/run.py` is the front end.
  */
object Main {
  private val setupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val wl = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    var spark: SparkSession = null
    // (session start, input generation) seconds per round
    val setupSplits = (1 to setupRounds).map { _ =>
      if (spark != null) { wl.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = LocalSession.build(cores.toString)
      val t1 = System.nanoTime()
      wl.setUp(spark, seed, s"$work/data")
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    val setupTimes = setupSplits.map { case (a, b) => a + b }
    val tracer = new Tracer(spark, s"${wl.name}-$seed-${System.currentTimeMillis()}")
    def cleanUp(): Unit = {
      CacheRegistry.unpersistAll(blocking = true)
      spark.catalog.clearCache()
    }

    val t0 = System.nanoTime()
    val warm = wl.warmUp(spark, tracer)
    val warmSeconds = (System.nanoTime() - t0) / 1e9
    cleanUp()

    // (traced, outcomes) per cycle
    val cycles = mutable.ArrayBuffer.empty[(Boolean, Seq[OpOutcome])]
    val measureStart = System.nanoTime()
    def timedSoFar = cycles.map(_._2.map(_.seconds).sum).sum
    def wallSoFar = (System.nanoTime() - measureStart) / 1e9
    // a traced run needs at least one cycle of each kind; a run whose
    // operations fail fast still ends in bounded wall time
    while ((timedSoFar < seconds || (trace && cycles.size < 2)) && wallSoFar < 3 * seconds + 60) {
      val traced = trace && cycles.size % 2 == 1
      if (traced) tracer.enable() else tracer.disable()
      cycles += ((traced, wl.cycle(spark, tracer)))
      tracer.disable()
      cleanUp()
    }

    val all = warm ++ cycles.flatMap(_._2)
    val failures = all.flatMap(_.error)
    val bare = cycles.filterNot(_._1).flatMap(_._2)
    val latencies = bare.map(_.seconds)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.ArrayBuffer.empty[String]
    report += s"workload ${wl.name}: ${wl.describe}"
    report += f"local[$cores], closed loop, 1 client; ${bare.size} timed ops in " +
      f"${cycles.count(!_._1)} untraced cycles; set-up rounds (session + inputs) " +
      setupSplits.map { case (a, b) => f"$a%.2f+$b%.2f" }.mkString(", ") + " s; " +
      f"warm-up $warmSeconds%.3f s"
    report += "timed ops, median s (count): " + bare.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, os) => f"$n ${Stats.median(os.map(_.seconds).toSeq)}%.3f (${os.size})"
    }.mkString(", ")
    if (!trace) {
      metrics("setup_s") = Stats.median(setupTimes)
      metrics("items_per_s") = bare.map(_.items).sum / latencies.sum
      metrics("op_p50_s") = Stats.median(latencies.toSeq)
    } else {
      val work = tracer.finish()
      val tops = tracer.spans.filter(_.parent < 0).toSeq
      val view = LayerView(tracer.spans.toSeq, work)
      val ops = math.max(1, tops.size).toDouble
      val total = new SparkWork
      work.values.foreach(total.add)
      val wall = tops.map(_.seconds).sum
      val mb = 1048576.0
      metrics ++= Seq(
        "spark.jobs" -> total.jobs / ops,
        "spark.stages" -> total.stages / ops,
        "spark.tasks" -> total.tasks / ops,
        "spark.actions" -> total.actions / ops,
        "spark.task_s" -> total.taskNs / 1e9 / ops,
        "spark.busy_ratio" -> (if (wall > 0) total.taskNs / 1e9 / (wall * cores) else 0.0),
        "spark.idle_s" -> tops.map(view.idleSeconds).sum / ops,
        "spark.plan_s" -> total.planMs / 1000.0 / ops,
        "spark.shuffle_write_mb" -> total.shuffleWriteBytes / mb / ops,
        "spark.shuffle_read_mb" -> total.shuffleReadBytes / mb / ops,
        "spark.spill_mb" -> total.spillBytes / mb / ops,
        "spark.gc_s" -> total.gcMs / 1000.0 / ops,
        "spark.worst_stage_skew" -> total.worstSkew,
        "spark.task_failures" -> total.taskFailures.toDouble,
        "spark.cached_peak_mb" -> (if (tracer.exitSamples.isEmpty) 0.0
          else tracer.exitSamples.map(_._2).max / mb),
        "cache.tracked_frames" -> (if (tracer.exitSamples.isEmpty) 0.0
          else tracer.exitSamples.map(_._1).max.toDouble))
      metrics ++= wl.layerMetrics(spark, view)
      val cycleSeconds = (traced: Boolean) =>
        cycles.filter(_._1 == traced).map(_._2.map(_.seconds).sum).toSeq
      val bareMedian = Stats.median(cycleSeconds(false))
      val overhead = Stats.median(cycleSeconds(true)) - bareMedian
      metrics("trace.overhead_s") = overhead
      metrics("trace.overhead_ratio") = overhead / bareMedian
      metrics("setup.warmup_s") = warmSeconds
      metrics("jvm.peak_heap_mb") = Heap.peakMb
      report += f"tracing overhead: $overhead%.3f s per cycle (${100 * overhead / bareMedian}%.1f%%)"
      report ++= spanTable(view)
      report ++= wl.report(view)
      writeSpans(opts.get("spans"), tracer.spans.toSeq)
    }

    val expected = all.map(_.expected).sum
    val matched = all.map(_.matched).sum
    val json = new StringBuilder("{")
    json ++= s""""workload": ${Json.str(wl.name)}, "seed": $seed, "cores": $cores, """
    json ++= s""""attempted": ${all.size}, "failed": ${failures.size}, """
    json ++= s""""expected": $expected, "matched": $matched, """
    json ++= s""""failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, """
    json ++= s""""report": ${report.map(Json.str).mkString("[", ", ", "]")}, """
    json ++= s""""metrics": ${metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      .mkString("{", ", ", "}")}}"""
    Files.writeString(Paths.get(opt("out")), json.toString)
    wl.close()
    spark.stop()
  }

  /** Per span name: calls, then per call the mean total and self
    * seconds and the Spark work done directly under the span. */
  private def spanTable(view: LayerView): Seq[String] = {
    val children = view.spans.groupBy(_.parent)
    def self(s: Span): Double = {
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      (s.endNs - s.startNs - Stats.covered(kids, s.startNs, s.endNs)) / 1e9
    }
    val header = f"${"span"}%-24s ${"calls"}%5s ${"total_s"}%8s ${"self_s"}%8s ${"jobs"}%6s " +
      f"${"tasks"}%7s ${"task_s"}%8s ${"plan_s"}%7s ${"shufMB"}%8s ${"idle_s"}%7s"
    header +: view.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.seconds).sum).map {
      case (name, ss) =>
        val w = new SparkWork
        ss.foreach(s => view.work.get(s.id).foreach(w.add))
        val n = ss.size.toDouble
        f"$name%-24s ${ss.size}%5d ${ss.map(_.seconds).sum / n}%8.3f " +
          f"${ss.map(self).sum / n}%8.3f ${w.jobs / n}%6.1f ${w.tasks / n}%7.1f " +
          f"${w.taskNs / 1e9 / n}%8.3f ${w.planMs / 1000.0 / n}%7.3f " +
          f"${(w.shuffleWriteBytes + w.shuffleReadBytes) / 1048576.0 / n}%8.2f " +
          f"${ss.map(view.idleSeconds).sum / n}%7.3f"
    }
  }

  private def writeSpans(path: Option[String], spans: Seq[Span]): Unit = path.foreach { p =>
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""run_id": ${Json.str(s.runId)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""seconds": ${Json.num(s.seconds)}}""")
    Files.writeString(Paths.get(p), lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
