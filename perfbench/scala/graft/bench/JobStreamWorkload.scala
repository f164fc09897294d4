package graft.bench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.driver.JobControl

/** A closed loop with one client: registry queries submitted through
  * `JobControl` in a seeded order, each awaited before the next, over
  * seeded tables with the layout of the library's test tables. */
final class JobStreamWorkload extends Workload {
  val name = "job-stream"

  /** Queries covering every family: relational, joins, windows,
    * text and the typed MapReduce contract (`mapReduce`,
    * `groupWithCombiner`), tiny-graph Pregel, dedup, similarity,
    * streaming, the "k,v" text write round-trip and bucketing. */
  val queries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_join_region", "q10_window_running",
    "q24_wordcount", "q59_typed_mr", "q61_typed_combiner", "q32_pagerank",
    "q27_exact_dedup", "q31_minhash_lsh", "q28_similarity_topk",
    "q40_event_window", "q151_stream_enrich",
    "q58_kv_roundtrip", "q71_bucketed_join")

  private val sizes = Seq("region" -> 5, "nation" -> 25, "customer" -> 1500, "supplier" -> 100,
    "part" -> 2000, "orders" -> 7500, "lineitem" -> 30000, "events" -> 5000,
    "documents" -> 500, "embeddings" -> 500)
  def describe: String =
    s"${queries.size} registry queries in a seeded order per round over seeded tables " +
      sizes.map { case (t, n) => s"$t=$n" }.mkString(" ")

  private var dir: String = _
  private var rnd: Random = _
  private var control: JobControl = _
  /** Traced queries: (query, queue wait s, run s, Spark jobs). */
  private val jobStats = mutable.ArrayBuffer.empty[(String, Double, Double, Int)]

  def tablesDir: String = s"$dir/tables"

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    rnd = new Random(seed)
    generate(spark, new Random(seed ^ 0x5eedL))
    if (control != null) control.shutdown()
    control = new JobControl(spark, tablesDir)
  }

  /** Writes each table as one parquet file `<table>.parquet`, the layout
    * `graft.Tables` and the DuckDB oracle both read. */
  private def generate(spark: SparkSession, r: Random): Unit = {
    import spark.implicits._
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val n = sizes.toMap
    def write(table: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$tablesDir/_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(s"no parquet part written for $table"))
      Files.move(part.toPath, Paths.get(s"$tablesDir/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      deleteRecursively(new File(tmp))
    }
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", regions.indices.map(i => (i, regions(i))).toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", (0 until n("customer")).map(i => (i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(-999.99, 9999.99), pick(segments)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    write("supplier", (0 until n("supplier")).map(i => (i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(-999.99, 9999.99)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val adjectives = Seq("small", "large", "red", "blue", "hot", "old", "new", "green")
    val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write("part", (0 until n("part")).map(i => (i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
      s"Brand#${1 + r.nextInt(25)}", pick(types), 1 + r.nextInt(50),
      math.round((900.0 + (i % 1000) * 0.1) * 100) / 100.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", (0 until n("orders")).map(i => (i.toLong, r.nextInt(n("customer")).toLong,
      pick(Seq("F", "O", "P")), money(1000, 500000),
      day(LocalDateTime.of(1995, 1, 1, 0, 0), 2404), pick(priorities)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"))
    write("lineitem", (0 until n("lineitem")).map(_ => (r.nextInt(n("orders")).toLong,
      r.nextInt(n("part")).toLong, r.nextInt(n("supplier")).toLong, 1 + r.nextInt(7),
      (1 + r.nextInt(50)).toDouble, money(900, 105000), r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("O", "F")),
      day(LocalDateTime.of(1995, 1, 2, 0, 0), 2498)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"))
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    val eventTypes = Seq("click", "view", "purchase", "signup", "error")
    write("events", (0 until n("events")).map { i =>
      // a month of events at uniform random gaps, truncated to microseconds
      ts = ts.plusNanos((r.nextDouble() * 2 * 518.0 * 1e9).toLong / 1000 * 1000)
      (i.toLong, ts, r.nextInt(150).toLong, pick(eventTypes), money(0.01, 490.02),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
      "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
      "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val langs = Seq("en", "en", "en", "zh", "de", "es", "fr")
    val texts = mutable.ArrayBuffer.empty[String]
    write("documents", (0 until n("documents")).map { i =>
      // one document in twenty is an earlier one with a "dup" suffix
      val text =
        if (i > 0 && i % 20 == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(pick(words)).mkString(" ")
      texts += text
      (i.toLong, text, pick(langs), s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    write("embeddings", (0 until n("embeddings")).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label"))
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** The untimed verification pass: every query once through the registry,
    * its output written for the DuckDB oracle compare, plus the oracle
    * SQL of exactly these queries. */
  override def warmUp(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] = {
    val out = s"$dir/verify"
    val outcomes = queries.map { q =>
      Workload.timedOp(name, q, tracer, 1.0) {
        SparkEntry.queries(q)(spark, tablesDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
      } { _ => (1L, 1L, Nil) }
    }
    graft.CacheRegistry.unpersistAll()
    spark.catalog.clearCache()
    val oracles = SparkEntry.oracleSql
    val missing = queries.filterNot(oracles.contains)
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(", ")}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      queries.map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ",", "}"))
    outcomes
  }

  def cycle(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] = {
    val order = rnd.shuffle(queries)
    val outcomes = order.map { q =>
      var waited = 0.0
      var ran = 0.0
      var sparkJobs = 0
      val o = Workload.timedOp(name, q, tracer, 1.0, s"op:$q") {
        val t0 = System.nanoTime()
        val job = control.submit(q)
        tracer.bindGroup(job.id)
        var running = -1L
        var info = control.get(job.id).get
        while (info.status == JobControl.Queued || info.status == JobControl.Running) {
          if (running < 0 && info.status == JobControl.Running) running = System.nanoTime()
          LockSupport.parkNanos(100000L)
          info = control.get(job.id).get
        }
        val t1 = System.nanoTime()
        if (running < 0) running = t1
        waited = (running - t0) / 1e9
        ran = (t1 - running) / 1e9
        sparkJobs = control.progressOf(job.id).sparkJobs
        info
      } { info =>
        val problems =
          if (info.status == JobControl.Succeeded) Nil
          else Seq(s"job ${info.id} ended ${info.status}: ${info.error.getOrElse("no message")}")
        (1L, if (problems.isEmpty) 1L else 0L, problems)
      }
      if (tracer.isEnabled) jobStats += ((q, waited, ran, sparkJobs))
      o
    }
    Heap.sample()
    graft.CacheRegistry.unpersistAll()
    outcomes
  }

  def layerMetrics(spark: SparkSession, view: LayerView): Map[String, Double] = {
    val split = querySplit(view)
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "jobs.queue_wait_s" -> mean(jobStats.map(_._2)),
      "jobs.run_s" -> mean(jobStats.map(_._3)),
      "jobs.spark_jobs_per_query" -> mean(jobStats.map(_._4.toDouble)),
      "query.build_s" -> mean(split.map(_.build)),
      "query.exec_s" -> mean(split.map(_.exec)))
  }

  /** Seconds of one traced query. The build phase runs the registry
    * function — table loads, analysis and any eager actions inside it; the
    * exec phase starts with the last SQL execution, JobControl's sink
    * action. `jobs` is wall time with a Spark job running, `idle` the rest. */
  private case class QuerySplit(query: String, latency: Double, build: Double, exec: Double,
                                plan: Double, jobs: Double, idle: Double)

  private def querySplit(view: LayerView): Seq[QuerySplit] =
    view.spans.filter(s => s.parent < 0 && s.name.startsWith("op:")).map { s =>
      val w = view.workUnder(s)
      val execStart = if (w.execStartsMs.isEmpty) s.startMs else w.execStartsMs.max
      val build = (execStart - s.startMs) / 1000.0
      val idle = view.idleSeconds(s)
      QuerySplit(s.name.stripPrefix("op:"), s.seconds, build, s.seconds - build,
        w.planMs / 1000.0, s.seconds - idle, idle)
    }

  override def report(view: LayerView): Seq[String] = {
    val rows = querySplit(view).groupBy(_.query).toSeq.sortBy(-_._2.map(_.latency).sum).map {
      case (q, xs) =>
        def m(f: QuerySplit => Double) = "%8.3f".format(xs.map(f).sum / xs.size)
        f"$q%-22s ${xs.size}%3d ${m(_.latency)} ${m(_.build)} ${m(_.exec)} ${m(_.plan)} " +
          s"${m(_.jobs)} ${m(_.idle)}"
    }
    (f"${"query"}%-22s ${"n"}%3s ${"latency"}%8s ${"build"}%8s ${"exec"}%8s ${"plan"}%8s " +
      f"${"jobs"}%8s ${"idle"}%8s") +: rows
  }

  override def close(): Unit = if (control != null) control.shutdown()
}
