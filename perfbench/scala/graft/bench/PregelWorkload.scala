package graft.bench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.graph.Algorithms

/** remap's vertex examples on a seeded power-law graph: PageRank (12
  * supersteps), max-value propagation ("highest") and connected
  * components (vote-to-halt), each checked against an in-driver
  * reference. */
final class PregelWorkload extends Workload {
  val name = "pregel-powerlaw"
  private val vertices = 5000
  private val edgesWanted = 40000
  private val iters = 12
  def describe: String =
    s"$vertices vertices, $edgesWanted directed edges, Chung-Lu weights w_i ~ (i+1)^-0.6, " +
      "value = degree-weighted"

  private var verts: DataFrame = _
  private var directed: DataFrame = _
  private var symmetric: DataFrame = _
  private var src: Array[Int] = _
  private var dst: Array[Int] = _
  private var values: Array[Long] = _
  private var refRank: Array[Double] = _
  private var refComp: Array[Long] = _
  private var refMax: Array[Long] = _
  private var stepsMax = 0
  private var stepsCc = 0
  private var supersteps = 0
  private var symEdges = 0L

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new Random(seed)
    // Chung-Lu: endpoints drawn by weight w_i ~ (i+1)^-0.6, so degrees
    // follow a power law. Vertex 0 is the heaviest hub and, with the
    // largest value, the source of both cc's minimum label and maxprop's
    // maximum: each program then needs the hub's eccentricity in
    // supersteps, which hardly varies between seeds
    val cdf = {
      val w = Array.tabulate(vertices)(i => math.pow(i + 1, -0.6))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vertices - 1)
    }
    val seen = new java.util.HashSet[Long]()
    val s = Array.newBuilder[Int]; val d = Array.newBuilder[Int]
    while (seen.size < edgesWanted) {
      val a = draw(); val b = draw()
      if (a != b && seen.add(a.toLong * vertices + b)) { s += a; d += b }
    }
    src = s.result(); dst = d.result()
    val degree = new Array[Long](vertices)
    src.foreach(degree(_) += 1); dst.foreach(degree(_) += 1)
    values = Array.tabulate(vertices)(i => degree(i) * 1000000L + rnd.nextInt(1000000))
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    (0 until vertices).map(i => (i.toLong, values(i))).toDF("id", "value")
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/vertices")
    src.indices.map(i => (src(i).toLong, dst(i).toLong)).toDF("src", "dst")
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/edges")
    // both directions of every pair, once: maxprop and cc see an undirected graph
    src.indices.flatMap(i => Seq((src(i).toLong, dst(i).toLong), (dst(i).toLong, src(i).toLong)))
      .distinct.toDF("src", "dst")
      .repartition(parts).write.mode("overwrite").parquet(s"$dir/edges_sym")
    verts = spark.read.parquet(s"$dir/vertices")
    directed = spark.read.parquet(s"$dir/edges")
    symmetric = spark.read.parquet(s"$dir/edges_sym")
    symEdges = symmetric.count()
    refRank = null
  }

  /** Power iteration with the library's update rule (no dangling-mass
    * redistribution) and synchronous label propagation, which yields both
    * the fixed points and the number of supersteps each program needs:
    * the rounds that change a label plus the round that votes halt. */
  private def references(): Unit = if (refRank == null) {
    val n = vertices
    val outdeg = new Array[Int](n)
    src.foreach(u => outdeg(u) += 1)
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val msg = new Array[Double](n)
      for (i <- src.indices) msg(dst(i)) += r(src(i)) / outdeg(src(i))
      r = msg.map(m => 0.15 / n + 0.85 * m)
    }
    refRank = r
    def propagate(init: Array[Long], better: (Long, Long) => Boolean): (Array[Long], Int) = {
      var cur = init.clone()
      var rounds = 0
      var changed = true
      while (changed) {
        changed = false
        val next = cur.clone()
        for (i <- src.indices) {
          val (a, b) = (src(i), dst(i))
          if (better(cur(a), next(b))) { next(b) = cur(a); changed = true }
          if (better(cur(b), next(a))) { next(a) = cur(b); changed = true }
        }
        cur = next
        rounds += 1
      }
      (cur, rounds)
    }
    val (comp, sc) = propagate(Array.tabulate(n)(_.toLong), _ < _)
    val (mx, sm) = propagate(values, _ > _)
    refComp = comp; refMax = mx; stepsCc = sc; stepsMax = sm
    supersteps = iters + stepsMax + stepsCc
  }

  /** Three operations, one per vertex program. An operation's work is its
    * edge set's size times the supersteps the program needs. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] = {
    references()
    def check(what: String, ok: (Int, Row) => Boolean) = { (rows: Array[Row]) =>
      Heap.sample()
      val bad = rows.count(r => !ok(r.getAs[Long]("id").toInt, r))
      val problems =
        (if (rows.length == vertices) Nil
         else Seq(s"$what returned ${rows.length} rows, want $vertices")) ++
          (if (bad == 0) Nil else Seq(s"$what: $bad vertices differ from the in-driver reference"))
      (vertices.toLong, (rows.length - bad).toLong, problems)
    }
    def run(program: String, items: Double)(body: => Array[Row])(ok: (Int, Row) => Boolean) =
      Workload.timedOp(name, program, tracer, items, s"op:$program") {
        tracer.span(s"pregel.$program")(body)
      }(check(program, ok))
    Seq(
      run("pagerank", src.length.toDouble * iters) {
        Algorithms.pageRank(verts.select("id"), directed, iters).collect()
      }((id, r) => math.abs(r.getAs[Double]("pagerank") - refRank(id)) <= 1e-9),
      run("maxprop", symEdges.toDouble * stepsMax) {
        Algorithms.maxValuePropagation(verts, symmetric).vertices.collect()
      }((id, r) => r.getAs[Long]("value") == refMax(id)),
      run("cc", symEdges.toDouble * stepsCc) {
        Algorithms.connectedComponents(verts.select("id"), symmetric).collect()
      }((id, r) => r.getAs[Long]("component") == refComp(id)))
  }

  def layerMetrics(spark: SparkSession, view: LayerView): Map[String, Double] = {
    val steps = Map("pregel.pagerank" -> iters, "pregel.maxprop" -> stepsMax, "pregel.cc" -> stepsCc)
    val loops = steps.keys.toSeq.flatMap(view.named)
    val totalSteps = loops.map(s => steps(s.name)).sum.toDouble
    def perStep(f: Span => Double) = if (totalSteps == 0) 0.0 else loops.map(f).sum / totalSteps
    Map(
      "pregel.pagerank_s" -> view.perCallSeconds("pregel.pagerank"),
      "pregel.maxprop_s" -> view.perCallSeconds("pregel.maxprop"),
      "pregel.cc_s" -> view.perCallSeconds("pregel.cc"),
      "pregel.supersteps" -> supersteps.toDouble,
      "pregel.s_per_superstep" -> perStep(_.seconds),
      "pregel.jobs_per_superstep" -> perStep(view.workUnder(_).jobs.toDouble),
      "pregel.idle_s_per_superstep" -> perStep(view.idleSeconds))
  }

  override def report(view: LayerView): Seq[String] = Seq(
    s"pregel supersteps per run: pagerank $iters, maxprop $stepsMax, cc $stepsCc " +
      s"(synchronous rounds to quiescence, halt round included); " +
      s"${src.length} directed edges, $symEdges undirected edge rows")
}
