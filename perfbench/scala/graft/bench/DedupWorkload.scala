package graft.bench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheRegistry
import graft.ext.Dedup
import graft.graph.Algorithms

/** Near-duplicate removal on seeded documents with planted near-copy
  * clusters: `Dedup.nearDupMinHash` → `undirectedEdges` →
  * `connectedComponents` → `canonicalPick`. MinHash-LSH is approximate,
  * so the check demands precision 1.0 and measures recall against the
  * planted pairs. */
final class DedupWorkload extends Workload {
  val name = "dedup-nearcopies"
  private val bases = 3000
  private val tokensPerDoc = 80
  private val vocab = 5000
  private val threshold = 0.8
  // one base in four gets two copies, each with 1 to 3 tokens replaced
  private val docCount = bases + bases / 4 * 2
  def describe: String =
    s"$docCount docs x $tokensPerDoc tokens over $vocab words; ${bases / 4} bases get 2 copies " +
      "with 1-3 tokens replaced; word 3-shingles, Jaccard >= 0.8"

  private var docs: DataFrame = _
  private var shingles: Map[Long, Set[String]] = _
  private var nChars: Map[Long, Long] = _
  private var planted: Set[(Long, Long)] = _

  private def shingleSet(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new Random(seed)
    def token() = s"t${rnd.nextInt(vocab)}"
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    for (b <- 0 until bases) {
      val base = Array.fill(tokensPerDoc)(token())
      val first = texts.size
      texts += base
      if (b % 4 == 0) {
        for (_ <- 0 until 2) {
          val copy = base.clone()
          for (_ <- 0 until 1 + rnd.nextInt(3)) copy(rnd.nextInt(tokensPerDoc)) = token()
          texts += copy
        }
        clusters += Seq(first, first + 1, first + 2)
      }
    }
    // shuffled ids, so copies do not sit next to their base
    val ids = rnd.shuffle((0 until texts.size).map(_.toLong)).toArray
    val rows = texts.indices.map(i => (ids(i), texts(i).mkString(" ")))
    shingles = rows.map { case (id, t) => id -> shingleSet(t) }.toMap
    nChars = rows.map { case (id, t) => id -> t.length.toLong }.toMap
    planted = clusters.flatMap { c =>
      for (i <- c; j <- c if i < j) yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }.filter { case (a, b) => jaccard(a, b) >= threshold }.toSet
    import spark.implicits._
    rows.map { case (id, t) => (id, t, t.length.toLong) }.toDF("doc_id", "text", "n_chars")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
  }

  def cycle(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] = {
    import spark.implicits._
    val outcome = Workload.timedOp(name, "dedup-pipeline", tracer, docCount.toDouble) {
      val pairs = tracer.span("dedup.nearDupMinHash") {
        Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = threshold)
          .select("id_a", "id_b").as[(Long, Long)].collect()
      }
      val clusters = tracer.span("dedup.cluster") {
        Algorithms.connectedComponents(docs.select(col("doc_id").as("id")),
          Dedup.undirectedEdges(pairs.toSeq.toDF("id_a", "id_b")))
          .select(col("id").as("doc_id"), col("component").as("cluster"))
      }
      val picks = tracer.span("dedup.pick") {
        Dedup.canonicalPick(clusters, docs, "doc_id", "n_chars")
          .select("cluster", "keep_id", "n_members", "keep_chars", "chars_dropped")
          .as[(Long, Long, Long, Long, Long)].collect()
      }
      CacheRegistry.unpersistAll()
      (pairs, picks)
    } { case (pairs, picks) =>
      Heap.sample()
      val problems = Seq.newBuilder[String]
      val reported = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      // the library keeps pairs whose Jaccard rounds to >= threshold at six
      // decimals; allow exactly that rounding
      val low = reported.filter { case (a, b) => jaccard(a, b) < threshold - 5e-7 }
      if (low.nonEmpty)
        problems += s"${low.size} reported pairs below Jaccard $threshold, e.g. ${low.head}"
      problems ++= checkPicks(reported, picks)
      val found = planted.count(reported)
      (planted.size.toLong, found.toLong, problems.result())
    }
    Seq(outcome)
  }

  /** canonicalPick must keep, per connected group of reported pairs, the
    * longest document (smallest id on ties) and count its members. */
  private def checkPicks(pairs: Set[(Long, Long)],
                         picks: Array[(Long, Long, Long, Long, Long)]): Seq[String] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = nChars.keys.toSeq.groupBy(find).map { case (_, members) =>
      val chars = members.map(nChars)
      val keepChars = chars.max
      val keepId = members.filter(nChars(_) == keepChars).min
      (members.min, keepId, members.size.toLong, keepChars, chars.sum - keepChars)
    }.toSet
    val got = picks.toSet
    if (got == want && picks.length == want.size) Nil
    else Seq(s"canonicalPick: ${(got -- want).size} unexpected rows, e.g. " +
      s"${(got -- want).take(2).mkString(" ")}, and ${(want -- got).size} missing of " +
      s"${want.size}, e.g. ${(want -- got).take(2).mkString(" ")}")
  }

  /** Splits the detector into its stages by timing prefixes of it, each
    * ending in one action: signatures, then LSH candidates (which
    * recompute the signatures), then the whole verified detector. The
    * arguments are `nearDupMinHash`'s defaults. */
  def layerMetrics(spark: SparkSession, view: LayerView): Map[String, Double] = {
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      CacheRegistry.unpersistAll(blocking = true)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    val sig = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64)
    val (_, tSig) = time(sig.write.format("noop").mode("overwrite").save())
    val (candidates, tCand) = time(
      Dedup.lshCandidates(sig, "doc_id", col("sig"), 16, sigLen = 64).count())
    val (verified, tAll) = time(
      Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = threshold).count())
    Map(
      "dedup.signature_s" -> tSig,
      "dedup.lsh_s" -> math.max(0.0, tCand - tSig),
      "dedup.verify_s" -> math.max(0.0, tAll - tCand),
      "dedup.cluster_s" -> view.perCallSeconds("dedup.cluster"),
      "dedup.pick_s" -> view.perCallSeconds("dedup.pick"),
      "dedup.candidates" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.candidate_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }

  override def report(view: LayerView): Seq[String] = Seq(
    s"dedup: ${planted.size} planted pairs with Jaccard >= $threshold; " +
      s"detector span ${"%.3f".format(view.perCallSeconds("dedup.nearDupMinHash"))} s per run")
}
