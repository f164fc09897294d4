package graft.bench

import java.io.File

import scala.io.Source
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.MapReduce
import graft.sources.Sink

/** remap's three MapReduce examples over a seeded Zipf corpus: wordcount
  * (`mapReduce`), collation (`groupWithCombiner`) and secondary sort
  * (`secondarySort`), each reduce output written with `Sink.writeKvText`. */
final class MrWorkload extends Workload {
  val name = "remap-mr"
  private val lines = 30000
  private val wordsPerLine = 24
  private val vocab = 50000
  private val sources = 20
  private val words = lines.toLong * wordsPerLine
  def describe: String =
    s"$lines lines x $wordsPerLine words = $words words, Zipf(1.0) over $vocab words, $sources sources"

  private var dir: String = _
  private var corpus: DataFrame = _
  private var refWordcount: (Long, Long, Long) = _
  private var refCollation: (Long, Long, Long) = _

  /** A pronounceable token for a vocabulary rank. */
  private def word(rank: Int): String = {
    val sb = new StringBuilder
    var r = rank
    do { sb.append(('a' + r % 26).toChar); r /= 26 } while (r > 0)
    sb.append("q").reverse.toString
  }

  def setUp(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    val rnd = new Random(seed)
    val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
    val tokens = Array.tabulate(vocab)(word)
    val rows = (0 until lines).map { i =>
      val text = Array.fill(wordsPerLine)(tokens(draw())).mkString(" ")
      (i.toLong, s"src${rnd.nextInt(sources)}", text)
    }
    import spark.implicits._
    val path = s"$dir/corpus"
    rows.toDF("line_id", "source", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    refWordcount = null
    refCollation = null
  }

  /** (rows, sum of values, sum of line hashes) of "k,v" lines. */
  private def fingerprint(textLines: DataFrame): (Long, Long, Long) = {
    val r = textLines.agg(count(lit(1)),
      sum(substring_index(col("value"), ",", -1).cast("long")),
      sum(pmod(xxhash64(col("value")), lit(2147483647L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  private def declarativeWords: DataFrame =
    corpus.select(col("source"),
      explode(split(lower(col("text")), "\\s+")).as("word")).filter(col("word") =!= "")

  private def references(spark: SparkSession): Unit = if (refWordcount == null) {
    refWordcount = fingerprint(declarativeWords.groupBy("word").count()
      .select(concat_ws(",", col("word"), col("count")).as("value")))
    // collation's value is the sorted source list; its "count" column is
    // the number of sources, so the sum check covers set sizes
    refCollation = fingerprint(declarativeWords.groupBy("word")
      .agg(array_sort(collect_set(col("source"))).as("s"))
      .select(concat_ws(",", col("word"),
        concat_ws("|", col("s")), size(col("s"))).as("value")))
  }

  /** Three operations, one per remap example; each reads the whole corpus
    * and writes its reduce output as "k,v" text lines. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[OpOutcome] = {
    import spark.implicits._
    val out = s"$dir/out"
    references(spark)
    def check(path: String, want: (Long, Long, Long)) = { (_: Any) =>
      Heap.sample()
      val got = fingerprint(spark.read.text(path))
      val problems =
        (if (got == want) Nil else Seq(s"(rows, value sum, hash sum) $got != reference $want")) ++
          (if (path.endsWith("wordcount") && got._2 != words)
            Seq(s"word total ${got._2} != generated $words") else Nil)
      (want._1, if (problems.isEmpty) want._1 else 0L, problems)
    }
    val wordcount = Workload.timedOp(name, "wordcount", tracer, words.toDouble, "op:wordcount") {
      val wc = tracer.span("mr.wordcount") {
        MapReduce.mapReduce[String, String, Long, String, Long](
          corpus.select("text").as[String],
          line => line.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
            .filter(_.nonEmpty).map(w => (w.take(1), w, 1L)),
          (w, ones) => Iterator.single((w, ones.sum)))
          .toDF("word", "n").localCheckpoint(true)
      }
      tracer.span("mr.write") { Sink.writeKvText(wc, "word", "n", s"$out/wordcount") }
      wc.unpersist(true)
    }(check(s"$out/wordcount", refWordcount))
    val collation = Workload.timedOp(name, "collation", tracer, words.toDouble, "op:collation") {
      tracer.span("mr.collation") {
        val pairs = corpus.select("text", "source").as[(String, String)].flatMap {
          case (t, s) => t.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
            .filter(_.nonEmpty).map(w => (w, s))
        }
        val coll = MapReduce.groupWithCombiner[String, String](pairs, _.distinct)
          .toDF("word", "sources")
          .select(col("word"), concat_ws(",", concat_ws("|", array_sort(col("sources"))),
            size(col("sources"))).as("v"))
        Sink.writeKvText(coll, "word", "v", s"$out/collation")
      }
    }(check(s"$out/collation", refCollation))
    val secondary = Workload.timedOp(name, "secondary_sort", tracer, words.toDouble,
        "op:secondary_sort") {
      tracer.span("mr.secondary_sort") {
        val sorted = MapReduce.secondarySort(
          corpus.select(col("source"), col("line_id"), length(col("text")).as("n_chars")),
          col("source"), col("n_chars").desc, col("line_id"))
        Sink.writeKvText(sorted.select(col("source"),
          concat_ws(":", col("n_chars"), col("line_id")).as("v")),
          "source", "v", s"$out/secondary_sort")
      }
    } { _ =>
      Heap.sample()
      val problems = checkSecondarySort(s"$out/secondary_sort")
      (lines.toLong, if (problems.isEmpty) lines.toLong else 0L, problems)
    }
    Seq(wordcount, collation, secondary)
  }

  /** Every part file holds whole sources, each in (n_chars desc, line_id)
    * order, and every line appears once. */
  private def checkSecondarySort(path: String): Seq[String] = {
    val parts = new File(path).listFiles().filter(_.getName.startsWith("part-"))
    val seenSources = scala.collection.mutable.Set.empty[String]
    val seenLines = new java.util.BitSet(lines)
    var rows = 0
    val problems = Seq.newBuilder[String]
    for (f <- parts) {
      val src = Source.fromFile(f, "UTF-8")
      try {
        var prev: (String, Int, Long) = null
        val mine = scala.collection.mutable.Set.empty[String]
        for (l <- src.getLines()) {
          val Array(s, v) = l.split(",", 2)
          val Array(nc, id) = v.split(":")
          val cur = (s, nc.toInt, id.toLong)
          if (prev != null && prev._1 == s &&
              (prev._2 < cur._2 || (prev._2 == cur._2 && prev._3 > cur._3)))
            problems += s"${f.getName}: $prev before $cur"
          if (prev != null && prev._1 != s && mine(s))
            problems += s"${f.getName}: source $s not contiguous"
          if (!mine(s) && seenSources(s)) problems += s"source $s split across files"
          mine += s; seenSources += s
          seenLines.set(id.toInt); rows += 1
          prev = cur
        }
      } finally src.close()
    }
    if (rows != lines || seenLines.cardinality() != lines)
      problems += s"secondary sort wrote $rows rows, ${seenLines.cardinality()} distinct, want $lines"
    problems.result()
  }

  def layerMetrics(spark: SparkSession, view: LayerView): Map[String, Double] = {
    val mrSpans = Seq("mr.wordcount", "mr.write", "mr.collation", "mr.secondary_sort")
      .flatMap(view.named)
    val shuffleRecords = mrSpans.map(s => view.work.get(s.id).map(_.shuffleWriteRecords).getOrElse(0L)).sum
    val cycles = math.max(1, view.named("mr.wordcount").size)
    // records the map functions emit per cycle: a word each for wordcount
    // and collation, a line each for secondary sort
    val mapRecords = 2.0 * words + lines
    Map(
      "mr.wordcount_s" -> view.perCallSeconds("mr.wordcount"),
      "mr.write_s" -> view.perCallSeconds("mr.write"),
      "mr.collation_s" -> view.perCallSeconds("mr.collation"),
      "mr.secondary_sort_s" -> view.perCallSeconds("mr.secondary_sort"),
      "mr.map_records" -> mapRecords,
      "mr.shuffle_records" -> shuffleRecords.toDouble / cycles,
      "mr.combine_ratio" -> shuffleRecords.toDouble / cycles / mapRecords)
  }
}
