package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{Algorithms, Pregel}

class LoopSessionSpec extends GraftSuite {
  import spark.implicits._

  test("the clamp: rows / perPartition + 1, capped by the session, floored") {
    val cases = Seq(
      // (label, sessionParts, rows, perPartition, floor, expected)
      ("Pregel default, small graph", 32, 40000L, LoopSession.rowsPerPartition, 1, 1),
      ("Pregel default, 1.2M rows", 32, 1200000L, LoopSession.rowsPerPartition, 1, 3),
      ("pageRank's finer grain", 32, 1200000L, 131072L, 1, 10),
      ("ccAlternating on nE = 6M", 32, 6000000L, LoopSession.rowsPerPartition, 1, 13),
      ("ccAlternating on q201's nE", 32, 1024L * 1023L + 768L,
        LoopSession.rowsPerPartition, 1, 3),
      ("stream gate, 4096 keys", 32, 4096L, 2048L, 2, 3),
      ("stream floor of 2", 32, 100L, 2048L, 2, 2),
      ("floor beats a 1-partition session", 1, 100L, 2048L, 2, 2),
      ("clamped to the session setting", 4, 100000000L,
        LoopSession.rowsPerPartition, 1, 4),
      ("clamped at the finer grain too", 32, 1000000000L, 131072L, 1, 32))
    cases.foreach { case (label, session, rows, per, floor, want) =>
      assert(LoopSession.partitions(session, rows, per, floor) == want, label)
    }
    assert(LoopSession.rowsPerPartition == 500000L)
  }

  test("the clone carries the sized partitions and the overrides, " +
      "the caller keeps its own") {
    val before = spark.conf.getAll
    val loop = LoopSession(spark, 10L,
      confs = Seq("spark.sql.adaptive.enabled" -> "false"))
    assert(!(loop.session eq spark))
    assert(loop.partitions == 1)
    assert(loop.session.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(loop.session.conf.get("spark.sql.adaptive.enabled") == "false")
    // runtime conf state is cloned, not reset to builder defaults
    assert(loop.session.conf.get("spark.sql.session.timeZone") == "UTC")
    val df = Seq(1L, 2L).toDF("x")
    assert(loop.into(df).sparkSession eq loop.session)
    assert(loop.back(loop.into(df)).sparkSession eq spark)
    assert(spark.conf.getAll == before)
  }

  test("Pregel, ccAlternating and the stream gates leave the caller's " +
      "session confs untouched") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    def snapshot() = keys.map(k => k -> spark.conf.get(k)).toMap
    val before = snapshot()
    val v = (0L until 6L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val pr = Pregel.run(v.select(col("id"), col("id").as("component")), e,
      maxIter = 5, sendMsg = col("component"), mergeMsg = min,
      vprog = (df, _) => df.select(col("id"),
        least(col("component"), coalesce(col("msg"), col("component")))
          .as("component")))
    assert(pr.sparkSession eq spark)
    assert(pr.count() == 6L)
    assert(snapshot() == before, "after Pregel.run")
    val cc = Algorithms.ccAlternating(v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    assert(snapshot() == before, "after ccAlternating")
    assert(streaming.Streams.q206Run(spark, 8L).count() > 0L)
    assert(snapshot() == before, "after Streams.q206Run")
  }

  test("ccAlternating releases its edge cache when the edges fail to evaluate") {
    // a range, not a local Seq: the optimizer would fold a local relation's
    // projection and raise at planning time, before any persist
    val v = spark.range(4L).toDF("id")
    val bad = v.select(col("id").as("src"),
      when(col("id") >= 0L, raise_error(lit("edge evaluation failed")))
        .otherwise(col("id")).as("dst"))
    val err = intercept[Exception](Algorithms.ccAlternating(v, bad))
    assert(String.valueOf(err.getMessage).contains("edge evaluation failed"),
      err.toString)
    assert(Algorithms.ccCanonicalEdges(bad).storageLevel == StorageLevel.NONE)
  }
}
