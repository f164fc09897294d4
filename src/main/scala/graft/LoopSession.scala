package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftSessionBridge

/** A loop's data-sized session — the one owner of the policy Pregel, the
  * alternating-star CC and the stateful stream gates share.
  *
  * Why sized: cached and checkpointed plans are exempt from AQE partition
  * coalescing (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * defaults to false), so a loop over a small frame would otherwise pay
  * `spark.sql.shuffle.partitions` near-empty tasks per shuffle per step —
  * at local[32] that made a 25-vertex PageRank ~10× slower than the data
  * justifies, and on a 1000-executor cluster it is the same waste in
  * scheduler RPCs. At real scale rows/perPartition exceeds the session
  * setting and the clamp keeps full parallelism.
  *
  * Why a clone: the overrides live on a CLONE of the caller's session
  * (same SparkContext, catalog, cache manager, runtime conf state and
  * temp views — only the SQLConf overrides differ), so concurrent queries
  * on the caller's session are never planned with loop settings and two
  * concurrent loops cannot race a save/restore. */
private[graft] final class LoopSession private (
    caller: SparkSession, val session: SparkSession, val partitions: Int) {

  /** `df`'s plan on the loop session. */
  def into(df: DataFrame): DataFrame = GraftSessionBridge.rebind(df, session)

  /** `df`'s plan handed back to the caller's session. */
  def back(df: DataFrame): DataFrame = GraftSessionBridge.rebind(df, caller)
}

private[graft] object LoopSession {

  /** Default target rows per shuffle partition inside a loop. A vertex
    * program can pass a finer grain when its supersteps are compute-heavy
    * per row (wide vector state, per-edge weight arithmetic): q228's
    * 4-landmark array program dropped 27% at 131072 rows/partition,
    * pagerank/trustrank/longest-path 10-20% — while programs with many
    * cheap supersteps over small or shrinking frontiers (SCC's
    * forward/backward passes, alternating-star CC) measurably LOSE at
    * finer grain because per-superstep fixed cost scales with partition
    * count. Both regimes clamp to the session setting, so cluster-scale
    * graphs keep full parallelism either way. */
  val rowsPerPartition = 500000L

  /** The clamp: `rows / perPartition + 1`, never above the session's
    * `sessionParts`, never below `floor` (the floor wins a conflict). */
  def partitions(sessionParts: Int, rows: Long,
                 perPartition: Long = rowsPerPartition, floor: Int = 1): Int =
    math.max(floor.toLong,
      math.min(sessionParts.toLong, rows / perPartition + 1)).toInt

  /** Clone `spark` with its shuffle partitions sized to `rows` by
    * [[partitions]], then apply the caller's `confs` on the clone. */
  def apply(spark: SparkSession, rows: Long,
            perPartition: Long = rowsPerPartition, floor: Int = 1,
            confs: Seq[(String, String)] = Nil): LoopSession = {
    val parts = partitions(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      rows, perPartition, floor)
    val s = GraftSessionBridge.cloneSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    new LoopSession(spark, s, parts)
  }
}
