package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cleanup hook for frames the library operators persist internally.
  *
  * Several operators (the dedup/similarity substrates) persist an
  * intermediate frame because their returned plan references it from more
  * than one branch — the persist is load-bearing, and the frame must stay
  * cached until the CALLER's consuming action runs, so the operator itself
  * can never unpersist it. Without a hook, a long-lived session composing
  * many such operators (e.g. repeated pipeline invocations) accumulates
  * pinned MEMORY_AND_DISK blocks until LRU eviction.
  *
  * Operators register every internal persist here; a caller drains the
  * registry after its action completes:
  *
  * {{{
  *   val pairs = Dedup.nearDupMinHash(docs, "doc_id", "text")
  *   pairs.write.parquet(out)      // consuming action
  *   CacheRegistry.unpersistAll()  // release the operator-internal caches
  * }}}
  *
  * `spark.catalog.clearCache()` is the blunter equivalent (it also drops
  * caches the caller owns); Bench/Verify use that between queries, library
  * users should prefer this hook.
  */
object CacheRegistry {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` (memory-and-disk) and track it for [[unpersistAll]]. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    frames.add(p)
    p
  }

  /** Unpersist every tracked frame. Safe to call at any time: unpersisting
    * a frame a plan still references only costs recomputation, never
    * wrong results. */
  def unpersistAll(blocking: Boolean = false): Unit = {
    var df = frames.poll()
    while (df != null) {
      try df.unpersist(blocking)
      catch { case _: Throwable => () } // a stopped session is not an error
      df = frames.poll()
    }
  }

  /** Number of currently tracked frames (test introspection). */
  def trackedCount: Int = frames.size()

  /** Full inter-measurement sweep shared by the measurement harnesses
    * (SkewAudit, ScaleProbe, Bench's confirmation rerun): blocking
    * registry drain, catalog cache clear, a sweep of the persistent RDDs
    * neither can see (the Pregel loops return localCheckpoint'ed results
    * whose blocks stay pinned until GC), then double-gc so the
    * ContextCleaner's weak-ref work from the first pass is collected by
    * the second. Bench's between-run fence is the one variant: it runs
    * the sweep and the gc only when something was actually pinned (or
    * the row is a run-once stress row) — see Bench.scala. */
  def drainForMeasurement(spark: org.apache.spark.sql.SparkSession): Unit = {
    unpersistAll(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    System.gc()
    Thread.sleep(100) // let the ContextCleaner drain before the clock starts
  }
}
