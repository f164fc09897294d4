package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Result of a Pregel run: final vertex state + how many supersteps ran
  * (with `blockSize` > 1 this can overshoot convergence by up to
  * blockSize−1 — the vote is only read at block boundaries). */
final case class PregelResult(vertices: DataFrame, supersteps: Int)

/** DataFrame-native Pregel/BSP loop — the Spark form of the reference's
  * vertex paradigm (`/root/reference/daemons/core/module_vertex.py:76-180`,
  * initiator FSM `/root/reference/daemons/initiator/module_vertex.py:98-172`).
  *
  * Mapping of the reference machinery:
  *   - superstep barrier (SHIFT→COMPUTE→PROCESS surveyor FSM): each loop
  *     iteration's Spark action is a natural global barrier;
  *   - message routing via the nanomsg vertexbroker topic prefix
  *     (`module_vertex.py:94-96`): a shuffle on `dst` — and exactly-once,
  *     where the reference's relay is at-most-once by design
  *     (`module_vertex.py:150-159` throws duplicates away); we document the
  *     deviation as a fix, not a parity break;
  *   - double-buffered message queues (`module_vertex.py:80-81,116-125`):
  *     the messages DataFrame of superstep N is consumed to build vertices
  *     N+1 — the dataflow IS the double buffer;
  *   - vote-to-halt (`module_vertex.py:165-179`): a `halt` boolean column
  *     produced by the vertex program; the loop stops when every vertex
  *     votes halt, or at `maxIter` (pagerank's superstep cap,
  *     `examples/pagerank/pagerank.py:39-43`).
  *
  * Scale design: vertices and messages both hash-partition on `id`, so the
  * post-aggregation join can reuse the exchange; per-block state is
  * persisted (memory-and-disk) and lineage is truncated with a lazy
  * `localCheckpoint` every `checkpointEvery` supersteps — without it the
  * join-per-iteration plan grows exponentially and kills the driver long
  * before 100 TB kills the executors. The loop additionally runs on a
  * graph-sized session (see [[graft.LoopSession]]) and can batch
  * `blockSize` supersteps per plan to amortize Catalyst's fixed planning
  * cost — the two costs that dominate iterative dataflow once per-task
  * work is small.
  */
object Pregel {

  /** Run a vertex program.
    *
    * @param vertices initial state, must carry an `id` column (+ state cols)
    * @param edges    `src`, `dst` (+ optional edge attribute cols)
    * @param maxIter  superstep cap (G6)
    * @param sendMsg  message payload, evaluated per out-edge over the
    *                 vertex⋈edges triplet (vertex state + edge attrs);
    *                 null = send nothing (G2's `forward`)
    * @param mergeMsg commutative+associative aggregation over the `msg`
    *                 column — Catalyst makes it a partial agg, i.e. the
    *                 map-side combine remap never had
    * @param vprog    vertex update: receives current state joined with the
    *                 aggregated `msg` column (null when no messages) and the
    *                 0-based superstep; returns the new state with the same
    *                 `id` + state columns, optionally a `halt` boolean for
    *                 vote-to-halt (G5)
    * @param blockSize supersteps composed into ONE plan per materialization.
    *                 Catalyst planning (~200 ms/plan regardless of data
    *                 size) dominates a superstep once tasks are cheap, so
    *                 batching k supersteps per action cuts driver overhead
    *                 ~k×. The halt vote is only checked at block
    *                 boundaries, so a converged program runs up to
    *                 blockSize−1 extra supersteps — only set blockSize > 1
    *                 when that is harmless: fixed-iteration programs
    *                 (PageRank) or monotone ones whose converged state is a
    *                 fixed point (max/min propagation, components)
    * Adaptive block growth (double the block each materialization) was
    * tried and REJECTED, twice, with measurements: per-plan Catalyst
    * analysis + codegen cost grows super-linearly in composed supersteps,
    * so bigger blocks lose more on planning than they save on plan count —
    * blocks of 12 burned minutes of driver CPU (vs sub-second at 3), and
    * even a cap of 6 made the 27-superstep q33 4× slower (26.9s vs 6.4s at
    * fixed blockSize=3; sf0.1, local[32]). blockSize=3 is the measured
    * sweet spot for this loop's join+agg+join superstep shape.
    *
    * @param updateEdges G7 dynamic topology — the reference lets a vertex
    *                 subscribe/unsubscribe topics mid-computation
    *                 (`module_vertex.py:98-102`), i.e. rewire who it hears
    *                 from. Edges are just a DataFrame here, so the hook is
    *                 `(edges, vertices, nextStep) => edges'`, applied at
    *                 every BLOCK boundary (the new frame is re-persisted and
    *                 the old cache dropped). Within a block the topology is
    *                 frozen — programs whose semantics need edge updates
    *                 after every superstep (k-core peeling) must run with
    *                 blockSize = 1.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int,
          sendMsg: Column, mergeMsg: Column => Column,
          vprog: (DataFrame, Int) => DataFrame,
          blockSize: Int = 1,
          updateEdges: Option[(DataFrame, DataFrame, Int) => DataFrame] = None,
          rowsPerPartition: Long = graft.LoopSession.rowsPerPartition): DataFrame =
    runWithStats(vertices, edges, maxIter, sendMsg, mergeMsg, vprog,
      blockSize, updateEdges, rowsPerPartition = rowsPerPartition).vertices

  /** Supersteps between hard lineage truncations (and durable writes). */
  private val checkpointEvery = 2

  /** Durable-checkpoint support: a long Pregel run (hundreds of supersteps
    * over a 100 TB-derived graph) must survive a driver loss without
    * recomputing from superstep 0 — `localCheckpoint` truncates lineage
    * but dies with the executors. When `durableDir` is set, every
    * lineage-truncation point ALSO writes the vertex state to
    * `durableDir/step_<n>` parquet plus an atomically-renamed `LATEST`
    * marker (written only AFTER the parquet commit, so a crash mid-write
    * leaves the previous consistent state discoverable). On a cluster the
    * directory must be shared storage (HDFS/S3), like any checkpoint dir.
    * Cost: one extra write job per durable checkpoint — opt-in for runs
    * whose recompute cost exceeds it.
    *
    * [[resumeState]] reads the newest consistent state; pass it as
    * `vertices` with `startStep` to continue — vprog sees the same
    * absolute superstep indices it would have seen uninterrupted. */
  def resumeState(spark: org.apache.spark.sql.SparkSession,
                  durableDir: String): Option[(DataFrame, Int)] = {
    val marker = java.nio.file.Paths.get(durableDir, "LATEST")
    if (!java.nio.file.Files.exists(marker)) None
    else {
      val n = java.nio.file.Files.readString(marker).trim.toInt
      Some((spark.read.parquet(s"$durableDir/step_$n"), n))
    }
  }

  private def writeDurable(v: DataFrame, durableDir: String,
                           step: Int): Unit = {
    v.write.mode("overwrite").parquet(s"$durableDir/step_$step")
    val dir = java.nio.file.Paths.get(durableDir)
    val tmp = dir.resolve("LATEST.tmp")
    java.nio.file.Files.writeString(tmp, step.toString)
    java.nio.file.Files.move(tmp, dir.resolve("LATEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def runWithStats(vertices: DataFrame, edges: DataFrame, maxIter: Int,
                   sendMsg: Column, mergeMsg: Column => Column,
                   vprog: (DataFrame, Int) => DataFrame,
                   blockSize: Int = 1,
                   updateEdges: Option[(DataFrame, DataFrame, Int) => DataFrame] = None,
                   durableDir: Option[String] = None,
                   startStep: Int = 0,
                   rowsPerPartition: Long = graft.LoopSession.rowsPerPartition): PregelResult = {
    require(vertices.columns.contains("id"), "vertices need an `id` column")
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      "edges need `src` and `dst` columns")
    require(blockSize >= 1, "blockSize must be >= 1")
    require(startStep >= 0, "startStep must be >= 0")

    val spark = vertices.sparkSession
    var e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    var v: DataFrame = null
    var prev: DataFrame = null
    var staleE: DataFrame = null
    var step = startStep
    var allHalt = false
    // everything after the first persist sits inside the try so a failure
    // anywhere — including setup (materializing the edge cache can run a
    // whole dedup pipeline for q47) — unpersists in the finally
    try {
    v = vertices.localCheckpoint(true)

    // Size the superstep shuffles to the GRAPH, not the session default
    // (see graft.LoopSession). AQE is off in the loop session: the loop
    // sizes its shuffles explicitly, and AQE's per-stage replanning is
    // pure driver overhead at superstep cadence.
    val nEdges = e.count() // also materializes the edge cache
    val nVerts = v.count() // cheap: v is checkpointed
    val loop = graft.LoopSession(spark, math.max(nVerts, nEdges),
      rowsPerPartition, confs = Seq("spark.sql.adaptive.enabled" -> "false"))
    val loopParts = loop.partitions

    // Re-cache the edges HASH-PARTITIONED AND SORTED on `src`, the
    // triplets join's key (guide §2.4: operations keyed the same way
    // share one exchange). Every superstep joins vertices⋈edges on
    // id === src; with the cache exposing HashPartitioning(src,
    // loopParts) and per-partition src order, EnsureRequirements drops
    // the edge-side Exchange AND the edge-side Sort from every
    // superstep's SortMergeJoin — one setup shuffle of the edge set
    // buys maxIter exchanges+sorts of the same bytes (exchange reuse
    // only deduplicated WITHIN a block's plan, never across blocks, and
    // never the per-join sorts). The vertex side needs nothing: cur is
    // hash(id)-partitioned from superstep 1 on (join/agg output), and
    // LogicalRDD checkpoints preserve partitioning across blocks. This
    // also subsumes the old >2·loopParts coalesce compaction (the
    // repartition fixes the partition count exactly). The G7 rewire below
    // re-caches through the same definition; `ckpt` swaps the persist for
    // a lazy lineage-truncating checkpoint.
    def edgeCache(df: DataFrame, ckpt: Boolean): DataFrame = {
      val bySrc = df.repartition(loopParts, col("src"))
        .sortWithinPartitions("src")
      if (ckpt) bySrc.localCheckpoint(false)
      else bySrc.persist(StorageLevel.MEMORY_AND_DISK)
    }
    e = loop.into {
      val c = edgeCache(e, ckpt = false)
      c.count() // materialize (reads the old cache, no recompute)
      e.unpersist(false)
      c
    }
    if (v.queryExecution.toRdd.getNumPartitions > 2 * loopParts)
      v = v.coalesce(loopParts).localCheckpoint(true)
    v = loop.into(v)
    var sinceCkpt = 0
    while (step < maxIter && !allHalt) {
      val block = math.min(blockSize, maxIter - step)
      // Compose `block` supersteps into one lazy plan. Plan aliases (not
      // df("col") attribute refs): the vertex frame's lineage contains the
      // edge frame both across materializations and within a block, so
      // attribute-id references would trip DetectAmbiguousSelfJoin; the
      // innermost SubqueryAlias shadows outer ones, so reusing __v/__e
      // per superstep resolves correctly.
      var cur = v
      var voteToHalt = false
      for (i <- 0 until block) {
        val triplets = cur.as("__v").join(e.as("__e"), col("__v.id") === col("__e.src"))
        val msgs = triplets
          .select(col("__e.dst").as("id"), sendMsg.as("msg"))
          .filter(col("msg").isNotNull)
        val agg = msgs.groupBy(col("id")).agg(mergeMsg(col("msg")).as("msg"))
        val joined = cur.join(agg, Seq("id"), "left_outer")
        val nv0 = vprog(joined, step + i)
        voteToHalt = nv0.columns.contains("halt")
        cur = nv0
      }

      // Materialize once per block (bounded lineage between checkpoints);
      // hard-truncate lineage every `checkpointEvery` supersteps. The
      // checkpoint is LAZY: the halt-check action below materializes it in
      // the same Spark job — an eager checkpoint would run a second job per
      // checkpointed block for nothing.
      sinceCkpt += block
      val didCkpt = sinceCkpt >= checkpointEvery
      val nv =
        if (didCkpt) { sinceCkpt = 0; cur.localCheckpoint(false) }
        else cur.persist(StorageLevel.MEMORY_AND_DISK)
      // durable state rides the same cadence as lineage truncation: the
      // write job materializes the lazy checkpoint, and the halt action
      // below then reads the cache — one write job is the entire overhead
      if (didCkpt && durableDir.isDefined)
        writeDurable(nv, durableDir.get, step + block)
      // The halt vote is an AGGREGATE, not filter(...).isEmpty: isEmpty is
      // a limit(1) that can stop after the first non-halting partition,
      // leaving this block's cache partially materialized — the next block
      // would then silently recompute the missing partitions from lineage.
      // bool_and scans every partition, so the same job that answers the
      // vote also finishes the materialization (empty frame → vacuous halt).
      allHalt =
        if (voteToHalt)
          // collect-ok: 1-row bool_and aggregate — the BSP halt vote
          nv.agg(coalesce(bool_and(col("halt")), lit(true)))
            .head().getBoolean(0)                       // action → barrier
        else { nv.count(); false }                      // action → barrier

      if (prev != null) prev.unpersist(false)
      prev = v
      v = nv
      step += block

      // The PREVIOUS generation's edge cache retires only now: the current
      // e's first materialization (this block's halt action, which scanned
      // every partition) read through it, so dropping it any earlier would
      // have forced a recompute mid-block. One extra cached generation
      // buys zero extra jobs per block.
      if (staleE != null) { staleE.unpersist(false); staleE = null }

      // G7: rewire the topology between blocks. The new frame hard-truncates
      // lineage on the same cadence as the vertex side — an edge chain of
      // persists across hundreds of blocks would otherwise recompute
      // transitively on eviction. No action here: the next block's halt
      // vote materializes it in the same job that materializes the
      // vertices (an eager count() would be one extra job per block).
      if (!allHalt && step < maxIter && updateEdges.isDefined) {
        val ne0 = updateEdges.get(e, nv, step)
        // A no-op hook (returning the edge frame, or an equal plan) must
        // NOT rotate the cache: persist() on an already-cached plan is a
        // no-op in the shared CacheManager, so the staleE.unpersist would
        // evict the LIVE cache and every later superstep would recompute
        // the edge lineage (which can hold a whole dedup pipeline).
        if (!(ne0 eq e) &&
            ne0.queryExecution.logical != e.queryExecution.logical) {
          // rewired topology keeps the same cache discipline: partitioned
          // and sorted on `src` so the next blocks' joins stay
          // exchange-free on the edge side (the hook output usually ends
          // hash-partitioned on some OTHER key — kCore's alive-filter
          // ends on `dst` — so without this every post-rewire join
          // re-shuffles the edge set anyway; the explicit repartition
          // pays the same one shuffle and then feeds every later block)
          staleE = e
          e = edgeCache(loop.into(ne0), ckpt = didCkpt)
        }
      }
    }

    // hand the result back on the CALLER's session
    PregelResult(loop.back(v.drop("halt").localCheckpoint(true)), step)
    } finally {
      // also the exception path: without these a failure anywhere above
      // would leave the edge cache and the last vertex frames pinned for
      // the session's lifetime
      if (prev != null) prev.unpersist(false)
      if (v != null) v.unpersist(false)
      if (staleE != null) staleE.unpersist(false)
      e.unpersist(false)
    }
  }
}
