package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Single-source BFS as iterative DataFrame rounds.
  *
  * Capability parity with the reference's MapReduce BFS
  * (`BFS_map_reduce.py:115-150` in Riachi02/BFS-MapReduce): for every
  * vertex reachable from `source`, the shortest-hop distance and
  * (optionally) one deterministic shortest path `[source .. v]`
  * inclusive — the path semantics of the reference's map phase
  * (`BFS_map_reduce.py:31-35`).
  *
  * Design — frontier-only dataflow, NOT a port of the reference:
  *   - The reference re-sends the whole vertex set through map+shuffle+
  *     reduce every round and merges proposals single-threaded on the
  *     driver (`BFS_map_reduce.py:124-136`). Here only the current
  *     frontier expands (`frontier JOIN edges`), and the min-merge with
  *     the running state is one partial-aggregated shuffle; the next
  *     frontier falls out of the merged state as `dist == round`.
  *     Expansion cost is O(|frontier| * avg-degree) per round.
  *   - The reference's reduce semilattice (min dist, argmin path, darkest
  *     color — `BFS_map_reduce.py:50-70`) collapses to
  *     `min(struct(dist, path))`: one Catalyst aggregate, associative and
  *     order-insensitive, with a deterministic lexicographic tie-break
  *     (reference hazard H2/H6 impossible by construction). Color is
  *     derivable (visited=BLACK, else WHITE) and never materialized.
  *   - Convergence is "frontier empty", not the reference's "all BLACK"
  *     (`BFS_map_reduce.py:149-150`), so disconnected graphs terminate
  *     (reference hazard H4) and unreachable vertices surface as
  *     dist=null via [[withUnreachable]].
  *
  * Scale notes (100 TB / 1000 executors):
  *   - Edges are hash-partitioned by `src` ONCE up front and persisted;
  *     every round's expansion join reuses that partitioning, so only the
  *     (small) frontier moves when the join shuffles — and per-round work
  *     runs at full parallelism rather than the raw scan's partition count.
  *   - While the frontier is below `broadcastFrontierRows`, the expansion
  *     is a broadcast-hash join — the edge table never shuffles at all.
  *     For web-scale frontiers the join degrades gracefully to
  *     shuffle-hash/sort-merge on the co-partitioned edge table.
  *   - Lineage is truncated with a `localCheckpoint` every round —
  *     without this, plan nesting makes round N re-derive rounds
  *     1..N-1 and planning time blows up (measured on sf0.01: with
  *     persist only, round 7's driver-side optimization took 5s; a
  *     per-round checkpoint keeps every round flat at ~0.4s). Catalyst
  *     has no fixpoint operator; the loop lives on the driver, one
  *     action per round, same barrier structure as the reference's
  *     `ray.get`.
  *   - The per-round action is the `count()` on the new frontier, which
  *     doubles as the convergence test — exactly one job per round.
  */
object Bfs {

  /** @param maxIterations hard stop (defense against adversarial inputs;
    *                      BFS rounds = eccentricity(source) + 1)
    * @param broadcastFrontierRows frontier row-count below which the
    *        expansion join broadcasts the frontier
    * @param withPaths also compute the lexicographically-smallest
    *        shortest path (costs an array column through every shuffle;
    *        off for distance-only analytics at scale) */
  final case class Config(
      maxIterations: Int = 200,
      broadcastFrontierRows: Long = 4000000L,
      withPaths: Boolean = false)

  /** BFS over a DIRECTED edge table (columns `src`, `dst`). For an
    * undirected graph pass `GraphOps.symmetrize(edges)`.
    *
    * Each round runs exactly ONE shuffle and ONE job: the frontier
    * (broadcast while small) expands over the co-partitioned edge
    * table, the candidates are unioned with the running state and
    * min-merged per id (`state ∪ candidates → groupBy(id).min` — the
    * reference's whole reduce semilattice as one partial-aggregated
    * exchange), and the next frontier falls out of the cached state as
    * `dist == round` — no separate anti-join/visited bookkeeping, which
    * would cost a second shuffle per round.
    *
    * The loop runs with AQE off ([[GraphOps.withLoopAqeDisabled]]):
    * each round is a fixed-shape job and AQE's per-stage scheduling
    * costs ~20-30% of loop wall-clock. Every round state is a lazy
    * local checkpoint, so the result is a flat checkpoint handle and
    * every other loop-internal block (seed, superseded rounds, the
    * partitioned edge table) is released before returning.
    *
    * @return DataFrame(id LONG, dist LONG [, path ARRAY<LONG>]) — reached
    *         vertices only; join [[withUnreachable]] for the full set. */
  def run(edges: DataFrame, source: Long, cfg: Config = Config()): DataFrame =
    runMulti(edges, Seq(source), cfg)

  /** Multi-source BFS: distance (and path) to the NEAREST of the given
    * sources — same semilattice, multi-seed init (a capability
    * extension; the reference hardcodes source 0,
    * `BFS_map_reduce.py:109`). */
  def runMulti(edges: DataFrame, sources: Seq[Long],
               cfg: Config = Config()): DataFrame = {
    require(sources.nonEmpty, "at least one source vertex required")
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      runMultiLoop(edges, sources, cfg)
    }
  }

  private def runMultiLoop(edges: DataFrame, sources: Seq[Long],
                           cfg: Config): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Partition the (big) edge table by src once, upfront. Measured
    // tradeoff: deferring this exchange until a frontier outgrows the
    // broadcast threshold LOOKS cheaper, but a compact parquet scan
    // yields very few partitions and every round's join then runs at
    // that parallelism — the one-time exchange both co-locates the
    // join key for non-broadcast rounds AND spreads the per-round work
    // across the cluster.
    // LOCAL CHECKPOINT, not persist (r17, measured loop-wide): the
    // columnar cache pays a decode on EVERY round's read of this
    // table; checkpoint row blocks skip both codecs. Lazy — the first
    // round's job materializes it, so the job count is unchanged.
    val e = edges.select($"src", $"dst")
      .repartition($"src")
      .localCheckpoint(false)

    val initCols =
      if (cfg.withPaths)
        Seq($"id", lit(0L).as("dist"), array($"id").as("path"))
      else Seq($"id", lit(0L).as("dist"))

    val seed = sources.distinct.toDF("id").select(initCols: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state = seed
    var frontier = state
    // actual seed count — a large multi-source seed set must not slip
    // under the broadcast guard on round 1
    var frontierRows = sources.distinct.size.toLong
    var iter = 0
    val superseded = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    while (frontierRows > 0 && iter < cfg.maxIterations) {
      iter += 1
      val tRound = System.nanoTime()
      // Expansion (reference map phase, `BFS_map_reduce.py:25-42`):
      // emit (dst, f.dist+1[, path :+ dst]) per frontier-adjacent edge.
      // `f.dist + 1` (== the round number for every frontier row, which
      // is exactly the dist==round-1 slice) rather than `lit(round)`:
      // a literal that changes every round makes each round's generated
      // code unique — a whole-stage-codegen recompilation per round —
      // while the column form keeps the plan byte-identical across
      // rounds so Janino's cache hits (measured ~20% of loop time).
      // Alias both sides: the frontier's lineage contains the edge
      // table, so unqualified refs would be ambiguous.
      val f0 =
        if (frontierRows <= cfg.broadcastFrontierRows) broadcast(frontier)
        else frontier
      val f = f0.as("f")
      val ea = e.as("e")
      val candidates =
        if (cfg.withPaths)
          f.join(ea, col("f.id") === col("e.src"))
            .select(col("e.dst").as("id"), (col("f.dist") + 1L).as("dist"),
                    concat(col("f.path"), array(col("e.dst"))).as("path"))
        else
          f.join(ea, col("f.id") === col("e.src"))
            .select(col("e.dst").as("id"), (col("f.dist") + 1L).as("dist"))

      // Merge (reference reduce, `BFS_map_reduce.py:50-56`): per id keep
      // the min (dist, path) — struct-min = argmin with deterministic
      // lexicographic tie-break (reference hazards H2/H6 impossible by
      // construction). Previously-settled vertices win automatically
      // (their dist < round), so no anti-join is needed.
      var newState =
        if (cfg.withPaths)
          state.union(candidates).groupBy($"id")
            .agg(min(struct($"dist", $"path")).as("m"))
            .select($"id", $"m.dist".as("dist"), $"m.path".as("path"))
        else
          state.union(candidates).groupBy($"id").agg(min($"dist").as("dist"))
      // LAZY checkpoint: the frontier count below materializes the
      // blocks in the SAME job (localCheckpoint persists-at-mark and
      // truncates lineage at that job's end) — the eager form paid a
      // second cached-scan job per round for nothing (r17, the q_msf
      // fuse applied loop-wide)
      newState = newState.localCheckpoint(false)

      // Next frontier = vertices first reached this round; counting it
      // is the one action per round and doubles as the convergence test.
      frontier = newState.filter($"dist" === iter)
      frontierRows = frontier.count()

      // One stderr line per BSP round. The loop's per-round fixed cost
      // (job scheduling + checkpoint materialization) is invisible in a
      // whole-query timing; when a bench host reports the loop 4x slower
      // with byte-identical code, these lines say whether every round
      // inflated uniformly (machine) or one round dominates (plan/skew).
      System.err.println(
        f"[bfs] round $iter frontier=$frontierRows " +
          f"${(System.nanoTime() - tRound) / 1e9}%.2fs")

      if (state ne seed) superseded += state
      state = newState
    }
    // the seed is a persisted frame (a CacheManager entry); every later
    // round state is a checkpoint handle, whose blocks live at the RDD
    // layer that Dataset.unpersist never touches
    if (state ne seed) seed.unpersist(false)
    superseded.foreach(GraphOps.releaseCheckpointedFrame(_))
    GraphOps.releaseCheckpointedFrame(e)
    state
  }

  /** Full vertex report in the reference's output shape: unreachable
    * vertices appear with dist=null (and path=null), color BLACK for
    * reached else WHITE (`Node.py:6-10` semantics, hazard-H4-safe). */
  def withUnreachable(reached: DataFrame, edges: DataFrame): DataFrame = {
    val all = GraphOps.vertices(edges)
    all.join(reached, Seq("id"), "left_outer")
      .withColumn("color",
        when(col("dist").isNotNull, lit("BLACK")).otherwise(lit("WHITE")))
  }
}
