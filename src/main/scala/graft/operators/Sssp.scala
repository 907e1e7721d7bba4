package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths — Bellman-Ford as BSP rounds,
  * the weighted generalization of the reference's unweighted BFS
  * (`BFS_map_reduce.py:115-150`: same frontier/semilattice machinery,
  * min-plus instead of min-hop).
  *
  * Round structure follows [[Bfs.run]] — ONE shuffle and ONE job per
  * round — with the one structural difference weights force: BFS knows
  * the newly-settled vertices by `dist == round`, but a weighted
  * relaxation can IMPROVE an already-reached vertex, so each round's
  * merge aggregates BOTH the new minimum and the previous state's
  * minimum per id (`min(dist)` and `min(dist WHERE old)` in one
  * partial-aggregated exchange) and the next frontier is the rows
  * where the new minimum is strictly better. Rounds needed = hop count
  * of the longest shortest path (≤ |V|-1, the Bellman-Ford bound);
  * convergence is "no vertex improved".
  *
  * Weights must be non-negative integers (`w` column, long-castable).
  * The guard rides the expansion projection as a codegen'd
  * `raise_error` branch — no extra validation job (negative weights
  * would silently produce wrong fixpoints; Bellman-Ford's
  * negative-cycle semantics are not this operator's contract).
  *
  * Scale notes: identical to [[Bfs]] — edges hash-partitioned on `src`
  * once and checkpointed, frontier broadcast while small, a lazy
  * per-round localCheckpoint keeps lineage flat, AQE off inside the
  * loop.
  */
object Sssp {

  /** Bellman-Ford needs ≤ |V|-1 rounds; [[run]] throws past this cap —
    * a partial fixpoint is silently-wrong distances. */
  private val MaxRounds = 200

  /** Frontier row-count below which the relaxation join broadcasts
    * the frontier (the [[Bfs.Config]] default). */
  private val BroadcastFrontierRows = 4000000L

  /** SSSP over a DIRECTED weighted edge table (columns `src`, `dst`,
    * `w`). For an undirected graph pass symmetrized edges with the
    * same weight in both directions.
    *
    * The result is a projection of the last round's checkpoint; every
    * other loop-internal block (superseded rounds, the partitioned
    * edge table) is released before returning — and, when a round
    * throws (a negative weight), all of them including the last.
    *
    * @return DataFrame(id LONG, dist LONG) — reached vertices only. */
  def run(edges: DataFrame, source: Long): DataFrame =
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      runLoop(edges, source, MaxRounds, boundedHops = false)
    }

  /** Hop-bounded SSSP: the cheapest cost to each vertex over paths of
    * AT MOST `hops` edges — after round h the state is exactly the
    * min-cost-within-h-hops table (the frontier-optimized rounds
    * preserve the textbook Bellman-Ford layer invariant), so stopping
    * at `hops` is a well-defined result, not a partial fixpoint. Two
    * uses: the k-hop-budget semantics itself (bounded-latency routing,
    * influence radius), and a driver-oracle face for the iterative
    * operator — a fixed round count is expressible as unrolled SQL
    * layers, where full convergence is not (the q_pagerank_2iter
    * trick). Early convergence before `hops` rounds returns the same
    * table the remaining rounds would (they'd be no-ops). */
  def runBounded(edges: DataFrame, source: Long, hops: Int): DataFrame =
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      runLoop(edges, source, hops, boundedHops = true)
    }

  private def runLoop(edges: DataFrame, source: Long, maxIterations: Int,
                      boundedHops: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // every checkpoint handle the loop creates, in creation order; the
    // last one backs the result and is kept on success, the rest are
    // released in the finally (all of them when a round throws)
    val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var ok = false
    try {
      val e = edges.select($"src", $"dst",
          when($"w" < 0, raise_error(lit(
            "negative edge weight: Sssp requires non-negative weights")))
            .otherwise($"w".cast("long")).as("w"))
        .repartition($"src")
        // local checkpoint, not persist: no columnar decode on the
        // per-round reads (r17 loop-residency doctrine; see PageRank)
        .localCheckpoint(false)
      handles += e

      var state = Seq(source).toDF("id").select($"id", lit(0L).as("dist"))
        .localCheckpoint(true)
      handles += state
      var frontier = state
      var frontierRows = 1L
      var iter = 0

      while (frontierRows > 0 && iter < maxIterations) {
        iter += 1
        val tRound = System.nanoTime()
        val f0 =
          if (frontierRows <= BroadcastFrontierRows) broadcast(frontier)
          else frontier
        val candidates = f0.as("f").join(e.as("e"), col("f.id") === col("e.src"))
          .select(col("e.dst").as("id"), (col("f.dist") + col("e.w")).as("dist"),
            lit(false).as("old"))

        // ONE exchange merges state and relaxations AND detects
        // improvement: newDist = min over both, oldDist = min over the
        // previous state only — improved iff newDist < oldDist (or the
        // vertex is newly reached). Both aggregates are plain mins on
        // primitive buffers: the chain stays HashAggregate/codegen.
        // lazy checkpoint: the frontier count materializes it in the
        // same job (the Bfs round fuse)
        val merged = state.select($"id", $"dist", lit(true).as("old"))
          .union(candidates)
          .groupBy($"id")
          .agg(min($"dist").as("dist"),
            min(when($"old", $"dist")).as("old_dist"))
          .localCheckpoint(false)
        handles += merged

        frontier = merged
          .filter($"old_dist".isNull || $"dist" < $"old_dist")
          .select($"id", $"dist")
        frontierRows = frontier.count()
        System.err.println(
          f"[sssp] round $iter improved=$frontierRows " +
            f"${(System.nanoTime() - tRound) / 1e9}%.2fs")

        state = merged.select($"id", $"dist")
      }
      if (frontierRows > 0 && !boundedHops) throw new IllegalStateException(
        s"SSSP did not converge in $maxIterations rounds (Bellman-Ford " +
          "needs at most |V|-1) — use runBounded for a hop-capped result")
      ok = true
      state
    } finally {
      // the result's own checkpoint is the last handle
      if (ok) handles.remove(handles.size - 1)
      handles.foreach(GraphOps.releaseCheckpointedFrame(_))
    }
  }
}
