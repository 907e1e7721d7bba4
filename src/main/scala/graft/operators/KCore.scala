package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete every
  * vertex whose degree is below k; what survives is the k-core (the
  * maximal subgraph where every vertex has ≥ k neighbors inside it).
  * The standard distributed formulation (Montresor et al. 2013 is the
  * message-passing variant; this is the simpler BSP peel, which is
  * exactly the semantics).
  *
  * Two faces:
  *  - [[peelBounded]]: a FIXED number of peel rounds — deterministic
  *    and expressible as an unrolled SQL oracle (the hop-bounded
  *    pattern of `q_sssp_copurchase`/`q_pagerank_2iter`). This is
  *    also what an interactive "roughly core-filter this graph" pass
  *    runs at 100 TB: each round costs one degree aggregation and one
  *    membership semi-join, and the first rounds remove almost
  *    everything that will ever be removed (the cascade tail is
  *    long but thin).
  *  - [[peel]]: run to the fixed point (the true k-core), with the
  *    BFS-style driver convergence test on the surviving-EDGE count
  *    (equivalent to the vertex-count test — see the loop comment —
  *    and exchange-free on the checkpointed survivor set).
  *    Spec-checked against [[peelBounded]] stabilization.
  *
  * Scale shape (100 TB): per round — degree = groupBy(src) on the
  * src-partitioned edge table (exchange-free after round 0's
  * repartition), then TWO semi-joins (src side exchange-free on the
  * same partitioning; dst side one exchange of the surviving edge
  * set). The keep-set is |V|-sized, so it is NOT broadcast — both
  * semi-joins shuffle-hash. Edges shrink monotonically: every round's
  * localCheckpoint materializes the smaller survivor set and flattens
  * lineage, so late rounds cost proportionally less. No driver-side
  * state beyond the convergence counter.
  *
  * AQE stays ON in both faces (r17, measured — the
  * [[SpanningForest.boruvka]] finding applied here): the surviving
  * edge set SHRINKS monotonically, so at the session's scan-sized
  * shuffle.partitions every late-round exchange writes a full set of
  * near-empty shuffle files (stack-sampled: IndexShuffleBlockResolver
  * metadata commits dominated executor CPU). Fresh-JVM on the gate
  * graph: AQE off [20.7ʷ, 11.0, 9.4]s @ CPU [299, 188, 148] vs AQE on
  * [16.7ʷ, 7.4, 6.8]s @ CPU [80, 31, 25]. The "AQE off inside loops"
  * doctrine holds only for FIXED-SHAPE rounds over a pre-partitioned
  * table ([[Bfs]], [[PageRank]]); any loop whose frames shrink wants
  * the coalescing.
  *
  * Negative result (r13, measured): fusing two peel steps per
  * checkpointed round — legal, since peeling is confluent (monotone
  * removals reach one unique fixpoint under any schedule) — is 1.6×
  * SLOWER (21.9s vs 13.7s isolated at sf0.1): [[peelRound]] reads its
  * input THREE times (degree agg + both probe sides), so an
  * unmaterialized intermediate recomputes the first step's joins
  * threefold. The per-round localCheckpoint is load-bearing, not
  * overhead — don't retry this.
  */
object KCore {

  /** Exactly `rounds` peel rounds (no convergence test — determinism
    * for the unrolled oracle). Vertices with no surviving edges are
    * gone from the output.
    *
    * @param edges SYMMETRIZED edge table (`src`, `dst`)
    * @return DataFrame(id LONG, deg LONG): surviving vertices with
    *         their degree INSIDE the surviving subgraph. */
  def peelBounded(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k > 0 && rounds > 0, s"need k>0, rounds>0; got k=$k rounds=$rounds")
    runPeel(edges, k, maxRounds = rounds, toConvergence = false)
  }

  /** Peel to the fixed point: the true k-core. `maxRounds` bounds the
    * loop (the cascade depth is ≤ |V| but tiny in practice). */
  def peel(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k > 0 && maxRounds > 0)
    runPeel(edges, k, maxRounds, toConvergence = true)
  }

  /** One peel round: keep edges whose BOTH endpoints have degree ≥ k
    * in the current subgraph, repartitioned back to `src` for the next
    * round. Extracted (pre-checkpoint) so PlanShapeSpec can pin the
    * round's physical shape: two shuffle-hash semi-joins — the
    * |V|-sized keep-set must NOT broadcast — with the degree
    * aggregation and the src-side join riding the input's src
    * partitioning exchange-free. */
  private[graft] def peelRound(e: DataFrame, k: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // Survivors of this round: degree ≥ k in the CURRENT subgraph.
    val keep = e.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
      .filter($"deg" >= k)
      .select($"id")
    // Both endpoints must survive. src-side join reuses the src
    // partitioning; dst-side is the round's one real exchange. The
    // shuffle_hash hint goes on the KEEP side: a left-semi join builds
    // its RIGHT side, so a hint on the left stream is unsupported and
    // silently ignored (r10's hint placement) — leaving the strategy
    // to size estimates, which broadcast the |V|-sized keep-set at
    // small scale and sort-merge it at large. Hinting the build side
    // pins shuffle-hash at every scale: no |V|-sized broadcast, no
    // re-sort of the edge set.
    e.join(keep.as("ks").hint("shuffle_hash"),
        $"src" === $"ks.id", "left_semi")
      .join(keep.as("kd").hint("shuffle_hash"),
        $"dst" === $"kd.id", "left_semi")
      .repartition($"src")
  }

  private def runPeel(edges: DataFrame, k: Int, maxRounds: Int,
                      toConvergence: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // NOTE (r21, measured negative — don't retry without new evidence):
    // the AQE-staging partitioning fix shipped for PageRank/Louvain
    // (plan the repartition+checkpoint AQE-off so the rounds reuse
    // HashPartitioning(src) instead of re-exchanging) was tried here —
    // the executed plans DO show 62 staged-scan re-exchanges under AQE
    // and the fix removes them (shuffle 191 → 132 MB, jobs 77 → 27) —
    // but warm wall/CPU got decisively WORSE (IsoBench ×4:
    // q_kcore_converged 6.5-7.0 s @ 25-27 CPU-s → 7.8-10 @ 127-231;
    // q_kcore 2.3 @ 9 → 3.1 @ 47): lazy checkpoints fix their whole
    // round plan at call time, so AQE-off staging also runs every
    // shrinking peel round at full shuffle.partitions — the exact
    // tiny-task storm the r17 AQE-on doctrine cured. For KCore the
    // coalescing is worth more than the partitioning. At cluster scale
    // re-evaluate with a stats-preserving staging that keeps AQE in
    // the rounds.
    var e = edges.select($"src", $"dst")
      .repartition($"src")
      .localCheckpoint(true)
    var lastEdges = -1L

    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val tRound = System.nanoTime()
      // lazy: the convergence count materializes the checkpoint in the
      // same job (the Bfs round fuse)
      val next = peelRound(e, k).localCheckpoint(false)
      // Convergence probe: the EDGE count of the eagerly checkpointed
      // survivor set — no exchange (vs r15's distinct().count() vertex
      // probe, one full shuffle of the survivor edges per round).
      // Equivalent fixpoint test: a peel round removes an edge iff it
      // removes a vertex from the keep set (an edge dies only when an
      // endpoint dies; a dead vertex kills all its incident edges), so
      // the edge set is unchanged exactly when the vertex set is —
      // same stop round, same result. In bounded mode the count buys
      // the same per-round attribution line the other iterative ops
      // emit (a bench host that inflates the query reads round-by-round).
      val ne = next.count()
      if (toConvergence) {
        if (ne == lastEdges) done = true
        lastEdges = ne
      }
      // Release the superseded round frame: next is already
      // materialized (eager checkpoint), so the previous round's
      // blocks are dead weight — r15's leak kept every round's edge
      // snapshot in storage memory for the whole query, the
      // suite-pressure sensitivity the r15 driver bench surfaced
      // (every other iterative loop already released; KCore didn't).
      GraphOps.releaseCheckpointedFrame(e)
      System.err.println(f"[kcore] round $round edges=$ne " +
        f"${(System.nanoTime() - tRound) / 1e9}%.2fs")
      e = next
    }
    e.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
  }
}
