package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation: every
  * vertex starts labeled with its own id; each round a vertex adopts
  * the minimum label among itself and its neighbours; at fixpoint the
  * label is the minimum vertex id of the component.
  *
  * A capability extension over the reference (same BSP semilattice
  * machinery as its BFS — `BFS_map_reduce.py:115-150` — with min-label
  * instead of min-dist; multi-source init instead of single-source).
  *
  * Round structure mirrors [[Bfs.run]]: ONE shuffle per round
  * (`labels ∪ propagated → groupBy(id).min`), a lazy localCheckpoint
  * to truncate lineage (materialized by the round's convergence
  * probe, in the same job), and convergence detected WITHOUT a
  * compare-join: labels only ever decrease, so the fixpoint is
  * reached exactly when `sum(label)` stops changing — one cheap
  * aggregate action per round. The loop runs with AQE off
  * ([[GraphOps.withLoopAqeDisabled]]): fixed-shape rounds over the
  * pre-partitioned edge table.
  *
  * Rounds = O(max component diameter). For the adversarial long-path
  * case [[runStarContraction]] implements the classic fix —
  * alternating large-star/small-star contraction, O(log n) rounds —
  * at ~4 shuffles per round instead of 1; for the bounded-diameter
  * graphs the bench targets, plain propagation wins, so [[run]] stays
  * the default and the star variant is the deep-graph scale path.
  */
object ConnectedComponents {

  /** @param edges edge table (`src`, `dst`). Labels propagate
    *              src → dst ONLY, so for undirected components the
    *              input MUST be symmetrized (`GraphOps.symmetrize`) —
    *              a one-directional edge can leave the src side
    *              unlabeled (its smaller dst label never flows back).
    * @return DataFrame(id LONG, comp LONG) — comp = min vertex id of
    *         the component.
    * @throws IllegalStateException when maxIterations is exhausted
    *         before the fixpoint — returning the partial labels would
    *         silently split real components. */
  def run(edges: DataFrame, maxIterations: Int = 100): DataFrame =
    GraphOps.withLoopAqeDisabled(edges.sparkSession) {
      runLoop(edges, maxIterations)
    }

  private def runLoop(edges: DataFrame, maxIterations: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // local checkpoint, not persist: no columnar decode on the
    // per-round reads (r17 loop-residency doctrine; see PageRank)
    val e = edges.select($"src", $"dst")
      .repartition($"src")
      .localCheckpoint(false)

    // lazy: the checksum probe below materializes the checkpoint in
    // the same job (the Bfs round fuse)
    var labels = GraphOps.vertices(e)
      .select($"id", $"id".as("comp"))
      .localCheckpoint(false)

    // sum() of an empty frame is null — an empty edge table has no
    // vertices and is already converged. Decimal sum: a Long sum of
    // ~1e9 vertex ids around 1e10 overflows (ANSI crash under Spark 4
    // defaults); decimal(38) is exact at any realistic scale.
    def checksumOf(df: DataFrame): java.math.BigDecimal = {
      val row = df.agg(sum($"comp".cast("decimal(38,0)"))).head()
      if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
    }
    var checksum = checksumOf(labels)
    if (labels.isEmpty) {
      GraphOps.releaseCheckpointedFrame(e)
      return labels
    }
    var converged = false
    var iter = 0

    while (!converged && iter < maxIterations) {
      iter += 1
      val tRound = System.nanoTime()
      // propagate: each edge offers its src's label to its dst
      val offers = labels.as("l").join(e.as("e"), col("l.id") === col("e.src"))
        .select(col("e.dst").as("id"), col("l.comp").as("comp"))
      val merged = labels.union(offers)
        .groupBy($"id").agg(min($"comp").as("comp"))
        .localCheckpoint(false)

      val newChecksum = checksumOf(merged)
      converged = newChecksum.compareTo(checksum) == 0
      checksum = newChecksum
      labels = merged
      // per-round attribution line (see Bfs loop): uniform inflation
      // across rounds = machine; a dominant round = plan/skew
      System.err.println(
        f"[cc] round $iter ${(System.nanoTime() - tRound) / 1e9}%.2fs")
    }
    // superseded rounds' localCheckpoint blocks are RDD storage, not
    // CacheManager entries — unpersist() on the frames would be a
    // no-op; the ContextCleaner reclaims them as references drop (or a
    // harness getPersistentRDDs sweep does, as Bench/Verify run)
    GraphOps.releaseCheckpointedFrame(e)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIterations rounds " +
        "(component diameter exceeds the cap) — raise maxIterations or " +
        "use runStarContraction (O(log n) rounds)")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): each round, every vertex hooks its neighbourhood
    * onto the neighbourhood minimum — large-star for the greater
    * neighbours over the full adjacency, small-star for the lesser
    * ones over the (hi → lo) orientation. The edge set converges to
    * per-component stars centred on the component minimum in
    * O(log n) rounds regardless of diameter — the scale path for
    * deep graphs (a 10^6-long chain takes ~20 rounds here vs 10^6
    * label-propagation rounds), at ~4 shuffles per round vs
    * [[run]]'s 1.
    *
    * Output contract identical to [[run]]: (id, comp) over every
    * vertex of the input, comp = component minimum.
    *
    * AQE stays ON (r17 — the [[SpanningForest.boruvka]] /
    * [[KCore]] finding): the star edge set shrinks toward |components|
    * rows, so scan-sized shuffle partitions pay per-exchange
    * shuffle-file overhead on near-empty late rounds; AQE coalescing
    * replaces the hand-sized small-partition child session the
    * q_cc_star_deep face previously used (measured equal wall, ~25%
    * less CPU, and no session special-casing for the caller). */
  def runStarContraction(edges: DataFrame,
                         maxIterations: Int = 60): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Stats firewall (measured rationale: GraphOps.freshStats scaladoc;
    // this loop is the fourth-power case — two state-derived inner
    // joins per round; q_cc_star_deep measured 33-49s / 395-543 CPU-s
    // on a 20k-edge input before the firewall).
    def fresh(ckpt: DataFrame): DataFrame = GraphOps.freshStats(ckpt)

    val verts = GraphOps.vertices(edges)
    // canonical undirected pair set (hi > lo); self-loops can't affect
    // components and are dropped
    // lazy: the fingerprint probe materializes the checkpoint in the
    // same job (the Bfs round fuse)
    var e = fresh(edges.filter($"src" =!= $"dst")
      .select(greatest($"src", $"dst").as("hi"), least($"src", $"dst").as("lo"))
      .distinct()
      .localCheckpoint(false))

    // edge-set fingerprint: (count, hash-sum). The algorithm strictly
    // decreases a potential until the star fixpoint, so equal
    // consecutive fingerprints == fixpoint (up to a negligible 64-bit
    // hash-collision probability in the sum).
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val row = df.agg(count(lit(1)),
        sum(xxhash64($"hi", $"lo").cast("decimal(38,0)"))).head()
      (row.getLong(0),
        if (row.isNullAt(1)) java.math.BigDecimal.ZERO else row.getDecimal(1))
    }

    var fp = fingerprint(e)
    var converged = fp._1 == 0L
    var iter = 0

    while (!converged && iter < maxIterations) {
      iter += 1
      val tRound = System.nanoTime()
      // LARGE-STAR: per u over the FULL neighbourhood, m = min(Γ⁺(u));
      // each greater neighbour v > u hooks to m
      val sym = e.select($"hi".as("u"), $"lo".as("v"))
        .union(e.select($"lo".as("u"), $"hi".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      val ls = sym.filter($"v" > $"u")
        .join(mins, "u")
        .select(greatest($"v", $"m").as("hi"), least($"v", $"m").as("lo"))
        .filter($"hi" =!= $"lo")
        .distinct()
      // SMALL-STAR: per u over the lesser neighbours (the hi → lo
      // orientation), m = min; every lesser neighbour and u hook to m
      val minLo = ls.groupBy($"hi").agg(min($"lo").as("m"))
      val ss = ls.join(minLo, "hi")
        .select(greatest($"lo", $"m").as("hi"), least($"lo", $"m").as("lo"))
        .filter($"hi" =!= $"lo")
        .union(minLo.select($"hi", $"m".as("lo")).filter($"hi" =!= $"lo"))
        .distinct()
        .localCheckpoint(false)

      val newFp = fingerprint(ss)
      converged = newFp == fp
      fp = newFp
      e = fresh(ss)
      System.err.println(
        f"[cc-star] round $iter edges=${fp._1} " +
          f"${(System.nanoTime() - tRound) / 1e9}%.2fs")
    }
    // a non-star edge set would fan the left_outer join out into
    // DUPLICATE (id, comp) rows — never return partial state
    if (!converged) throw new IllegalStateException(
      s"star contraction did not converge in $maxIterations rounds — " +
        "raise maxIterations (rounds needed are O(log |V|))")

    // at the star fixpoint every edge is (child, componentMin); roots
    // and isolated vertices map to themselves. Superseded rounds'
    // localCheckpoint blocks are reclaimed by the ContextCleaner /
    // harness sweeps (unpersist on checkpointed frames is a no-op).
    val childMap = e.select($"hi".as("id"), $"lo".as("comp"))
    verts.join(childMap, Seq("id"), "left_outer")
      .select($"id", coalesce($"comp", $"id").as("comp"))
      .localCheckpoint(true)
  }
}
