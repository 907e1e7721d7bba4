package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{GraphOps, Sssp}

class SsspSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** Serial Dijkstra — the in-memory oracle (non-negative weights). */
  private def dijkstra(edges: Seq[(Long, Long, Long)],
                       src: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3))).toMap
    val dist = scala.collection.mutable.Map(src -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, src))(
      Ordering.by[(Long, Long), Long](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u))
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (dist.get(v).forall(_ > d + w)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
    }
    dist.toMap
  }

  private def df(edges: Seq[(Long, Long, Long)]): DataFrame =
    edges.toDF("src", "dst", "w")

  test("golden: weighted shortest paths prefer the cheap long route") {
    // 0->1 costs 10 direct, but 0->2->3->1 costs 3: weighted SSSP must
    // take the longer-hop cheaper route (BFS would answer 1 hop)
    val e = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
    val got = Sssp.run(df(e), 0L).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L))
  }

  test("disconnected vertices are absent; zero-weight edges fine") {
    val e = Seq((0L, 1L, 0L), (5L, 6L, 2L))
    val got = Sssp.run(df(e), 0L).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L))
  }

  test("negative weight fails loudly inside the job") {
    val e = Seq((0L, 1L, -1L))
    val sc = spark.sparkContext
    val aqeKey = "spark.sql.adaptive.enabled"
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    // local rows fail while the staging is planned (the optimizer folds
    // the guard over a LocalRelation); a shuffled input fails in round
    // 1's job, after the staged edge table and the round checkpoints
    // exist
    Seq(df(e), df(e).repartition(2)).foreach { input =>
      val aqeBefore = spark.conf.getOption(aqeKey)
      val before = sc.getPersistentRDDs.keySet
      val ex = intercept[Exception] {
        Sssp.run(input, 0L).collect()
      }
      assert(messages(ex).exists(_.contains("negative edge weight")))
      // every checkpoint the run made is released (compared as "keys
      // added": the ContextCleaner may drop unrelated entries of
      // earlier tests at any time) ...
      assert(sc.getPersistentRDDs.keySet -- before == Set.empty)
      // ... and the loop's AQE-off flip was undone on the way out
      assert(spark.conf.getOption(aqeKey) == aqeBefore)
    }
  }


  private val graphGen: Gen[(Seq[(Long, Long, Long)], Long)] = for {
    n <- Gen.choose(2, 30)
    nEdges <- Gen.choose(1, 3 * n)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0L, n - 1L)
      b <- Gen.choose(0L, n - 1L)
      w <- Gen.choose(0L, 9L)
    } yield (a, b, w))
    src <- Gen.choose(0L, n - 1L)
  } yield (edges, src)

  test("property: distances match serial Dijkstra on random weighted " +
       "graphs (cycles, duplicate edges, self-loops, zero weights)") {
    (1 to 8).flatMap(i =>
        graphGen.apply(Gen.Parameters.default, Seed(i.toLong)))
      .foreach { case (edges, src) =>
        val expected = dijkstra(edges, src)
        val got = Sssp.run(df(edges), src).as[(Long, Long)].collect().toMap
        assert(got == expected, s"src=$src edges=$edges")
      }
  }

  /** Serial hop-bounded Bellman-Ford — the in-memory oracle for
    * runBounded (min cost over walks of at most `hops` edges). */
  private def boundedBellmanFord(edges: Seq[(Long, Long, Long)], src: Long,
                                 hops: Int): Map[Long, Long] = {
    var d = Map(src -> 0L)
    (1 to hops).foreach { _ =>
      val relaxed = edges.flatMap { case (a, b, w) =>
        d.get(a).map(da => b -> (da + w)) }
      d = (d.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    d
  }

  test("runBounded: state after h rounds is the exact <=h-hop min-cost " +
       "table (frontier rounds preserve the layer invariant)") {
    // 0->1 costs 10 direct (1 hop) but 3 via 0->2->3->1 (3 hops): the
    // hop budget decides which answer is right — the discriminating
    // case for the bound's semantics.
    val e = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
    for (h <- 1 to 4) {
      val got = Sssp.runBounded(df(e), 0L, hops = h)
        .as[(Long, Long)].collect().toMap
      assert(got == boundedBellmanFord(e, 0L, h), s"hops=$h")
    }
    assert(Sssp.runBounded(df(e), 0L, hops = 1)
      .as[(Long, Long)].collect().toMap.apply(1L) == 10L)
    assert(Sssp.runBounded(df(e), 0L, hops = 3)
      .as[(Long, Long)].collect().toMap.apply(1L) == 3L)
  }

  test("runBounded: property vs serial bounded Bellman-Ford on random " +
       "graphs; hops past convergence == full run") {
    (1 to 4).flatMap(i =>
        graphGen.apply(Gen.Parameters.default, Seed(100L + i)))
      .foreach { case (edges, src) =>
        val h = 3
        val got = Sssp.runBounded(df(edges), src, hops = h)
          .as[(Long, Long)].collect().toMap
        assert(got == boundedBellmanFord(edges, src, h),
          s"src=$src edges=$edges")
        // a generous budget degenerates to the converged fixpoint
        val full = Sssp.run(df(edges), src).as[(Long, Long)].collect().toMap
        val roomy = Sssp.runBounded(df(edges), src, hops = 100)
          .as[(Long, Long)].collect().toMap
        assert(roomy == full, s"src=$src edges=$edges")
      }
  }

  test("weighted == BFS when every weight is 1 (tinyG)") {
    val tinyG = Seq(
      (0L, 5L), (4L, 3L), (0L, 1L), (9L, 12L), (6L, 4L), (5L, 4L), (0L, 2L),
      (11L, 12L), (9L, 10L), (0L, 6L), (5L, 3L), (0L, 7L), (7L, 8L),
      (9L, 11L), (0L, 9L))
    val sym = GraphOps.symmetrize(tinyG.toDF("src", "dst"))
      .withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val sssp = Sssp.run(sym, 0L).as[(Long, Long)].collect().toMap
    val bfs = graft.operators.Bfs.run(
        GraphOps.symmetrize(tinyG.toDF("src", "dst")), 0L)
      .as[(Long, Long)].collect().toMap
    assert(sssp == bfs)
  }
}
