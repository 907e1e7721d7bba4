package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Bfs, GraphOps}

class BfsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** The reference's own tinyG fixture (datasets/tinyG.txt: algs4 tinyG
    * + edges 0-7, 0-9; 13 vertices, connected, ecc(0)=2). */
  val tinyG: Seq[(Long, Long)] = Seq(
    (0L, 5L), (4L, 3L), (0L, 1L), (9L, 12L), (6L, 4L), (5L, 4L), (0L, 2L),
    (11L, 12L), (9L, 10L), (0L, 6L), (5L, 3L), (0L, 7L), (7L, 8L),
    (9L, 11L), (0L, 9L))

  def edgesDf(edges: Seq[(Long, Long)]): DataFrame =
    edges.toDF("src", "dst")

  def undirected(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges ++ edges.map { case (a, b) => (b, a) }

  test("tinyG golden: distances and lexicographically-smallest paths") {
    val result = Bfs.run(GraphOps.symmetrize(edgesDf(tinyG)), 0L,
        Bfs.Config(withPaths = true))
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    // FIXTURES.md §A golden (verified against the reference MR algorithm;
    // paths under the min(struct(dist, path)) tie-break).
    val expected = Seq(
      (0L, 0L, Seq(0L)), (1L, 1L, Seq(0L, 1L)), (2L, 1L, Seq(0L, 2L)),
      (3L, 2L, Seq(0L, 5L, 3L)), (4L, 2L, Seq(0L, 5L, 4L)),
      (5L, 1L, Seq(0L, 5L)), (6L, 1L, Seq(0L, 6L)), (7L, 1L, Seq(0L, 7L)),
      (8L, 2L, Seq(0L, 7L, 8L)), (9L, 1L, Seq(0L, 9L)),
      (10L, 2L, Seq(0L, 9L, 10L)), (11L, 2L, Seq(0L, 9L, 11L)),
      (12L, 2L, Seq(0L, 9L, 12L)))
    assert(result.toSeq == expected)
  }

  test("disconnected graph terminates; unreachable vertices reported null") {
    // algs4 tinyG WITHOUT the 0-7 / 0-9 edges: {7,8} and {9,10,11,12}
    // are unreachable from 0 — the reference would loop forever (H4).
    val disc = tinyG.filterNot(e => e == ((0L, 7L)) || e == ((0L, 9L)))
    val sym = GraphOps.symmetrize(edgesDf(disc))
    val reached = Bfs.run(sym, 0L)
    val full = Bfs.withUnreachable(reached, sym)
      .as[(Long, Option[Long], String)].collect().sortBy(_._1)
    val unreachable = full.filter(_._2.isEmpty).map(_._1).toSet
    assert(unreachable == Set(7L, 8L, 9L, 10L, 11L, 12L))
    assert(full.filter(_._2.isDefined).forall(_._3 == "BLACK"))
    assert(full.filter(_._2.isEmpty).forall(_._3 == "WHITE"))
  }

  test("source with no edges returns just the source") {
    val result = Bfs.run(GraphOps.symmetrize(edgesDf(tinyG)), 99L)
      .as[(Long, Long)].collect()
    assert(result.toSeq == Seq((99L, 0L)))
  }

  test("deep chain: 15 rounds leave only the result's checkpoint") {
    // path graph 0-1-2-...-14: 15 rounds, each a checkpointed state
    val chain = (0L until 14L).map(i => (i, i + 1))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val reached = Bfs.run(GraphOps.symmetrize(edgesDf(chain)), 0L)
    val result = reached.as[(Long, Long)].collect().sortBy(_._1)
    assert(result.toSeq == (0L to 14L).map(i => (i, i)))
    // the seed, every superseded round state and the staged edge table
    // are released; the result's own checkpoint is the one new entry.
    // Compared as "keys added" — the ContextCleaner may drop unrelated
    // entries of earlier tests at any time.
    val own = reached.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(sc.getPersistentRDDs.keySet -- before == Set(own))
  }

  val graphGen: Gen[(Seq[(Long, Long)], Long)] = for {
    n <- Gen.choose(2, 40)
    nEdges <- Gen.choose(1, 3 * n)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
    } yield (a, b))
    src <- Gen.choose(0L, n - 1L)
  } yield (edges, src)

  /** Deterministic scalacheck samples (no scalatestplus bridge in the
    * offline cache — drive Gen directly with fixed seeds). */
  def samples(n: Int): Seq[(Seq[(Long, Long)], Long)] =
    (1 to n).flatMap(i => graphGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: distances match serial oracle on random graphs " +
       "(incl. duplicate edges and self-loops)") {
    samples(8).foreach { case (edges, src) =>
      val sym = undirected(edges)
      val expected = SerialBfsOracle.distances(sym, src)
      val got = Bfs.run(GraphOps.symmetrize(edgesDf(edges)), src)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"src=$src edges=$edges")
    }
  }

  test("non-broadcast path (forced shuffle join + lazy edge co-partition)") {
    val result = Bfs.run(GraphOps.symmetrize(edgesDf(tinyG)), 0L,
        Bfs.Config(broadcastFrontierRows = 0L, withPaths = true))
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    val viaBroadcast = Bfs.run(GraphOps.symmetrize(edgesDf(tinyG)), 0L,
        Bfs.Config(withPaths = true))
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(result.toSeq == viaBroadcast.toSeq)
  }

  test("multi-source BFS: distance to nearest source (tinyG, sources 3 and 9)") {
    val result = Bfs.runMulti(GraphOps.symmetrize(edgesDf(tinyG)), Seq(3L, 9L))
      .as[(Long, Long)].collect().toMap
    val sym = undirected(tinyG)
    val d3 = SerialBfsOracle.distances(sym, 3L)
    val d9 = SerialBfsOracle.distances(sym, 9L)
    val expected = (d3.keySet ++ d9.keySet).map { v =>
      v -> math.min(d3.getOrElse(v, Long.MaxValue), d9.getOrElse(v, Long.MaxValue))
    }.toMap
    assert(result == expected)
  }

  test("property: engine paths equal serial lex-min paths on random graphs") {
    samples(4).foreach { case (edges, src) =>
      val expected = graft.operators.SerialBfs.run(undirected(edges), src)
        .view.mapValues { case (d, p) => (d, p.toSeq) }.toMap
      val got = Bfs.run(GraphOps.symmetrize(edgesDf(edges)), src,
          Bfs.Config(withPaths = true))
        .as[(Long, Long, Seq[Long])].collect()
        .map { case (id, d, p) => id -> ((d, p)) }.toMap
      assert(got == expected, s"src=$src edges=$edges")
    }
  }

  test("property: paths are valid shortest walks") {
    samples(4).foreach { case (edges, src) =>
      val sym = undirected(edges).toSet
      val rows = Bfs.run(GraphOps.symmetrize(edgesDf(edges)), src,
          Bfs.Config(withPaths = true))
        .as[(Long, Long, Seq[Long])].collect()
      rows.foreach { case (id, dist, path) =>
        assert(path.length == dist + 1, s"path length for $id")
        assert(path.head == src && path.last == id)
        path.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
          assert(sym.contains((a, b)), s"non-edge $a->$b in path of $id")
        }
      }
    }
  }
}
