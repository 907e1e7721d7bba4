package graftbench

import scala.collection.mutable

/** In-memory references the benchmark checks the engine's results
  * against. Edge lists are directed; callers pass them symmetrized
  * where the engine's operator expects that. */
object Serial {

  /** Component label = smallest vertex id of the component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** The k-core by repeated removal of vertices of degree < k; returns
    * each surviving vertex with its degree inside the core. Edges must
    * be a simple symmetric edge list. */
  def kCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val adj = edges.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val deg = mutable.HashMap.from(adj.view.mapValues(_.size.toLong))
    val alive = mutable.HashSet.from(adj.keys)
    val queue = mutable.Queue.from(alive.filter(deg(_) < k))
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (alive.remove(v)) adj(v).foreach { u =>
        if (alive(u)) { deg(u) -= 1; if (deg(u) < k) queue.enqueue(u) }
      }
    }
    alive.iterator.map(v => v -> adj(v).count(alive)).map { case (v, d) =>
      v -> d.toLong }.toMap
  }

  /** Synchronous label propagation: each round a vertex takes the label
    * most frequent among its in-neighbours' labels, ties to the smallest
    * (the engine's `min(struct(-count, label))`). */
  def labelPropagation(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val in = edges.groupMap(_._2)(_._1)
    var label: Map[Long, Long] =
      edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      label = in.map { case (v, us) =>
        val votes = us.groupMapReduce(label)(_ => 1L)(_ + _)
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    label
  }

  /** Power iteration: rank'(v) = (1-d)/N + d * sum over u->v of
    * rank(u)/outdeg(u), N = vertices with any edge, rank(0) = 1/N. */
  def pageRank(edges: Seq[(Long, Long)], iterations: Int,
               damping: Double): Map[Long, Double] = {
    val vertices = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val n = vertices.size.toDouble
    var rank = vertices.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val sums = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      edges.foreach { case (u, v) => sums(v) += rank(u) / outdeg(u) }
      rank = vertices.map(v => v -> ((1 - damping) / n + damping * sums(v))).toMap
    }
    rank
  }
}
