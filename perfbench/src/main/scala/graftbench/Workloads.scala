package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators._
import graft.sources.EdgeListSource

/** Wraps the benchmark's calls into a layer. The untraced runs use
  * [[NoSpans]]; the traced run uses a [[Tracer]]. */
trait Spans { def span[T](name: String)(body: => T): T }
object NoSpans extends Spans { def span[T](name: String)(body: => T): T = body }

/** One part of a workload's pass: `run` calls into the engine, `check`
  * verifies its result outside the timed region and returns what was
  * wrong, if anything. */
abstract class Part(val spark: SparkSession) {
  type Out
  def run(t: Spans): Out
  def check(out: Out): Option[String]
  /** Input properties and reference sizes, printed during set-up. */
  def describe: String

  protected def mismatch[K, V](what: String, got: Map[K, V], want: Map[K, V],
                               same: (V, V) => Boolean = (a: V, b: V) => a == b)
      : Option[String] = {
    if (got.size != want.size)
      return Some(s"$what: ${got.size} rows, reference has ${want.size}")
    want.collectFirst { case (k, v) if !got.get(k).exists(same(_, v)) =>
      s"$what: key $k is ${got.get(k)}, reference says $v" }
  }
}

/** One workload: `pass` is the timed operation, from the input files to
  * a complete result with the session's storage released; `check`
  * verifies every part's result. */
final class Workload(spark: SparkSession, parts: Seq[Part]) {
  def pass(t: Spans): Seq[Any] = {
    val outs = parts.map(_.run(t))
    release(t)
    outs
  }

  def check(outs: Seq[Any]): Option[String] =
    parts.zip(outs).iterator.map { case (p, o) => p.check(o.asInstanceOf[p.Out]) }
      .collectFirst { case Some(e) => e }

  def describe: String = parts.map(_.describe).mkString("; ")

  /** Drops everything a pass left in storage: the engine's pins, the SQL
    * cache and every persisted RDD (checkpoint blocks live at the RDD
    * layer). Blocking, so the next pass does not overlap the removal. */
  private def release(t: Spans): Unit = t.span("pins") {
    Dedup.releaseCaches(blocking = true)
    Similarity.releaseCaches(blocking = true)
    CorpusOps.releaseCaches(blocking = true)
    Redaction.releaseCaches(blocking = true)
    Distributions.releaseCaches(blocking = true)
    Ranking.releaseCaches(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

object Workload {
  def readEdgeText(path: String): Seq[(Long, Long)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map { l =>
      val f = l.trim.split("\\s+"); (f(0).toLong, f(1).toLong) }

  def symmetric(e: Seq[(Long, Long)]): Seq[(Long, Long)] =
    e.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  /** Whether the workload runs the query faces, whose DuckDB oracle
    * set-up starts beside the session. */
  def needsOracle(name: String): Boolean = name == "graph_and_sql"

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
            cpus: Int, oracle: () => Map[String, (Long, String)]): Workload =
    new Workload(spark, name match {
      case "bfs_flagship" => Seq(new BfsFlagship(spark, inputs, work, cpus))
      case "graph_and_sql" =>
        Seq(new GraphIterative(spark, inputs), new AnalyticsMix(spark, inputs, oracle))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
}

/** `BfsApp`'s timed region as one pass: text ingest, symmetrize, the
  * source-existence check, BFS with paths, the full vertex report
  * written as parquet, and the metrics-sink append. */
final class BfsFlagship(spark: SparkSession, inputs: String, work: String,
                        cpus: Int) extends Part(spark) {
  type Out = String
  private val path = s"$inputs/edges.txt"
  private val report = s"$work/report"
  private val results = s"$work/results.csv"
  private val want = graft.operators.SerialBfs.run(
    Workload.symmetric(Workload.readEdgeText(path)), 0L)
  def describe = s"reference: ${want.size} vertices reached"

  def run(t: Spans): String = {
    val t0 = System.nanoTime()
    val edges = t.span("sources") {
      GraphOps.symmetrize(EdgeListSource.load(spark, path)) }
    t.span("graphops.vertex_check") {
      if (GraphOps.vertices(edges).filter(col("id") === 0L).isEmpty)
        throw new IllegalStateException(s"source vertex 0 is not in $path")
    }
    val reached = t.span("bfs") { Bfs.run(edges, 0L, Bfs.Config(withPaths = true)) }
    t.span("report") {
      val full = Bfs.withUnreachable(reached, edges).persist()
      full.count()
      full.write.mode("overwrite").parquet(report)
      full.unpersist(false)
    }
    t.span("sink") {
      MetricsSink.append(results, path, cpus, (System.nanoTime() - t0) / 1e9) }
    report
  }

  def check(dir: String): Option[String] = {
    val rows = spark.read.parquet(dir).select("id", "dist", "path", "color").collect()
    if (rows.exists(_.getString(3) != "BLACK")) return Some("unreached vertex in report")
    val got = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getSeq[Long](2).toVector))).toMap
    mismatch("bfs (dist, path)", got, want)
  }
}

/** Connected components, PageRank, the k-core peel and label
  * propagation over a skewed R-MAT graph, each re-reading the edge table
  * every round. */
final class GraphIterative(spark: SparkSession, inputs: String) extends Part(spark) {
  type Out = (Array[Row], Array[Row], Array[Row], Array[Row])
  private val path = s"$inputs/edges.parquet"
  private val simple: Seq[(Long, Long)] = Workload.symmetric(
    spark.read.parquet(path).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    .filter { case (a, b) => a != b }.distinct
  private val PrIterations = 3
  /** k of the peel; the generator pins the peel's rounds for this k. */
  private val K = 8
  private val LpRounds = 2
  /** PageRank sums fixed-point contributions truncated at 1e-15 each, so
    * it differs from the double-precision reference by far less. */
  private val PrTolerance = 1e-9
  private val wantComp = Serial.components(simple)
  private val wantRank = Serial.pageRank(simple, PrIterations, 0.85)
  private val wantCore = Serial.kCore(simple, K)
  private val wantLabel = Serial.labelPropagation(simple, LpRounds)
  def describe = s"reference: ${wantRank.size} vertices, " +
    s"${wantComp.values.toSet.size} components, " +
    s"${simple.size} directed edges, $K-core ${wantCore.size} vertices, " +
    s"${wantLabel.values.toSet.size} labels"

  def run(t: Spans): Out = {
    val edges = t.span("sources") {
      GraphOps.dedupEdges(GraphOps.symmetrize(spark.read.parquet(path))) }
    val comp = t.span("cc") { ConnectedComponents.run(edges).collect() }
    val rank = t.span("pagerank") { PageRank.run(edges, PrIterations).collect() }
    val core = t.span("kcore") { KCore.peel(edges, K).collect() }
    val label = t.span("labelprop") { LabelPropagation.run(edges, LpRounds).collect() }
    (comp, rank, core, label)
  }

  def check(out: Out): Option[String] =
    mismatch("cc", out._1.map(r => r.getLong(0) -> r.getLong(1)).toMap, wantComp)
      .orElse(mismatch[Long, Double]("pagerank",
        out._2.map(r => r.getLong(0) -> r.getDouble(1)).toMap,
        wantRank, (a, b) => math.abs(a - b) <= PrTolerance))
      .orElse(mismatch("kcore", out._3.map(r => r.getLong(0) -> r.getLong(1)).toMap, wantCore))
      .orElse(mismatch("labelprop", out._4.map(r => r.getLong(0) -> r.getLong(1)).toMap,
        wantLabel))
}

/** Five registered query faces with no BSP loop: pinned dedup and ANN
  * pipelines, codegen text functions, the interval-join planner rule,
  * batch sessionization and a plain aggregate. */
final class AnalyticsMix(spark: SparkSession, inputs: String,
                         oracle: () => Map[String, (Long, String)]) extends Part(spark) {
  type Out = Seq[(String, Array[String], Array[Row])]
  private val queries = SparkEntry.queries
  private lazy val want = oracle()
  def describe = s"oracle: ${AnalyticsMix.Faces.map(f => s"$f=${want(f)._1}").mkString(" ")} rows"

  def run(t: Spans): Out = {
    AnalyticsMix.Faces.map { f =>
      t.span(s"face.$f") {
        val df = queries(f)(spark, inputs)
        (f, df.columns, df.collect())
      }
    }
  }

  def check(out: Out): Option[String] = out.collectFirst {
    case (f, cols, rows) if Canonical.digest(cols, rows) != want(f) =>
      s"$f: ${rows.length} rows hash ${Canonical.digest(cols, rows)._2.take(12)}, " +
        s"DuckDB oracle ${want(f)._1} rows hash ${want(f)._2.take(12)}"
  }
}

object AnalyticsMix {
  val Faces = Seq("q_ann_ivf", "q_lsh_near_dups", "q_sessionize", "q_interval_autobin")
}
