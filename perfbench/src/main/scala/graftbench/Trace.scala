package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listeners saw for the jobs one span submitted. */
final class JobCounts {
  var jobs = 0
  var stages = 0
  var skippedStages = 0
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var scanTaskMs = 0L
  var outputBytes = 0L
  /** (launch, finish) epoch ms of every task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans around the benchmark's calls into the engine, plus the counts
  * a SparkListener and a QueryExecutionListener attribute to them.
  *
  * Jobs and tasks are attributed exactly, by the job group set while the
  * span is open. Planning phases and storage changes arrive without a
  * job group, so they are attributed by time to the innermost span open
  * on the driver thread. All engine calls run on one driver thread, so
  * open spans always nest. */
final class Tracer(spark: SparkSession) extends Spans {
  private val sc: SparkContext = spark.sparkContext
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var pass = 0
  /** BSP round lines (`[bfs] round ...`) counted per span id. */
  val roundLines = mutable.Map.empty[Int, Int].withDefaultValue(0)

  private val counts = new ConcurrentHashMap[Int, JobCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStages = new ConcurrentHashMap[Int, (Int, Seq[Int])]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  /** (epoch ms, phase ms) per executed query. */
  private val planning = mutable.ArrayBuffer.empty[(Double, Double)]
  /** (epoch ms, bytes of RDD blocks in storage) after each change. */
  private val storage = mutable.ArrayBuffer.empty[(Double, Long)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L

  private val GroupPrefix = "graftbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option[String](p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(GroupPrefix)).foreach { g =>
        val id = g.stripPrefix(GroupPrefix).toInt
        jobStages.put(e.jobId, (id, e.stageIds))
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.remove(e.jobId)).foreach { case (id, stageIds) =>
        val c = countsOf(id)
        c.synchronized {
          c.jobs += 1
          c.stages += stageIds.size
          // a stage whose output an earlier job already holds is never
          // submitted: the job reuses its shuffle files
          c.skippedStages += stageIds.count(s => !submitted.contains(s))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      if (id < 0 || e.taskMetrics == null) return
      val m = e.taskMetrics
      val c = countsOf(id)
      c.synchronized {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.bytesRead > 0) {
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.scanTaskMs += m.executorRunTime
        }
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (!info.blockId.isRDD) return
      val bytes = info.memSize + info.diskSize
      storage.synchronized {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        storedBytes += bytes - blockBytes.getOrElse(key, 0L)
        if (bytes == 0) blockBytes.remove(key) else blockBytes(key) = bytes
        storage += ((System.currentTimeMillis().toDouble, storedBytes))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) planning.synchronized {
        planning += ((phases.map(_.startTimeMs).min.toDouble,
                      phases.map(_.durationMs).sum.toDouble))
      }
    }
  }

  private def countsOf(id: Int): JobCounts =
    counts.computeIfAbsent(id, _ => new JobCounts)

  /** Listeners are attached only around traced passes. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def startPass(i: Int): Unit = pass = i

  /** Runs `body` as one span: a job group names it for the listeners. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      pass, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Called for every stderr line the engine prints. */
  def onErrLine(line: String): Unit =
    if (line.startsWith("[") && line.contains("] round "))
      stack.headOption.foreach(s => roundLines(s.id) += 1)

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain(sc)

  private def descendants(s: Span): Seq[Span] =
    s +: spans.filter(_.parent == s.id).toSeq.flatMap(descendants)

  /** Job counts of a span and every span inside it. */
  def inclusive(s: Span): JobCounts = {
    val out = new JobCounts
    descendants(s).foreach { d =>
      Option(counts.get(d.id)).foreach { c => c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages
        out.skippedStages += c.skippedStages; out.taskCpuNs += c.taskCpuNs
        out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
        out.spill += c.spill; out.inputBytes += c.inputBytes
        out.inputRecords += c.inputRecords; out.scanTaskMs += c.scanTaskMs
        out.outputBytes += c.outputBytes; out.taskIntervals ++= c.taskIntervals
      }}
    }
    out
  }

  def rounds(s: Span): Int = descendants(s).map(d => roundLines(d.id)).sum

  /** The innermost span open at epoch time `t`, if any. */
  private def innermostAt(t: Double, within: Seq[Span]): Option[Span] =
    within.filter(s => epochMs(s.startNs) <= t && t <= epochMs(s.endNs))
      .maxByOption(_.startNs)

  /** Planning seconds whose query started inside `s` (or its children). */
  def planningSeconds(s: Span, passSpans: Seq[Span]): Double = {
    val inside = descendants(s).map(_.id).toSet
    planning.synchronized {
      planning.filter { case (t, _) =>
        innermostAt(t, passSpans).exists(x => inside(x.id)) }.map(_._2).sum / 1e3
    }
  }

  /** Wall time of `s` during which no task of its jobs was running. */
  def driverOnlySeconds(s: Span, c: JobCounts): Double = {
    val lo = epochMs(s.startNs)
    val hi = epochMs(s.endNs)
    val clipped = c.taskIntervals.map { case (a, b) =>
      (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo - covered) / 1e3)
  }

  /** Peak bytes of RDD blocks held in storage while `s` was open. */
  def storagePeakBytes(s: Span): Long = storage.synchronized {
    val lo = epochMs(s.startNs)
    val hi = epochMs(s.endNs)
    val before = storage.takeWhile(_._1 < lo).lastOption.map(_._2).getOrElse(0L)
    (before +: storage.filter { case (t, _) => t >= lo && t <= hi }.map(_._2).toSeq).max
  }

  /** Self time: duration minus the part of it the child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
