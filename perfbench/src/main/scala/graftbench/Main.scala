package graftbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The engine side of the benchmark: one long-lived local session, one
  * driver thread issuing passes back to back (a closed loop with one
  * client). `run.py` builds this, generates the inputs and reads the
  * `result.json` written here.
  *
  * Usage: graftbench.Main --workload <name> --seconds <s> --trace <0|1>
  *   --inputs <dir> --work <dir> --bench <dir> --cpus <n> --warmups <n>
  */
object Main {

  /** Copies every stderr byte through and hands each line to `sink`. */
  private final class TeeErr(real: PrintStream, sink: String => Unit) extends OutputStream {
    private val buf = new java.lang.StringBuilder
    override def write(b: Int): Unit = {
      real.write(b)
      if (b == '\n') { val s = buf.toString; buf.setLength(0); sink(s) }
      else if (b != '\r') buf.append(b.toChar)
    }
    override def flush(): Unit = real.flush()
  }

  /** Timed passes a run makes at least. The traced run needs one
    * settling pass, then two untraced and two traced. */
  def minPasses(traced: Boolean): Int = if (traced) 5 else 3

  final case class PassResult(index: Int, traced: Boolean, wall: Double, cpu: Double,
                              error: Option[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val inputs = opts("inputs")
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val warmups = opts("warmups").toInt

    @volatile var onErrLine: String => Unit = _ => ()
    System.setErr(new PrintStream(new TeeErr(System.err, l => onErrLine(l)), true))

    // the DuckDB oracle runs beside the session start-up
    val oracle: Option[Future[Map[String, (Long, String)]]] =
      if (Workload.needsOracle(name)) Some(startOracle(inputs, work, opts("bench"))) else None

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", cpus)
      // room for every generated class of a pass: at the default of 100
      // entries graph_and_sql evicted and recompiled its plans every
      // pass, which kept the JIT busy and the passes unsteady
      .config("spark.sql.codegen.cache.maxEntries", 5000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionAt = sinceStart

    val workload = Workload(name, spark, inputs, work, cpus,
      () => Await.result(oracle.get, Duration.Inf))
    println(f"[setup] session ready at $sessionAt%.1f s, references at $sinceStart%.1f s")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(t => onErrLine = t.onErrLine)
    val rss = new Host.RssSampler(20)
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]

    def runPass(index: Int, trace: Boolean): PassResult = {
      val t: Spans = if (trace) tracer.get else NoSpans
      tracer.foreach(_.startPass(index))
      if (trace) tracer.get.attach()
      val (gc0, jit0) = (Host.gcSeconds, Host.compileSeconds)
      val cpu0 = Host.processCpuSeconds
      val t0 = System.nanoTime()
      val out = Try(t.span("pass")(workload.pass(t)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Host.processCpuSeconds - cpu0
      val jvm = Map("jvm.gc_s" -> (Host.gcSeconds - gc0),
        "jvm.compile_s" -> (Host.compileSeconds - jit0),
        "jvm.codecache_mb" -> Host.codeCacheMb,
        "pins.rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
      if (trace) {
        tracer.get.detach()
        layers += Layers.of(tracer.get, index) ++ jvm
      }
      val error = out match {
        case Failure(e) => Some(s"pass threw ${e.toString.take(500)}")
        case Success(o) => Try(workload.check(o)) match {
          case Failure(e) => Some(s"check threw ${e.toString.take(500)}")
          case Success(r) => r
        }
      }
      error.foreach(e => println(s"[error] pass $index: $e"))
      PassResult(index, trace, wall, cpu, error)
    }

    val warm = (1 to warmups).map(i => runPass(-i, trace = false))
    val setupEndMs = System.currentTimeMillis()
    // after the warm-up: the DuckDB oracle runs beside the first pass
    println(f"[setup] warm-up done at $sinceStart%.1f s: ${workload.describe}")

    // the traced run settles for one untraced pass, then interleaves
    // untraced and traced passes in ABBA order, so the tracing overhead
    // is measured in one JVM on the same inputs and the warm-up trend
    // across passes cancels out
    def isTraced(i: Int) = traced && i >= 1 && ((i - 1) % 4 == 1 || (i - 1) % 4 == 2)
    val ticks0 = Host.cpuTicks
    val load0 = Host.load1m
    rss.reset()
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    // at least minPasses, so the median always covers the same pass
    // positions when the run is shorter than that many passes
    while (passes.size < minPasses(traced) || (System.nanoTime() - start) / 1e9 < seconds)
      passes += runPass(passes.size, trace = isTraced(passes.size))
    val timedS = (System.nanoTime() - start) / 1e9
    val peakRss = rss.peakMb
    rss.stop()
    val (busy, steal) = Host.shares(ticks0, Host.cpuTicks)

    val host = Map(
      "master" -> s"local[$cpus]", "nproc" -> Host.nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load1m_start" -> load0, "load1m_end" -> Host.load1m,
      "cpu_busy_share" -> busy, "cpu_steal_share" -> steal,
      "codecache_mb" -> Host.codeCacheMb, "timed_s" -> timedS)
    println(s"[host] ${Json(host)}")

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "setup_end_ms" -> setupEndMs,
      "peak_rss_mb" -> peakRss, "host" -> host,
      "warmups" -> warm.map(passJson), "passes" -> passes.map(passJson))
    tracer.foreach { t =>
      val untraced = passes.drop(1).filterNot(_.traced).map(_.wall)
      val withTrace = passes.filter(_.traced).map(_.wall)
      val overhead =
        if (untraced.isEmpty) 0.0 else Stats.median(withTrace.toSeq) / Stats.median(untraced.toSeq) - 1
      result("layers") = Layers.summarize(layers.toSeq) +
        ("trace.overhead_share" -> Map("median" -> overhead, "min" -> overhead,
          "max" -> overhead, "n" -> withTrace.size))
      Files.write(Paths.get(s"$work/spans.json"),
        Json(t.spans.map { s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "pass" -> s.pass, "start_ms" -> t.epochMs(s.startNs), "end_ms" -> t.epochMs(s.endNs),
          "self_s" -> t.selfSeconds(s)) }).getBytes(StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(s"$work/result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def passJson(p: PassResult): Map[String, Any] =
    Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu,
      "error" -> p.error.orNull)

  /** Writes the faces' oracle SQL and runs `oracle.py` over it. */
  private def startOracle(inputs: String, work: String, bench: String)
      : Future[Map[String, (Long, String)]] = {
    val sqlPath = s"$work/oracle_sql.json"
    val outPath = s"$work/oracle.tsv"
    val sql = AnalyticsMix.Faces.map(f => f -> graft.SparkEntry.oracleSql(f)).toMap
    Files.write(Paths.get(sqlPath), Json(sql).getBytes(StandardCharsets.UTF_8))
    Future {
      val p = new ProcessBuilder("python3", s"$bench/oracle.py", inputs, sqlPath, outPath)
        .inheritIO().start()
      val code = p.waitFor()
      if (code != 0) throw new IllegalStateException(s"oracle.py exited with $code")
      scala.io.Source.fromFile(outPath).getLines().map(_.split("\t")).map {
        case Array(f, n, h) => f -> (n.toLong, h) }.toMap
    }(ExecutionContext.global)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the artifacts. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
