package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Readers for the host and JVM state recorded beside every run, so an
  * unsteady run can be attributed to the machine from its artifact. */
object Host {

  private def read(path: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(path)))).toOption

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def load1m: Double =
    read("/proc/loadavg").flatMap(_.split("\\s+").headOption)
      .flatMap(s => Try(s.toDouble).toOption).getOrElse(-1.0)

  /** Aggregate `cpu` line of /proc/stat: (busy, steal, total) jiffies. */
  final case class CpuTicks(busy: Long, steal: Long, total: Long)

  def cpuTicks: CpuTicks = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      val idle = f(3) + f.lift(4).getOrElse(0L)
      val steal = f.lift(7).getOrElse(0L)
      val total = f.take(8).sum
      CpuTicks(total - idle - steal, steal, total)
    }
  }.getOrElse(CpuTicks(0, 0, 0))

  /** (busy share, steal share) of all CPUs between two readings. */
  def shares(a: CpuTicks, b: CpuTicks): (Double, Double) = {
    val t = (b.total - a.total).toDouble
    if (t <= 0) (0.0, 0.0)
    else ((b.busy - a.busy) / t, (b.steal - a.steal) / t)
  }

  /** A `kB` field of /proc/self/status, in MiB. */
  def statusMb(field: String): Double = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong / 1024.0)
  }.getOrElse(0.0)

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def compileSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** CPU seconds of this process, all threads. */
  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Samples resident memory on a daemon thread; `peakMb` is the highest
    * reading since the last `reset`. */
  final class RssSampler(periodMs: Long) {
    @volatile private var peak = 0.0
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        val rss = statusMb("VmRSS")
        if (rss > peak) peak = rss
        Thread.sleep(periodMs)
      }
    }, "graftbench-rss")
    thread.setDaemon(true)
    thread.start()
    def reset(): Unit = peak = statusMb("VmRSS")
    def peakMb: Double = math.max(peak, statusMb("VmRSS"))
    def stop(): Unit = { running = false; thread.join() }
  }
}
