package graftbench

import scala.collection.mutable

/** Per-layer metrics of one traced pass, named `<layer>.<metric>`; the
  * layers are the engine's modules the pass calls into. */
object Layers {

  /** The BSP operators: every one runs a driver loop of rounds. */
  val Ops = Seq("bfs", "cc", "pagerank", "kcore", "labelprop")

  def of(t: Tracer, pass: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == pass).toSeq
    val root = spans.find(_.name == "pass").get
    def named(n: String) = spans.find(_.name == n)
    val out = mutable.LinkedHashMap.empty[String, Double]

    for (op <- Ops; s <- named(op)) {
      val c = t.inclusive(s)
      val rounds = t.rounds(s)
      out ++= Seq(
        s"$op.s" -> s.seconds,
        s"$op.rounds" -> rounds.toDouble,
        s"$op.jobs" -> c.jobs.toDouble,
        s"$op.jobs_per_round" -> (if (rounds > 0) c.jobs.toDouble / rounds else 0.0),
        s"$op.planning_s" -> t.planningSeconds(s, spans),
        s"$op.driver_only_s" -> t.driverOnlySeconds(s, c),
        s"$op.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        s"$op.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        s"$op.spill_bytes" -> c.spill.toDouble,
        s"$op.task_cpu_s" -> c.taskCpuNs / 1e9,
        s"$op.skipped_stage_share" ->
          (if (c.stages > 0) c.skippedStages.toDouble / c.stages else 0.0),
        s"$op.checkpoint_peak_bytes" -> t.storagePeakBytes(s).toDouble)
    }
    named("report").foreach { s =>
      out ++= Seq("report.s" -> s.seconds,
        "report.write_bytes" -> t.inclusive(s).outputBytes.toDouble)
    }
    // source scans run lazily inside whichever call first reads the
    // input, so they are counted over the whole pass
    val all = t.inclusive(root)
    out ++= Seq("sources.input_records" -> all.inputRecords.toDouble,
      "sources.input_bytes" -> all.inputBytes.toDouble,
      "sources.scan_task_s" -> all.scanTaskMs / 1e3)
    named("graphops.vertex_check").foreach(s => out("graphops.vertex_check_s") = s.seconds)
    named("sink").foreach(s => out("sink.append_s") = s.seconds)
    spans.filter(_.name.startsWith("face.")).foreach { s =>
      val c = t.inclusive(s)
      out ++= Seq(s"${s.name}.s" -> s.seconds, s"${s.name}.jobs" -> c.jobs.toDouble,
        s"${s.name}.planning_s" -> t.planningSeconds(s, spans),
        s"${s.name}.task_cpu_s" -> c.taskCpuNs / 1e9,
        s"${s.name}.shuffle_bytes" -> c.shuffleWrite.toDouble)
    }
    out("pins.storage_peak_bytes") = t.storagePeakBytes(root).toDouble
    named("pins").foreach(s => out("pins.release_s") = s.seconds)
    out.toMap
  }

  /** Median, range and count of each metric over the traced passes. */
  def summarize(passes: Seq[Map[String, Double]]): Map[String, Map[String, Any]] =
    passes.flatMap(_.keys).distinct.map { k =>
      val xs = passes.flatMap(_.get(k))
      k -> Map[String, Any]("median" -> Stats.median(xs), "min" -> xs.min,
        "max" -> xs.max, "n" -> xs.size)
    }.toMap
}
