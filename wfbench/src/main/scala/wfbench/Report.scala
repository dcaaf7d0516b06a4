package wfbench

import java.nio.file.{Files, Path}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** Linear interpolation between closest ranks; 0 for no samples. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Per-layer metrics from the traced run. Engine counts cover the first
  * unit, a fixed amount of work, so they repeat exactly for one seed. */
object Layers {
  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "plan.ms" -> "ms", "plan.queries" -> "count",
    "codegen.classes" -> "count", "codegen.compile_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.core_busy_frac" -> "ratio",
    "exec.driver_gap_ms" -> "ms", "exec.stage_skew" -> "ratio", "exec.gc_ms" -> "ms",
    "mem.spill_bytes" -> "bytes", "mem.peak_exec_mb" -> "MB",
    "exec.task_failures" -> "count", "exec.stage_retries" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.write_records" -> "count", "shuffle.fetch_wait_ms" -> "ms",
    "scan.input_bytes" -> "bytes", "scan.input_records" -> "count", "scan.files_read" -> "count",
    "scan.files_read_frac" -> "ratio",
    "sink.files_written" -> "count", "sink.bytes_written" -> "bytes",
    "driver.result_bytes" -> "bytes") ++
    SpanNames.map(n => s"${n}_s" -> "s") ++
    Seq("quality_lang", "repetition", "lm", "dedup", "decontam", "diversity").map(g => s"curation.kept_frac.$g" -> "ratio") ++
    Seq("dedup.candidate_pairs" -> "count", "dedup.kept_over_candidates" -> "ratio",
      "index.files_per_gen" -> "count", "index.bytes_per_gen" -> "bytes",
      "trace.overhead_job_s" -> "s", "trace.overhead_read_s" -> "s")

  lazy val SpanNames: Seq[String] =
    Seq("acclist", "starqc", "sex", "matrix", "conflict", "tpmbed", "session", "merge").map("rnaseq." + _) ++
      Seq("lm_counts", "curate", "decontam", "diversity", "chunk_write").map("curation." + _) ++
      Seq("save", "append", "load", "bm25", "vacuum").map("index." + _)

  /** Mean seconds per call of each named span (0 for a layer this workload
    * never calls). */
  def spanMetrics(spans: Seq[Span]): Map[String, Double] =
    SpanNames.map { n =>
      s"${n}_s" -> Stats.mean(spans.filter(s => s.name == n && s.endMs > 0).map(s => (s.endMs - s.startMs) / 1000.0))
    }.toMap

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
      if (a >= end) (tot + b - a, b) else if (b > end) (tot + b - end, b) else (tot, end)
    }._1

  def window(w: (Seq[TaskRec], Seq[(Int, String)], Seq[(Int, Int)], Seq[PlanRec]), startMs: Long, endMs: Long,
             cgNow: (Long, Long), cgThen: (Long, Long), gcMs: Long): Map[String, Double] = {
    val (tasks, js, stages, plans) = w
    val cores = Runtime.getRuntime.availableProcessors
    val wall = math.max(1L, endMs - startMs)
    val taskMs = tasks.map(_.runMs).sum.toDouble
    val busy = union(tasks.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs))))
    val skew = tasks.groupBy(t => (t.stage, t.stageAttempt)).values.filter(_.size >= 2).map { ts =>
      val s = ts.map(_.runMs.toDouble)
      s.max / math.max(1.0, Stats.median(s))
    }.maxOption.getOrElse(1.0)
    val read = plans.map(_.filesRead).sum
    val present = plans.map(_.filesPresent).sum
    def sum(f: TaskRec => Long): Double = tasks.map(f).sum.toDouble
    Map(
      "plan.ms" -> plans.map(_.planMs).sum.toDouble, "plan.queries" -> plans.size.toDouble,
      "codegen.classes" -> (cgNow._1 - cgThen._1).toDouble, "codegen.compile_ms" -> (cgNow._2 - cgThen._2) / 1e6,
      "sched.jobs" -> js.size.toDouble, "sched.stages" -> stages.size.toDouble, "sched.tasks" -> tasks.size.toDouble,
      "exec.task_ms" -> taskMs, "exec.cpu_ms" -> sum(_.cpuNs) / 1e6,
      "exec.core_busy_frac" -> taskMs / (wall.toDouble * cores),
      "exec.driver_gap_ms" -> (wall - busy).toDouble, "exec.stage_skew" -> skew, "exec.gc_ms" -> gcMs.toDouble,
      "mem.spill_bytes" -> sum(_.spillBytes),
      "mem.peak_exec_mb" -> tasks.map(_.peakExecBytes).maxOption.getOrElse(0L) / 1048576.0,
      "exec.task_failures" -> tasks.count(_.failed).toDouble, "exec.stage_retries" -> stages.count(_._2 > 0).toDouble,
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle.write_records" -> sum(_.shuffleWriteRecords),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "scan.input_bytes" -> sum(_.inputBytes),
      "scan.input_records" -> sum(_.inputRecords),
      "scan.files_read" -> read.toDouble, "scan.files_read_frac" -> (if (present == 0) 0.0 else read.toDouble / present),
      "sink.files_written" -> plans.map(_.filesWritten).sum.toDouble,
      "sink.bytes_written" -> plans.map(_.bytesWritten).sum.toDouble,
      "driver.result_bytes" -> sum(_.resultBytes))
  }
}

/** A run's result: the contract line and a fuller report with sample
  * counts, health probes and any problems found by the output checks. */
final case class Report(a: Main.Args, setups: Seq[Double], rec: Recorder, heapPeakMb: Double,
                        healthPre: Double, healthPost: Double, layer: Map[String, Double], wl: Workload) {
  private val mapper = new ObjectMapper()

  /** (name, value, unit, samples) of every end-to-end metric. */
  lazy val endToEnd: Seq[(String, Double, String, Int)] = Seq(
    ("setup_s", Stats.median(setups), "s", setups.size),
    ("job_s_p50", Stats.median(rec.jobs.toSeq), "s", rec.jobs.size),
    // the rate of the median job: a mean over a run's few jobs would let one
    // job slowed by machine load move it
    ("items_per_s", if (rec.jobs.isEmpty) 0.0 else rec.items.toDouble / rec.jobs.size / Stats.median(rec.jobs.toSeq),
      "items/s", rec.jobs.size),
    ("write_s_p50", Stats.median(rec.writes.toSeq), "s", rec.writes.size),
    ("read_s_p50", Stats.median(rec.reads.toSeq), "s", rec.reads.size),
    ("heap_live_peak_mb", heapPeakMb, "MB", 1),
    ("bytes_out_per_in", if (rec.bytesIn == 0) 0.0 else rec.bytesOut.toDouble / rec.bytesIn, "ratio", rec.jobs.size))

  private def metrics(withSamples: Boolean): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    def put(name: String, v: Double, unit: String, n: Int): Unit = {
      val e = new JMap[String, Any]()
      e.put("value", v)
      e.put("unit", unit)
      if (withSamples) e.put("samples", n)
      m.put(name, e)
    }
    if (a.trace) Layers.Units.foreach { case (k, u) => put(k, layer.getOrElse(k, 0.0), u, 1) }
    else endToEnd.foreach { case (k, v, u, n) => put(k, v, u, n) }
    m
  }

  def line: String = {
    val root = new JMap[String, Any]()
    root.put("correct", rec.failed == 0)
    root.put("attempted", rec.attempted)
    root.put("failed", rec.failed)
    root.put("metrics", metrics(withSamples = false))
    mapper.writeValueAsString(root)
  }

  def full: String = {
    val root = new JMap[String, Any]()
    root.put("workload", a.workload)
    root.put("seed", a.seed)
    root.put("trace", a.trace)
    root.put("item_unit", wl.itemUnit)
    root.put("fail_frac", if (rec.attempted == 0) 0.0 else rec.failed.toDouble / rec.attempted)
    root.put("attempted", rec.attempted)
    root.put("metrics", metrics(withSamples = true))
    val h = new JMap[String, Any]()
    h.put("probe_before_s", healthPre)
    h.put("probe_after_s", healthPost)
    h.put("contended", math.max(healthPre, healthPost) > 2 * Main.IdleProbeSec || healthPost > 1.5 * healthPre)
    root.put("health", h)
    // too few reads per run for a steady tail (fewer than ten lie beyond
    // p90), so it is reported here rather than as a metric
    root.put("read_s_p90", Stats.percentile(rec.reads.toSeq, 0.9))
    wl.notes.foreach { case (k, v) => root.put(k, v) }
    val p = new JList[Any]()
    rec.problems.foreach(p.add)
    root.put("problems", p)
    "report " + mapper.writeValueAsString(root)
  }
}

object Report {
  /** Spans with self time (duration minus child spans) and the engine work
    * charged to each through its job group. */
  def writeSpans(path: Path, spans: Seq[Span], tasks: Seq[TaskRec]): Unit = {
    val byGroup = tasks.groupBy(_.group)
    val children = spans.groupBy(_.parent)
    val out = new JList[Any]()
    spans.foreach { s =>
      val m = new JMap[String, Any]()
      val kids = children.getOrElse(s.id, Nil).map(k => k.endMs - k.startMs).sum
      val ts = byGroup.getOrElse(s"span-${s.id}", Nil)
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs)
      m.put("self_ms", (s.endMs - s.startMs) - kids)
      m.put("tasks", ts.size); m.put("task_ms", ts.map(_.runMs).sum)
      m.put("shuffle_write_bytes", ts.map(_.shuffleWriteBytes).sum)
      m.put("input_bytes", ts.map(_.inputBytes).sum)
      out.add(m)
    }
    Files.createDirectories(path.getParent)
    new ObjectMapper().writeValue(path.toFile, out)
  }
}
