package wfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Workflow benchmark: drives the engine's public functions from outside on
  * one of two seeded closed-loop workloads and prints one JSON result line.
  *
  * {{{
  * wfbench.Main --workload rnaseq_project|curation_index
  *              --seed N --seconds S --trace 0|1 --work DIR [--expected FILE]
  * }}}
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * attaches the engine listeners and reports per-layer metrics, and writes
  * the spans under `DIR/results`. */
object Main {

  val Workloads: Seq[String] = Seq("rnaseq_project", "curation_index")
  /** Set-up is repeated this many times per run and reported as the median
    * (of two: their mean). More repeats do not fit the run-time budget. */
  val SetupReps = 2
  /** The fixed-work probe's time on an idle 4-core box; a probe over twice
    * this, or a run whose after-probe is 1.5x its before-probe, is flagged
    * contended. */
  val IdleProbeSec = 0.35

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        expected: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1: $trace")
    val seconds = need("seconds").toInt
    require(seconds > 0, s"--seconds must be positive: $seconds")
    Args(w, need("seed").toLong, seconds, trace == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("expected").map(Paths.get(_)))
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cores]").appName("wfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed-work machine-health probe: min of two runs of one CPU-bound
    * shuffle + aggregate. */
  def probe(spark: SparkSession): Double = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1L << 23).selectExpr("count(distinct id % 9973)").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  def workload(name: String, spark: SparkSession, tr: Tracer, seed: Long, dir: Path,
               expectedDigest: Option[String]): Workload = name match {
    case "rnaseq_project" => new RnaseqWorkload(spark, tr, seed, dir)
    case "curation_index" => new CurationIndexWorkload(spark, tr, seed, dir, expectedDigest)
  }

  /** The recorded default-seed digest, if this run uses that seed. */
  def expectedDigest(a: Args): Option[String] = a.expected.filter(Files.exists(_)).flatMap { p =>
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    if (j.path("seed").asLong(-1) == a.seed) Option(j.path("curation_digest").asText(null)) else None
  }

  def main(argv: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val a = parse(argv)
    val work = a.work
    Files.createDirectories(work)

    // set-up: session start, input generation and one untimed warm-up job
    val setups = new ArrayBuffer[Double]
    var spark: SparkSession = null
    var tr: Tracer = null
    var wl: Workload = null
    (1 to SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      tr = new Tracer(spark)
      wl = workload(a.workload, spark, tr, a.seed, work.resolve(a.workload), expectedDigest(a))
      wl.generate()
      wl.warmup()
      setups += (System.nanoTime() - t0) / 1e9
      System.err.println(f"wfbench: set-up took ${setups.last}%.2f s")
    }

    val healthPre = probe(spark)
    val rec = new Recorder
    val engine = new EngineProbe(spark)
    // per unit: was it traced, and which job and read samples it produced
    val unitLog = new ArrayBuffer[(Boolean, Range, Range)]
    var layer = Map.empty[String, Double]
    // a trace run needs units on both sides of the overhead estimate
    val minUnits = if (a.trace) math.max(wl.minUnits, 2) else wl.minUnits

    HeapWatch.collect()
    HeapWatch.reset()
    val t0 = System.nanoTime()
    var i = 0
    while (i < minUnits || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // trace run: units alternate traced / untraced for the overhead
      // estimate; unit 0, traced, is the window for the per-layer counts
      val traced = a.trace && i % 2 == 0
      if (traced != tr.enabled) {
        if (traced) engine.attach() else engine.detach()
        tr.enabled = traced
      }
      val window = a.trace && i == 0
      val (wallStart, mark, cg, gc) = (System.currentTimeMillis(), engine.mark(), EngineProbe.codegen(), HeapWatch.gcMs())
      val (j0, r0) = (rec.jobs.size, rec.reads.size)
      val u0 = System.nanoTime()
      val check = wl.unit(i, rec)
      System.err.println(f"wfbench: unit $i took ${(System.nanoTime() - u0) / 1e9}%.2f s")
      unitLog += ((traced, j0 until rec.jobs.size, r0 until rec.reads.size))
      // the window closes before the checks, so their queries are not counted
      if (window) {
        engine.drain()
        layer = Layers.window(engine.since(mark), wallStart, System.currentTimeMillis(),
          EngineProbe.codegen(), cg, HeapWatch.gcMs() - gc)
      }
      check()
      i += 1
      // a full collection between jobs, outside their timing and the trace
      // window: each job starts from a clean heap, and heap_live_peak_mb sees
      // the live set
      HeapWatch.collect()
    }
    val heapPeak = HeapWatch.peakMb()
    if (tr.enabled) { engine.detach(); tr.enabled = false }
    val healthPost = probe(spark)

    if (a.trace) {
      tr.enabled = true
      val extras = try wl.tracedExtras() finally tr.enabled = false
      def split(pick: ((Boolean, Range, Range)) => Range, xs: Seq[Double], traced: Boolean) =
        unitLog.filter(_._1 == traced).flatMap(pick).map(xs)
      def overhead(pick: ((Boolean, Range, Range)) => Range, xs: Seq[Double]) = {
        val (on, off) = (split(pick, xs, traced = true), split(pick, xs, traced = false))
        if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on.toSeq) - Stats.median(off.toSeq)
      }
      layer = layer ++ extras ++ Layers.spanMetrics(tr.spans.toSeq) ++ Map(
        "trace.overhead_job_s" -> overhead(_._2, rec.jobs.toSeq),
        "trace.overhead_read_s" -> overhead(_._3, rec.reads.toSeq))
      Report.writeSpans(work.resolve("results").resolve(s"spans-${a.workload}-${a.seed}.json"),
        tr.spans.toSeq, engine.tasks.toSeq)
    }
    spark.stop()

    val report = Report(a, setups.toSeq, rec, heapPeak, healthPre, healthPost, layer, wl)
    Files.createDirectories(work.resolve("results"))
    Files.writeString(work.resolve("results").resolve(s"report-${a.workload}-${a.seed}-${if (a.trace) 1 else 0}.json"),
      report.full)
    println(report.full)
    println(report.line)
  }
}
