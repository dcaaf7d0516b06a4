package wfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one run measured: operation times, items, byte volumes and the
  * outcome of every checked operation. */
final class Recorder {
  val jobs = new ArrayBuffer[Double]
  val reads = new ArrayBuffer[Double]
  val writes = new ArrayBuffer[Double]
  var items = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  var attempted = 0L
  var failed = 0L
  val problems = new ArrayBuffer[String]

  /** Run `body` and append its wall time in seconds to `into`. */
  def timed[T](into: ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally into += (System.nanoTime() - t0) / 1e9
  }

  /** One checked operation: it fails if it throws or returns any problem. */
  def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val errs = try body catch { case e: Throwable => Seq(s"$what threw $e") }
    if (errs.nonEmpty) {
      failed += 1
      if (problems.size < 20) problems ++= errs.take(3).map(e => s"$what: $e")
    }
  }
}

/** A closed-loop workload driven by one client. `unit` is the loop step:
  * it does the timed work and returns the check of that work's outputs,
  * which the caller runs afterwards, outside every timing and outside the
  * trace window. The first unit is a fixed amount of work, so its engine
  * counts repeat exactly for one seed. */
trait Workload {
  /** Write the seeded inputs; returns their size in bytes. */
  def generate(): Long
  /** One untimed job through the whole chain. */
  def warmup(): Unit
  def unit(i: Int, rec: Recorder): () => Unit
  def minUnits: Int
  def itemUnit: String
  /** Workload-specific per-layer numbers, from calls made with tracing on
    * after the timed loop. */
  def tracedExtras(): Map[String, Double] = Map.empty
  /** Facts about the run's outputs for the full report. */
  def notes: Map[String, String] = Map.empty
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  def regularFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  /** Bytes of data files under `p` (Hadoop checksum and marker files excluded). */
  def dataBytes(p: Path): Long = regularFiles(p).filterNot { f =>
    val n = f.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }.map(Files.size).sum
}
