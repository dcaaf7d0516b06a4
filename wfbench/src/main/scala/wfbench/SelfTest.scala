package wfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: seeded generation is reproducible, each output
  * check rejects a deliberately corrupted output, and BENCHMARK.json names
  * exactly the metrics the program prints. Run from the checkout root with
  * `python3 wfbench/run.py --selftest`; exits non-zero on any failure. */
object SelfTest {
  private val failures = new ArrayBuffer[String]

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable =>
        failures += s"$name: $e"
        false
    }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }
  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** Relative path -> bytes of every file under `dir`. */
  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Fs.regularFiles(dir).map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val work = Paths.get(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))).toAbsolutePath
    val spark = Main.session(work)
    val tr = new Tracer(spark)
    def gen(kind: String, seed: Long, dir: Path): Map[String, Seq[Byte]] = {
      val wl: Workload = kind match {
        case "rnaseq_project" => new RnaseqWorkload(spark, tr, seed, dir)
        case _ => new CurationIndexWorkload(spark, tr, seed, dir, None)
      }
      wl.generate()
      tree(dir)
    }

    Main.Workloads.foreach { w =>
      test(s"$w: same seed gives byte-identical inputs, another seed different ones") {
        val a = gen(w, 7, work.resolve(s"gen-a-$w"))
        val b = gen(w, 7, work.resolve(s"gen-b-$w"))
        val c = gen(w, 8, work.resolve(s"gen-c-$w"))
        check(a.nonEmpty, "no inputs generated")
        check(a == b, s"seed 7 twice differs in ${(a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).take(3)}")
        check(a != c, "seeds 7 and 8 generate the same inputs")
      }
    }

    test("rnaseq_project: report checks pass on real output and reject a flipped STARQC status") {
      val wl = new RnaseqWorkload(spark, tr, 3, work.resolve("rnaseq"))
      wl.generate()
      wl.warmup()
      val p = wl.Projects - 1
      val clean = new Recorder
      wl.readChecks(p, wl.releasePartner, clean)
      check(clean.attempted > 0 && clean.failed == 0, s"clean output rejected: ${clean.problems}")
      val report = wl.projOut(p).resolve(s"${wl.projOut(p).getFileName}_STAR_Align_sum.txt")
      val text = Files.readString(report)
      check(text.contains("\tPASS"), "report has no PASS row")
      Files.writeString(report, text.replaceFirst("\tPASS", "\tFAIL"))
      val flipped = new Recorder
      wl.readChecks(p, wl.releasePartner, flipped)
      check(flipped.failed == 1 && flipped.problems.exists(_.contains("status")),
        s"flipped status not caught: ${flipped.problems}")
    }

    test("curation_index: a read matches the from-corpus ranking and a dropped hit is caught") {
      val wl = new IndexPart(spark, tr, 3, work.resolve("index"))
      wl.generate()
      wl.warmup()
      val committed = wl.BaseDocs + wl.AppendDocs
      val got = wl.read(wl.firstQuery)
      check(got.size == wl.TopK, s"read returned ${got.size} hits")
      check(wl.rankingProblems(wl.firstQuery, committed, got).isEmpty, "clean read rejected")
      check(wl.rankingProblems(wl.firstQuery, committed, got.patch(3, Nil, 1)).nonEmpty,
        "dropped hit not caught")
    }

    test("curation_index: shard checks match the engine's hashBucket and catch misplaced or foreign ids") {
      val ids = (0L until 500L)
      val engine = spark.range(0, 500).select(col("id"), TextFunctions.hashBucket(col("id"), 8).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      check(ids.forall(i => Curation.bucketOf(i, 8) == engine(i)), "driver-side bucket differs from hashBucket")
      val shard3 = ids.filter(i => Curation.bucketOf(i, 8) == 3)
      check(Curation.shardProblems(shard3, 3, 8, ids.toSet).isEmpty, "clean shard rejected")
      check(Curation.shardProblems(shard3 :+ ids.find(i => Curation.bucketOf(i, 8) != 3).get, 3, 8, ids.toSet).nonEmpty,
        "misplaced id not caught")
      check(Curation.shardProblems(shard3 :+ 10000L, 3, 8, ids.toSet).nonEmpty, "foreign id not caught")
      check(Curation.digest(Seq(1L -> 2, 3L -> 4)) == Curation.digest(Seq(3L -> 4, 1L -> 2)), "digest is order-sensitive")
    }

    test("curation_index: a curation run repeats its digest and an altered recorded digest is rejected") {
      val wl = new CurationPart(spark, tr, 3, work.resolve("curation"), None)
      wl.generate()
      val twice = new Recorder
      wl.job(twice)()
      wl.job(twice)()
      check(twice.failed == 0, s"the same job did not repeat its digest: ${twice.problems}")
      val d = wl.lastDigest
      val altered = d.dropRight(1) + (if (d.last == '0') '1' else '0')
      val wl2 = new CurationPart(spark, tr, 3, work.resolve("curation2"), Some(altered))
      wl2.generate()
      val rec = new Recorder
      wl2.job(rec)()
      check(wl2.lastDigest == d, "a fresh run of the same seed gave another digest")
      check(rec.failed == 1 && rec.problems.exists(_.contains("digest")), s"altered digest not caught: ${rec.problems}")
    }

    test("BENCHMARK.json lists exactly the metrics the program reports, with their units") {
      val bench = Paths.get("BENCHMARK.json")
      check(Files.exists(bench), "BENCHMARK.json not found in the working directory")
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bench.toFile)
      def listed(key: String) = {
        val xs = j.path(key)
        (0 until xs.size()).map(i => xs.get(i).path("name").asText() -> xs.get(i).path("unit").asText())
      }
      val a = Main.Args("curation_index", 1, 1, trace = false, work, None)
      val e2e = Report(a, Seq(1.0), new Recorder, 1.0, 0.1, 0.1, Map.empty, null)
        .endToEnd.map(m => m._1 -> m._3)
      check(listed("end_to_end") == e2e, s"end_to_end ${listed("end_to_end")} vs program $e2e")
      check(listed("per_layer") == Layers.Units, s"per_layer differs from the program's list")
      val wls = j.path("workloads")
      check((0 until wls.size()).map(i => wls.get(i).path("name").asText()) == Main.Workloads, "workload names differ")
    }

    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"FAIL $f"))
      sys.exit(1)
    }
    println(s"all tests passed")
  }
}
