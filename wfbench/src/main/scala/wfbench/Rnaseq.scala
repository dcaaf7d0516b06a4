package wfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.{Sinks, TsvSources}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `rnaseq_project`: the RGD step-2 chain, one job per project, each output
  * published through its `Sinks` writer and merged with the previous
  * project's published outputs. */
final class RnaseqWorkload(spark: SparkSession, tr: Tracer, seed: Long, dir: Path) extends Workload {
  val Projects = 3
  val SamplesPerProject = 6
  val Genes = 6000

  private val in = dir.resolve("in")
  private val out = dir.resolve("out")
  private var bedPath: Path = _
  private var bedBytes = 0L
  private var projects: IndexedSeq[Gen.ProjectTruth] = _
  private var release: Gen.Release = _

  def generate(): Long = {
    Fs.deleteRecursively(dir)
    val ref = Gen.geneRef(seed, Genes)
    bedPath = in.resolve("GRCr8_genes.bed")
    bedBytes = Gen.write(bedPath, Gen.bedText(ref))
    projects = (0 until Projects).map(p => Gen.project(seed, p, SamplesPerProject, ref, in.resolve(s"p$p")))
    val (rel, relBytes) = Gen.release(seed, ref, in.resolve("release"))
    release = rel
    bedBytes + relBytes + projects.map(_.inputBytes).sum
  }

  // three jobs, so a short burst of machine load moves the median less; more
  // do not fit the time budget of a run
  def minUnits: Int = 3
  /** Passes the client makes over the PASS samples' track docs after a job. */
  val TrackReadPasses = 2
  def itemUnit: String = "samples"

  /** What a job merges with: the previous project's published outputs. */
  private[wfbench] case class Partner(tpm: String, sex: String, genes: Set[String], samples: Int)
  private def partner(p: Int) = Partner(tpmPath(p), sexPath(p), projects(p).genes, projects(p).pass.size)

  private[wfbench] def releasePartner =
    Partner(release.tpmMatrix.toString, release.sexReport.toString, release.genes, release.samples)

  // The warm-up publishes the last project, merging it with an earlier
  // release, so the first timed job (project 0) finds a previous project too.
  // Its outputs are not checked.
  def warmup(): Unit = { job(Projects - 1, releasePartner, new Recorder); () }

  def unit(i: Int, rec: Recorder): () => Unit = {
    val p = i % Projects
    job(p, partner((p + Projects - 1) % Projects), rec)
  }

  private[wfbench] def projOut(p: Int): Path = out.resolve(projects(p).name)
  private def tpmPath(p: Int) = projOut(p).resolve(s"${projects(p).name}.genes.TPM.matrix").toString
  private def sexPath(p: Int) = projOut(p).resolve(s"${projects(p).name}_sex_result.txt").toString

  private def readTsv(path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(path)

  /** One project's chain, then the client reads back each PASS sample's
    * published track doc through `TsvSources.readTrackJsons`, in
    * [[TrackReadPasses]] passes. The returned check compares every output
    * with the planted truth. */
  private def job(p: Int, prev: Partner, rec: Recorder): () => Unit = {
    val pr = projects(p)
    val name = pr.name
    val o = projOut(p)
    Fs.deleteRecursively(o)
    Files.createDirectories(o.resolve("tracks"))
    def publish(body: => Unit): Unit = rec.timed(rec.writes)(body)
    var mergeStats: Option[ProjectCombiner.MergeStats] = None

    rec.attempt(s"$name job") {
      rec.timed(rec.jobs) {
        tr.span("rnaseq.job") {
          val dedup = tr.span("rnaseq.acclist") {
            AccListOps.dedupKeepFirst(TsvSources.readAccList(spark, pr.accList.toString)).localCheckpoint()
          }
          val qc = tr.span("rnaseq.starqc") {
            val qc = StarQc.summarize(
              TsvSources.readStarLogs(spark, s"${pr.dir}/*_STARLog.final.out"),
              dedup.select(col("geo_accession").as("SampleID"))).localCheckpoint()
            publish(Sinks.writeTsvReport(StarQc.reportView(qc).orderBy("SampleID"),
              s"$o/${name}_STAR_Align_sum.txt"))
            qc
          }
          val passed = StarQc.passFilter(dedup, qc)
          val sex = tr.span("rnaseq.sex") {
            val sex = SexEstimator.estimate(
              TsvSources.readIdxStats(spark, s"${pr.dir}/*_idxstats.txt"),
              passed.select(col("geo_accession").as("SampleID"), col("Sex").as("InputSex"))).localCheckpoint()
            publish(Sinks.writeTsvReport(sex.drop("ratio_num").orderBy("SampleID"), sexPath(p)))
            sex
          }
          val (tpm, passIds) = tr.span("rnaseq.matrix") {
            val passIds = passed.orderBy("_row_order").select("geo_accession").collect().map(_.getString(0)).toSeq
            val sources = passIds.map(_ + ".genes.results")
            val long = TsvSources.readRsemResults(spark, passIds.map(id => s"${pr.dir}/$id.genes.results"))
            val tpm = MatrixBuilder.pivotMatrix(long, "gene_id", "source_file", "TPM", sources).localCheckpoint()
            publish(Sinks.writeMatrix(tpm.orderBy("Symbol"), tpmPath(p)))
            val counts = MatrixBuilder.pivotMatrix(long, "gene_id", "source_file", "expected_count", sources)
            publish(Sinks.writeMatrix(counts.orderBy("Symbol"), s"$o/$name.genes.count.matrix"))
            (tpm, passIds)
          }
          tr.span("rnaseq.conflict") {
            publish(Sinks.writeTsvReport(ConflictReport.fromMatrix(sex, tpm).orderBy("SampleID"),
              s"$o/${name}_sex_conflict_report.txt", nullValue = ""))
          }
          tr.span("rnaseq.tpmbed") {
            val bed = TsvSources.readBed(spark, bedPath.toString)
            passIds.foreach { id =>
              val rsem = TsvSources.readRsemResults(spark, Seq(s"${pr.dir}/$id.genes.results"))
              publish(Sinks.writeBed(TpmBed.build(bed, rsem.select("gene_id", "TPM")),
                s"$o/tracks/$id.geneTPM.bed"))
            }
          }
          tr.span("rnaseq.session") {
            val tracks = ColorAssigner.comboKey(AccListOps.withUniqueName(passed)
                .join(sex.select(col("SampleID").as("geo_accession"), col("ComputedSex")),
                  Seq("geo_accession"), "left"))
              .withColumn("trackId", concat(lit("RNAseq_"), col("unique_name")))
              .withColumn("_path", concat(lit(s"$o/tracks/RNAseq_"), col("geo_accession"), lit(".json")))
            tracks.select(col("geo_accession"), SessionBuilder.trackJson(name)).collect().foreach { r =>
              Gen.write(o.resolve("tracks").resolve(s"RNAseq_${r.getString(0)}.json"), r.getString(1))
            }
            Gen.write(o.resolve(s"${name}_jbrowse_session_GRCr8.json"),
              SessionBuilder.buildSession(tracks, name, "2024-01-01T00:00:00"))
          }
          tr.span("rnaseq.merge") {
            val (merged, stats) = ProjectCombiner.mergeMatrices(readTsv(prev.tpm), tpm)
            publish(Sinks.writeMatrix(merged.orderBy("Symbol"), s"$o/merged.genes.TPM.matrix"))
            publish(Sinks.writeTsvReport(
              ProjectCombiner.unionReports(readTsv(prev.sex), sex.drop("ratio_num")).orderBy("SampleID"),
              s"$o/merged_sex_result.txt"))
            mergeStats = Some(stats)
          }
        }
      }
      rec.items += pr.samples.size
      rec.bytesIn += pr.inputBytes + bedBytes
      rec.bytesOut += Fs.dataBytes(o)
      Nil
    }
    val tracks = Seq.fill(TrackReadPasses)(pr.pass).flatten.map { s =>
      var got = Seq.empty[(String, String)]
      rec.attempt(s"${s.id} track read") {
        got = rec.timed(rec.reads) {
          TsvSources.readTrackJsons(spark, o.resolve("tracks").resolve(s"RNAseq_${s.id}.json").toString)
            .select(col("metadata.`Sample Accession ID`"), col("metadata.`Computed Sex`")).collect()
        }.map(r => r.getString(0) -> r.getString(1)).toSeq
        Nil
      }
      s -> got
    }
    () => {
      val expect = (prev.genes intersect pr.genes).size.toLong
      rec.attempt(s"$name files") {
        fileChecks(pr, o) ++
          mergeStats.filter(_.merged != expect).map(s => s"merge stats ${s.merged} rows, expected $expect")
      }
      rec.attempt(s"$name track docs") {
        tracks.flatMap { case (s, got) =>
          if (got == Seq(s.id -> s.bioSex)) None else Some(s"track doc of ${s.id} reads $got, expected ${s.id -> s.bioSex}")
        }.take(3)
      }
      readChecks(p, prev, rec)
    }
  }

  /** Checks on files the job wrote that need no engine: one BED per PASS
    * sample with the planted line count, one track doc per PASS sample, and
    * a session listing every track. */
  private def fileChecks(pr: Gen.ProjectTruth, o: Path): Seq[String] = {
    val pass = pr.pass
    val beds = pass.flatMap { s =>
      val f = o.resolve("tracks").resolve(s"${s.id}.geneTPM.bed")
      val n = if (Files.exists(f)) Files.readAllLines(f).size else -1
      if (n != s.bedLines) Some(s"${s.id} BED has $n lines, expected ${s.bedLines}") else None
    }
    val trackDocs = Fs.regularFiles(o.resolve("tracks")).count(_.getFileName.toString.endsWith(".json"))
    val session = new ObjectMapper().readTree(o.resolve(s"${pr.name}_jbrowse_session_GRCr8.json").toFile)
    val sessionTracks = session.path("session").path("sessionTracks").size()
    beds.take(3) ++
      (if (trackDocs != pass.size) Seq(s"$trackDocs track docs for ${pass.size} PASS samples") else Nil) ++
      (if (sessionTracks != pass.size) Seq(s"session lists $sessionTracks tracks for ${pass.size} PASS samples") else Nil)
  }

  /** Reads of the published reports back through the engine, each checked
    * against the generator's planted truth. */
  private[wfbench] def readChecks(p: Int, prev: Partner, rec: Recorder): Unit = {
    val pr = projects(p)
    val o = projOut(p)
    val pass = pr.pass
    def read(what: String)(body: => Seq[String]): Unit = rec.attempt(s"${pr.name} $what")(body)
    def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] =
      if (got == want) Nil
      else Seq(s"$what differs: ${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")

    read("STARQC report") {
      val got = readTsv(s"$o/${pr.name}_STAR_Align_sum.txt").select("SampleID", "Status").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      diff("status", got, pr.samples.map(s => s.id -> s.status).toMap)
    }
    read("sex report") {
      val got = readTsv(sexPath(p)).select("SampleID", "ComputedSex", "Agreement").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      diff("sex call", got, pass.map(s => s.id -> (s.bioSex, s.agreement)).toMap)
    }
    read("TPM matrix") {
      val m = readTsv(tpmPath(p))
      val cols = pass.map(_.id + ".genes.results")
      val row = m.agg(count(lit(1)), cols.map(c => sum(col(s"`$c`").cast("decimal(20,2)"))): _*).head()
      val sums = cols.indices.map(i => (row.getDecimal(i + 1).movePointRight(2).longValueExact()))
      (if (m.columns.toSeq != "Symbol" +: cols) Seq(s"matrix columns ${m.columns.take(4).mkString(",")}...") else Nil) ++
        (if (row.getLong(0) != pr.genes.size) Seq(s"matrix has ${row.getLong(0)} rows, expected ${pr.genes.size}") else Nil) ++
        diff("TPM sums", cols.zip(sums).toMap, cols.zip(pass.map(_.tpmCents)).toMap)
    }
    read("count matrix") {
      val m = readTsv(s"$o/${pr.name}.genes.count.matrix")
      val n = m.count()
      if (n != pr.genes.size || m.columns.length != pass.size + 1)
        Seq(s"count matrix is $n x ${m.columns.length}, expected ${pr.genes.size} x ${pass.size + 1}")
      else Nil
    }
    read("conflict report") {
      val got = readTsv(s"$o/${pr.name}_sex_conflict_report.txt").select("SampleID", "Agreement").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      diff("conflict rows", got, pass.map(s => s.id -> s.agreement).toMap)
    }
    read("merged matrix") {
      val m = readTsv(s"$o/merged.genes.TPM.matrix")
      val n = m.count()
      val rows = (prev.genes intersect pr.genes).size
      val cols = 1 + prev.samples + pass.size
      if (n != rows || m.columns.length != cols) Seq(s"merged matrix is $n x ${m.columns.length}, expected $rows x $cols")
      else Nil
    }
  }
}
