package wfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Every file is written by plain JVM code from a
  * `Random` stream derived from the seed, so one seed always gives
  * byte-identical inputs and the engine only ever sees the written files. */
object Gen {

  def write(p: Path, s: String): Long = {
    val b = s.getBytes(UTF_8)
    Files.createDirectories(p.getParent)
    Files.write(p, b)
    b.length.toLong
  }

  /** A stream per (seed, purpose), so adding a draw to one generator never
    * shifts another generator's inputs. */
  def rng(seed: Long, purpose: String): Random = new Random(seed * 1000003L + purpose.hashCode)

  // ─── text ───────────────────────────────────────────────────────────────

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"
  private def syllable(i: Int): String =
    s"${Consonants(i % Consonants.length)}${Vowels(i / Consonants.length % Vowels.length)}"
  private val NSyl = Consonants.length * Vowels.length

  /** Content word `i`: two consonant-vowel syllables, so no content word can
    * collide with an English stopword (all of which end in a consonant or are
    * one letter long). */
  def word(i: Int): String = syllable(i % NSyl) + syllable(i / NSyl % NSyl)

  val Stopwords: Array[String] = Array("the", "of", "and", "to", "in", "is", "for", "with", "that", "on")

  /** A first-order Markov chain over a Zipf-weighted vocabulary. Each
    * content word has 40 seeded successors, 6 of them stopwords; a stopword
    * is followed by a seeded content word. Text drawn from the chain has a
    * bigram table that a trusted sample covers, ~15% stopwords (so it reads
    * as English to the language gate), head and tail vocabulary for BM25,
    * and few trigrams shared by chance between unrelated documents. */
  final class TextModel(seed: Long, val vocabSize: Int = 3000) {
    require(vocabSize <= NSyl * NSyl, s"vocabulary too large for two-syllable words: $vocabSize")
    private val successors = 40
    private val stopSuccessors = 6
    val words: Array[String] = Array.tabulate(vocabSize)(word)
    private val r = rng(seed, "textmodel")
    // Zipf(0.7) cumulative weights over word ranks
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocabSize)(i => math.pow(i + 1, -0.7))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def zipf(rr: Random): Int = {
      val u = rr.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(vocabSize - 1, if (i >= 0) i else -i - 1)
    }
    // successor tables: entries >= 0 are content words, < 0 are stopwords (-1 - idx)
    private val succ: Array[Array[Int]] = Array.fill(vocabSize) {
      Array.tabulate(successors)(j =>
        if (j < stopSuccessors) -1 - r.nextInt(Stopwords.length) else zipf(r))
    }
    private val stopSucc: Array[Array[Int]] = Array.fill(Stopwords.length)(Array.fill(200)(zipf(r)))

    /** `n` tokens of chain text. */
    def chain(rr: Random, n: Int): Seq[String] = {
      val out = new ArrayBuffer[String](n)
      var cur = zipf(rr)
      while (out.size < n) {
        if (cur >= 0) {
          out += words(cur)
          cur = succ(cur)(rr.nextInt(successors))
        } else {
          val s = -1 - cur
          out += Stopwords(s)
          cur = stopSucc(s)(rr.nextInt(stopSucc(s).length))
        }
      }
      out.toSeq
    }
    /** Tokens drawn independently (no chain): novel bigrams almost everywhere. */
    def gibberish(rr: Random, n: Int): Seq[String] =
      Seq.fill(n)(if (rr.nextInt(7) == 0) Stopwords(rr.nextInt(Stopwords.length))
                  else words(rr.nextInt(vocabSize)))
    /** Chain text with no stopwords at all: fails the English gate. */
    def foreign(rr: Random, n: Int): Seq[String] = chain(rr, n * 2).filterNot(Stopwords.contains).take(n)
  }

  final case class Doc(id: Long, text: String)

  /** Document kinds, each aimed at one curation gate. */
  object Kind extends Enumeration { val Normal, LowQuality, Foreign, Repetitive, Gibberish, NearDup = Value }

  /** A corpus of `n` docs with planted gate failures and near-duplicate
    * clusters in exact proportions (so every seed curates about as much);
    * ids are `idBase + i`. */
  def corpus(model: TextModel, rr: Random, n: Int, idBase: Long = 0L,
             mix: Boolean = true): Seq[Doc] = {
    val out = new ArrayBuffer[Doc](n)
    def len() = 30 + rr.nextInt(70)
    val planted =
      if (!mix) Seq.empty
      else Seq(Kind.LowQuality, Kind.Foreign, Kind.Repetitive, Kind.Gibberish).flatMap(k => Seq.fill(n / 25)(k)) ++
        Seq.fill(n * 3 / 25)(Kind.NearDup)
    // the first doc is never a near-duplicate: it has nothing to copy
    val kinds = Kind.Normal +: rr.shuffle(planted ++ Seq.fill(n - 1 - planted.size)(Kind.Normal))
    kinds.foreach { kind =>
      val id = idBase + out.size
      val toks: Seq[String] = kind match {
        case Kind.Normal => model.chain(rr, len())
        case Kind.LowQuality =>
          model.chain(rr, len()).map(w => if (rr.nextBoolean()) s"${rr.nextInt(1000)};${rr.nextInt(100)}!" else w)
        case Kind.Foreign => model.foreign(rr, len())
        case Kind.Repetitive =>
          val a = model.chain(rr, 3)
          Seq.fill(12)(a).flatten ++ model.chain(rr, 10)
        case Kind.Gibberish => model.gibberish(rr, len())
        case _ =>
          // near-duplicate of an earlier doc: a couple of substituted tokens
          val src = out(rr.nextInt(out.size)).text.split(" ")
          src.indices.map(i => if (rr.nextInt(40) == 0) model.words(rr.nextInt(model.vocabSize)) else src(i)).toSeq
      }
      out += Doc(id, toks.mkString(" "))
    }
    out.toSeq
  }

  def docsTsv(docs: Seq[Doc]): String = docs.map(d => s"${d.id}\t${d.text}\n").mkString

  // ─── RNA-seq project ─────────────────────────────────────────────────────

  val MarkerGenes: Seq[String] = Seq("Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y")
  private val FemaleMarkers = Set("Xist")

  final case class SampleTruth(id: String, status: String, bioSex: String, metaSex: String,
                               tpmCents: Long, bedLines: Int) {
    def agreement: String = if (bioSex == metaSex) "Agree" else "Conflict"
  }

  final case class ProjectTruth(name: String, dir: Path, samples: Seq[SampleTruth],
                                genes: Set[String], inputBytes: Long) {
    def pass: Seq[SampleTruth] = samples.filter(_.status == "PASS")
    def accList: Path = dir.resolve(s"${name}_AccList.txt")
  }

  final case class GeneRef(name: String, chrom: String, start: Long, end: Long)

  /** The reference gene BED shared by every project: markers plus
    * `nGenes - 6` numbered genes, ~2% of them on unplaced `NW_` scaffolds. */
  def geneRef(seed: Long, nGenes: Int): Seq[GeneRef] = {
    val r = rng(seed, "generef")
    val names = MarkerGenes ++ (0 until nGenes - MarkerGenes.size).map(i => f"Gene$i%05d")
    val chroms = (1 to 20).map(c => s"chr$c") ++ Seq("chrX", "chrY")
    names.map { n =>
      val chrom =
        if (n == "Xist") "chrX" else if (MarkerGenes.contains(n)) "chrY"
        else if (r.nextInt(50) == 0) "NW_004949099.1" else chroms(r.nextInt(chroms.size))
      val start = r.nextInt(200000000).toLong
      GeneRef(n, chrom, start, start + 500 + r.nextInt(50000))
    }.sortBy(g => (g.chrom, g.start, g.name))
  }

  def bedText(ref: Seq[GeneRef]): String =
    ref.map(g => s"${g.chrom}\t${g.start}\t${g.end}\t${g.name}\n").mkString

  private val Tissues = Seq("Liver", "Brain", "Heart", "Kidney", "Lung")
  private val Strains = Seq("BN/NHsdMcwi", "SHR/NCrl", "F344/NHsd", "WKY/NCrl, substrain 2", "SS/JrHsdMcwi")
  private val XLen = 159970021L
  private val YLen = 18315841L

  /** One project in the reference's step-2 input layout under `dir`:
    * AccList (multi-run samples, duplicate rows, a comment and a blank line),
    * STAR logs (planted FAIL share, missing and invalid logs), idxstats
    * (planted sexes and metadata conflicts) and RSEM gene results for the
    * PASS samples (`ref` genes minus a seeded ~1% the project lacks). */
  def project(seed: Long, p: Int, nSamples: Int, ref: Seq[GeneRef], dir: Path): ProjectTruth = {
    val r = rng(seed, s"project$p")
    val name = s"PRJNA${900000 + p}"
    // exact status counts, shuffled: ~20% FAIL, at least one missing and one invalid log
    val nNoLog = math.max(1, nSamples / 12)
    val nInvalid = math.max(1, nSamples / 12)
    val nFail = math.max(1, nSamples / 5)
    val statuses = r.shuffle(Seq.fill(nNoLog)("NO_LOG") ++ Seq.fill(nInvalid)("INVALID_LOG") ++
      Seq.fill(nFail)("FAIL") ++ Seq.fill(nSamples - nNoLog - nInvalid - nFail)("PASS"))
    val projectGenes = ref.map(_.name).filter(g => MarkerGenes.contains(g) || r.nextInt(100) != 0)
    val geneSet = projectGenes.toSet
    val placed = ref.filter(g => g.chrom.startsWith("chr")).map(_.name).toSet
    var bytes = 0L

    val acc = new StringBuilder(
      "Run\tgeo_accession\tTissue\tStrain\tSex\tPMID\tGEOpath\tTitle\tSample_characteristics\tStrainInfo\n")
    acc ++= s"# $name generated AccList\n"
    val rows = new ArrayBuffer[String]
    val truths = statuses.zipWithIndex.map { case (status, i) =>
      val id = f"GSM${p + 1}%d$i%05d"
      val bioSex = if (r.nextBoolean()) "M" else "F"
      val metaSex = if (r.nextInt(100) < 15) (if (bioSex == "M") "F" else "M") else bioSex
      val tissue = Tissues(r.nextInt(Tissues.size)); val strain = Strains(r.nextInt(Strains.size))
      val nRuns = if (r.nextInt(100) < 30) 2 + r.nextInt(2) else 1
      (0 until nRuns).foreach { k =>
        rows += s"SRR${p + 1}${"%05d".format(i)}$k\t$id\t$tissue\t$strain\t$metaSex\t${30000000 + p}\t" +
          s"https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=$name\tStudy $name\tage: ${8 + r.nextInt(8)}w\t" +
          s"https://rgd.mcw.edu/rgdweb/report/strain/main.html?id=${100 + Strains.indexOf(strain)}"
      }
      // STAR log
      if (status != "NO_LOG") {
        val input = 10000000L + r.nextInt(30000000)
        val rate = if (status == "FAIL") 0.60 + r.nextDouble() * 0.35 else 0.03 + r.nextDouble() * 0.37
        val unm = (input * rate).toLong
        val mm = unm / 10; val other = unm / 7; val short = unm - mm - other
        val inputText = if (status == "INVALID_LOG") "0" else input.toString
        bytes += write(dir.resolve(s"${id}_STARLog.final.out"),
          s"""                                 Started job on |\tJan 01 00:00:00
             |                          Number of input reads |\t$inputText
             |                      Average input read length |\t300
             |                    UNIQUE READS:
             |                   Uniquely mapped reads number |\t${input - unm}
             |                   Number of splices: Total |\t${input / 3}
             |       Number of reads unmapped: too many mismatches |\t$mm
             |                 Number of reads unmapped: too short |\t$short
             |                     Number of reads unmapped: other |\t$other
             |""".stripMargin)
        // idxstats: chrY coverage sets the planted sex (M ratio ~2, F ratio >100 or Inf)
        val xMap = 4000000L + r.nextInt(1000000)
        val yMap = if (bioSex == "M") 200000L + r.nextInt(100000)
                   else if (r.nextBoolean()) 0L else 500L + r.nextInt(2500)
        bytes += write(dir.resolve(s"${id}_idxstats.txt"),
          (1 to 3).map(c => s"chr$c\t${250000000L - c}\t${9000000 + r.nextInt(1000000)}\t0\n").mkString +
            s"chrX\t$XLen\t$xMap\t0\nchrY\t$YLen\t$yMap\t0\nchrM\t16313\t${r.nextInt(90000)}\t0\n" +
            s"NW_004949099.1\t37000\t${r.nextInt(100)}\t0\n*\t0\t0\t${r.nextInt(500000)}\n")
      }
      // RSEM gene results for PASS samples
      var cents = 0L; var bedLines = 0
      if (status == "PASS") {
        val sb = new StringBuilder("gene_id\ttranscript_id(s)\tlength\teffective_length\texpected_count\tTPM\tFPKM\n")
        projectGenes.sorted.foreach { g =>
          val tpmC: Long =
            if (MarkerGenes.contains(g)) {
              val high = if (FemaleMarkers(g)) bioSex == "F" else bioSex == "M"
              if (high) 20000L + r.nextInt(60000) else r.nextInt(60).toLong
            } else if (r.nextInt(10) < 3) 0L
            else math.min(5000000L, math.exp(r.nextGaussian() * 2.0 + 2.5).toLong * 100 + r.nextInt(100))
          cents += tpmC
          if (tpmC != 0L && placed(g)) bedLines += 1
          val tpm = f"${tpmC / 100}%d.${tpmC % 100}%02d"
          sb ++= s"$g\tNM_$g\t${1000 + r.nextInt(4000)}.00\t${800 + r.nextInt(3000)}.00\t" +
            s"${r.nextInt(5000)}.00\t$tpm\t${r.nextInt(500)}.${r.nextInt(10)}0\n"
        }
        bytes += write(dir.resolve(s"$id.genes.results"), sb.toString)
      }
      SampleTruth(id, status, bioSex, metaSex, cents, bedLines)
    }
    // exact duplicate rows appended after the originals (dedup keeps the first)
    val dups = Seq.fill(3)(rows(r.nextInt(rows.size)))
    acc ++= rows.mkString("\n") + "\n\n" + dups.mkString("\n") + "\n"
    bytes += write(dir.resolve(s"${name}_AccList.txt"), acc.toString)
    ProjectTruth(name, dir, truths, geneSet, bytes)
  }

  final case class Release(genes: Set[String], samples: Int, tpmMatrix: Path, sexReport: Path)

  /** A previously published project in the reference's text outputs: a TPM
    * matrix (`Sinks.writeMatrix` layout) and a sex report, for the first job
    * of a run to merge with. */
  def release(seed: Long, ref: Seq[GeneRef], dir: Path, nSamples: Int = 3): (Release, Long) = {
    val r = rng(seed, "release")
    val genes = ref.map(_.name).filter(g => MarkerGenes.contains(g) || r.nextInt(100) != 0).sorted
    val ids = (0 until nSamples).map(i => f"GSM9$i%05d")
    val matrix = (("Symbol" +: ids.map(id => "\"" + id + ".genes.results\"")).mkString("\t") + "\n") +
      genes.map(g => (s"\"$g\"" +: ids.map(_ => s"${r.nextInt(100000) / 100}.${r.nextInt(10)}0")).mkString("\t") + "\n").mkString
    val sex = "SampleID\tInputSex\tComputedSex\tRatio\tAgreement\n" +
      ids.map(id => s"$id\tF\tF\tInf\tAgree\n").mkString
    val rel = Release(genes.toSet, nSamples, dir.resolve("PRJNA899999.genes.TPM.matrix"),
      dir.resolve("PRJNA899999_sex_result.txt"))
    (rel, write(rel.tpmMatrix, matrix) + write(rel.sexReport, sex))
  }

  // ─── embeddings ─────────────────────────────────────────────────────────

  val EmbDim = 64

  /** One 64-d vector per doc from a mixture of `k` Gaussian clusters with
    * uneven, exact sizes (so a per-cell cap bites in the dense cells by the
    * same amount for every seed). */
  def embeddings(seed: Long, ids: Seq[Long], k: Int = 16): Seq[(Long, Int, Array[Float])] = {
    val r = rng(seed, "embeddings")
    val centers = Array.fill(k, EmbDim)(r.nextGaussian().toFloat * 4f)
    val weights = Array.tabulate(k)(i => 1.0 / (i + 1)); val ws = weights.sum
    val sizes = weights.map(w => (ids.size * w / ws).toInt)
    sizes(0) += ids.size - sizes.sum
    val cluster = r.shuffle(sizes.indices.flatMap(c => Seq.fill(sizes(c))(c)))
    ids.zip(cluster).map { case (id, c) =>
      (id, c, Array.tabulate(EmbDim)(d => centers(c)(d) + r.nextGaussian().toFloat))
    }
  }

  def embTsv(emb: Seq[(Long, Int, Array[Float])]): String =
    emb.map { case (id, _, v) => s"$id\t${v.map(x => String.format(java.util.Locale.ROOT, "%.5f", Float.box(x))).mkString(",")}\n" }.mkString
}
