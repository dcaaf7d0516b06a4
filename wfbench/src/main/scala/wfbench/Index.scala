package wfbench

import java.nio.file.{Path, Paths}

import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The text-index half of `curation_index`: a persisted BM25 index under
  * writes and reads. Set-up saves generation 0; each round appends one batch
  * (a write), reopens the index at its newest generation and answers a burst
  * of top-k reads. */
final class IndexPart(spark: SparkSession, tr: Tracer, seed: Long, dir: Path) {
  val BaseDocs = 1500
  val AppendDocs = 100
  /** Batches on disk; batch 0 is appended by the warm-up, batch k by round k. */
  val Batches = 60
  val ReadsPerRound = 20
  val TopK = 10
  val Buckets = 8

  private val in = dir.resolve("in")
  private val path = dir.resolve("index").toString
  private var docBytes: IndexedSeq[Long] = _
  private var queries: IndexedSeq[Seq[String]] = _
  private var nextRound = 0

  def generate(): Long = {
    val model = new Gen.TextModel(seed)
    val docs = Gen.corpus(model, Gen.rng(seed, "index-docs"), BaseDocs + Batches * AppendDocs)
    docBytes = docs.map(d => s"${d.id}\t${d.text}\n".getBytes("UTF-8").length.toLong).toIndexedSeq
    val r = Gen.rng(seed, "index-queries")
    // three distinct terms: one of the 50 most frequent words and two from rank 500 on
    def head() = model.words(r.nextInt(50))
    def tail() = model.words(500 + r.nextInt(model.vocabSize - 500))
    queries = IndexedSeq.fill(Batches * ReadsPerRound) {
      head() +: Iterator.continually(tail()).distinct.take(2).toSeq
    }
    Gen.write(in.resolve("docs.tsv"), Gen.docsTsv(docs))
  }

  private def docs: DataFrame =
    spark.read.option("sep", "\t").option("quote", "\u0000").schema("doc_id LONG, text STRING")
      .csv(in.resolve("docs.tsv").toString)
  private def upTo(n: Int): DataFrame = docs.filter(col("doc_id") < n.toLong)
  private def batch(k: Int): DataFrame = {
    val lo = BaseDocs + k * AppendDocs
    docs.filter(col("doc_id") >= lo.toLong && col("doc_id") < (lo + AppendDocs).toLong)
  }

  def warmup(): Unit = {
    Retrieval.saveTextIndex(upTo(BaseDocs), "doc_id", "text", path, Buckets)
    Retrieval.appendToTextIndex(batch(0), "doc_id", "text", path)
    Retrieval.bm25TopKFromIndex(Retrieval.loadTextIndex(spark, path), queries.head, TopK).collect()
    nextRound = 1
  }

  /** One append and its burst of reads. The returned check compares the
    * seeded first read of the burst with the from-corpus ranking. */
  def round(rec: Recorder): () => Unit = {
    val k = nextRound
    nextRound += 1
    require(k < Batches, s"ran out of generated batches after $Batches rounds")
    val committed = BaseDocs + (k + 1) * AppendDocs
    val before = Fs.dataBytes(Paths.get(path))
    rec.attempt(s"append $k") {
      rec.timed(rec.writes)(tr.span("index.append")(Retrieval.appendToTextIndex(batch(k), "doc_id", "text", path)))
      Nil
    }
    // the client reopens the index once per generation, then queries it
    val idx = tr.span("index.load")(Retrieval.loadTextIndex(spark, path))
    val answers = (0 until ReadsPerRound).map { q =>
      val terms = queries(k * ReadsPerRound + q)
      var got: Option[Seq[(Long, Double)]] = None
      rec.attempt(s"read $k.$q") {
        val hits = rec.timed(rec.reads)(tr.span("index.bm25")(Retrieval.bm25TopKFromIndex(idx, terms, TopK).collect()))
        got = Some(hits.map(h => h.getAs[Long]("doc_id") -> h.getAs[Double]("score")).toSeq)
        Nil
      }
      (terms, got)
    }
    rec.bytesIn += docBytes.slice(committed - AppendDocs, committed).sum
    rec.bytesOut += Fs.dataBytes(Paths.get(path)) - before
    () => {
      rec.attempt(s"index generation $k") {
        if (idx.nDocs != committed) Seq(s"index holds ${idx.nDocs} docs, expected $committed") else Nil
      }
      answers.head match {
        case (terms, Some(got)) => rec.attempt(s"ranking $k.0")(rankingProblems(terms, committed, got))
        case _ =>
      }
    }
  }

  /** Index-layer numbers for the trace: a save and a vacuum, timed as
    * spans, and the files and bytes one generation occupies. */
  def tracedExtras(): Map[String, Double] = {
    val scratch = dir.resolve("index-save").toString
    tr.span("index.save")(Retrieval.saveTextIndex(upTo(BaseDocs), "doc_id", "text", scratch, Buckets))
    tr.span("index.vacuum")(Retrieval.vacuumTextIndex(spark, path))
    val root = Paths.get(scratch)
    Map(
      "index.files_per_gen" ->
        Fs.regularFiles(root.resolve("postings")).count(_.getFileName.toString.endsWith(".parquet")).toDouble,
      "index.bytes_per_gen" -> Fs.dataBytes(root).toDouble)
  }

  /** The from-corpus ranking over the first `committed` docs, which a read
    * of the persisted index must match bit for bit. */
  private[wfbench] def rankingProblems(terms: Seq[String], committed: Int, got: Seq[(Long, Double)]): Seq[String] = {
    val want = Retrieval.bm25TopK(upTo(committed), "doc_id", "text", terms, TopK).collect()
      .map(h => h.getAs[Long]("doc_id") -> h.getAs[Double]("score")).toSeq
    if (got == want) Nil else Seq(s"top-$TopK for ${terms.mkString(" ")}: $got, expected $want")
  }

  private[wfbench] def read(terms: Seq[String]): Seq[(Long, Double)] =
    Retrieval.bm25TopKFromIndex(Retrieval.loadTextIndex(spark, path), terms, TopK).collect()
      .map(h => h.getAs[Long]("doc_id") -> h.getAs[Double]("score")).toSeq

  private[wfbench] def firstQuery: Seq[String] = queries.head
}

/** `curation_index`: one job curates the corpus (the [[CurationPart]]
  * chain), then runs one [[IndexPart]] round: append a batch to the text
  * index and answer a burst of BM25 reads. */
final class CurationIndexWorkload(spark: SparkSession, tr: Tracer, seed: Long, dir: Path,
                                  expectedDigest: Option[String]) extends Workload {
  val curation = new CurationPart(spark, tr, seed, dir.resolve("curation"), expectedDigest)
  val index = new IndexPart(spark, tr, seed, dir.resolve("index"))

  def generate(): Long = {
    Fs.deleteRecursively(dir)
    curation.generate() + index.generate()
  }
  /** The warm-up's check records the run's digest, so the timed job is
    * compared with it on every seed. */
  def warmup(): Unit = {
    curation.job(new Recorder)()
    index.warmup()
  }
  def unit(i: Int, rec: Recorder): () => Unit = {
    val checks = rec.timed(rec.jobs)(tr.span("curation_index.job")(Seq(curation.job(rec), index.round(rec))))
    () => checks.foreach(_())
  }
  def minUnits: Int = 1
  def itemUnit: String = "docs"
  override def tracedExtras(): Map[String, Double] = curation.stagedPass() ++ index.tracedExtras()
  override def notes: Map[String, String] = Map("curation_digest" -> curation.lastDigest)
}
