package wfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.security.MessageDigest

import graft.functions.TextFunctions
import graft.io.Sinks
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation half of `curation_index`: `CurationPipeline.curateForTraining`
  * with the Gopher repetition gate, the CCNet bigram-LM gate and the Voronoi
  * diversity cap engaged, over a seeded corpus. Each run trains the bigram
  * table on the trusted text, curates, and writes the shards; the shards are
  * then loaded back and checked. */
final class CurationPart(spark: SparkSession, tr: Tracer, seed: Long, dir: Path,
                         expectedDigest: Option[String]) {
  val Docs = 2000
  val TrustedDocs = 1500
  val Shards = 8
  val PerCell = 80
  val Repetition = RepetitionStats.RepetitionThresholds(maxTopGramCharFrac = 0.10)
  // passed to the pipeline explicitly, so the job and the staged pass agree
  val MinQuality = 0.5
  val DecontamGrams = 3
  val ChunkSize = 256
  val Stride = 192

  private val in = dir.resolve("in")
  private val out = dir.resolve("out").toString
  private var inputBytes = 0L
  private var ids: Set[Long] = _
  private var evalIds: Seq[Long] = _
  private var centroids: Seq[Seq[Double]] = _
  /** (doc_id, shard) digest of the first job; every later job must repeat it. */
  private var firstDigest: Option[String] = None
  var lastDigest: String = ""

  def generate(): Long = {
    val model = new Gen.TextModel(seed)
    val docs = Gen.corpus(model, Gen.rng(seed, "curation-docs"), Docs)
    val trusted = Gen.corpus(model, Gen.rng(seed, "curation-trusted"), TrustedDocs, idBase = 1L << 40, mix = false)
    val emb = Gen.embeddings(seed, docs.map(_.id))
    ids = docs.map(_.id).toSet
    val r = Gen.rng(seed, "curation-picks")
    evalIds = r.shuffle(docs.map(_.id)).take(Docs / 200).sorted
    // one seeded member of each embedding cluster is its cell's centroid
    centroids = emb.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, members) =>
      members(r.nextInt(members.size))._3.toSeq.map(_.toDouble)
    }
    inputBytes = Gen.write(in.resolve("docs.tsv"), Gen.docsTsv(docs)) +
      Gen.write(in.resolve("trusted.tsv"), Gen.docsTsv(trusted)) +
      Gen.write(in.resolve("embeddings.tsv"), Gen.embTsv(emb))
    inputBytes
  }

  private def readDocs(name: String): DataFrame =
    spark.read.option("sep", "\t").option("quote", "\u0000").schema("doc_id LONG, text STRING")
      .csv(in.resolve(name).toString)
  private def readEmb(): DataFrame =
    spark.read.option("sep", "\t").schema("doc_id LONG, v STRING").csv(in.resolve("embeddings.tsv").toString)
      .select(col("doc_id"), split(col("v"), ",").cast("array<float>").as("embedding"))

  private def bigrams(): DataFrame = NgramLm.bigramCounts(readDocs("trusted.tsv"), "text").localCheckpoint()

  /** One curation run. The returned check loads the shards back and
    * compares the run's (doc_id, shard) digest with the first checked run's
    * and, for the default seed, with the recorded one. */
  def job(rec: Recorder): () => Unit = {
    val docs = readDocs("docs.tsv")
    rec.attempt("curation") {
      tr.span("curation.run") {
        val lm = tr.span("curation.lm_counts")(bigrams())
        tr.span("curation.curate_for_training") {
          CurationPipeline.curateForTraining(docs, docs.filter(col("doc_id").isin(evalIds: _*)), out,
            minQuality = MinQuality, decontaminationGrams = DecontamGrams,
            chunkSize = ChunkSize, stride = Stride, numShards = Shards,
            lmFilter = Some(CurationPipeline.LmFilter(lm)),
            diversity = Some(CurationPipeline.DiversitySpec(readEmb(), "embedding", centroids, PerCell)),
            repetitionGate = Some(Repetition))
        }
      }
      rec.items += Docs
      rec.bytesIn += inputBytes
      rec.bytesOut += Fs.dataBytes(java.nio.file.Paths.get(out))
      Nil
    }
    () => {
      var pairs = Seq.empty[(Long, Int)]
      rec.attempt("shard load") {
        pairs = spark.read.parquet(out).select(col("doc_id"), col("shard").cast("int")).distinct()
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
        (0 until Shards).flatMap(s => Curation.shardProblems(pairs.filter(_._2 == s).map(_._1), s, Shards, ids))
      }
      val digest = Curation.digest(pairs)
      lastDigest = digest
      rec.attempt("curation digest") {
        val want = (firstDigest ++ expectedDigest).toSeq.distinct
        if (firstDigest.isEmpty) firstDigest = Some(digest)
        want.filter(_ != digest).map(w => s"digest $digest, expected $w")
      }
    }
  }

  /** The stages of `curateForTraining` as the program's own public calls,
    * each forced at its boundary with a local checkpoint, so the trace can
    * time every stage. The staged output must carry the jobs' digest.
    *
    * `curation.kept_frac.*` are counts around public calls: quality_lang and
    * dedup from `CurationPipeline.report`; repetition and lm as the share
    * of `curate`'s output left when that gate is added; decontam and
    * diversity as the share of their stage's input they keep. The six
    * multiply to the share of the input the chain keeps. */
  def stagedPass(): Map[String, Double] = {
    val docs = readDocs("docs.tsv")
    val evalDocs = docs.filter(col("doc_id").isin(evalIds: _*))
    def forced(df: DataFrame): (DataFrame, Long) = { val c = df.localCheckpoint(); (c, c.count()) }
    def ratio(o: Long, i: Long) = if (i == 0) 0.0 else o.toDouble / i
    tr.span("curation.staged") {
      val lm = tr.span("curation.lm_counts")(bigrams())
      val (curated, nCurated) = tr.span("curation.curate") {
        forced(CurationPipeline.curate(docs, minQuality = MinQuality,
          lmFilter = Some(CurationPipeline.LmFilter(lm)), repetitionGate = Some(Repetition)))
      }
      val (clean, nClean) = tr.span("curation.decontam") {
        forced(Decontamination.decontaminate(curated, evalDocs, "doc_id", "text", DecontamGrams))
      }
      val (diverse, nDiverse) = tr.span("curation.diversity") {
        val scoped = readEmb().join(clean.select("doc_id"), Seq("doc_id"), "left_semi")
        forced(clean.join(Sampling.diversitySample(scoped, "embedding", "doc_id", centroids, PerCell)
          .select("doc_id"), Seq("doc_id"), "left_semi"))
      }
      val staged = dir.resolve("staged").toString
      tr.span("curation.chunk_write") {
        val chunks = Chunker.chunkByTokens(diverse.withColumn("text", TextFunctions.redactPii(col("text"))),
            "doc_id", "text", ChunkSize, Stride)
          .withColumn("shard", TextFunctions.hashBucket(col("doc_id"), Shards))
        Sinks.writePartitionedParquet(chunks, staged, Seq("shard"))
      }
      val stagedDigest = Curation.digest(spark.read.parquet(staged).select(col("doc_id"), col("shard").cast("int"))
        .distinct().collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq)
      require(stagedDigest == lastDigest,
        s"staged chain digest $stagedDigest differs from curateForTraining's $lastDigest")

      val stages = CurationPipeline.report(docs, minQuality = MinQuality).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val withRepetition = CurationPipeline.curate(docs, minQuality = MinQuality,
        repetitionGate = Some(Repetition)).count()
      val pairs = DedupSuite.minHashLshPairs(docs, "doc_id", "text").select("id_a", "id_b").localCheckpoint()
      Map(
        "curation.kept_frac.quality_lang" -> ratio(stages("language_filter"), stages("input")),
        "curation.kept_frac.dedup" -> ratio(stages("near_dup_canonical"), stages("language_filter")),
        "curation.kept_frac.repetition" -> ratio(withRepetition, stages("near_dup_canonical")),
        "curation.kept_frac.lm" -> ratio(nCurated, withRepetition),
        "curation.kept_frac.decontam" -> ratio(nClean, nCurated),
        "curation.kept_frac.diversity" -> ratio(nDiverse, nClean),
        "dedup.candidate_pairs" -> pairs.count().toDouble,
        "dedup.kept_over_candidates" -> Curation.verifiedShare(docs, pairs))
    }
  }
}

object Curation {
  /** `TextFunctions.hashBucket` on the driver: first 32 md5 bits of the
    * decimal id, modulo the bucket count. */
  def bucketOf(id: Long, buckets: Int): Int = {
    val d = MessageDigest.getInstance("MD5").digest(id.toString.getBytes(UTF_8))
    val top = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (top % buckets).toInt
  }

  def shardProblems(got: Seq[Long], shard: Int, shards: Int, input: Set[Long]): Seq[String] = {
    val foreign = got.filterNot(input)
    val misplaced = got.filter(id => bucketOf(id, shards) != shard)
    (if (foreign.nonEmpty) Seq(s"shard $shard holds ids not in the input: ${foreign.take(3)}") else Nil) ++
      (if (misplaced.nonEmpty) Seq(s"shard $shard holds ids hashing elsewhere: ${misplaced.take(3)}") else Nil)
  }

  /** Order-insensitive digest of (doc_id, shard) pairs: count and the
    * wrapping sum of a 64-bit hash of each pair. */
  def digest(pairs: Seq[(Long, Int)]): String = {
    val distinct = pairs.distinct
    val sum = distinct.foldLeft(0L) { case (acc, (id, s)) =>
      val d = MessageDigest.getInstance("MD5").digest(s"$id:$s".getBytes(UTF_8))
      acc + java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${distinct.size}%d-$sum%016x"
  }

  /** Share of LSH candidate pairs whose word-3-shingle Jaccard similarity is
    * at least 0.5: the pairs a verify step would keep. */
  def verifiedShare(docs: DataFrame, pairs: DataFrame): Double = {
    val text = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = t.toLowerCase.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    if (ps.isEmpty) 0.0
    else ps.count { case (a, b) =>
      val (x, y) = (shingles(text(a)), shingles(text(b)))
      (x intersect y).size.toDouble / math.max(1, (x union y).size) >= 0.5
    }.toDouble / ps.length
  }
}
