package perfbench

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Ivf, Knn}
import graft.queries.Dedup

/** The LLM-data ingest pipeline, one of the operation kinds of the
  * `query_mix` workload: each operation dedups one batch of crawled
  * documents against the corpus that earlier batches grew.
  *
  * One operation is: `Dedup.lshVerifiedIncremental` against the stored band
  * index, `Dedup.appendBandIndex`, the corpus append, exact semantic
  * neighbours of the batch embeddings with `Knn.topKCosine`, and an IVF
  * candidate probe (`Ivf.coarseRankedAuto` + `Ivf.candidates`) over the
  * grown vector set. The corpus and batches come from `gen.py`, with planted
  * near-duplicate texts and perturbed-copy vectors; every reported pair is
  * written out for `run.py` to check against exact Jaccard and the planted
  * set. */
final class DedupIngest(spark: SparkSession, tracer: Tracer, data: String, work: String) {
  import DedupIngest._

  private val docsDir = s"$work/corpus_docs"
  private val embDir = s"$work/corpus_emb"
  private val indexDir = s"$work/band_index"
  private val pairsFile = Paths.get(s"$work/reported_pairs.jsonl")
  private var nextBatch = 0
  private var corpusVectors = 0L
  /** Last doc id of the last batch whose pairs were written out. */
  private var processedHi = -1L

  private val perOp = mutable.Map[Int, OpRecord]()
  private var last: OpRecord = _

  private def batchDocs(b: Int) = spark.read.parquet(f"$data/batch_$b%03d_docs.parquet")
  private def batchEmb(b: Int) = spark.read.parquet(f"$data/batch_$b%03d_emb.parquet")

  private def withNorm(v: DataFrame): DataFrame =
    v.withColumn("norm", sqrt(aggregate(transform(col("embedding"), x => x * x),
      lit(0.0), (a, b) => a + b)))

  def setup(): Unit = {
    for ((from, to) <- Seq("corpus_docs" -> docsDir, "corpus_emb" -> embDir)) {
      Files.createDirectories(Paths.get(to))
      Files.copy(Paths.get(s"$data/$from.parquet"), Paths.get(s"$to/part-00000-corpus.parquet"))
    }
    corpusVectors = spark.read.parquet(embDir).count()
    Dedup.writeBandIndex(spark.read.parquet(docsDir), indexDir)
    prepare()
    op()
    afterOp(-1, traced = false)
  }

  private var lo = 0L
  private var hi = 0L

  /** Untimed: the doc id range of the next batch. */
  def prepare(): Unit = {
    val ids = batchDocs(nextBatch).agg(min("doc_id"), max("doc_id")).head()
    lo = ids.getLong(0)
    hi = ids.getLong(1)
  }

  /** One batch end to end; what it reported stays in `last`. */
  def op(): Unit = {
    val b = nextBatch
    nextBatch += 1
    val docs = batchDocs(b)
    val pairs = tracer.span("queries.Dedup.lshVerifiedIncremental") {
      Dedup.lshVerifiedIncremental(spark, spark.read.parquet(docsDir),
        spark.read.parquet(indexDir), docs, Threshold)
        .select(col("a_id"), col("b_id"), col("jacc").cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    tracer.span("queries.Dedup.appendBandIndex")(Dedup.appendBandIndex(docs, indexDir))
    tracer.span("corpus.append")(docs.write.mode("append").parquet(docsDir))

    val emb = batchEmb(b)
    val corpus = spark.read.parquet(embDir)
    val edges = tracer.span("ops.Knn.topKCosine")(Knn.topKCosine(emb, corpus, K).collect())
    val ivf = tracer.span("ops.Ivf.probe") {
      val ranked = Ivf.coarseRankedAuto(withNorm(corpus.unionByName(emb)), NProbe)
      Ivf.candidates(ranked, NProbe)
        .where(col("a_id").between(lo, hi))
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    tracer.span("corpus.append")(emb.write.mode("append").parquet(embDir))
    last = OpRecord(b, lo, hi, corpusVectors, pairs, edges, ivf)
  }

  /** Appends the batch's reported pairs to the file `run.py` checks. */
  def afterOp(i: Int, traced: Boolean): Unit = {
    corpusVectors += hi - lo + 1
    processedHi = last.hi
    val lines = last.pairs.map { case (a, b, j) =>
      Main.json.writeValueAsString(Map("kind" -> "text", "a" -> a, "b" -> b, "score" -> j))
    } ++ last.edges.filter(_.sim >= SemanticThreshold).map { e =>
      Main.json.writeValueAsString(Map("kind" -> "vector", "a" -> e.q_id, "b" -> e.c_id, "score" -> e.sim))
    }
    Files.write(pairsFile, lines.map(_ + "\n").mkString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    perOp(i) = if (traced) last.copy(candidates = candidatePairs(last.lo, last.hi)) else last
  }

  /** Band collisions of the batch before verification, from the stored
    * index: every collision with an earlier doc, and each in-batch pair
    * once — the pairs the probe verifies. */
  private def candidatePairs(lo: Long, hi: Long): Long = {
    val idx = spark.read.parquet(indexDir)
    val a = idx.where(col("doc_id").between(lo, hi))
      .select(col("doc_id").as("a_id"), col("band_i"), col("band_v"))
    val b = idx.where(col("doc_id") <= hi)
      .select(col("doc_id").as("b_id"), col("band_i"), col("band_v"))
    a.join(b, Seq("band_i", "band_v"))
      .where(col("b_id") < lo || (col("b_id") >= lo && col("a_id") < col("b_id")))
      .select("a_id", "b_id").distinct().count()
  }

  def layerMetrics(tracer: Tracer, ops: Seq[(Int, Span)]): Seq[(String, Double)] = {
    val n = math.max(ops.size, 1).toDouble
    def spanS(name: String): Seq[Span] = ops.flatMap { case (_, o) =>
      tracer.spans.filter(s => s.parent == o.id && s.name == name).toSeq
    }
    def mean(name: String): Double = spanS(name).map(tracer.seconds).sum / n
    val recs = ops.flatMap { case (i, _) => perOp.get(i) }
    val batchDocs = math.max(recs.map(r => r.hi - r.lo + 1).sum, 1L).toDouble
    val cands = recs.map(_.candidates).sum
    val exact = recs.flatMap(_.edges.map(e => (e.q_id, e.c_id))).toSet
    val probed = recs.flatMap(_.ivf).toSet
    Seq(
      "dedup_band_s" -> spanS("queries.Dedup.appendBandIndex")
        .flatMap(tracer.totals).map(_.mapStageWallMs).sum / 1e3 / n,
      "dedup_probe_s" -> mean("queries.Dedup.lshVerifiedIncremental"),
      "dedup_append_s" -> mean("queries.Dedup.appendBandIndex"),
      "dedup_candidates_per_batch_doc" -> cands / batchDocs,
      "dedup_verified_share" -> recs.map(_.pairs.length).sum.toDouble / math.max(cands, 1L),
      "knn_topk_s" -> mean("ops.Knn.topKCosine"),
      "knn_vectors_compared_per_query" -> recs.map(_.corpusVectors).sum / n,
      "ivf_probe_s" -> mean("ops.Ivf.probe"),
      "ivf_candidates_per_query" -> recs.map(_.ivf.length).sum / batchDocs,
      "ivf_recall_at_10" -> exact.count(probed.contains).toDouble / math.max(exact.size, 1))
  }

  /** Bytes of the corpus, vector and band-index stores over the bytes of
    * the input files they were built from (the corpus and the batches
    * ingested so far). */
  def storedBytesPerInputByte: Double = {
    def bytes(dir: String): Long = DataFiles.sizes(dir).values.sum
    val inputs = Seq(s"$data/corpus_docs.parquet", s"$data/corpus_emb.parquet") ++
      (0 until nextBatch).flatMap(b => Seq(f"$data/batch_$b%03d_docs.parquet", f"$data/batch_$b%03d_emb.parquet"))
    (bytes(docsDir) + bytes(embDir) + bytes(indexDir)).toDouble / inputs.map(p => Files.size(Paths.get(p))).sum
  }

  def info: Seq[(String, Any)] = {
    val docs = spark.read.parquet(docsDir).count()
    Seq(
      "batches" -> nextBatch,
      "processed_hi" -> processedHi,
      "final_corpus_docs" -> docs,
      "final_corpus_vectors" -> corpusVectors,
      "lsh_route" -> (if (docs > graft.PerfbenchView.dedupBroadcastDocs) "scoped mask dictionary"
        else "corpus-wide mask dictionary"),
      "knn_route" -> (if (corpusVectors > graft.PerfbenchView.knnBroadcastCorpusRows) "aggregator"
        else "blocked broadcast scan"))
  }
}

object DedupIngest {
  /** One batch: its doc id range, what the probes reported, and (when
    * traced) its band-collision candidate count. */
  final case class OpRecord(batch: Int, lo: Long, hi: Long, corpusVectors: Long,
      pairs: Array[(Long, Long, Double)], edges: Array[Knn.Edge], ivf: Array[(Long, Long)],
      candidates: Long = 0)

  val Threshold = 0.8
  val SemanticThreshold = 0.98
  val K = 10
  val NProbe = 2
}
