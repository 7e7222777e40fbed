package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Snapshot}

/** `index_ingest`: one operation is one micro-batch of the standing
  * ingest loop over sf0.1-shaped `documents` and `embeddings` tables —
  * probe the MinHash index for near-duplicates, drop them, append the
  * survivors as a `Snapshot` commit, then serve IVF top-k queries.
  * Writes sit beside reads, and per-batch cost comes from driver
  * metadata IO, the commit protocol and the job count.
  *
  * The stream repeats in cycles of [[IndexIngest.Cycle]] batches, each
  * cycle on a fresh copy of the built index (copied outside the timed
  * interval), so every run sees the same index sizes whatever its speed. */
final class IndexIngest(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer) extends Workload {
  import IndexIngest._
  import spark.implicits._

  private val pristine = dir.resolve("minhash-built")
  private val ivf = dir.resolve("ivf").toString
  private var corpusBytes = 0L
  private var batches: Seq[DocGen.Batch] = Seq.empty
  private var batchDfs: Seq[DataFrame] = Seq.empty
  private var queryVecs: Seq[Array[Double]] = Seq.empty
  private var truth: Seq[Set[Long]] = Seq.empty
  private var cycle = -1
  private var appendedBytes = 0L
  private val ratios = mutable.ArrayBuffer.empty[Double]

  def storedRatios: Seq[Double] = ratios.toSeq

  private def index: String = dir.resolve(s"minhash-cycle$cycle").toString

  def inputs: Map[String, Any] = Map("corpus_docs" -> DocGen.CorpusDocs, "vectors" -> DocGen.Vectors,
    "dim" -> Dim, "batch_docs" -> DocGen.BatchDocs, "planted_dups_per_batch" -> DocGen.DupsPerBatch,
    "input_bytes" -> corpusBytes)

  def setup(): Unit = {
    val (corpus, embs) = SetupPhases("generate")((DocGen.corpus(seed), DocGen.embeddings(seed)))
    corpusBytes = corpus.map(_.text.getBytes("UTF-8").length.toLong).sum + embs.size * Dim * 4L
    val docsPath = dir.resolve("documents.parquet").toString
    val embsPath = dir.resolve("embeddings.parquet").toString
    SetupPhases("land") {
      corpus.toDF().write.parquet(docsPath)
      embs.toDF().write.parquet(embsPath)
    }
    val docs = spark.read.parquet(docsPath)
    val vecs = spark.read.parquet(embsPath)
    SetupPhases("build_minhash") {
      Dedup.buildMinhashIndex(docs, "doc_id", "text", pristine.toString)
      Snapshot.enableSub(spark, pristine.toString, "buckets")
    }
    SetupPhases("build_ivf")(Ann.buildIvfIndex(vecs, "vec_id", "embedding", Dim, Cells, ivf))
    batches = DocGen.batches(seed, corpus, Cycle)
    batchDfs = batches.map(b => b.docs.toDF())
    queryVecs = DocGen.queries(seed, embs, QueryPool)
    truth = SetupPhases("brute_force")(queryVecs.map { q =>
      val qdf = Seq(Tuple1(q.map(_.toFloat))).toDF("vec")
      Ann.bruteForceTopK(vecs, "vec_id", "embedding", qdf, "vec", K).collect().map(_.getLong(0)).toSet
    })
    // warm-up: the first batches of a throwaway cycle
    SetupPhases("warm_up") {
      for (r <- 0 until WarmBatches; op <- round(r)) op.run()().foreach(m => throw new IllegalStateException(m))
    }
    ratios.clear()
  }

  def round(r: Int): Seq[Op] = {
    val j = r % Cycle
    if (j == 0) startCycle()
    Seq(Op("ingest.batch", () => batch(j), () => probe(j)))
  }

  private def startCycle(): Unit = {
    if (cycle >= 0) Tree.delete(Path.of(index))
    cycle += 1
    Tree.copy(pristine, Path.of(index))
    appendedBytes = 0L
  }

  private def batch(j: Int): () => Option[String] = {
    val b = batches(j)
    val df = batchDfs(j)
    val idx = index
    val res = tracer.span("dedup.probe")(
      Dedup.minhashNearDupsAgainstIndexWithStats(df, "doc_id", "text", idx))
    val survivors = tracer.span("dedup.drop")(
      df.join(res.pairs.select(col("in_doc").as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
    tracer.span("dedup.append")(
      Dedup.appendToMinhashIndex(survivors, "doc_id", "text", idx, batchId = Some(j.toLong)))
    val hits = (0 until QueriesPerBatch).map { t =>
      val qi = (j * QueriesPerBatch + t) % QueryPool
      qi -> tracer.span("ann.search")(
        Ann.searchIvfIndex(spark, ivf, "vec_id", "embedding", queryVecs(qi).toSeq, K, NProbe)
          .collect().map(_.getLong(0)).toSet)
    }
    () => {
      val found = res.pairs.select("in_doc").distinct().collect().map(_.getLong(0)).toSet
      appendedBytes += b.docs.filterNot(d => b.plantedDups(d.doc_id))
        .map(_.text.getBytes("UTF-8").length.toLong).sum
      // sampled after a cycle's first batch only, so the reported ratio
      // is the same index state whatever number of batches a run reaches
      if (j == 0)
        ratios += (Tree.bytes(Path.of(idx)) + Tree.bytes(Path.of(ivf))).toDouble / (corpusBytes + appendedBytes)
      val recall = hits.map { case (qi, ids) => (ids intersect truth(qi)).size.toDouble / K }.sum / hits.size
      if (found != b.plantedDups)
        Some(s"batch $j: found ${found.size} duplicates, planted ${b.plantedDups.size}, " +
          s"missed ${(b.plantedDups -- found).take(5)}, extra ${(found -- b.plantedDups).take(5)}")
      else if (recall < MinRecall) Some(f"batch $j: IVF recall@$K $recall%.3f < $MinRecall")
      else None
    }
  }

  /** Candidate pairs of the batch (the same probe at Jaccard threshold 0)
    * and the grown buckets it skipped, before the batch appends. */
  private def probe(j: Int): Unit = tracer.span("probe.candidates") {
    val all = Dedup.minhashNearDupsAgainstIndexWithStats(batchDfs(j), "doc_id", "text", index,
      threshold = 0.0)
    tracer.attr("candidates", all.pairs.count().toDouble)
    tracer.attr("duplicates", all.pairs.filter(col("jaccard") >= 0.7)
      .select("in_doc").distinct().count().toDouble)
    tracer.attr("skipped_buckets", all.probeDropStats.head().getLong(0).toDouble)
  }
}

object IndexIngest {
  val Dim: Int = DocGen.Dim
  val Cells = 16
  val NProbe = 4
  val K = 10
  val QueryPool = 4
  val QueriesPerBatch = 2
  val Cycle = 8
  /** Batches in set-up, for JIT warm-up: batch time still falls by a
    * sixth over the batches after the first five, and how fast it falls
    * differs from JVM to JVM, so the loop starts after a whole cycle. */
  val WarmBatches = 8
  val MinRecall = 0.9
}
