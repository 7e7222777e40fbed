package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded corpus with the shape of the sf0.1 `documents` (5,000 docs of
  * 10-100 words over a 30-word vocabulary, 5 languages, 20 sources) and
  * `embeddings` (2,000 unit vectors of dim 64 around 10 labelled
  * centers) tables, plus the ingest stream: fixed-size batches of fresh
  * documents with near-duplicates of already indexed documents planted
  * at a fixed share. */
object DocGen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  val CorpusDocs = 5000
  val Vectors = 2000
  val Dim = 64
  val Labels = 10
  val BatchDocs = 250
  /** Planted near-duplicates per batch (10%). */
  val DupsPerBatch = 25

  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de", "zh", "es", "fr", "de")

  private def text(rng: SplittableRandom, minWords: Int): String =
    Array.fill(minWords + rng.nextInt(101 - minWords))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")

  private def doc(rng: SplittableRandom, id: Long, t: String): Doc =
    Doc(id, t, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}", t.length.toLong)

  def corpus(seed: Long): Seq[Doc] = {
    val rng = new SplittableRandom(seed ^ 0x5eedd0c5L)
    (0 until CorpusDocs).map(i => doc(rng, i.toLong, text(rng, 10)))
  }

  /** One word swapped in a doc of at least 40 words: word 3-shingle
    * Jaccard stays above 0.8, so the 0.7-threshold probe must find it. */
  private def nearDup(rng: SplittableRandom, t: String): String = {
    val w = t.split(" ")
    val i = 1 + rng.nextInt(w.length - 2)
    var r = Vocab(rng.nextInt(Vocab.length))
    while (r == w(i)) r = Vocab(rng.nextInt(Vocab.length))
    w(i) = r
    w.mkString(" ")
  }

  /** A batch of the ingest stream and the ids of its planted duplicates. */
  final case class Batch(docs: Seq[Doc], plantedDups: Set[Long])

  /** `n` batches: batch j holds 225 fresh docs (ids 1,000,000 + 1000 j + k)
    * and 25 near-duplicates (ids 2,000,000 + 1000 j + k) of docs indexed
    * before it — from the corpus, and from batch j - 1 onwards half from
    * earlier batches' fresh docs, so a probe must see earlier appends. */
  def batches(seed: Long, corpus: Seq[Doc], n: Int): Seq[Batch] = {
    val rng = new SplittableRandom(seed ^ 0xba7c4e5L)
    val longCorpus = corpus.filter(_.text.count(_ == ' ') >= 39)
    val earlier = mutable.ArrayBuffer.empty[Doc]
    (0 until n).map { j =>
      val fresh = (0 until BatchDocs - DupsPerBatch).map(k => doc(rng, 1000000L + 1000L * j + k, text(rng, 10)))
      val dups = (0 until DupsPerBatch).map { k =>
        val pool = if (earlier.nonEmpty && k % 2 == 1) earlier else longCorpus
        val src = pool(rng.nextInt(pool.size))
        doc(rng, 2000000L + 1000L * j + k, nearDup(rng, src.text))
      }
      earlier ++= fresh.filter(_.text.count(_ == ' ') >= 39)
      val all = (fresh ++ dups).toArray
      val order = Array.range(0, all.length)
      var i = order.length - 1
      while (i > 0) { val r = rng.nextInt(i + 1); val t = order(i); order(i) = order(r); order(r) = t; i -= 1 }
      Batch(order.map(all(_)).toSeq, dups.map(_.doc_id).toSet)
    }
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian is not on SplittableRandom)
    val u = 1.0 - rng.nextDouble()
    val v = rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  def embeddings(seed: Long): Seq[Emb] = {
    val rng = new SplittableRandom(seed ^ 0xe3bedL)
    val centers = Array.fill(Labels)(unit(Array.fill(Dim)(gaussian(rng))))
    (0 until Vectors).map { i =>
      val l = rng.nextInt(Labels)
      val v = unit(centers(l).map(_ + 0.12 * gaussian(rng)))
      Emb(i.toLong, v.map(_.toFloat), l)
    }
  }

  /** Query vectors: stored vectors nudged off their stored position. */
  def queries(seed: Long, embs: Seq[Emb], n: Int): Seq[Array[Double]] = {
    val rng = new SplittableRandom(seed ^ 0x9e77L)
    (0 until n).map { _ =>
      val e = embs(rng.nextInt(embs.size))
      unit(e.embedding.map(_.toDouble + 0.02 * gaussian(rng)))
    }
  }
}
