package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** The near-duplicate half of `join_dedup`: n-gram Jaccard detection under
  * posting-list skew.
  *
  * The seed generates [[DedupCorpus.Docs]] documents of random words from a
  * large vocabulary, so two unrelated documents share no 3-word shingle,
  * except that [[DedupCorpus.BoilerplateShare]] of them end in the same
  * boilerplate sentence: those shingles have posting lists over a third of
  * the corpus. [[DedupCorpus.Clusters]] planted clusters of
  * [[DedupCorpus.ClusterSize]] documents each differ from their base in one
  * word, which keeps every in-cluster Jaccard above 0.75, while a
  * boilerplate-only pair stays under 0.15. The planted pairs are therefore
  * exactly the pairs at Jaccard >= 0.6.
  *
  * Ops: `kernel` (the shingle and term-posting kernels, forced by an
  * aggregate) and `ngram_jaccard` (the skewed self-join). No index files.
  */
final class DedupCorpus(ctx: Ctx) extends Workload {
  import DedupCorpus._

  val ops: Seq[String] = Seq("kernel", "ngram_jaccard")

  private var c: Corpus = _
  private var docs: DataFrame = _
  private var kernelExpect: Agg = _

  def generate(): Unit = {
    c = Corpus(ctx.args.seed)
    kernelExpect = kernelReference(c.texts)
  }

  def bootstrap(): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    val spark = ctx.spark
    import spark.implicits._
    docs = c.texts.indices.map(i => (i.toLong, c.texts(i))).toDF("id", "text").cache()
    docs.count()
  }

  private def pairs(rows: Array[Row]): Seq[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq

  def round(): Unit = {
    ctx.dfOp("kernel")(docs.select(
      TextFunctions.shingles(col("text"), N).as("sh"),
      TextFunctions.termPostings(col("text"), withPositions = false).as("p"))) { df =>
      val h = xxhash64(col("sh"))
      df.agg(sum(size(col("sh")).cast("long")), sum(size(col("p")).cast("long")),
        sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
    } { rows =>
      Checks.agg(kernelExpect, Agg(rows.head.getLong(0), rows.head.getLong(1), rows.head.getLong(2)))
    }

    ctx.dfOp("ngram_jaccard")(Dedup.ngramJaccard(docs, "id", "text", N, Threshold))(
      _.select("doc_a", "doc_b")) { rows => Checks.pairs(c.planted, pairs(rows)) }
  }

  override def extra: Map[String, Double] = {
    val kernelS = Stats.median(ctx.walls.getOrElse("kernel", Nil).toSeq)
    Map(
      "functions.kernel_s" -> kernelS,
      "functions.kernel_rows_per_s" -> (if (kernelS > 0) c.texts.length / kernelS else 0.0))
  }

  override def close(): Unit = if (docs != null) docs.unpersist()
}

object DedupCorpus {
  val Docs = 1200
  val Clusters = 100
  val ClusterSize = 3
  val BoilerplateShare = 0.35
  val MinWords = 50
  val MaxWords = 70
  val VocabBits = 20
  val N = 3
  val Threshold = 0.6
  val Boilerplate = "all rights reserved reproduction or redistribution of this page in any form " +
    "without written permission is prohibited"

  /** The generated corpus: texts by id, and the planted clusters with the
    * (a < b) pairs they imply.
    */
  final case class Corpus(texts: IndexedSeq[String], clusters: Seq[Seq[Long]]) {
    val planted: Set[(Long, Long)] = clusters.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  object Corpus {
    /** 0 until n in a random order */
    private def shuffled(rng: SplittableRandom, n: Int): Array[Int] = {
      val a = Array.range(0, n)
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }

    def apply(seed: Long): Corpus = {
      val rng = new SplittableRandom(seed)
      def word() = "w" + java.lang.Long.toString(rng.nextLong(1L << VocabBits), 36)
      def body() = Array.fill(MinWords + rng.nextInt(MaxWords - MinWords + 1))(word())
      val texts = new Array[String](Docs)
      val clustered = Clusters * ClusterSize
      val clusters = (0 until Clusters).map { k =>
        val base = body()
        (0 until ClusterSize).map { m =>
          val id = k * ClusterSize + m
          val words = base.clone()
          if (m > 0) words(rng.nextInt(words.length)) = word()
          texts(id) = words.mkString(" ")
          id.toLong
        }
      }
      for (id <- clustered until Docs) texts(id) = body().mkString(" ")
      // the boilerplate ends a fixed share of the clusters (all members)
      // and the same share of the other docs
      def pick(n: Int): Set[Int] = shuffled(rng, n).take(math.round(n * BoilerplateShare).toInt).toSet
      val boilerClusters = pick(Clusters)
      val boilerSingles = pick(Docs - clustered).map(_ + clustered)
      for (id <- 0 until Docs)
        if (if (id < clustered) boilerClusters(id / ClusterSize) else boilerSingles(id))
          texts(id) = texts(id) + " " + Boilerplate
      Corpus(texts.toIndexedSeq, clusters)
    }
  }

  /** Total distinct shingles, total distinct terms, and the sum of the low
    * 32 bits of each document's xxhash64 over its shingle array.
    */
  def kernelReference(texts: Seq[String]): Agg = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    var nSh = 0L; var nTerms = 0L; var sum = 0L
    for (t <- texts) {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val sh = toks.sliding(N).filter(_.length == N).map(_.mkString(" ")).toSeq.distinct
      nSh += sh.size
      nTerms += toks.distinct.length
      var h = 42L
      for (s <- sh) {
        val b = s.getBytes(UTF_8)
        h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      }
      sum += h & 0xFFFFFFFFL
    }
    Agg(nSh, nTerms, sum)
  }
}
