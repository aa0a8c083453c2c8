package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Everything is drawn on the driver from one
  * `SplittableRandom(seed)`, so the same seed gives the same rows; the
  * program only ever sees the resulting DataFrames. */
object Inputs {

  /** Inverse-CDF sampler over ranks 0..n-1 with P(i) ∝ (i+1)^-a. */
  final class Zipf(n: Int, a: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => math.pow(i + 1.0, -a))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def vec(r: SplittableRandom, k: Int, sd: Double): Array[Double] =
    Array.fill(k)(gaussian(r) * sd)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  // ---------------------------------------------------------------- cmf

  /** Ratings over (user, item) and (item, tag) with planted rank-`latent`
    * structure: r = p_u·q_i + noise, t = q_i·w_t + noise, with p·q of unit
    * variance and mean 0 (the model has no bias term to absorb an offset).
    * Every user has at least one rating; the rest draw user and item from
    * power laws. `ts` is epoch seconds over one year, `rid` a unique
    * tie-breaker. */
  final case class Cmf(
      ratings: DataFrame, tags: DataFrame,
      users: Int, items: Int, tagIds: Int,
      /** Ratings the chronological 99/1 split keeps for training: the warm
        * ids are the users and items seen there (items also via tags). */
      warmUsers: Array[Int], warmItems: Array[Int],
      /** Seeded candidate (user, item) pairs over warm ids, in batches. */
      candidates: Seq[DataFrame], candidateRows: Long)

  val NoiseSd = 0.25

  def cmf(spark: SparkSession, seed: Long, users: Int, items: Int, tagIds: Int,
          ratingsPerUser: Int, tagsPerItem: Int, latent: Int,
          batches: Int, batchRows: Int): Cmf = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    val sd = math.pow(latent.toDouble, -0.25)
    val pu = Array.fill(users)(vec(r, latent, sd))
    val qi = Array.fill(items)(vec(r, latent, sd))
    val wt = Array.fill(tagIds)(vec(r, latent, sd))
    val userZ = new Zipf(users, 0.9)
    val itemZ = new Zipf(items, 1.0)
    val tagZ = new Zipf(tagIds, 1.0)
    val n = users * ratingsPerUser
    val t0 = 1704067200L // 2024-01-01 UTC
    val rows = Array.tabulate(n) { k =>
      val u = if (k < users) k else userZ.draw(r)
      val i = itemZ.draw(r)
      (u, i, (dot(pu(u), qi(i)) + gaussian(r) * NoiseSd).toFloat,
        t0 + r.nextLong(365L * 86400L), k.toLong)
    }
    val tagRows = for (i <- 0 until items; _ <- 0 until tagsPerItem) yield {
      val t = tagZ.draw(r)
      (i, t, (dot(qi(i), wt(t)) + gaussian(r) * NoiseSd).toFloat)
    }
    // Training slice of ChronoSplit(99/1) on (ts, rid): the first 99% by rank.
    val cut = math.floor(0.99 * n).toLong
    val train = rows.sortBy(x => (x._4, x._5)).take(cut.toInt)
    val warmU = train.map(_._1).distinct.sorted
    val warmI = (train.map(_._2) ++ tagRows.map(_._1)).distinct.sorted
    val cands = Seq.fill(batches)(Seq.fill(batchRows)(
      (warmU(r.nextInt(warmU.length)), warmI(r.nextInt(warmI.length)))))
    val parts = spark.sparkContext.defaultParallelism
    Cmf(
      spark.sparkContext.parallelize(rows.toSeq, parts).toDF("user", "item", "rating", "ts", "rid"),
      spark.sparkContext.parallelize(tagRows, parts).toDF("item", "tag", "rating"),
      users, items, tagIds, warmU, warmI,
      cands.map(c => spark.sparkContext.parallelize(c, parts).toDF("user", "item")),
      batches.toLong * batchRows)
  }

  // ------------------------------------------------------------- corpus

  /** A document corpus with planted duplicates plus clustered vectors.
    * `exactShare` of the documents are verbatim copies of an original and
    * `nearShare` are copies with two word edits after the 12th word (so a
    * 40-char prefix survives). Ids are shuffled over the whole corpus. */
  final case class Corpus(
      docs: DataFrame, nDocs: Int, exactCopies: Int, nearCopies: Int,
      /** (min id, size) of every group of identical texts with size > 1. */
      exactClusters: Set[(Long, Long)],
      /** (orig id, near-copy id), smaller id first. */
      nearPairs: Set[(Long, Long)],
      vectors: DataFrame, nVectors: Int,
      queryBatches: IndexedSeq[DataFrame], bm25Terms: Seq[String])

  def corpus(spark: SparkSession, seed: Long, originals: Int, exactShare: Double,
             nearShare: Double, vocab: Int, nVectors: Int, dim: Int, clusters: Int,
             batches: Int, batchRows: Int): Corpus = {
    import spark.implicits._
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val words = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab)
        seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    val wz = new Zipf(vocab, 1.0)
    def doc(): Array[String] = Array.fill(40 + r.nextInt(61))(words(wz.draw(r)))
    val orig = Array.fill(originals)(doc())
    val total = math.round(originals / (1 - exactShare - nearShare)).toInt
    val nExact = math.round(total * exactShare).toInt
    val nNear = total - originals - nExact
    val exact = Array.fill(nExact)(r.nextInt(originals))
    val near = Array.fill(nNear) {
      val o = r.nextInt(originals)
      val w = orig(o).clone()
      for (_ <- 0 until 2) {
        val p = 12 + r.nextInt(w.length - 12)
        var x = words(wz.draw(r))
        while (x == w(p)) x = words(wz.draw(r))
        w(p) = x
      }
      (o, w)
    }
    val texts: Array[String] =
      orig.map(_.mkString(" ")) ++ exact.map(o => orig(o).mkString(" ")) ++
        near.map(_._2.mkString(" "))
    // Shuffled ids 1..total; ids(k) is the id of generated doc k.
    val ids = {
      val a = Array.tabulate(total)(i => i + 1L)
      for (i <- total - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val exactClusters = texts.indices.groupBy(texts(_)).values
      .filter(_.size > 1).map(g => (g.map(ids(_)).min, g.size.toLong)).toSet
    val nearPairs = near.indices.map { j =>
      val a = ids(near(j)._1); val b = ids(originals + nExact + j)
      (math.min(a, b), math.max(a, b))
    }.toSet

    val centers = Array.fill(clusters) {
      val c = vec(r, dim, 1.0); val nrm = math.sqrt(dot(c, c)); c.map(_ / nrm)
    }
    def point(): Array[Double] = {
      val c = centers(r.nextInt(clusters))
      c.map(_ + gaussian(r) * 0.35 / math.sqrt(dim))
    }
    val vectors = Seq.tabulate(nVectors)(i => (i.toLong + 1, point().toSeq))
    val queries = IndexedSeq.tabulate(batches)(b =>
      Seq.tabulate(batchRows)(i => (1000000000L + b * batchRows + i, point().toSeq)))
    val terms = Seq.fill(3)(words(r.nextInt(200)))
    val parts = spark.sparkContext.defaultParallelism
    Corpus(
      spark.sparkContext.parallelize(ids.indices.map(k => (ids(k), texts(k))), parts)
        .toDF("doc_id", "text"),
      total, nExact, nNear, exactClusters, nearPairs,
      spark.sparkContext.parallelize(vectors, parts).toDF("id", "vec"), nVectors,
      queries.map(q => spark.sparkContext.parallelize(q, 1).toDF("id", "vec")), terms)
  }
}
