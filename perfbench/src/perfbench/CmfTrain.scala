package perfbench

import org.apache.spark.sql.functions._

import graft.cmf.CollectiveALS
import graft.eval.{RankingMetrics, RegressionEvaluation}
import graft.ops.ChronoSplit

/** The paper's workload: a collective fit over (user, item, tag) and the
  * serving calls that read its factors, so a fit-side gain that slows
  * serving shows here. `cmf` does most of the work.
  *
  * Sizes are chosen so a pass runs a few times inside one run on a 4-core
  * box. The user factor table is 10× the item table and 100× the tag
  * table; [[BroadcastThreshold]] sits between users and items, so a
  * size-gated broadcast of factor tables runs on both sides of its gate in
  * one pass. */
object CmfTrain extends Workload {
  val name = "cmf_train"

  val Users = 4000
  val Items = 400
  val TagIds = 40
  val RatingsPerUser = 10
  val TagsPerItem = 6
  val Latent = 4
  val Rank = 10
  val MaxIter = 2
  val Batches = 10
  val BatchRows = 500
  /** Spark's 10 MB default scaled down with the data. Factor tables are
    * ids·(8 + 4·Rank) B: users 192 kB (2.9× above), items 19 kB (3.4×
    * below), tags 1.9 kB. */
  val BroadcastThreshold: Long = 64L * 1024

  val writeSteps = Set("cmf.fit_explicit", "cmf.fit_implicit")
  val requestStep = "cmf.predict"

  def run(c: Ctx): Unit = {
    val spark = c.spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
    val in = c.generate(3) {
      val in = Inputs.cmf(spark, c.seed, Users, Items, TagIds, RatingsPerUser, TagsPerItem,
        Latent, Batches, BatchRows)
      in.copy(ratings = in.ratings.localCheckpoint(true), tags = in.tags.localCheckpoint(true))
    }
    c.out.info ++= Seq(
      "seed" -> c.seed.toString,
      "users" -> in.users.toString, "items" -> in.items.toString, "tags" -> in.tagIds.toString,
      "ratings" -> (in.users * RatingsPerUser).toString,
      "tag_ratings" -> (in.items * TagsPerItem).toString,
      "candidate_rows" -> in.candidateRows.toString, "rank" -> Rank.toString,
      "max_iter" -> MaxIter.toString,
      "user_factor_bytes" -> (in.users * (8L + 4 * Rank)).toString,
      "item_factor_bytes" -> (in.items * (8L + 4 * Rank)).toString,
      "tag_factor_bytes" -> (in.tagIds * (8L + 4 * Rank)).toString,
      "broadcast_threshold_bytes" -> BroadcastThreshold.toString)
    c.loop(pass(c, in))
    val t = c.tracer
    for (ms <- t.times("cmf.fit_explicit")) c.sample("fit_explicit_s", ms / 1000, "s")
    for (ms <- t.times("cmf.fit_implicit")) c.sample("fit_implicit_s", ms / 1000, "s")
    for (ms <- t.times(requestStep)) c.sample("predict_rows_per_s", BatchRows / (ms / 1000), "1/s")
    for (ms <- t.times("cmf.recommend")) c.sample("recommend_s", ms / 1000, "s")
  }

  private def pass(c: Ctx, in: Inputs.Cmf): Unit = {
    import c.spark.implicits._
    for {
      Seq(train, test) <- c.op("ops.chrono_split")(
        ChronoSplit.split(in.ratings, Seq(0.99, 0.01), "ts", "rid"))
      model <- c.op("cmf.fit_explicit")(
        new CollectiveALS("user", "item", "tag").setRank(Rank).setMaxIter(MaxIter)
          .setRegParam(0.1).setSeed(c.seed)
          .fit(("user", "item") -> train, ("item", "tag") -> in.tags))
      _ <- c.op("cmf.fit_implicit")(
        new CollectiveALS("user", "item").setRank(Rank).setMaxIter(MaxIter)
          .setImplicitPrefs(true).setAlpha(1.0).setRegParam(0.1).setSeed(c.seed)
          .fit(train))
      held <- c.op("cmf.predict_heldout")(c.materialize(model.predict(test)))
    } {
      c.check(c.span("bench.check")(held.filter(isnan($"prediction"))
          .join(in.warmUsers.toSeq.toDF("user"), "user")
          .join(in.warmItems.toSeq.toDF("item"), "item").count()) == 0,
        "NaN prediction for a warm held-out (user, item)")
      for ((batch, b) <- in.candidates.zipWithIndex;
           rows <- c.op(requestStep)(model.predict(batch).collect()))
        c.check(rows.length == in.candidateRows / in.candidates.length &&
            rows.forall(r => !r.getAs[Float]("prediction").isNaN),
          s"candidate batch $b: missing or NaN predictions")
      for (recs <- c.op("cmf.recommend")(c.materialize(model.recommendTopK(10)))) {
        val (lo, hi, users, expected) = c.span("bench.check") {
          val r = recs.groupBy("user").count()
            .agg(min("count"), max("count"), count(lit(1))).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), model.factorsFor("user").count())
        }
        c.check(lo == 10 && hi == 10 && users == expected,
          s"recommendTopK(10): $lo..$hi rows per user over $users of $expected users")
        for (ndcg <- c.op("eval.ranking")(
            RankingMetrics(recs.withColumnRenamed("score", "prediction"), test.select("user", "item"))
              .ndcgAt(Seq(10)).head)) {
          c.check(ndcg > 0, s"ndcg@10 = $ndcg")
          c.sample("ndcg_at_10", ndcg, "ratio")
        }
        recs.unpersist()
      }
      for (rmse <- c.op("eval.rmse")(
          RegressionEvaluation.evaluate(held, "rating", "prediction").head().getAs[Double]("rmse"))) {
        val base = c.span("bench.check") {
          val mu = train.agg(avg("rating")).head().getDouble(0)
          test.agg(sqrt(avg(pow($"rating" - mu, 2)))).head().getDouble(0)
        }
        c.check(rmse < base, s"held-out RMSE $rmse does not beat the global mean's $base")
        c.sample("heldout_rmse", rmse, "rating")
        c.sample("global_mean_rmse", base, "rating")
      }
      held.unpersist()
    }
  }
}
