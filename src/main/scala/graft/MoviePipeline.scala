package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exp.AbTest
import graft.ingest.Ingest
import graft.model.{AlsBias, AlsGenre, Bpr, Metrics}
import graft.ops.Relational
import graft.schema.Schemas

/** End-to-end equivalents of the reference's three entry points
  * (SURVEY.md §3): A — explicit ALS training with metrics; C — implicit BPR
  * training with precision/recall@k; B — recommendation serving + simulated
  * A/B experiment with hypothesis tests. Composable pieces; `runAll` wires
  * them on a deterministic MovieLens-shaped synthetic dataset (hash-derived,
  * so results are identical on any cluster/partitioning).
  */
object MoviePipeline {

  /** Deterministic MovieLens-shaped data with the reference's awkward
    * properties: 1-based ids, SPARSE movie ids (gaps), half-star ratings, a
    * planted low-rank taste structure, pipe-separated genres. */
  def generateMovieLens(spark: SparkSession, numUsers: Int, numMovies: Int,
                        seed: Long = 42L): (DataFrame, DataFrame) = {
    val genreNames = Schemas.genreIds.toSeq.sortBy(_._2).map(_._1).filterNot(_ == "(no genres listed)")
    // sparse ids: movie m gets raw id m*3+1 (gaps of 2)
    val movies = spark.range(numMovies)
      .select((col("id") * 3 + 1).cast("int").as("movieId"),
        concat(lit("Movie #"), col("id")).as("title"))
      .withColumn("g1", pmod(xxhash64(col("movieId"), lit(seed), lit("g1")), lit(genreNames.size)).cast("int"))
      .withColumn("g2", pmod(xxhash64(col("movieId"), lit(seed), lit("g2")), lit(genreNames.size)).cast("int"))
      .withColumn("genres", concat_ws("|",
        element_at(typedLit(genreNames), col("g1") + 1),
        element_at(typedLit(genreNames), col("g2") + 1)))
      .drop("g1", "g2")
    val pairs = spark.range(numUsers).select((col("id") + 1).cast("int").as("userId"))
      .crossJoin(movies.select(col("movieId")))
      .filter(pmod(xxhash64(col("userId"), col("movieId"), lit(seed), lit("keep")), lit(100)) < 30)
    // planted structure: taste = agreement of user parity with movie genre hash
    val ratings = pairs
      .withColumn("base",
        (pmod(xxhash64(col("userId"), lit(seed), lit("u")), lit(2)) * 2 - 1) *
          (pmod(xxhash64(col("movieId"), lit(seed), lit("m")), lit(2)) * 2 - 1))
      .withColumn("noise", pmod(xxhash64(col("userId"), col("movieId"), lit(seed), lit("n")), lit(3)))
      .withColumn("rating",
        greatest(lit(0.5), least(lit(5.0),
          lit(3.0) + col("base") * 1.5 + (col("noise") - 1) * 0.5)))
      .withColumn("timestamp", lit(1000000000L))
      .select(col("userId"), col("movieId"), col("rating"), col("timestamp"))
    (ratings, movies)
  }

  /** Entry point A (SURVEY §3.1): ingest → bias-ALS training → RMSE + LL. */
  def explicitTraining(ratings: DataFrame, p: AlsBias.Params): (AlsBias.Model, Double, Double) = {
    val prepared = Ingest.prepareRatings(ratings)
    val model = AlsBias.train(prepared, "userId", "movieId_order", "rating", p)
    val rmse = Metrics.rmse(model.predict(prepared, "userId", "movieId_order"),
      "rating", "prediction")
    val ll = Metrics.regLogLik(model, prepared, "userId", "movieId_order", "rating",
      p.lambda, p.tau, p.alpha)
    (model, rmse, ll)
  }

  /** Entry point C (SURVEY §3.3): implicit curation → BPR → P/R@k for
    * k ∈ {40,50,60} (reference's eval grid, prac_2.py:125).
    *
    * Trainer selection: `distributed = Some(b)` forces a path; the default
    * `None` auto-selects — the stratified DSGD trainer (no per-epoch
    * item-factor broadcast, no driver-side delta merge) once the curated
    * positives count reaches `distributedThreshold`, else the
    * reference-faithful broadcast trainer. The broadcast path ships an
    * O(numItems × rank) matrix per epoch and merges deltas on the driver —
    * that is what stops scaling first, so the at-scale default is DSGD.
    * Auto mode NEVER switches a quirk-compat run: `refCompatRegSign`
    * reproduces the reference's +reg sign, which DsgdBpr deliberately does
    * not implement — flipping the loss because the data grew would be a
    * silent semantic change, so those runs stay on the broadcast trainer
    * (force with `Some(true)` to insist). */
  def implicitTraining(ratings: DataFrame, p: Bpr.Params,
                       ks: Seq[Int] = Seq(40, 50, 60),
                       minUserRatings: Int = 10,
                       distributed: Option[Boolean] = None,
                       distributedThreshold: Long = 2000000L,
                       evalMaxUsers: Option[Int] = None): Map[Int, (Double, Double)] = {
    val spark = ratings.sparkSession
    import spark.implicits._
    val curated = Ingest.prepareImplicit(ratings, minUserRatings)
    val numItems = curated.agg(max(col("movieId_order"))).head().getInt(0) + 1
    val positives = curated.select(col("userId_order").as("user"), col("movieId_order").as("item"))
    val useDsgd = distributed.getOrElse(
      !p.refCompatRegSign && positives.count() >= distributedThreshold)
    // the DSGD path stays factor-frames end-to-end (trainFactors — nothing
    // factor-sized ever lands on the driver); the reference-faithful
    // broadcast trainer returns arrays by design and converts here
    val (uf, vf) =
      if (useDsgd) {
        val ff = graft.model.DsgdBpr.trainFactors(positives, "user", "item", numItems,
          graft.model.DsgdBpr.Params(rank = p.rank, lr = p.lr, reg = p.reg,
            epochs = p.epochs, seed = p.seed,
            maxSampleRetries = p.maxSampleRetries, initScale = p.initScale))
        (ff.userFactors, ff.itemFactors)
      } else Bpr.train(positives, "user", "item", numItems, p).toDataFrames(spark)
    evalMaxUsers match {
      case Some(m) => // at-scale eval: the product is m x N, never M x N
        ks.map { k =>
          val r = Metrics.precisionRecallAtKSampled(uf, vf, positives,
            "user", "item", k, m, seed = p.seed).head()
          k -> (r.getDouble(0), r.getDouble(1))
        }.toMap
      case None => // reference grid: exact eval over every user
        val scored = broadcast(uf.select(col("id").as("user"), col("features").as("u")))
          .crossJoin(vf.select(col("id").as("item"), col("features").as("v")))
          .select(col("user"), col("item"),
            graft.ops.VectorOps.dot(col("u"), col("v")).as("score"))
        ks.map { k =>
          val r = Metrics.precisionRecallAtK(scored, positives, "user", "item", "score", k).head()
          k -> (r.getDouble(0), r.getDouble(1))
        }.toMap
    }
  }

  /** Entry point B (SURVEY §3.2): genre index → simulate users → serve from
    * control (bias ALS) and treatment (genre ALS) → equalize → stat tests. */
  def abExperiment(ratings: DataFrame, movies: DataFrame,
                   control: AlsBias.Model, treatment: AlsGenre.Model,
                   p: AlsBias.Params, numUsers: Int = 100,
                   seed: Long = 42L): AbTest.ExperimentResult = {
    val prepared = Ingest.prepareRatings(ratings)
    val preparedMovies = Ingest.prepareMovies(movies)
      .join(Relational.denseReindex(prepared, "movieId", "movieId_order"), Seq("movieId"))
    val genreIndex = Ingest.genreInvertedIndex(preparedMovies)
    val itemCounts = prepared.groupBy(col("movieId_order").as("id"))
      .agg(count(lit(1)).as("n_ratings"))
    val sim = AbTest.simulateUsers(ratings.sparkSession, genreIndex, numUsers, seed)
      .withColumnRenamed("movieId", "movieId_order")
    val log = AbTest.buildLog(sim.withColumnRenamed("movieId_order", "movieId"),
      control, AlsBias.Model(treatment.userFactors, treatment.itemFactors),
      itemCounts, p, k = 20, popularityFloor = 1L)
    AbTest.evaluate(log, seed)
  }

  /** Wire everything, returning a flat metrics map (the engine's analogue of
    * the reference's printed per-script outputs). */
  def runAll(spark: SparkSession, numUsers: Int = 60, numMovies: Int = 80,
             seed: Long = 42L): Map[String, Double] = {
    val (ratings, movies) = generateMovieLens(spark, numUsers, numMovies, seed)
    val p = AlsBias.Params(rank = 4, maxIter = 4)
    val (model, rmse, ll) = explicitTraining(ratings, p)
    val genreModel = AlsGenre.train(Ingest.prepareRatings(ratings),
      Ingest.prepareMovies(movies)
        .join(Relational.denseReindex(Ingest.prepareRatings(ratings), "movieId", "movieId_order"),
          Seq("movieId"))
        .select(col("movieId_order").as("id"), col("genre_values"), col("genre_count")),
      "userId", "movieId_order", "rating", AlsGenre.Params(rank = 4, maxIter = 3))
    val pr = implicitTraining(ratings, Bpr.Params(rank = 4, epochs = 8, initScale = 0.1),
      ks = Seq(10), minUserRatings = 5)
    val ab = abExperiment(ratings, movies, model, genreModel, p, numUsers = 50, seed = seed)
    Map(
      "rmse" -> rmse,
      "reg_log_lik" -> ll,
      "precision_at_10" -> pr(10)._1,
      "recall_at_10" -> pr(10)._2,
      "ab_two_sided_p" -> ab.twoSided.pValue,
      "ab_n_per_group" -> ab.nA.toDouble)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", Verify.runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runAll(spark).toSeq.sortBy(_._1)
      .foreach { case (k, v) => println(f"$k%-20s $v%.6f") }
    spark.stop()
  }
}
