package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linalg.Linalg
import graft.ops.{Aggregators, VectorOps}
import org.apache.spark.sql.graft.Checkpoints

/** Genre-coupled ALS (/root/reference/explicit_ratings/incl_genre.py): movie
  * vectors get a prior mean assembled from shared genre feature vectors,
  *   (λ·Σuuᵀ + τI) v = λ·Σ(r−b_m−b_n)u + (τ/√c)·Σ_{g∈genres} F[g]
  * (incl_genre.py:185-193), and the 20×d genre matrix F is refit each sweep
  * from the movie vectors (incl_genre.py:199-219).
  *
  * Spark shape: user sweep reuses AlsBias's half-sweep unchanged; the movie
  * sweep adds one item-sized genre join and one extra term in the
  * per-movie solve (the fact-side plan, the fused ridge-statistics
  * aggregate and the alignment join are AlsBias's — self factors and
  * genres join the ENTITY-SIZED aggregate, never the fact); the F update
  * is an explode(movie→genre) + grouped vector aggregation. F is updated
  * Jacobi-style across genres per sweep (the reference iterates genres
  * sequentially AND carries an accumulator across genres — quirk Q9,
  * recorded in SURVEY §2.12 spirit: numerator/denominator are never reset
  * between genres, incl_genre.py:199-219. We implement the intended
  * per-genre closed form.)
  */
object AlsGenre {

  final case class Params(rank: Int = 12, lambda: Double = 0.1, tau: Double = 0.01,
                          alpha: Double = 0.01, beta: Double = 0.01,
                          maxIter: Int = 20, tol: Double = 0.05, seed: Long = 42L,
                          broadcastEntities: Long = 1000000L,
                          aggMemoryBudgetBytes: Long = 256L << 20,
                          factBuckets: Int = 0)

  final case class Model(userFactors: DataFrame, itemFactors: DataFrame,
                         genreFactors: Map[Int, Array[Double]])

  private def toBiasParams(p: Params) =
    AlsBias.Params(p.rank, p.lambda, p.tau, p.alpha, p.maxIter, p.tol, p.seed,
      broadcastEntities = p.broadcastEntities,
      aggMemoryBudgetBytes = p.aggMemoryBudgetBytes,
      factBuckets = p.factBuckets)

  /** Movie half-sweep with the genre prior. `movieGenres` carries
    * (id, genre_values ARRAY<INT>, genre_count INT); `genreF` is the current
    * 20×d feature matrix (broadcast as a literal map — driver-held, tiny).
    * Plan knobs as in [[AlsBias.halfSweep]]: the fact-side join touches
    * only the user factors (`broadcastOther`); the self factors and the
    * genre dim join the item-sized aggregate (`broadcastSelf`). */
  def movieSweepWithPrior(ratings: DataFrame, itemFactors: DataFrame,
                          userFactors: DataFrame, movieGenres: DataFrame,
                          itemCol: String, userCol: String, ratingCol: String,
                          genreF: Map[Int, Array[Double]], p: Params,
                          broadcastOther: Boolean = false,
                          broadcastSelf: Boolean = false,
                          routing: Option[DataFrame] = None): DataFrame =
    movieSweepWithDelta(ratings, itemFactors, userFactors, movieGenres, itemCol, userCol,
      ratingCol, genreF, p, broadcastOther, broadcastSelf, routing).drop(AlsBias.DeltaCol)

  /** [[movieSweepWithPrior]] plus each movie's |Δparam| in
    * [[AlsBias.DeltaCol]], as [[AlsBias.sweepWithDelta]]. */
  private def movieSweepWithDelta(ratings: DataFrame, itemFactors: DataFrame,
                                  userFactors: DataFrame, movieGenres: DataFrame,
                                  itemCol: String, userCol: String, ratingCol: String,
                                  genreF: Map[Int, Array[Double]], p: Params,
                                  broadcastOther: Boolean, broadcastSelf: Boolean,
                                  routing: Option[DataFrame]): DataFrame = {
    val rank = p.rank

    // shuffle_hash hints on the non-broadcast joins: build from the
    // entity-sized side, never sort the fact (per-join, not a session
    // conf — see AlsBias.halfSweep)
    val uf = userFactors.select(col("id").as("oid"), col("features").as("v"),
      col("bias").as("bo"))
    val joined = routing match {
      case Some(rt) =>
        // both-huge routed-factor plan — see AlsBias.halfSweep: the fact
        // carries AlsBias.BucketCol and never moves; user-factor copies
        // route onto its layout via the once-per-training table
        val rtk = rt.select(col(userCol).as("oid"), col(AlsBias.BucketCol))
        val ufR = uf.hint("shuffle_hash").join(rtk, Seq("oid"))
        ratings
          .select(col(AlsBias.BucketCol), col(itemCol).as("sid"),
            col(userCol).as("oid"), col(ratingCol).as("r"))
          .join(ufR.repartition(ratings.rdd.getNumPartitions, col(AlsBias.BucketCol))
            .hint("shuffle_hash"), Seq(AlsBias.BucketCol, "oid"))
      case None =>
        ratings
          .select(col(itemCol).as("sid"), col(userCol).as("oid"), col(ratingCol).as("r"))
          .join(if (broadcastOther) broadcast(uf) else uf.hint("shuffle_hash"),
            Seq("oid"))
    }

    val aggKeys =
      if (routing.isDefined) Seq(col(AlsBias.BucketCol), col("sid"))
      else Seq(col("sid"))
    val aggd = AlsBias.ridgeStats(joined.groupBy(aggKeys: _*), rank,
        Seq(sum(col("r")).as("sr"), sum(col("bo")).as("sbo")))
      .drop(AlsBias.BucketCol)

    // entity-sized tail: current item vectors + genre assignments join the
    // per-movie summary, never the fact
    val sf = itemFactors.select(col("id").as("sid"), col("features").as("u"))
    val mg = movieGenres.select(col("id").as("sid"), col("genre_values"),
      col("genre_count"))
    val withU = aggd
      .join(if (broadcastSelf) broadcast(sf) else sf.hint("shuffle_hash"), Seq("sid"))
      .join(if (broadcastSelf) broadcast(mg) else mg.hint("shuffle_hash"),
        Seq("sid"), "left")
    val sresid = col("sr") - VectorOps.dot(col("u"), col("sv")) - col("sbo")

    val lambda = p.lambda; val tau = p.tau; val alpha = p.alpha
    val fMap = genreF // serialized into the UDF closure (20×d doubles)
    val solve = udf((n: Long, sresid: Double, srv: Seq[Double], sv: Seq[Double],
                     gram: Seq[Double], genres: Seq[Int], genreCount: Int) => {
      val newBias = lambda * sresid / (alpha + lambda * n)
      val prior = new Array[Double](rank)
      if (genres != null && genreCount > 0) {
        val s = tau / math.sqrt(genreCount.toDouble)
        genres.foreach { g =>
          val f = fMap.getOrElse(g, new Array[Double](rank))
          var k = 0; while (k < rank) { prior(k) += s * f(k); k += 1 }
        }
      }
      val rhs = srv.indices.map(i => srv(i) - newBias * sv(i)).toArray
      val feats = Linalg.ridgeSolveWithPrior(gram, rhs, prior, lambda, tau)
      (newBias, feats.toSeq)
    })

    val updated = withU.select(col("sid").as("id"),
      solve(col("n"), sresid.as("sresid"), col("srv"), col("sv"), col("gram"),
        col("genre_values"), coalesce(col("genre_count"), lit(0))).as("ub"))
      .select(col("id"), col("ub._2").as("features"), col("ub._1").as("bias"))

    AlsBias.align(itemFactors, updated, broadcastSelf, rank)
  }

  /** Refit the genre features from the movie vectors (intended closed form
    * of incl_genre.py:199-219, Jacobi across genres):
    *   F[g] = τ·Σ_{m∋g}(v_m − Σ_{g'≠g}F[g']/√c_m)/√c_m / (β + τ·Σ_{m∋g} 1/c_m)
    * One explode + grouped vector aggregation; the 20-row result is collected
    * to the driver (it is broadcast back next sweep). */
  def updateGenreFactors(itemFactors: DataFrame, movieGenres: DataFrame,
                         genreF: Map[Int, Array[Double]], p: Params): Map[Int, Array[Double]] = {
    val rank = p.rank
    val vecSum = udaf(new Aggregators.VectorSum(rank))
    val fMap = genreF
    val numerTerm = udf((v: Seq[Double], genres: Seq[Int], genreCount: Int, g: Int) => {
      val c = math.sqrt(genreCount.toDouble)
      val out = new Array[Double](rank)
      var k = 0
      while (k < rank) { out(k) = v(k); k += 1 }
      genres.filter(_ != g).foreach { g2 =>
        val f = fMap.getOrElse(g2, new Array[Double](rank))
        k = 0; while (k < rank) { out(k) -= f(k) / c; k += 1 }
      }
      k = 0; while (k < rank) { out(k) /= c; k += 1 }
      out.toSeq
    })
    val exploded = movieGenres
      .join(itemFactors.select(col("id"), col("features")), Seq("id"))
      .select(col("id"), col("features"), col("genre_values"), col("genre_count"),
        explode(col("genre_values")).as("g"))
    val aggd = exploded
      .withColumn("term", numerTerm(col("features"), col("genre_values"),
        col("genre_count"), col("g")))
      .groupBy(col("g"))
      .agg(vecSum(col("term")).as("numer"),
        sum(lit(1.0) / col("genre_count")).as("denom"))
      .collect()
    aggd.map { r =>
      val g = r.getInt(0)
      val numer = r.getSeq[Double](1)
      val denom = p.beta + p.tau * r.getDouble(2)
      g -> numer.map(x => p.tau * x / denom).toArray
    }.toMap
  }

  /** Full alternating loop: user sweep (shared with AlsBias) → movie sweep
    * with genre prior → genre feature refit. */
  def train(ratings: DataFrame, movieGenres: DataFrame,
            userCol: String, itemCol: String, ratingCol: String,
            p: Params = Params()): Model =
    trainTraced(ratings, movieGenres, userCol, itemCol, ratingCol, p,
      Trace.Config(computeMetrics = false))._1

  /** [[train]] with the reference's per-iteration observability (LL + RMSE
    * each sweep, parameter snapshots every `snapshotEvery` sweeps + final —
    * prac_1.py:141-204 behavior; genre factors snapshot alongside the
    * user/item frames). The LL is the base bias-model likelihood
    * (Metrics.regLogLik) — the convergence signal the reference plots.
    *
    * `init` warm-starts users/items/genre factors from a prior model
    * ([[AlsBias.seedFactors]]; the genre map seeds verbatim) — the
    * delta-retraining path, as in [[AlsBias.trainTraced]]. Same
    * single-training-at-a-time conf-scoping contract as there. */
  def trainTraced(ratings: DataFrame, movieGenres: DataFrame,
                  userCol: String, itemCol: String, ratingCol: String,
                  p: Params, trace: Trace.Config,
                  init: Option[Model] = None): (Model, Seq[Trace.IterStats]) = {
    val bp = toBiasParams(p)
    val (users0, uCount) = AlsBias.checkpointInit(init match {
      case Some(m) => AlsBias.seedFactors(ratings, userCol, bp, 1L, m.userFactors)
      case None => AlsBias.initFactors(ratings, userCol, bp, 1L)
    })
    val (items0, iCount) = AlsBias.checkpointInit(init match {
      case Some(m) => AlsBias.seedFactors(ratings, itemCol, bp, 2L, m.itemFactors)
      case None => AlsBias.initFactors(ratings, itemCol, bp, 2L)
    })
    var users = users0; var items = items0
    val rng = new java.util.Random(p.seed)
    val coldGenreF: Map[Int, Array[Double]] =
      (0 until 20).map(g => g -> Array.fill(p.rank)(rng.nextGaussian())).toMap
    var genreF = init.map(_.genreFactors).getOrElse(coldGenreF)
    // the AlsBias per-side sweep plans, decided the same way (the entity
    // counts observed on the init checkpoints; fact copies partitioned +
    // MATERIALIZED here, before the first timed sweep — the cold-sweep
    // staging fix); the try opens IMMEDIATELY after the copies exist, so
    // any later failure — conf setup included — releases them
    val (userPlan, itemPlan, copies) =
      AlsBias.sweepPlans(ratings, userCol, itemCol, uCount, iCount, bp)
    try {
    AlsBias.withTrainingConfs(ratings.sparkSession, p.aggMemoryBudgetBytes, p.rank) {
    trace.onStart()
    val hist = scala.collection.mutable.ArrayBuffer.empty[Trace.IterStats]
    var iter = 0
    var delta = Double.MaxValue
    while (iter < p.maxIter && delta > p.tol) {
      // as in AlsBias's loop: each sweep is one checkpoint execution that
      // also delivers the sweep's max |Δparam|; the superseded factor
      // checkpoints are released once both successors exist
      val (newUsers, userDelta) = AlsBias.checkpointSweep(AlsBias.sweepWithDelta(
        userPlan.fact, users, items, userCol, itemCol, ratingCol, bp,
        userPlan.broadcastOther, userPlan.broadcastSelf, userPlan.routing))
      val (newItems, itemDelta) = AlsBias.checkpointSweep(movieSweepWithDelta(
        itemPlan.fact, items, newUsers, movieGenres, itemCol, userCol, ratingCol,
        genreF, p, itemPlan.broadcastOther, itemPlan.broadcastSelf, itemPlan.routing))
      Seq(users, items).foreach(Checkpoints.release)
      val newGenreF = updateGenreFactors(newItems, movieGenres, genreF, p)
      val fDelta = newGenreF.map { case (g, f) =>
        val old = genreF.getOrElse(g, new Array[Double](p.rank))
        f.indices.map(i => math.abs(f(i) - old(i))).max
      }.foldLeft(0.0)(math.max)
      delta = math.max(math.max(userDelta, itemDelta), fDelta)
      users = newUsers; items = newItems; genreF = newGenreF
      iter += 1
      val (ll, rm) =
        if (trace.computeMetrics) {
          val m = AlsBias.Model(users, items)
          (Metrics.regLogLik(m, ratings, userCol, itemCol, ratingCol,
            p.lambda, p.tau, p.alpha),
           Metrics.rmse(m.predict(ratings, userCol, itemCol), ratingCol, "prediction"))
        } else (Double.NaN, Double.NaN)
      val st = Trace.IterStats(iter, ll, rm, delta)
      hist += st
      trace.onIter(st)
      trace.snapshotDir.foreach { dir =>
        if (iter % trace.snapshotEvery == 0) {
          Trace.snapshotFactors(dir, s"iter_$iter", users, items)
          Trace.snapshotGenreFactors(ratings.sparkSession, dir, s"iter_$iter", genreF)
        }
      }
    }
    trace.snapshotDir.foreach { dir =>
      Trace.snapshotFactors(dir, "final", users, items)
      Trace.snapshotGenreFactors(ratings.sparkSession, dir, "final", genreF)
      Trace.writeHistory(ratings.sparkSession, dir, hist.toSeq)
    }
    (Model(users, items, genreF), hist.toSeq)
    }
    } finally {
      copies.foreach(_.unpersist(blocking = false))
    }
  }
}
