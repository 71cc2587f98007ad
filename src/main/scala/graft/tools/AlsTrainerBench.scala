package graft.tools

import org.apache.spark.sql.functions._

/** At-scale validation of the custom EXPLICIT-ALS trainers — the
  * [[graft.model.AlsBias]] Gramian-Aggregator + per-entity Cholesky sweep
  * that carries the reference's headline workload (the 25M-rating
  * MovieLens run, explicit_ratings/prac_1.py:22: 162,541 users × 59,047
  * movies). The DSGD sibling is [[TrainerBench]]; this main gives the
  * bias/genre family the same treatment: synthesize a
  * MovieLens-25M-SHAPED explicit corpus DISTRIBUTIVELY (spark.range +
  * hash math, nothing corpus-sized on the driver), train a fixed number
  * of sweeps, and print per-sweep wall time plus the run's data-movement
  * profile (shuffle/spill via [[Harness.MovementListener]] — the auditable
  * form of "the aggregation is map-side partial").
  *
  * Corpus shape: movie popularity is Zipf-skewed (square-law transform of
  * a hash uniform — the long-tail shape of the real ratings file); each
  * user rates a fixed mean count, so scaling USERS by F scales ratings by
  * F with the per-user distribution preserved — the structure-preserving
  * 10× axis, like [[TrainerBench]]'s. Rating values are a deterministic
  * half-star grid in [0.5, 5] from a (user, movie) hash: value content is
  * irrelevant to the sweep's cost model (every rating pays one join row
  * and one packed-buffer merge regardless), and determinism keeps reruns
  * comparable.
  *
  * What linearity means here: a half-sweep is ratings ⋈ factors →
  * groupBy(entity) with map-side partial aggregation, so time should
  * scale ~linearly in ratings while the SHUFFLE grows with
  * (#entities-per-partition × partitions) packed buffers — at 10× users
  * the user-sweep exchange is the number to watch (the movie side stays
  * 59k rows regardless). Zero spill at sized partitions is the pass bar.
  *
  * Usage: AlsTrainerBench <nUsers> <nItems> <ratingsPerUser> <sweeps> <rank>
  *                        [genre|bias] [broadcastEntities]
  *   `genre` runs [[graft.model.AlsGenre]] (the genre-prior variant) with
  *   a synthetic 20-genre assignment instead of [[graft.model.AlsBias]].
  *   `broadcastEntities` overrides the per-side plan threshold — set it
  *   BELOW a side's entity count to force the mid/huge-mode plans (the
  *   above-threshold at-scale rows; default pins the co-located
  *   zero-exchange plan at every probe scale: a 1.6M-user factor
  *   broadcast is ~260 MB — the per-executor price a deployment sizes
  *   for).
  */
object AlsTrainerBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: AlsTrainerBench <nUsers> <nItems> <ratingsPerUser> <sweeps> <rank> " +
        "[genre|bias|warm] [broadcastEntities]")
    val Array(nUsers, nItems, ratingsPerUser, sweeps, rank) =
      args.take(5).map(_.toInt)
    val genreMode = args.length > 5 && args(5) == "genre"
    // warm probe: cold-train `sweeps` sweeps, then warm-retrain 2 sweeps
    // seeded from the result — the delta-retraining path at scale (the
    // spec proves the convergence win; this row prices the warm sweep)
    val warmMode = args.length > 5 && args(5) == "warm"
    val bcastEntities =
      if (args.length > 6) args(6).toLong else 10000000L
    val spark = Harness.session()
    val mv = new Harness.MovementListener
    spark.sparkContext.addSparkListener(mv)

    // Zipf-skewed movie picks + a half-star rating grid
    val ratings = TrainerBench.zipfCorpus(spark, nUsers, nItems, ratingsPerUser, "movie")
      .withColumn("rating",
        (pmod(xxhash64(col("user"), col("movie"), lit(7L)), lit(10L))
          .cast("double") + 1.0) * 0.5)
      .persist()
    val nRatings = ratings.count()
    mv.reset()

    val p = graft.model.AlsBias.Params(rank = rank, maxIter = sweeps,
      tol = 0.0, seed = 42L, broadcastEntities = bcastEntities)
    val mode = {
      val uSmall = nUsers.toLong <= bcastEntities
      val iSmall = nItems.toLong <= bcastEntities
      if (uSmall && iSmall) "bcast" else if (uSmall != iSmall) "mid" else "huge"
    }
    val sweepSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    // the warm retrain gets its OWN buffer and timer: one shared buffer
    // would interleave cold and warm sweeps, and a train_sec spanning both
    // trainings misattributes which entries are the priced warm sweeps
    val warmSweepSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last = System.nanoTime()
    def timedTrace(buf: scala.collection.mutable.ArrayBuffer[Double]) =
      graft.model.Trace.Config(computeMetrics = false,
        // onStart fires after the trainer's one-time layout work (the
        // pre-partitioned fact copies materialize before the loop), so
        // sweep-1 wall measures the sweep, not the amortized setup
        onStart = () => { last = System.nanoTime() },
        onIter = _ => {
          val now = System.nanoTime()
          buf += (now - last) / 1e9
          last = now
        })
    val trace = timedTrace(sweepSec)
    var warmTrainSec = 0.0
    val t0 = System.nanoTime()
    if (genreMode) {
      // synthetic 20-genre assignment: 1-2 hash-picked genres per movie,
      // the (id, genre_values, genre_count) frame AlsGenre trains on
      val genres = spark.range(nItems.toLong)
        .select(col("id").cast("int").as("id"),
          array_distinct(array(
            pmod(xxhash64(col("id"), lit(3L)), lit(20L)).cast("int"),
            pmod(xxhash64(col("id"), lit(5L)), lit(20L)).cast("int")))
            .as("genre_values"))
        .withColumn("genre_count", size(col("genre_values")))
      graft.model.AlsGenre.trainTraced(ratings, genres, "user", "movie",
        "rating", graft.model.AlsGenre.Params(rank = rank, maxIter = sweeps,
          tol = 0.0, seed = 42L, broadcastEntities = bcastEntities), trace)
    } else if (warmMode) {
      val (model, _) = graft.model.AlsBias.trainTraced(ratings, "user",
        "movie", "rating", p, trace)
      val tw = System.nanoTime()
      graft.model.AlsBias.trainTraced(ratings, "user", "movie", "rating",
        p.copy(maxIter = 2), timedTrace(warmSweepSec), init = Some(model))
      warmTrainSec = (System.nanoTime() - tw) / 1e9
    } else {
      graft.model.AlsBias.trainTraced(ratings, "user", "movie", "rating",
        p, trace)
    }
    // train_sec / per_sweep_sec are the COLD training only; the warm
    // retrain reports through its own warm_* fields
    val trainSec = (System.nanoTime() - t0) / 1e9 - warmTrainSec
    mv.settle()

    val sweeps_js = sweepSec.map(s => f"$s%.2f").mkString("[", ",", "]")
    val model =
      if (genreMode) "als_genre" else if (warmMode) "als_bias_warm" else "als_bias"
    val warmFields =
      if (warmMode) {
        val wjs = warmSweepSec.map(s => f"$s%.2f").mkString("[", ",", "]")
        f""""warm_sweeps":${warmSweepSec.length},""" +
          f""""warm_per_sweep_sec":$wjs,"warm_train_sec":$warmTrainSec%.2f,"""
      } else ""
    println(f"""{"model":"$model",""" +
      f""""mode":"$mode",""" +
      f""""users":$nUsers,"items":$nItems,"ratings":$nRatings,""" +
      f""""sweeps":$sweeps,"rank":$rank,"train_sec":$trainSec%.2f,""" +
      f""""per_sweep_sec":$sweeps_js,""" + warmFields +
      f""""shuffle_mb":${mv.shuffleWriteBytes.get() / 1048576.0}%.1f,""" +
      f""""spill_mb":${mv.spillDiskBytes.get() / 1048576.0}%.1f}""")
    spark.stop()
  }
}
