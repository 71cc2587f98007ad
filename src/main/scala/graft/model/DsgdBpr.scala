package graft.model

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoints

/** Stratified distributed SGD for BPR (DSGD schedule, Gemulla et al.,
  * KDD'11 "Large-scale matrix factorization with distributed stochastic
  * gradient descent") — the at-scale successor to [[Bpr]]'s
  * broadcast-and-merge epochs.
  *
  * Why: [[Bpr.train]] broadcasts the FULL item-factor matrix to every
  * executor each epoch and merges summed deltas on the driver — exact and
  * fine at the reference's own scale (N = 9,724 movies), but O(N·d) per
  * executor per epoch, and the delta merge makes item updates
  * last-writer-averaged (Hogwild-style). At 100 M items neither survives.
  *
  * How: users are hashed into P blocks, items into P blocks. A sub-epoch s
  * processes the P DISJOINT strata {(p, (p+s) mod P)} in parallel — each
  * stratum touches a disjoint user-row and item-column set, so the P
  * concurrent SGD runs are conflict-free and EXACT (no gradient averaging,
  * no stale reads within a stratum). After P sub-epochs every (user, item)
  * pair has been available exactly once per epoch. User blocks stay in
  * place (partition b holds user block b for the whole run); item blocks
  * rotate one partition per sub-epoch and meet their stratum's users
  * through `zipPartitions` — never broadcast, never driver-merged.
  * Per-sub-epoch data movement is one shuffle of the item blocks (N·d
  * doubles total, spread over P tasks), run by one Spark job.
  *
  * Semantics vs [[Bpr]]: negative sampling is popularity-weighted WITHIN
  * the stratum's item block (the stratum owns no other item's factors) —
  * the standard DSGD adaptation; positives train in item-block order
  * rather than user-list order. Both trainers keep the reference's
  * rejection rules (not-a-positive, genre-disjoint when genre-aware,
  * implicit_feedback/functions.py:60-131).
  *
  * Determinism: blocks are id-hash derived, per-(user, epoch, sub-epoch)
  * RNGs, positives sorted — results are bit-identical for a given block
  * count P on ANY Spark partitioning or cluster size (spec-checked with
  * different shuffle layouts).
  */
object DsgdBpr {

  /** `epochOffset` numbers this run's epochs from `offset` — the
    * per-(user, epoch, sub-epoch) RNGs, trace labels, and snapshot tags
    * continue the prior run's sequence, so `init` + the offset replays
    * EXACTLY the epochs a longer cold run would have executed
    * (BprWarmStartSpec pins the bit-identical continuation). */
  final case class Params(rank: Int = 12, lr: Double = 0.02, reg: Double = 0.01,
                          epochs: Int = 30, blocks: Int = 4, seed: Long = 42L,
                          maxSampleRetries: Int = 200,
                          initScale: Double = Double.NaN,
                          epochOffset: Int = 0) {
    def resolvedInitScale: Double =
      if (initScale.isNaN) 5.0 / math.sqrt(rank) else initScale
  }

  /** One item row: block id, global item id, factors, the item's positive
    * count, and its genre ids. Popularity AND genres RIDE WITH the row —
    * the within-block negative-sampling CDF and the genre-disjoint
    * rejection both read the stratum's own rows, so no global O(N)
    * popularity map or genre table ever exists on the driver or in a
    * broadcast (the round-4/round-5 scale ceilings). `g` is empty when the
    * trainer is not genre-aware. */
  final case class ItemRow(block: Int, item: Int, f: Array[Double], pop: Long,
                           g: Array[Int])
  /** One user row: block id, global user id, positives (sorted), factors. */
  final case class UserRow(block: Int, user: Int, pos: Array[Int], u: Array[Double])
  final case class StratumOut(users: Array[UserRow], items: Array[ItemRow])

  /** The at-scale training result: factor frames with schema
    * (id INT, features ARRAY<DOUBLE>) — user ids are the rated users,
    * item ids cover 0..numItems-1 (unrated items keep their Gaussian
    * init, same as [[Bpr.train]]). Backed by the last stratum's
    * localCheckpoint (sized by its stored bytes), by the lazy init
    * frames when `epochs` is 0, or by parquet when `factorsDir` was
    * given — nothing factor-sized touches the driver. Collect into
    * [[Bpr.ModelArrays]] via [[train]] only at fixture scale. */
  final case class FactorFrames(userFactors: DataFrame, itemFactors: DataFrame)

  @inline private def userBlock(user: Int, p: Int): Int = math.floorMod(user, p)
  @inline private def itemBlock(item: Int, p: Int): Int = math.floorMod(item, p)

  /** `trace` gives the at-scale trainer the same per-epoch observability as
    * [[Bpr.train]]: max item-factor delta (reported by each stratum through
    * a max-accumulator — zero extra jobs), opt-in P/R@k (prices a
    * users × items scoring pass per epoch), factor parquet snapshots every
    * `snapshotEvery` epochs + final.
    *
    * This is the SCALE entry point: the result stays distributed
    * end-to-end — init included. Item factors initialize via
    * `spark.range` + per-item seeded Gaussians; per-item popularity AND
    * genres are DataFrame aggregates/tables LEFT-JOINED onto the item
    * rows at init (shuffles paid once) — counts and genre ids then ride
    * with the item blocks through every stratum, so no popularity map,
    * genre table, or factor matrix is ever collected or broadcast.
    * Nothing O(numItems) touches the driver at any point. For at-scale
    * genre metadata pass `itemGenresDf` (item INT, genres ARRAY<INT>);
    * the `itemGenres` driver Map stays for the reference-shaped fixture
    * contract. `factorsDir` makes the returned frames parquet-backed
    * (durable, lineage-free; see [[FactorFrames]] for the other cases).
    *
    * `init` warm-starts the epoch schedule from prior factor frames —
    * the reference's own checkpoint-resume flow for BPR (its epoch loop
    * snapshots parameters every 5 epochs and reloads them,
    * implicit_feedback/prac_2.py:118-122, prac_2_results.py:22-23).
    * Prior rows seed their ids verbatim; ids NEW to this corpus (or a
    * grown catalog) get the deterministic per-id cold init, so a
    * converged model plus a positives delta re-converges in a few
    * epochs instead of re-paying the cold schedule. Seeding is two
    * factor-sized left-joins at init — nothing collects, the at-scale
    * contract holds (pair with [[Trace.loadFactorFrames]] to resume
    * from a `factorsDir`/snapshot dump on disk). */
  def trainFactors(positives: DataFrame, userCol: String, itemCol: String,
                   numItems: Int, p: Params = Params(),
                   itemGenres: Option[Map[Int, Array[Int]]] = None,
                   trace: Trace.BprConfig = Trace.BprConfig(),
                   factorsDir: Option[String] = None,
                   itemGenresDf: Option[DataFrame] = None,
                   init: Option[FactorFrames] = None): FactorFrames = {
    val spark = positives.sparkSession
    import spark.implicits._
    val P = p.blocks
    val scale = p.resolvedInitScale

    // Genres ride the item rows (joined at init) instead of a broadcast
    // Array.tabulate(numItems) — at 10^8 items the tabulated array alone
    // was a GB-scale driver allocation even for a sparse genre map. Two
    // sources: `itemGenresDf` (item INT, genres ARRAY<INT>) for at-scale
    // genre tables, or the reference-shaped driver Map (already in driver
    // memory by contract, so createDataset adds nothing).
    val genreSrc: Option[DataFrame] = itemGenresDf
      .map(df => df.select(col("item").as("__gitem"), col("genres").as("__genres")))
      .orElse(itemGenres.map { m =>
        spark.createDataset(m.toSeq.map { case (i, g) => (i, g.toSeq) })
          .toDF("__gitem", "__genres")
      })
    val genreAware = genreSrc.isDefined

    // per-item popularity for the within-block weighted negative draws:
    // an aggregate joined onto the init rows — NOT a driver collect
    val popDf = positives.groupBy(col(itemCol).as("__item"))
      .agg(count(lit(1)).as("__pop"))
    // Item-factor init is DISTRIBUTED: spark.range + a per-item seeded
    // Gaussian (the same pattern as the user init below). Nothing
    // O(numItems) is ever allocated on the driver — the previous
    // Array.fill(numItems)(rank doubles) + local-Seq createDataset was
    // ~10 GB at 10^8 items x 12 doubles before the first stratum ran.
    // Per-item seeding is also partitioning-independent, so the
    // bit-identical-across-layouts contract strengthens to the init too.
    val pr = p.rank
    val pseed = p.seed
    val itemsCold = spark.range(numItems.toLong).as[Long].map { il =>
      val i = il.toInt
      val rng = new java.util.Random(pseed ^ 0x9E3779B97F4A7C15L ^ (i.toLong * 2654435761L))
      (itemBlock(i, P), i, Array.fill(pr)(rng.nextGaussian() * scale))
    }.toDF("block", "item", "f")
    // warm seed: prior rows override the per-id cold init (left join —
    // factor-sized, distributed; ids without a prior row keep the cold
    // Gaussian, so a grown catalog warm-starts deterministically)
    val itemsSeeded = init match {
      case Some(ff) =>
        itemsCold.join(ff.itemFactors.select(col("id").as("__wid"),
            col("features").as("__wf")), col("item") === col("__wid"), "left")
          .select(col("block"), col("item"),
            coalesce(col("__wf"), col("f")).as("f"))
      case None => itemsCold
    }
    val itemsInit = itemsSeeded.join(popDf, col("item") === col("__item"), "left")
    val withPop = genreSrc match {
      case Some(g) =>
        itemsInit.join(g, col("item") === col("__gitem"), "left")
          .select(col("block"), col("item"), col("f"),
            coalesce(col("__pop"), lit(0L)).as("pop"),
            coalesce(col("__genres"), array().cast("array<int>")).as("g"))
      case None =>
        itemsInit.select(col("block"), col("item"), col("f"),
          coalesce(col("__pop"), lit(0L)).as("pop"),
          array().cast("array<int>").as("g"))
    }
    val initItems: Dataset[ItemRow] = withPop.as[ItemRow]

    val usersAgg = positives
      .groupBy(col(userCol)).agg(collect_list(col(itemCol)).as("pos"))
    val usersSeeded = init match {
      case Some(ff) =>
        usersAgg.join(ff.userFactors.select(col("id").as("__wid"),
            col("features").as("__wf")), col(userCol) === col("__wid"), "left")
          .select(col(userCol), col("pos"), col("__wf"))
      case None =>
        usersAgg.withColumn("__wf", lit(null).cast("array<double>"))
    }
    val initUsers: Dataset[UserRow] = usersSeeded
      .as[(Int, Seq[Int], Option[Seq[Double]])]
      .map { case (u, pos, warm) =>
        val rng = new java.util.Random(p.seed ^ (u.toLong * 2654435761L))
        UserRow(userBlock(u, P), u, pos.toArray.sorted,
          warm.map(_.toArray)
            .getOrElse(Array.fill(p.rank)(rng.nextGaussian() * scale)))
      }

    // Users never move: partition b holds user block b all run. Items
    // rotate: sub-epoch `sub` keys item block q by (q - sub) mod P, a
    // partition id that a HashPartitioner keeps, so zipping the sides forms
    // the strata {(b, (b + sub) mod P)} and only items shuffle. The first
    // sub-epoch's job computes the lazy init frames.
    val byKey = new HashPartitioner(P)
    var users: RDD[UserRow] = initUsers.rdd.keyBy(_.block).partitionBy(byKey).values
    var items: RDD[ItemRow] = initItems.rdd
    var last: Option[RDD[StratumOut]] = None
    def frames(cp: RDD[StratumOut]): (DataFrame, DataFrame) = (
      Checkpoints.fromRdd(cp.flatMap(_.users).map(ur => (ur.user, ur.u.toSeq))
        .toDF("id", "features"), cp),
      Checkpoints.fromRdd(cp.flatMap(_.items).map(ir => (ir.item, ir.f.toSeq))
        .toDF("id", "features"), cp))

    val deltaAcc = new Trace.MaxAccumulator
    spark.sparkContext.register(deltaAcc, "dsgd_max_item_delta")
    val epochHist = scala.collection.mutable.ArrayBuffer.empty[Trace.EpochStats]
    for (epoch0 <- 0 until p.epochs; sub <- 0 until P) {
      val epoch = p.epochOffset + epoch0 // global epoch: resume replays exactly
      if (sub == 0) deltaAcc.reset()
      val rotated = items.keyBy(ir => math.floorMod(ir.block - sub, P))
        .partitionBy(byKey).values
      val out = users.zipPartitions(rotated) { (uIt, iIt) =>
        // deterministic order: the RNG streams and updates follow ids
        Iterator.single(stratum(uIt.toArray.sortBy(_.user), iIt.toArray.sortBy(_.item),
          epoch, sub, p, genreAware, deltaAcc))
      }
      // localCheckpoint: truncate lineage each sub-epoch (epochs x P plan
      // growth OOMs the driver otherwise — measured on the round-1
      // trainers); the count is the sub-epoch's one job
      out.localCheckpoint().count()
      last.foreach(_.unpersist(blocking = false))
      last = Some(out)
      users = out.flatMap(_.users)
      items = out.flatMap(_.items)

      if (sub == P - 1) {
        // epoch boundary: report the trace, snapshot on cadence
        val it = epoch + 1
        lazy val (userDf, itemDf) = frames(out)
        val (pk, rk) =
          if (trace.computeMetrics) {
            val pos = positives.select(col(userCol).as("user"), col(itemCol).as("item"))
            val r = trace.metricMaxUsers match {
              case Some(m) => // sampled eval: the product is m x N, not M x N
                Metrics.precisionRecallAtKSampled(userDf, itemDf, pos,
                  "user", "item", trace.metricK, m, seed = p.seed).head()
              case None =>
                val scored = userDf.select(col("id").as("user"), col("features").as("u"))
                  .crossJoin(broadcast(itemDf.select(col("id").as("item"), col("features").as("v"))))
                  .select(col("user"), col("item"),
                    graft.ops.VectorOps.dot(col("u"), col("v")).as("score"))
                Metrics.precisionRecallAtK(scored, pos,
                  "user", "item", "score", trace.metricK).head()
            }
            (r.getDouble(0), r.getDouble(1))
          } else (Double.NaN, Double.NaN)
        val st = Trace.EpochStats(it, pk, rk, deltaAcc.value)
        epochHist += st
        trace.onEpoch(st)
        trace.snapshotDir.foreach { dir =>
          if (it % trace.snapshotEvery == 0)
            Trace.snapshotFactors(dir, s"epoch_$it", userDf, itemDf)
        }
      }
    }

    val (userDf, itemDf) = last.map(frames).getOrElse( // epochs = 0: the init frames
      (initUsers.map(ur => (ur.user, ur.u.toSeq)).toDF("id", "features"),
        initItems.map(ir => (ir.item, ir.f.toSeq)).toDF("id", "features")))
    trace.snapshotDir.foreach { dir =>
      Trace.snapshotFactors(dir, "final", userDf, itemDf)
      Trace.writeBprHistory(spark, dir, epochHist.toSeq)
    }
    factorsDir match {
      case Some(dir) =>
        Trace.snapshotFactors(dir, "final", userDf, itemDf)
        last.foreach(_.unpersist(blocking = false)) // the frames read parquet now
        FactorFrames(spark.read.parquet(s"$dir/final/user_factors"),
          spark.read.parquet(s"$dir/final/item_factors"))
      case None => FactorFrames(userDf, itemDf)
    }
  }

  /** One stratum's SGD over id-sorted rows. Item factors update in place
    * (this task's own shuffle-read copies); user rows are copied, as they
    * are the previous stratum's cached output. */
  private def stratum(blockUsers: Array[UserRow], itemRows: Array[ItemRow], epoch: Int,
                      sub: Int, pp: Params, genreAware: Boolean,
                      deltaAcc: Trace.MaxAccumulator): StratumOut =
    if (itemRows.isEmpty) StratumOut(blockUsers, itemRows)
    else {
      // epoch-delta bookkeeping: factors are mutated in place, so clone
      // the stratum's starting values (O(block items x d), small next to
      // the SGD work itself) and report |final - start| to the max
      // accumulator — no extra jobs, safe under task re-execution
      val startF = itemRows.map(_.f.clone())
      val localIdx = itemRows.iterator.map(_.item).zipWithIndex.toMap
      // within-block popularity CDF over the block's items — counts
      // came in ON the rows (r.pop), no global map
      val weights = itemRows.map(r => math.max(r.pop, 0L).toDouble + 1e-9)
      val total = weights.sum
      val cdf = new Array[Double](itemRows.length)
      var acc = 0.0
      var i = 0
      while (i < itemRows.length) { acc += weights(i) / total; cdf(i) = acc; i += 1 }
      cdf(itemRows.length - 1) = 1.0
      val d = pp.rank
      val updatedUsers = blockUsers.map { ur =>
        val rng = new java.util.Random(
          pp.seed ^ (ur.user.toLong * 31L) ^ (epoch * 1000003L) ^ (sub * 7919L))
        val posSet = new java.util.HashSet[Int]()
        ur.pos.foreach(posSet.add(_))
        val u = ur.u.clone()
        ur.pos.foreach { gi =>
          localIdx.get(gi).foreach { li => // only this stratum's positives
            val lj = sampleNegativeLocal(rng, cdf, itemRows, posSet,
              itemRows(li).g, genreAware, pp.maxSampleRetries)
            if (lj >= 0) {
              val vi = itemRows(li).f
              val vj = itemRows(lj).f
              var x = 0.0
              var k = 0
              while (k < d) { x += u(k) * (vi(k) - vj(k)); k += 1 }
              val c = Bpr.sigmoidNeg(x)
              k = 0
              while (k < d) {
                val gu = c * (vi(k) - vj(k)) - pp.reg * u(k)
                val gvi = c * u(k) - pp.reg * vi(k)
                val gvj = -c * u(k) - pp.reg * vj(k)
                u(k) += pp.lr * gu
                vi(k) += pp.lr * gvi
                vj(k) += pp.lr * gvj
                k += 1
              }
            }
          }
        }
        ur.copy(u = u)
      }
      var md = 0.0
      var r = 0
      while (r < itemRows.length) {
        var k = 0
        while (k < d) {
          val dd = math.abs(itemRows(r).f(k) - startF(r)(k))
          if (dd > md) md = dd
          k += 1
        }
        r += 1
      }
      deltaAcc.add(md)
      StratumOut(updatedUsers, itemRows)
    }

  /** Fixture-scale convenience: run [[trainFactors]] and collect the
    * result into in-memory [[Bpr.ModelArrays]] (the [[Bpr]]-compatible
    * contract). The collect here is the ONLY factor-sized driver
    * materialization in this file — at cluster scale call [[trainFactors]]
    * and keep the frames distributed. */
  def train(positives: DataFrame, userCol: String, itemCol: String,
            numItems: Int, p: Params = Params(),
            itemGenres: Option[Map[Int, Array[Int]]] = None,
            trace: Trace.BprConfig = Trace.BprConfig()): Bpr.ModelArrays = {
    val spark = positives.sparkSession
    import spark.implicits._
    val ff = trainFactors(positives, userCol, itemCol, numItems, p, itemGenres, trace)
    val userF = ff.userFactors.as[(Int, Seq[Double])].collect()
      .map { case (id, f) => id -> f.toArray }.toMap
    val itemArr = new Array[Array[Double]](numItems)
    ff.itemFactors.as[(Int, Seq[Double])].collect()
      .foreach { case (id, f) => itemArr(id) = f.toArray }
    // every id 0..numItems-1 was initialized and carried through the
    // strata — a hole means the frame contract broke, fail loudly
    require(itemArr.forall(_ != null), "item factor frame is missing ids")
    Bpr.ModelArrays(userF, itemArr)
  }

  /** Within-block negative draw: inverse-CDF over the block's popularity,
    * rejecting positives and (genre-aware) genre-sharers; deterministic
    * bounded fallback; -1 when the block holds no eligible negative.
    * Genres are read off the item rows themselves (`ItemRow.g`), so the
    * rejection rule needs no global genre table in scope. */
  private def sampleNegativeLocal(rng: java.util.Random, cdf: Array[Double],
                                  itemRows: Array[ItemRow],
                                  userPos: java.util.HashSet[Int],
                                  posGenres: Array[Int],
                                  genreAware: Boolean,
                                  maxRetries: Int): Int = {
    @inline def eligible(lj: Int): Boolean = {
      val gid = itemRows(lj).item
      !userPos.contains(gid) &&
        (!genreAware || !posGenres.exists(itemRows(lj).g.contains))
    }
    var tries = 0
    while (tries < maxRetries) {
      val u = rng.nextDouble()
      var j = java.util.Arrays.binarySearch(cdf, u)
      if (j < 0) j = -j - 1
      if (j >= cdf.length) j = cdf.length - 1
      if (eligible(j)) return j
      tries += 1
    }
    var j = 0
    while (j < cdf.length && !eligible(j)) j += 1
    if (j < cdf.length) j else -1
  }
}
