package graft.model

import org.apache.spark.sql.{Column, DataFrame, Observation, RelationalGroupedDataset,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Checkpoints
import graft.linalg.Linalg
import graft.ops.{Aggregators, VectorOps}

/** Custom alternating-least-squares trainer WITH per-entity bias terms —
  * the reference's core model `r̂(m,n) = uₘ·vₙ + b_m + b_n`
  * (/root/reference/explicit_ratings/prac_1.py:54-140), which MLlib ALS
  * cannot express (no bias terms).
  *
  * Spark-first design (SURVEY.md §7.4 option (a)): each half-sweep is ONE
  * distributed aggregation job —
  *   ratings ⋈ otherFactors
  *     → groupBy(entity).agg(n, Σr, Σb_other, Σ(r−b_other)v, Σv, Σvvᵀ)
  *     → join the ENTITY-SIZED aggregate with the self factors
  *     → per-entity d×d Cholesky solve in a map (d ≈ 12).
  * The self factors never touch the fact table: the bias numerator
  * Σ(r − u·v − b_o) is decomposed as Σr − u·Σv − Σb_o (u is constant per
  * self entity), so the only per-rating work is the other-side factor
  * join + the grouped aggregation. The three vector statistics come from
  * ONE fused typed kernel ([[Aggregators.RidgeStats]]) over one
  * primitive-array buffer, so each rating's factor array is decoded once;
  * Spark partial-aggregates it map-side and the shuffle carries one packed
  * buffer per (entity, partition) — the same data movement as MLlib's
  * InBlock/OutBlock layout, without hand-rolled block management.
  *
  * The training loop runs one SQL execution per half-sweep: the sweep's
  * alignment join also emits each entity's |Δparam|, and the loop reads
  * its max (the convergence test) and the init frames' entity counts (the
  * plan choice) through `Dataset.observe` on the checkpoint jobs
  * themselves, not through extra joins or count() barriers.
  *
  * Bias update (reference semantics, user side):
  *   b_m = λ·Σ(r − u·v − b_n) / (α + λ·n_m)     [prac_1.py:68-77]
  * then the trait solve uses the NEW bias:
  *   (λ·Σvvᵀ + τI) u = λ·Σ(r − b_n − b_m_new)·v  [prac_1.py:79-93]
  * which we rewrite as λ(Σ(r−b_n)v − b_m_new·Σv) so one aggregation pass
  * suffices. Quirk Q1 (movie-bias overwrite bug, prac_1.py:111) is corrected
  * to the summed form by default, as recorded in SURVEY.md §2.12.
  *
  * Within a half-sweep all entities read the pre-sweep factors of the other
  * side (block-Jacobi) — identical to MLlib ALS and the reference's own
  * multiprocessing variant (SURVEY.md Q4).
  */
object AlsBias {

  /** `strictQ1Bias` reproduces reference quirk Q1 (SURVEY §2.12): the movie
    * loop OVERWRITES the bias accumulator, so only the LAST rating — the
    * max other-id row in the reference's (movieId, userId)-sorted CSR —
    * contributes to the bias numerator. Default false = corrected summed
    * form. Apply only to the item-side sweep, as the reference does. */
  /** `biasOnly` reproduces the reference's bias-only model
    * (/root/reference/explicit_ratings/prac_1_bias_only.py): factors start
    * at zero and STAY zero (the ridge solve of a zero Gramian with a zero
    * RHS is zero), so training alternates pure bias updates. */
  /** `broadcastEntities` picks the per-SIDE sweep plan (a side = its
    * entity count vs this threshold; 10⁶ entities ≈ a 160 MB broadcast at
    * rank 12 — the per-executor price a deployment sizes for):
    *
    *   - BOTH sides at or below: the ratings pre-partition ONCE by each
    *     sweep's entity key and both factor frames broadcast — each
    *     half-sweep runs with ZERO exchange (PlanShapeSpec pins it;
    *     measured: turns the 25M-rating sweep's 14 GB shuffle + 4.3 GB
    *     spill into 0.7 GB one-time / zero spill, ALS_BENCH.json).
    *   - EXACTLY ONE side above (the production recommender shape — a
    *     huge user base, a broadcastable catalog): ONE ratings copy,
    *     pre-partitioned by the BIG side's key, serves both sweeps with
    *     ZERO fact exchange. Big-side sweep: small factors broadcast,
    *     the grouped aggregation rides the fact's partitioning
    *     (co-located, exchange-free). Small-side sweep: the fact is
    *     already partitioned by the join key (the big side), so only the
    *     big factor frame shuffles to meet it (ENSURE_REQUIREMENTS moves
    *     ~rank·bigEntities rows, never the fact) and the aggregation
    *     shuffles one packed buffer per (small entity, partition).
    *   - BOTH sides above: ROUTED-FACTOR sweeps (MLlib ALS's
    *     InBlock/OutBlock idea, expressed Spark-native). Each sweep
    *     reads a copy partitioned by a SELF-derived bucket column
    *     (`pmod(hash(self), factBuckets)`), so the fact NEVER moves:
    *     a once-per-training routing table (other-id → the distinct
    *     self buckets whose partitions hold a rating for it) routes
    *     other-side factor rows onto the fact's layout, the factor
    *     join runs co-partitioned on (bucket, other-id) — subset-key
    *     co-partitioning, enabled by the training-scoped
    *     requireAllClusterKeysForCoPartition=false — and the grouped
    *     aggregation rides the bucket partitioning via
    *     groupBy(bucket, self). Per-sweep movement is the factor frame
    *     plus its routed copies, Σ_other min(degree, buckets) rows —
    *     factor-sized, never fact-sized (the pre-round-13 plan
    *     repartitioned the joined fact by the self key once per
    *     half-sweep: ~10 GB/sweep measured at the 25M shape).
    *
    * In every mode the per-sweep exchange is factor-frame- or
    * buffer-sized; no plan moves the raw ratings fact — to satisfy a
    * join OR an aggregation — after the one-time layout. */
  /** `factBuckets` sizes the both-huge bucket column. Replication per
    * other-entity is ≈ the distinct buckets its ratings touch — capped
    * by min(degree, B) — so FEWER buckets mean a smaller routing table
    * and less per-sweep factor traffic on BOTH sides (a light-degree
    * side with B ≫ degree would route nearly one copy per rating —
    * fact-sized again). The floor is one bucket per partition, which is
    * exactly MLlib ALS's OutBlock geometry: the default (0) uses
    * B = spark.sql.shuffle.partitions with each bucket PINNED to its
    * own partition via murmur-representative encoding ([[bucketReps]]),
    * so replication is the theoretical factor-routing minimum
    * min(degree, partitions) AND bucket balance over partitions is
    * exact (plain hash at B = P would leave ~1/e of partitions empty).
    * Set it explicitly only to decouple routing granularity from the
    * partition count (values > partitions spread via plain hash). */
  /** `aggMemoryBudgetBytes` bounds the ObjectHashAggregate hash-map per
    * task: the sort-based fallback threshold is set to
    * budget / packed-buffer-bytes (clamped to [1024, 4194304]) for the
    * duration of training, so a task never holds more than ~budget of
    * Gramian buffers before falling back to the bounded-memory sort —
    * the default 128-key fallback is three orders of magnitude below any
    * real entity count (measured: 23 GB of silent external-sort spill on
    * the 25M-rating corpus), while an unconditional raise would court
    * OOM on the partial-aggregation paths where per-task key counts are
    * data-dependent. Sized for one task slot; divide by slots-per-core
    * headroom if executors run hot. */
  final case class Params(rank: Int = 12, lambda: Double = 0.1, tau: Double = 0.01,
                          alpha: Double = 0.01, maxIter: Int = 20, tol: Double = 0.05,
                          seed: Long = 42L, strictQ1Bias: Boolean = false,
                          biasOnly: Boolean = false,
                          broadcastEntities: Long = 1000000L,
                          aggMemoryBudgetBytes: Long = 256L << 20,
                          factBuckets: Int = 0)

  final case class Model(userFactors: DataFrame, itemFactors: DataFrame) {
    /** r̂ = u·v + b_u + b_i over a ratings frame with (userCol, itemCol). */
    def predict(ratings: DataFrame, userCol: String, itemCol: String): DataFrame =
      ratings
        .join(userFactors.select(col("id").as(userCol), col("features").as("__u"),
          col("bias").as("__bu")), Seq(userCol))
        .join(itemFactors.select(col("id").as(itemCol), col("features").as("__v"),
          col("bias").as("__bv")), Seq(itemCol))
        .withColumn("prediction",
          VectorOps.dot(col("__u"), col("__v")) + col("__bu") + col("__bv"))
        .drop("__u", "__v", "__bu", "__bv")
  }

  /** The both-huge modes' self-derived bucket column on the fact copies
    * (see [[Params.factBuckets]]) — the partition key the routed factor
    * join and the grouped aggregation both ride. */
  val BucketCol = "__graft_sb"

  /** Representative ints for the default both-huge bucket encoding: the
    * j-th value murmur3-hashes onto partition j of n
    * (`pmod(murmur3(rep(j)), n) == j`, the exact function
    * HashPartitioning applies to a repartition column), so bucket j's
    * rows land in partition j — one bucket per partition, no
    * balls-in-bins holes. Sequential search; coupon-collector
    * ~n·ln n probes (driver-side ints, microseconds up to 10^5
    * partitions). */
  private[model] def bucketReps(n: Int): Array[Int] = {
    val reps = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var v = 0
    while (remaining > 0) {
      val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)))
        .eval(null).asInstanceOf[Int]
      val j = math.floorMod(h, n)
      if (!found(j)) { found(j) = true; reps(j) = v; remaining -= 1 }
      v += 1
    }
    reps
  }

  /** Per-sweep physical plan: which ratings copy feeds the sweep, whether
    * the other/self factor frames broadcast, and (both-huge mode) the
    * routing table (otherCol, [[BucketCol]]) that lands other-side factor
    * rows on the fact's stationary bucket layout. */
  private[model] final case class SweepPlan(fact: DataFrame,
                                            broadcastOther: Boolean,
                                            broadcastSelf: Boolean,
                                            routing: Option[DataFrame])

  /** Deterministic N(0, scale²) init via Box-Muller over xxhash64 uniforms —
    * reproducible on any cluster/partitioning, no RNG state (reference:
    * np.random.normal(0, 5/√d), prac_1.py:41-48, unseeded there; SURVEY Q3
    * records scale 5/√d as the default). */
  def gaussianInitCol(idCol: Column, rank: Int, scale: Double, seed: Long): Column =
    transform(sequence(lit(0), lit(rank - 1)), i => {
      val u1 = (pmod(xxhash64(idCol, i * 2, lit(seed)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
      val u2 = (pmod(xxhash64(idCol, i * 2 + 1, lit(seed)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2) * scale
    })

  /** Initial factor frame for the distinct ids of `ratings(idCol)`. */
  def initFactors(ratings: DataFrame, idCol: String, p: Params, sideSeed: Long): DataFrame = {
    val features =
      if (p.biasOnly) transform(sequence(lit(0), lit(p.rank - 1)), _ => lit(0.0))
      else gaussianInitCol(col("id"), p.rank, 5.0 / math.sqrt(p.rank), p.seed + sideSeed)
    ratings.select(col(idCol).as("id")).distinct()
      .withColumn("features", features)
      .withColumn("bias", lit(0.0))
  }

  /** Warm-start factor frame: prior factors where the id existed, fresh
    * Gaussian init (or zeros, biasOnly) for ids new to this corpus; ids
    * absent from the new ratings drop (the alignment universe is the
    * corpus, as in [[initFactors]]). The delta-retraining seed — the
    * reference's own serving flow resumes from checkpointed parameters
    * (explicit_ratings/ab_test.py:73-85) rather than re-paying the cold
    * sweeps. */
  def seedFactors(ratings: DataFrame, idCol: String, p: Params, sideSeed: Long,
                  prior: DataFrame): DataFrame = {
    val features =
      if (p.biasOnly) transform(sequence(lit(0), lit(p.rank - 1)), _ => lit(0.0))
      else gaussianInitCol(col("id"), p.rank, 5.0 / math.sqrt(p.rank), p.seed + sideSeed)
    ratings.select(col(idCol).as("id")).distinct()
      .join(prior.select(col("id"), col("features").as("__pf"), col("bias").as("__pb")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__pf"), features).as("features"),
        coalesce(col("__pb"), lit(0.0)).as("bias"))
  }

  /** One half-sweep: update `selfFactors` (keyed by selfCol) given fixed
    * `otherFactors` (keyed by otherCol). Returns the new factor frame with
    * the same (id, features, bias) schema; entities with no ratings get
    * (bias 0, features 0) — the reference's closed-form result for an empty
    * rating set.
    *
    * The fact-side plan touches ONLY ratings ⋈ otherFactors: the bias
    * numerator Σ(r − u·v − b_o) needs the current self vector u, but u is
    * constant within a self-entity group, so it factors out of the sum
    * (Σr − u·Σv − Σb_o) and joins AFTER the aggregation, against the
    * entity-sized summary — never against the fact. `broadcastOther`
    * broadcasts the other-side factor join (fact keeps its partitioning);
    * `broadcastSelf` broadcasts the two entity-sized tail joins (the
    * solve's u-join and the zero-rating alignment); `routing` switches to
    * the both-huge ROUTED-FACTOR plan: `ratings` must carry [[BucketCol]]
    * and sit on its hash layout, `routing` is the (otherCol, bucket)
    * table, and the sweep joins co-partitioned on (bucket, other-id) then
    * aggregates on (bucket, self) — the fact never moves. See
    * [[Params.broadcastEntities]] for when each is the right plan. */
  def halfSweep(ratings: DataFrame, selfFactors: DataFrame, otherFactors: DataFrame,
                selfCol: String, otherCol: String, ratingCol: String,
                p: Params, broadcastOther: Boolean = false,
                broadcastSelf: Boolean = false,
                routing: Option[DataFrame] = None): DataFrame =
    sweepWithDelta(ratings, selfFactors, otherFactors, selfCol, otherCol, ratingCol, p,
      broadcastOther, broadcastSelf, routing).drop(DeltaCol)

  /** [[halfSweep]] plus each entity's |Δparam| against `selfFactors` in
    * [[DeltaCol]]. */
  private[model] def sweepWithDelta(ratings: DataFrame, selfFactors: DataFrame,
                                    otherFactors: DataFrame, selfCol: String,
                                    otherCol: String, ratingCol: String, p: Params,
                                    broadcastOther: Boolean, broadcastSelf: Boolean,
                                    routing: Option[DataFrame]): DataFrame = {
    val rank = p.rank

    // non-broadcast factor joins carry a shuffle_hash hint: the build side
    // is the entity-sized factor frame, and a sort-merge plan would SORT
    // the fact's millions of rows per half-sweep. A per-join hint instead
    // of a session-wide preferSortMergeJoin flip keeps concurrent queries
    // on the same SparkSession planning normally during training.
    val of = otherFactors.select(col("id").as("oid"), col("features").as("v"),
      col("bias").as("bo"))
    val joined = routing match {
      case Some(rt) =>
        // routed-factor join: decorate the other-side factors with the
        // self buckets that need them (factor-sized shuffle to the
        // stationary routing layout), land the routed copies on the
        // fact's exact partitioning (routing-sized REPARTITION_BY_NUM),
        // then join on (bucket, oid) — subset-key co-partitioned, so the
        // cached fact contributes ZERO exchange
        val rtk = rt.select(col(otherCol).as("oid"), col(BucketCol))
        val ofR = of.hint("shuffle_hash").join(rtk, Seq("oid"))
        ratings
          .select(col(BucketCol), col(selfCol).as("sid"),
            col(otherCol).as("oid"), col(ratingCol).as("r"))
          .join(ofR.repartition(ratings.rdd.getNumPartitions, col(BucketCol))
            .hint("shuffle_hash"), Seq(BucketCol, "oid"))
      case None =>
        ratings
          .select(col(selfCol).as("sid"), col(otherCol).as("oid"), col(ratingCol).as("r"))
          .join(if (broadcastOther) broadcast(of) else of.hint("shuffle_hash"),
            Seq("oid"))
    }

    // quirk Q1 compat: "last" rating = the max other-id row (the reference's
    // CSR is sorted by (selfId, otherId), so its overwrite keeps that row);
    // the (r, v, bo) triple is picked here, the residual computed after the
    // u-join like the summed form's
    val biasNum: Seq[Column] =
      if (p.strictQ1Bias)
        Seq(max_by(struct(col("r").as("r"), col("v").as("v"), col("bo").as("bo")),
          col("oid")).as("q1"))
      else
        Seq(sum(col("r")).as("sr"), sum(col("bo")).as("sbo"))
    // routed mode groups on (bucket, self) — the bucket is functionally
    // determined by the self id, so the groups are identical, and the
    // fact's HashPartitioning(bucket) satisfies the clustered
    // distribution: the aggregation runs partition-local, no exchange
    val aggKeys =
      if (routing.isDefined) Seq(col(BucketCol), col("sid")) else Seq(col("sid"))
    val aggd = ridgeStats(joined.groupBy(aggKeys: _*), rank, biasNum)
      .drop(BucketCol)

    // entity-sized tail: join the current self vectors onto the summary,
    // compute the decomposed bias numerator, solve
    val sf = selfFactors.select(col("id").as("sid"), col("features").as("u"))
    val withU = aggd.join(
      if (broadcastSelf) broadcast(sf) else sf.hint("shuffle_hash"), Seq("sid"))
    val sresid =
      if (p.strictQ1Bias)
        col("q1.r") - VectorOps.dot(col("u"), col("q1.v")) - col("q1.bo")
      else
        col("sr") - VectorOps.dot(col("u"), col("sv")) - col("sbo")

    val lambda = p.lambda; val tau = p.tau; val alpha = p.alpha
    val solve = udf((n: Long, sresid: Double, srv: Seq[Double], sv: Seq[Double],
                     gram: Seq[Double]) => {
      val newBias = lambda * sresid / (alpha + lambda * n)
      val rhs = srv.indices.map(i => srv(i) - newBias * sv(i)).toArray
      val feats = Linalg.ridgeSolve(gram, rhs, lambda, tau)
      (newBias, feats.toSeq)
    })

    val updated = withU.select(col("sid").as("id"),
      solve(col("n"), sresid.as("sresid"), col("srv"), col("sv"), col("gram")).as("ub"))
      .select(col("id"), col("ub._2").as("features"), col("ub._1").as("bias"))

    align(selfFactors, updated, broadcastSelf, rank)
  }

  /** The per-entity aggregate of a half-sweep over the grouped
    * (r, bo, v) rows: n, the bias-numerator columns `biasNum`, and the
    * ridge statistics srv = Σ(r−bo)·v, sv = Σv and gram = Σvvᵀ (packed
    * upper triangle), sliced out of one [[Aggregators.RidgeStats]] buffer. */
  private[model] def ridgeStats(grouped: RelationalGroupedDataset,
                                rank: Int, biasNum: Seq[Column]): DataFrame = {
    val stats = udaf(new Aggregators.RidgeStats(rank))
    grouped
      .agg(count(lit(1)).as("n"),
        (biasNum :+ stats(col("r"), col("bo"), col("v")).as("stats")): _*)
      .withColumn("srv", slice(col("stats"), 1, rank))
      .withColumn("sv", slice(col("stats"), rank + 1, rank))
      .withColumn("gram", slice(col("stats"), 2 * rank + 1, rank * (rank + 1) / 2))
      .drop("stats")
  }

  /** A sweep's output over EVERY self entity: the solved (features, bias)
    * in `updated` where the entity had ratings, the closed form's zero
    * bias/vector where it had none, and [[DeltaCol]] = its |Δparam|
    * against the old row of `selfFactors`, which the join already reads.
    * Under broadcastSelf the (entity-sized) updated frame broadcasts so
    * the alignment join adds no exchange either — the co-located sweep
    * stays exchange-free end to end (PlanShapeSpec pins it). */
  private[model] def align(selfFactors: DataFrame, updated: DataFrame,
                           broadcastSelf: Boolean, rank: Int): DataFrame = {
    val updJ = if (broadcastSelf) broadcast(updated) else updated.hint("shuffle_hash")
    selfFactors.select(col("id"), col("features").as("f0"), col("bias").as("b0"))
      .join(updJ, Seq("id"), "left")
      .select(col("id"), col("f0"), col("b0"),
        coalesce(col("features"),
          transform(sequence(lit(0), lit(rank - 1)), _ => lit(0.0))).as("features"),
        coalesce(col("bias"), lit(0.0)).as("bias"))
      .select(col("id"), col("features"), col("bias"),
        absDelta(col("f0"), col("b0"), col("features"), col("bias")).as(DeltaCol))
  }

  /** The per-entity |Δparam| column [[sweepWithDelta]] emits. */
  private[model] val DeltaCol = "__graft_delta"

  /** max(|Δbias|, max_k |Δfeature_k|) of one entity: [[maxDelta]]'s term,
    * which stays the reference for the max the training loops observe on
    * their checkpoint jobs. */
  private def absDelta(f0: Column, b0: Column, f1: Column, b1: Column): Column =
    greatest(abs(b1 - b0), array_max(zip_with(f0, f1, (a, b) => abs(b - a))))

  /** max |Δparam| between two factor frames (convergence test L6,
    * /root/reference/explicit_ratings/prac_1.py:179-187). */
  def maxDelta(oldF: DataFrame, newF: DataFrame): Double = {
    val j = oldF.select(col("id"), col("features").as("f0"), col("bias").as("b0"))
      .join(newF.select(col("id"), col("features").as("f1"), col("bias").as("b1")), Seq("id"))
      .select(absDelta(col("f0"), col("b0"), col("f1"), col("b1")).as("d"))
    val row = j.agg(max(col("d"))).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** [[Checkpoints.truncate]] of `df` without its [[DeltaCol]], and the
    * one-row aggregate `metric` over `df` — observed on the checkpoint's
    * own job, so reading it runs no extra SQL execution. The metric is
    * null when `df` is empty. */
  private[model] def checkpointObserving(df: DataFrame, metric: Column): (DataFrame, Any) = {
    val obs = Observation()
    val cp = Checkpoints.truncate(df.observe(obs, metric.as("m")).drop(DeltaCol))
    (cp, obs.get("m"))
  }

  /** A checkpointed sweep output and its max |Δparam| (0 when empty). */
  private[model] def checkpointSweep(sweep: DataFrame): (DataFrame, Double) = {
    val (cp, d) = checkpointObserving(sweep, max(col(DeltaCol)))
    (cp, if (d == null) 0.0 else d.asInstanceOf[Double])
  }

  /** A checkpointed init factor frame and its entity count. */
  private[model] def checkpointInit(factors: DataFrame): (DataFrame, Long) = {
    val (cp, n) = checkpointObserving(factors, count(lit(1)))
    (cp, n.asInstanceOf[Long])
  }

  /** Pick the per-sweep plans and (persisted, materialized) fact copies
    * for the given entity counts — see [[Params.broadcastEntities]].
    * Returns (userSweep, itemSweep, copiesToRelease). Exception-safe: a
    * failure after the first copy materializes unpersists everything
    * created so far before rethrowing, so a mid-setup error never
    * strands a full-corpus MEMORY_AND_DISK entry (the caller's finally
    * only sees copies from a SUCCESSFUL return). */
  private[model] def sweepPlans(ratings: DataFrame, userCol: String, itemCol: String,
                                uCount: Long, iCount: Long,
                                p: Params): (SweepPlan, SweepPlan, Seq[DataFrame]) = {
    val created = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try sweepPlansImpl(ratings, userCol, itemCol, uCount, iCount, p, created)
    catch {
      case t: Throwable =>
        created.foreach(_.unpersist(blocking = false))
        throw t
    }
  }

  private def sweepPlansImpl(ratings: DataFrame, userCol: String, itemCol: String,
                             uCount: Long, iCount: Long, p: Params,
                             created: scala.collection.mutable.ArrayBuffer[DataFrame])
      : (SweepPlan, SweepPlan, Seq[DataFrame]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def part(c: String) = {
      val f = ratings.repartition(col(c)).persist(lvl)
      created += f
      f.count() // materialize OUTSIDE the first sweep (amortized layout)
      f
    }
    val uSmall = uCount <= p.broadcastEntities
    val iSmall = iCount <= p.broadcastEntities
    if (uSmall && iSmall) {
      val byU = part(userCol); val byI = part(itemCol)
      (SweepPlan(byU, broadcastOther = true, broadcastSelf = true, routing = None),
       SweepPlan(byI, broadcastOther = true, broadcastSelf = true, routing = None),
       Seq(byU, byI))
    } else if (uSmall != iSmall) {
      // the mid mode: one copy, partitioned by the big side's key, zero
      // fact exchange in BOTH sweeps (the big sweep groups co-located;
      // the small sweep's join key IS the partition key)
      val bigIsUser = !uSmall
      val byBig = part(if (bigIsUser) userCol else itemCol)
      val big = SweepPlan(byBig, broadcastOther = true, broadcastSelf = false,
        routing = None)
      val small = SweepPlan(byBig, broadcastOther = false, broadcastSelf = true,
        routing = None)
      if (bigIsUser) (big, small, Seq(byBig)) else (small, big, Seq(byBig))
    } else {
      // both huge: ROUTED-FACTOR mode. Each sweep reads a copy partitioned
      // by a SELF-derived bucket column — the fact never moves again; the
      // once-per-training routing tables (other-id → distinct self
      // buckets holding a rating for it) land factor copies on that
      // layout every sweep. See Params.broadcastEntities / factBuckets.
      val ss = ratings.sparkSession
      val nPart = ss.conf.get("spark.sql.shuffle.partitions").toInt
      // default: one bucket per partition, murmur-representative encoded
      // so bucket j LANDS in partition j — minimum replication
      // min(degree, partitions) and exact balance (Params.factBuckets)
      val bCount = if (p.factBuckets > 0) p.factBuckets else nPart
      val bucketOf: Column => Column =
        if (p.factBuckets > 0) c => pmod(hash(c), lit(bCount))
        else {
          val reps = bucketReps(nPart)
          c => element_at(
            array(reps.map(lit(_)).toIndexedSeq: _*),
            (pmod(hash(c), lit(nPart)) + 1).cast("int"))
        }
      def bucketed(selfC: String) = {
        val f = ratings
          .withColumn(BucketCol, bucketOf(col(selfC)))
          .repartition(nPart, col(BucketCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        created += f
        f.count()
        f
      }
      def route(f: DataFrame, otherC: String) = {
        // the distinct rides the bucket layout exchange-free (bucket ⊆
        // grouping keys); one routing-sized shuffle lays the table out by
        // other-id so every sweep's factor join meets it stationary
        val r = f.select(col(otherC), col(BucketCol)).distinct()
          .repartition(col(otherC))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        created += r
        r.count()
        r
      }
      val factU = bucketed(userCol)
      val routeU = route(factU, itemCol)
      val factI = bucketed(itemCol)
      val routeI = route(factI, userCol)
      (SweepPlan(factU, broadcastOther = false, broadcastSelf = false,
         routing = Some(routeU)),
       SweepPlan(factI, broadcastOther = false, broadcastSelf = false,
         routing = Some(routeI)),
       Seq(factU, routeU, factI, routeI))
    }
  }

  /** Packed ObjectHashAggregate buffer bytes for one entity at `rank` —
    * Gramian (rank² doubles) + two vectors + counters + object headroom. */
  private[model] def packedBufferBytes(rank: Int): Long =
    (rank.toLong * rank + 2L * rank + 8L) * 8L + 200L

  /** Scope the training-session SQL confs around `body`, restoring them in
    * a finally. Two confs: the ObjectHashAggregate sort fallback
    * threshold, sized to `budgetBytes` of packed Gramian buffers per task
    * (see [[Params.aggMemoryBudgetBytes]] — the default 128-key fallback
    * is three orders of magnitude below any real entity count; an
    * unconditional raise courts OOM where per-task key counts are
    * data-dependent), and requireAllClusterKeysForCoPartition=false so
    * the both-huge routed-factor join on (bucket, other-id) accepts the
    * fact's bucket-only hash layout as co-partitioned (subset-key
    * co-partitioning; under the default `true` the planner re-shuffles
    * BOTH sides on the full key set — i.e. moves the fact). Harmless in
    * the other modes (their joins key exactly on the partition column).
    * Single-training-at-a-time contract: concurrent queries on the SAME
    * SparkSession execute under the training values, and two interleaved
    * trainings race on the save/restore — run trainers sequentially per
    * session, or give each its own `spark.newSession()`. */
  private[model] def withTrainingConfs[T](ss: SparkSession, budgetBytes: Long,
                                          rank: Int)(body: => T): T = {
    val fbVal = math.max(1024L,
      math.min(4194304L, budgetBytes / packedBufferBytes(rank)))
    val scoped = Seq(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> fbVal.toString,
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val saved = scoped.map { case (k, _) =>
      k -> (try Some(ss.conf.get(k)) catch { case _: Exception => None }) }
    scoped.foreach { case (k, v) => ss.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => ss.conf.set(k, v)
      case (k, None) => ss.conf.unset(k)
    }
  }

  /** Full alternating training loop. Factor frames are truncated with an
    * eager localCheckpoint per sweep, so lineage stays O(1) across
    * iterations and the checkpoint blocks ARE the materialization (an
    * additional persist() would cache the pre-checkpoint plan, which no
    * unpersist on the checkpointed frame can ever free — a leak). Each
    * superseded checkpoint is released as soon as both of its successors
    * exist, so only the two returned frames stay cached. At cluster scale:
    * a reliable checkpoint dir. */
  def train(ratings: DataFrame, userCol: String, itemCol: String, ratingCol: String,
            p: Params = Params()): Model =
    trainTraced(ratings, userCol, itemCol, ratingCol, p,
      Trace.Config(computeMetrics = false))._1

  /** Training loop with the reference's per-iteration observability
    * (LL + RMSE each sweep, prac_1.py:141-161; parameter snapshots every
    * `snapshotEvery` sweeps plus a final set, prac_1.py:163-204): returns
    * the model AND the (iter, LL, RMSE, maxDelta) history, invoking
    * `trace.onIter` live.
    *
    * One SQL execution per half-sweep — its checkpoint — plus four fixed
    * ones (the two init checkpoints and the two fact layouts): the max
    * |Δparam| (the value [[maxDelta]] computes) and the init entity counts
    * are observed on the checkpoint jobs, and LL/RMSE add their own
    * executions only when `computeMetrics` is on.
    *
    * `init` warm-starts the sweep loop from a prior model's factors
    * ([[seedFactors]]): a converged model plus a small ratings delta
    * re-converges in 1-2 sweeps instead of re-paying the cold schedule —
    * the reference's checkpoint-resume flow (ab_test.py:73-85), and this
    * engine's fold-deltas-never-rebuild contract applied to its most
    * expensive standing state.
    *
    * Single-training-at-a-time contract: the loop scopes one session
    * SQL conf (the ObjectHashAggregate fallback threshold, sized by
    * [[Params.aggMemoryBudgetBytes]]) around the sweeps and restores it
    * in a finally. Concurrent queries on the SAME SparkSession during a
    * training run would execute under the training threshold, and two
    * interleaved trainings would race on the save/restore — run trainers
    * sequentially per session, or give each its own `spark.newSession()`. */
  def trainTraced(ratings: DataFrame, userCol: String, itemCol: String,
                  ratingCol: String, p: Params,
                  trace: Trace.Config,
                  init: Option[Model] = None): (Model, Seq[Trace.IterStats]) = {
    val (users0, uCount) = checkpointInit(init match {
      case Some(m) => seedFactors(ratings, userCol, p, 1L, m.userFactors)
      case None => initFactors(ratings, userCol, p, 1L)
    })
    val (items0, iCount) = checkpointInit(init match {
      case Some(m) => seedFactors(ratings, itemCol, p, 2L, m.itemFactors)
      case None => initFactors(ratings, itemCol, p, 2L)
    })
    var users = users0; var items = items0
    // the entity counts observed on the init checkpoints pick the per-side
    // sweep plans (see Params.broadcastEntities); the try opens
    // IMMEDIATELY after the copies exist, so any later failure — conf
    // setup included — releases them
    val (userPlan, itemPlan, copies) =
      sweepPlans(ratings, userCol, itemCol, uCount, iCount, p)
    try {
    withTrainingConfs(ratings.sparkSession, p.aggMemoryBudgetBytes, p.rank) {
    trace.onStart()
    val hist = scala.collection.mutable.ArrayBuffer.empty[Trace.IterStats]
    var iter = 0
    var delta = Double.MaxValue
    while (iter < p.maxIter && delta > p.tol) {
      // Q1 is a movie-loop-only quirk: user sweep always sums
      val (newUsers, userDelta) = checkpointSweep(sweepWithDelta(userPlan.fact, users,
        items, userCol, itemCol, ratingCol, p.copy(strictQ1Bias = false),
        userPlan.broadcastOther, userPlan.broadcastSelf, userPlan.routing))
      val (newItems, itemDelta) = checkpointSweep(sweepWithDelta(itemPlan.fact, items,
        newUsers, itemCol, userCol, ratingCol, p,
        itemPlan.broadcastOther, itemPlan.broadcastSelf, itemPlan.routing))
      Seq(users, items).foreach(Checkpoints.release)
      delta = math.max(userDelta, itemDelta)
      users = newUsers; items = newItems
      iter += 1
      val (ll, rm) =
        if (trace.computeMetrics) {
          val m = Model(users, items)
          (Metrics.regLogLik(m, ratings, userCol, itemCol, ratingCol,
            p.lambda, p.tau, p.alpha),
           Metrics.rmse(m.predict(ratings, userCol, itemCol), ratingCol, "prediction"))
        } else (Double.NaN, Double.NaN)
      val st = Trace.IterStats(iter, ll, rm, delta)
      hist += st
      trace.onIter(st)
      trace.snapshotDir.foreach { dir =>
        if (iter % trace.snapshotEvery == 0)
          Trace.snapshotFactors(dir, s"iter_$iter", users, items)
      }
    }
    trace.snapshotDir.foreach { dir =>
      Trace.snapshotFactors(dir, "final", users, items)
      Trace.writeHistory(ratings.sparkSession, dir, hist.toSeq)
    }
    (Model(users, items), hist.toSeq)
    }
    } finally {
      // the returned factor frames are checkpointed — the pre-partitioned
      // ratings copies are training-internal; release them even on a
      // mid-training failure (no leaked full-corpus cache entries)
      copies.foreach(_.unpersist(blocking = false))
    }
  }
}
