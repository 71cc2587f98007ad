package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based collaborative filtering over a user-item interaction log —
  * the random-walk baseline family (P3alpha): rank items for a user by
  * the 3-hop walk user → item → user' → item', transition probabilities
  * row-normalized from interaction counts. The strongest classical
  * baseline next to the reference's factorization models
  * (explicit_ratings / implicit_bpr) and a standard production first-pass
  * ranker; here it is EXACTLY replayable: transition probabilities are
  * quantized to integer fixed-point up front (`floor(scale·w/deg)` — the
  * engine's k-means quantize idiom), so every downstream sum is order-free
  * long arithmetic and the result is bit-identical under any partitioning
  * (and in the DuckDB oracle).
  *
  * Scale shape — THREE levers, all exact and replayable:
  *
  *  1. `maxHistory` caps each user's history at their top-C interactions
  *     (by weight, smallest-id tie-break — a deterministic cut any engine
  *     replays). The item-item co-walk's user-keyed self-join costs
  *     Σ_u deg(u)² intermediate pair rows — linear in users, QUADRATIC in
  *     per-user degree, the one superlinear leg in this family; the cap
  *     bounds it at Σ_u min(deg, C)². This is the standard production
  *     trade (cap history, keep the strongest signal) — measured on the
  *     declared q160 shape at sf0.1: C=50 cut the co-walk intermediate
  *     ~10× and eliminated its 3.1 GB ×10-probe spill.
  *  2. `neighbors` truncates each item's similarity row to its top-N
  *     entries (integer mass, id tie-break) before the user-side scoring
  *     join — caps that fanout at edges × N instead of edges × |catalog|
  *     (measured 5× on q160).
  *  3. The input's size picks the physical join for the truncated
  *     similarity matrix (≤ |items|·neighbors rows): up to
  *     [[broadcastKeys]] distinct keys (items; users for UserKNN; `prev`
  *     items for Markov) broadcast it (the classic small-matrix contract —
  *     the user side never shuffles for scoring); bigger inputs keep it
  *     DISTRIBUTED and shuffle-join on the key, so there is no
  *     catalog-size cliff — a 59k-movie catalog (the reference's own
  *     MovieLens shape, explicit_ratings/functions.py:33-36) runs the same
  *     plan a 10k one does, just with one more exchange. Both modes are
  *     bit-identical; GraphCFSpec pins the differential by padding a
  *     fixture past the threshold.
  *
  * Overflow budgets (documented, enforced): p3alpha transition rows are
  * sub-stochastic after quantization (Σ_i p(u→i) ≤ scale), so every walk
  * sum is bounded by scale³ regardless of catalog or corpus size —
  * `require(scale ≤ 10⁶)` keeps scale³ < 2⁶². ItemKNN's co-counts are NOT
  * catalog-bounded (they grow with interaction weights), so the operator
  * reads max(norm²) — one bounded 1-row driver read off the tiny norm
  * frame — and refuses corpora where n₁·n₂ could overflow a long or
  * co·scale could leave the 2⁵³ exact-double range. */
object GraphCF {

  /** Above this many distinct keys the truncated similarity (or
    * transition) matrix is shuffle-joined instead of broadcast — lever 3
    * of the object doc, read off the input by one bounded driver probe. */
  private[ops] val broadcastKeys = 10000L

  /** Aggregate (user,item,weight) edges, optionally capped to each user's
    * top-`maxHistory` interactions by (weight desc, item asc) — an exact,
    * replayable cut (same idiom as the neighbor truncation).
    *
    * Physical shape (round 13): the raw rows are hash-partitioned on `u`
    * BEFORE the aggregation, so ONE exchange serves the whole family —
    * the (u,i) count (ClusteredDistribution(u,i) is satisfied by the
    * u-subset partitioning), the history-cap window (partitionBy u), and
    * the downstream user-keyed co-walk self-join all run exchange-free on
    * top of it. The previous plain `groupBy(u,i)` cost one (u,i)-keyed
    * exchange of the AGGREGATED frame plus a second u-keyed exchange for
    * the cap window (and a third for the self-join when uncapped) —
    * 2× aggregated bytes moved vs 1× raw bytes here, a win whenever the
    * log's repetition ratio raw/distinct(u,i) < 2 (measured 1.28 on the
    * declared cust-supp shape; exactly 1.0 on MovieLens-shaped ratings,
    * the reference's own data). A repeat-heavy corpus (ratio > 2) moves
    * MORE bytes this way — the exchange carries raw rows with no map-side
    * combine and a hot prefix lands in one task un-combined — so such
    * corpora pre-aggregate upstream and enter through [[edgesFromStore]]
    * or the `*RecsFromEdges` entry points. Every raw-row builder in this
    * family (edges, baskets, the folds' tagged pass) uses the same
    * prefix-keyed layout. The repartition picks up
    * `spark.sql.shuffle.partitions` and stays AQE-coalescible — no
    * constant tuned to either scale. */
  private def edgeFrame(interactions: DataFrame, userCol: String,
                        itemCol: String, maxHistory: Int): DataFrame =
    capEdges(interactions
      .select(col(userCol).as("u"), col(itemCol).as("i"))
      .repartition(col("u"))
      .groupBy(col("u"), col("i"))
      .agg(count(lit(1)).as("w")), maxHistory)

  /** The history cut alone, on an already-aggregated (u, i, w) frame. */
  private def capEdges(e: DataFrame, maxHistory: Int): DataFrame =
    capBy(e, Seq("u"), "i", maxHistory)

  /** Each `by` group keeps its top-`n` rows by (w desc, `tie` asc) — the
    * one exact, replayable cut behind the history cap, the audience cap,
    * the basket caps and the folds' per-side caps. */
  private def capBy(e: DataFrame, by: Seq[String], tie: String,
                    n: Int): DataFrame =
    if (n == Int.MaxValue) e
    else Relational.topKPerGroup(e, by.map(col),
      Seq(col("w").desc, col(tie)), n, rankName = "__rc")
      .drop("__rc")

  /** Co-occurrence counts from an aggregated (u, i, w) edge frame,
    * walked through `key` between two `s` values: co(s1,s2) =
    * Σ_key w·w, both directions, exact long sums. Item-item co-counts
    * walk through users (`key` = u, `s` = i; the self-join's intermediate
    * is Σ_u deg(u)² pair rows — the family's quadratic leg, cap histories
    * upstream); user-user co-counts are the transpose (`key` = i,
    * `s` = u; Σ_i aud(i)² pair rows, cap audiences upstream).
    *
    * Physical shape: the matrix is SYMMETRIC (the product w1·w2
    * commutes), so only the s1 < s2 HALF is generated and aggregated —
    * the join's residual predicate drops half the Σ deg² fanout before
    * the partial aggregation ever sees it, and the (s1,s2) exchange
    * carries half the pair rows — then [[halfMirror]] emits both
    * orientations of each aggregated row with a generator in the
    * aggregate's own stage: no cache, no barrier job, no second scan.
    *
    * Physical note (measured at ~sf1): the u-keyed self-join's INPUT is
    * the compact edge frame but its OUTPUT is the Σ min(deg,C)² pair
    * fanout, and the stage that runs [join → filter → partial agg] is
    * sized by AQE from the INPUT bytes — coalesced down to the cluster's
    * default parallelism, oblivious to the fanout. That width is exactly
    * right on a real cluster (width = total cores, each with its own
    * memory); on a single-JVM probe it concentrates the fanout's partial
    * aggregation into few same-heap tasks and spills (~1 GB disk at ~sf1,
    * invariant to the shuffle-partition knob because coalescing floors at
    * defaultParallelism, NOT at the knob). The remedy is NOT an explicit
    * repartition here — the cap window already hash-partitions on u, so
    * a same-key repartition is optimizer-removed as redundant — but
    * flooring AQE's coalescing at the configured partition count
    * (`spark.sql.adaptive.coalescePartitions.minPartitionNum`), which
    * graft.Bench sets alongside the partitions knob; measured: the same
    * probe at 256 floored partitions spills ZERO bytes. */
  private def coPairs(e: DataFrame, key: String, s: String): DataFrame =
    halfMirror(
      e.select(col(key), col(s).as("s1"), col("w").as("w1"))
        .join(e.select(col(key), col(s).as("s2"), col("w").as("w2")), key)
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(col("w1") * col("w2")).as("co")))

  /** Mirror a strictly-upper-triangular (s1 < s2) co frame to the full
    * symmetric matrix in ONE pass: each half row is emitted twice by a
    * generator (identity + transposed struct), a narrow map on top of the
    * half's own aggregate — no cache to release, no count() barrier, no
    * second scan. Co values are exact long sums and the product commutes,
    * so the mirrored rows are bit-identical to aggregating both
    * directions (GraphCFSpec pins it). The output keeps no partitioning,
    * exactly like the union it replaces. */
  private def halfMirror(half: DataFrame): DataFrame =
    halfMirrorCols(half, "s1", "s2", "co")

  private def halfMirrorCols(half: DataFrame, a: String, b: String,
                             v: String): DataFrame =
    half.select(inline(array(
      struct(col(a).as(a), col(b).as(b), col(v).as(v)),
      struct(col(b).as(a), col(a).as(b), col(v).as(v)))))

  /** The audience cut alone, on an already-aggregated (u, i, w) frame:
    * each ITEM keeps its top-`maxAudience` users by (weight desc, user
    * asc) — the transpose of [[capEdges]], bounding the user-side
    * quadratic leg at Σ_i min(aud, A)². */
  private def capAudience(e: DataFrame, maxAudience: Int): DataFrame =
    capBy(e, Seq("i"), "u", maxAudience)

  /** The aggregated, history-capped (u, i, w) edge frame — the compact
    * standing representation of an interaction log (distinct user-item
    * pairs, not raw events) that a production deployment keeps in a
    * keyed store between [[foldCoDelta]] folds. Exactly the frame every
    * recommender in this family trains on. */
  def edges(interactions: DataFrame, userCol: String, itemCol: String,
            maxHistory: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    edgeFrame(interactions, userCol, itemCol, maxHistory)
  }

  /** [[edges]] with caller-supplied INTEGER row weights — the general
    * form every recency/importance-weighted variant of this family
    * trains on (plain [[edges]] is weight ≡ 1): w(u,i) = Σ of the rows'
    * `weightCol`, then the same deterministic history cut, which now
    * keeps each user's top-C by the WEIGHTED mass (a recency-weighted
    * cap keeps the freshest signal, not the oldest-heaviest). Weights
    * must be positive integers — power-of-two recency decay
    * (the [[graft.ops.Behavior.decayedCounts]] idiom) keeps every
    * downstream sum order-free long arithmetic, and zero/negative
    * weights are rejected row-inline (a silent ≤0 edge would corrupt
    * norms and walk masses downstream). The cosineSimQ/p3 overflow
    * budgets still apply and are enforced by those operators — heavier
    * weights spend the norm² budget faster (binarize or shrink the
    * decay window past it). */
  def edgesWeighted(interactions: DataFrame, userCol: String,
                    itemCol: String, weightCol: String,
                    maxHistory: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    val w = col(weightCol).cast("long")
    capEdges(interactions
      .select(col(userCol).as("u"), col(itemCol).as("i"),
        when(w <= 0L, raise_error(concat(
          lit("edgesWeighted: non-positive weight "), w.cast("string"),
          lit(s" in $weightCol — weights must be positive integers"))))
          .otherwise(w).as("__w"))
      .repartition(col("u")) // one u-keyed exchange serves agg + cap + co-walk (edgeFrame's layout)
      .groupBy(col("u"), col("i"))
      .agg(sum(col("__w")).as("w")), maxHistory)
  }

  /** Association rules over baskets — support / confidence / lift, the
    * classical "customers also bought" market-basket surface (Agrawal &
    * Srikant 1994's measures; only 1→1 rules, the serving shape): for
    * each frequent antecedent item a, its top-`k` consequents c by
    *
    *   conf(a→c) = s(ac)/s(a),   lift(a→c) = N·s(ac)/(s(a)·s(c))
    *
    * with s(·) EXACT basket-support counts (distinct baskets containing
    * the itemset) and both ratios quantized ONCE by integer division
    * (`floor(scale·…)` — DuckDB `//` replays it bit-exactly). Output:
    * (ante, cons, pair_n, ante_n, cons_n, conf_q, lift_q, rnk), ties by
    * smallest consequent id.
    *
    * Scale shape: the Apriori prune runs FIRST (items below `minSupport`
    * never enter the pair join), baskets are capped to their top-
    * `maxBasket` items by (multiplicity desc, id — the Markov family's
    * exact cut), so the basket-keyed self-join fans out ≤ #baskets·B²
    * pair rows; pairs below `minSupport` drop before the stats joins.
    * Long budget (bounded 1-row reads, the cosineSimQ idiom):
    * scale·N·max(s) must stay < 2⁶³ — corpora past it shard by basket
    * key or drop `scale`. */
  def liftRules(interactions: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long = 2L, maxBasket: Int = Int.MaxValue,
                k: Int = 10, scale: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(minSupport >= 1L, "minSupport must be >= 1")
    require(maxBasket >= 1, "maxBasket must be >= 1")
    require(scale >= 10L && scale <= 1000000L,
      "scale must be in [10, 10^6] (the exactness budget)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // cache lifetime: caller-owned release after materialization, the
    // family's documented contract (USAGE.md / GraphCFSpec no-orphan)
    val bi = basketSets(interactions, basketCol, itemCol, maxBasket)
      .persist(lvl)
    val itemN = bi.groupBy(col("i")).agg(count(lit(1)).as("s")).persist(lvl)
    val frequent = itemN.filter(col("s") >= minSupport)
    val pairs = pairSupports(
      bi.join(frequent.select(col("i")), Seq("i"), "left_semi"))
    val n = bi.select(col("b")).distinct().count()
    rulesFromStats(itemN, pairs, n, minSupport, k, scale)
  }

  /** The capped (b, i) basket sets behind [[liftRules]] and
    * [[writeRuleStatsBatch]]: each basket's distinct items, cut to its
    * top-`maxBasket` by (multiplicity desc, item asc). One b-keyed
    * exchange serves the (b, i) count, the cap window AND — once the
    * caller persists the frame, which keeps the partitioning — the
    * basket-keyed pair self-join and the distinct-basket count,
    * exchange-free off the cache (the [[edgeFrame]] layout argument). */
  private def basketSets(interactions: DataFrame, basketCol: String,
                         itemCol: String, maxBasket: Int): DataFrame =
    capBy(interactions
      .select(col(basketCol).as("b"), col(itemCol).as("i"))
      .repartition(col("b"))
      .groupBy(col("b"), col("i"))
      .agg(count(lit(1)).as("w")), Seq("b"), "i", maxBasket)
      .select(col("b"), col("i"))

  /** (ante, cons, pair_n) basket supports of every item pair of a (b, i)
    * frame. Supports are symmetric (baskets containing {a, c} contain
    * {c, a}), so only the ante < cons half is joined and aggregated and
    * then mirrored in the aggregate's stage — the [[coPairs]] layout,
    * halving the basket self-join's B² fanout through the partial
    * aggregation. */
  private def pairSupports(bi: DataFrame): DataFrame =
    halfMirrorCols(bi.select(col("b"), col("i").as("ante"))
      .join(bi.select(col("b"), col("i").as("cons")), "b")
      .filter(col("ante") < col("cons"))
      .groupBy(col("ante"), col("cons"))
      .agg(count(lit(1)).as("pair_n")), "ante", "cons", "pair_n")

  /** The shared serving tail of [[liftRules]] / [[liftRulesFromStore]]:
    * thresholds, the quantized confidence/lift projection, and the
    * per-antecedent truncation — over an (i, s) support frame, an
    * (ante, cons, pair_n) pair frame (pre-prune or not: pair_n ≤
    * min(s(a), s(c)), so the support threshold subsumes any skipped
    * Apriori prune — the prune is a work saver, never a result change)
    * and the basket count. */
  private def rulesFromStats(itemN: DataFrame, pairs: DataFrame, n: Long,
                             minSupport: Long, k: Int,
                             scale: Long): DataFrame = {
    // bounded 1-row read: the lift numerator's 2^63 exactness budget
    val head = itemN.agg(max(col("s"))).head()
    require(!head.isNullAt(0), "liftRules: empty basket frame")
    val maxS = head.getLong(0)
    require(maxS <= Long.MaxValue / scale / math.max(n, 1L),
      s"liftRules: scale*N*max(support) = $scale*$n*$maxS breaks the " +
        "2^63 exactness budget — shard by basket key or drop scale")
    val scored = pairs
      .filter(col("pair_n") >= minSupport)
      .join(itemN.select(col("i").as("ante"), col("s").as("ante_n")), "ante")
      .join(itemN.select(col("i").as("cons"), col("s").as("cons_n")), "cons")
      .filter(col("ante_n") >= minSupport && col("cons_n") >= minSupport)
      .select(col("ante"), col("cons"), col("pair_n"), col("ante_n"),
        col("cons_n"),
        expr(s"(${scale}L * pair_n) div ante_n").as("conf_q"),
        expr(s"(${scale}L * ${n}L * pair_n) div (ante_n * cons_n)")
          .as("lift_q"))
    Relational.topKPerGroup(scored, Seq(col("ante")),
      Seq(col("lift_q").desc, col("cons")), k, rankName = "rnk")
  }

  /** Per-batch additive partials for the standing ASSOCIATION-RULE store
    * — the family's q173/q190 pattern for [[liftRules]]: each batch lands
    * its capped distinct-basket item supports, UNPRUNED pair counts and
    * basket count; all three are sums over disjoint baskets, so the fold
    * is one groupBy per frame and store-served == one-shot bit-exactly.
    * Contract: batches must not SPLIT a basket (supports and pair counts
    * are within-basket statistics — the transition store's user-shard
    * contract, transposed to baskets), and the Apriori prune is GLOBAL,
    * so it applies at serve time, never in a batch (an item infrequent
    * in one batch may be frequent overall). Batch-id-keyed overwrite =
    * replay-idempotent. A stream meets the basket contract by feeding
    * basket-commit events (e.g. CDC on order close), or a time-sessionized
    * feed once the watermark finalizes the basket — never an append-only
    * raw item-add feed. */
  def writeRuleStatsBatch(batch: DataFrame, basketCol: String,
                          itemCol: String, maxBasket: Int, path: String,
                          batchId: Long): Unit = {
    require(maxBasket >= 1, "maxBasket must be >= 1")
    // liftRules' b-partitioned build: the cached bi feeds the pair
    // self-join and the distinct-basket count exchange-free
    val bi = basketSets(batch, basketCol, itemCol, maxBasket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bi.groupBy(col("i")).agg(count(lit(1)).as("s"))
      .write.mode("overwrite").parquet(s"$path/items/batch=$batchId")
    pairSupports(bi)
      .write.mode("overwrite").parquet(s"$path/pairs/batch=$batchId")
    bi.groupBy().agg(countDistinct(col("b")).as("n"))
      .write.mode("overwrite").parquet(s"$path/baskets/batch=$batchId")
    bi.unpersist()
  }

  /** [[liftRules]] served off the standing rule-statistics store
    * ([[writeRuleStatsBatch]]) — bit-equal to the one-shot build over the
    * concatenated batches (long sums are order-free; basket-sharded
    * batches witness disjoint baskets). */
  def liftRulesFromStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, minSupport: Long = 2L, k: Int = 10,
                         scale: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(minSupport >= 1L, "minSupport must be >= 1")
    require(scale >= 10L && scale <= 1000000L,
      "scale must be in [10, 10^6] (the exactness budget)")
    val itemN = spark.read.option("basePath", s"$path/items")
      .parquet(s"$path/items")
      .groupBy(col("i")).agg(sum(col("s")).as("s"))
    val pairs = spark.read.option("basePath", s"$path/pairs")
      .parquet(s"$path/pairs")
      .groupBy(col("ante"), col("cons")).agg(sum(col("pair_n")).as("pair_n"))
    val n = spark.read.option("basePath", s"$path/baskets")
      .parquet(s"$path/baskets")
      .agg(sum(col("n"))).head().getLong(0)
    rulesFromStats(itemN, pairs, n, minSupport, k, scale)
  }

  /** Top-`k` most-popular unseen items per user — the non-personalized
    * BASELINE every comparative recommender eval needs (the reference's
    * experiment flow compares models against a control arm,
    * explicit_ratings/ab_test.py; offline, the control is popularity).
    * pop(i) = Σ_u w_ui over the capped edge frame; ties broken by item
    * id, so lists are bit-replayable.
    *
    * Scale shape: a user's top-k unseen items always sit inside the
    * global top-(k + deg(u)) by popularity, so the candidate pool is the
    * global top-(k + maxSeen) — a bounded BROADCAST list (maxSeen ≤
    * maxHistory once histories are capped; one bounded 1-row driver read,
    * the cosineSimQ guard pattern) — and the per-user leg is a
    * |users|·|pool| fanout anti-joined against the edge frame, never a
    * users × catalog product. Exactness is by the pool argument above,
    * not an approximation. */
  def popularityRecs(interactions: DataFrame, userCol: String,
                     itemCol: String, k: Int,
                     maxHistory: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = edgeFrame(interactions, userCol, itemCol, maxHistory)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val degRow = e.groupBy(col("u")).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head()
    require(!degRow.isNullAt(0), "popularityRecs: empty interaction frame")
    val maxSeen = degRow.getLong(0)
    require(k + maxSeen <= 10000000L,
      s"popularityRecs: candidate pool k+maxSeen = ${k + maxSeen} is not " +
        "broadcastable; cap user histories (maxHistory) first")
    val pop = e.groupBy(col("i")).agg(sum(col("w")).as("pop"))
    val pool = pop.orderBy(col("pop").desc, col("i"))
      .limit(k + maxSeen.toInt)
    val cand = e.select(col("u")).distinct().crossJoin(broadcast(pool))
    val unseen = cand.join(e.select(col("u"), col("i")),
      Seq("u", "i"), "left_anti")
    Relational.topKPerGroup(unseen, Seq(col("u")),
        Seq(col("pop").desc, col("i")), k, rankName = "rnk")
      .select(col("u").as(userCol), col("i").as(itemCol),
        col("pop"), col("rnk"))
  }

  /** Per-batch partial for the standing interaction-edge store: the
    * batch's aggregated (u, i, w) counts land under `batch=<id>` —
    * batch-id-keyed OVERWRITE, so a failure-replayed batch rewrites its
    * own directory instead of double-counting (the engine's
    * replay-idempotent sink recipe). Edge weights are COUNTS and counts
    * are additive across batches, so the standing frame folds from the
    * partials with one groupBy — no cross-batch correction terms, unlike
    * co-counts themselves (which is why the store holds EDGES, the
    * additive representation, and derives co downstream). */
  def writeEdgeBatch(batch: DataFrame, userCol: String, itemCol: String,
                     path: String, batchId: Long): Unit =
    batch.groupBy(col(userCol).as("u"), col(itemCol).as("i"))
      .agg(count(lit(1)).as("w"))
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** The standing capped edge frame folded from the per-batch partials
    * ([[writeEdgeBatch]]): Σ of partial counts per (u, i), then the
    * history cut — bit-equal to [[edges]] over the concatenated batches
    * (long sums are order-free; the cut is deterministic). */
  def edgesFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                     maxHistory: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    capEdges(spark.read.option("basePath", path).parquet(path)
      .select(col("u"), col("i"), col("w"))
      .repartition(col("u")) // one u-keyed exchange serves fold + cap + co-walk (edgeFrame's layout)
      .groupBy(col("u"), col("i")).agg(sum(col("w")).as("w")), maxHistory)
  }

  /** Standing co-counts read off the edge store — bit-equal to
    * [[coCounts]] over the concatenated batches. Pair with
    * [[foldCoDelta]] for incremental refreshes between store folds. */
  def coFromEdgeStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxHistory: Int = Int.MaxValue): DataFrame =
    // persist + eager count: coPairs self-joins the frame, so both legs
    // read one cache entry instead of re-running the fold + cap per leg
    // (round 13; caller-owned release, the family's cache contract). The
    // count matters: a LAZY cache plans as unknown-partitioned (its
    // AdaptiveSparkPlan is un-finalized), so the u-keyed self-join would
    // re-shuffle BOTH cache legs — measured +10M shuffle rows on q172's
    // sibling path; materialized, the cache reports hash(u) and the join
    // plans exchange-free (the ItemKNN probe pattern).
    coPairs(materialized(edgesFromStore(spark, path, maxHistory)), "u", "i")

  /** persist(MEMORY_AND_DISK) + eager materialization, so downstream
    * plans see the cache's FINALIZED partitioning instead of unknown —
    * a lazily-persisted frame under AQE plans as unknown-partitioned and
    * forces re-exchanges on every keyed consumer (measured: the co
    * self-join re-shuffled both legs of a lazy cache). One count() job,
    * which is work the first consumer would have paid anyway. */
  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Standing (s1, s2, co) co-occurrence counts from an interaction log
    * — the maintained state behind an ItemKNN serving layer
    * ([[itemKnnRecsFromEdges]]), aggregated and history-capped exactly as
    * [[edges]] does it. Keep THIS frame (and the log's aggregated edges),
    * not the similarity matrix: co-counts are the additive
    * representation that [[foldCoDelta]] can maintain incrementally;
    * similarities re-derive from co + norms in one linear pass. */
  def coCounts(interactions: DataFrame, userCol: String, itemCol: String,
               maxHistory: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    // persist + eager count (see materialized): the co self-join reads
    // the capped frame twice, and only a FINALIZED cache keeps hash(u)
    // so the join plans exchange-free (round 13; caller-owned release)
    coPairs(materialized(edgeFrame(interactions, userCol, itemCol, maxHistory)),
      "u", "i")
  }

  /** Fold a DELTA of interactions into standing co-occurrence counts
    * WITHOUT rebuilding: co is a sum of per-user outer products, so
    *
    *   co_new = co_old − Σ_{u touched} outer(cap(old_u))
    *                   + Σ_{u touched} outer(cap(old_u ⊎ delta_u))
    *
    * and only TOUCHED users (those appearing in the delta) pay the
    * quadratic leg — Σ_touched min(deg, C)² instead of the full
    * Σ_all min(deg, C)². The result is BIT-IDENTICAL to
    * [[coCounts]] over the unioned log (the declared query's oracle
    * replays the one-shot build; GraphCFSpec pins the cap-boundary
    * case where a delta evicts an item from a user's top-C). All
    * arithmetic is exact long sums, so the subtraction is safe — pairs
    * netting to zero drop, matching the one-shot result exactly.
    *
    * Physical shape: ONE lazy plan. The log and the delta pass once
    * through [[taggedEdges]] (each (u, i) row carries its old weight
    * `wo` and merged weight `wn`); a per-user window keeps the users
    * with any delta weight, whose `wo > 0` rows are the old side and
    * `wn` rows the new side of ONE signed co-walk ([[signedHalfWalk]],
    * which applies the history cap per side) in half space, summed with
    * the s1 < s2 half of `oldCo` in one (s1, s2) aggregate and mirrored
    * once ([[foldHalf]]). No persist, no count(), no driver read: the
    * fold leaves no cache behind.
    *
    * `oldInteractions` is the standing log (scanned once, linearly, to
    * recover the touched users' previous edge vectors; a production
    * deployment keeps the aggregated (u, i, w) edge frame in a keyed
    * store instead and feeds it here — the algebra is identical).
    * `oldCo` must be the [[coCounts]] of that log at the SAME
    * `maxHistory`; it stays caller-owned. */
  def foldCoDelta(oldInteractions: DataFrame, delta: DataFrame,
                  userCol: String, itemCol: String, oldCo: DataFrame,
                  maxHistory: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    require(Seq("s1", "s2", "co").forall(oldCo.columns.contains),
      "oldCo must be a coCounts frame with columns (s1, s2, co)")
    // UNCAPPED weights on both sides: the cap applies to each touched
    // user's MERGED vector (a delta can evict an old top-C item)
    val t = taggedEdges(oldInteractions, delta, userCol, itemCol)
      .withColumn("__wd", max(col("wd")).over(Window.partitionBy(col("u"))))
      .filter(col("__wd") > 0L)
    foldHalf(oldCo, signedHalfWalk(t, "u", "i",
        when(col("wo") > 0L, col("wo")), col("wn"), maxHistory),
      "foldCoDelta", s"maxHistory=$maxHistory (stale frame or different cap)")
  }

  /** The folds' one pass over the log: old rows tagged o = 1 and delta
    * rows d = 1, unioned, u-keyed (the [[edgeFrame]] layout) and summed
    * per (u, i) into the old weight `wo`, the delta weight `wd` and the merged
    * weight `wn` = wo + wd — every uncapped edge weight either fold needs,
    * on the u partitioning the per-user windows reuse. */
  private def taggedEdges(old: DataFrame, delta: DataFrame, userCol: String,
                          itemCol: String): DataFrame = {
    def rows(df: DataFrame, o: Long) = df.select(col(userCol).as("u"),
      col(itemCol).as("i"), lit(o).as("o"), lit(1L - o).as("d"))
    rows(old, 1L).unionByName(rows(delta, 0L))
      .repartition(col("u"))
      .groupBy(col("u"), col("i"))
      .agg(sum(col("o")).as("wo"), sum(col("d")).as("wd"))
      .withColumn("wn", col("wo") + col("wd"))
  }

  /** The folds' ONE co-walk over both sides of a delta, from one pass
    * over a tagged frame: each row is emitted once per non-null side
    * weight — `old` as side −1, `nu` as side +1 — each (`key`, side)
    * group cut to its top-`cap` by (w desc, `s` asc), then one self-join
    * on (`key`, side) — exchange-free on the cut's window — in half space
    * (s1 < s2), each pair carrying side·w1·w2 (exact long products; a
    * side with no rows for a key contributes nothing there). */
  private def signedHalfWalk(tagged: DataFrame, key: String, s: String,
                             old: org.apache.spark.sql.Column,
                             nu: org.apache.spark.sql.Column,
                             cap: Int): DataFrame = {
    val v = capBy(tagged.select(col(key), col(s), inline(array(
        struct(lit(-1L).as("side"), old.as("w")),
        struct(lit(1L).as("side"), nu.as("w")))))
      .filter(col("w").isNotNull), Seq(key, "side"), s, cap)
    v.select(col(key), col("side"), col(s).as("s1"), col("w").as("w1"))
      .join(v.select(col(key), col("side"), col(s).as("s2"),
        col("w").as("w2")), Seq(key, "side"))
      .filter(col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        (col("side") * col("w1") * col("w2")).as("co"))
  }

  /** The folds' shared tail: the s1 < s2 half of `oldCo` plus the signed
    * walk, summed in ONE (s1, s2) aggregate; zero pairs drop (matching
    * the one-shot build), and the result is mirrored once.
    *
    * Corruption tripwire: a TRUE co-count is a sum of non-negative
    * products, so a negative folded value proves the (oldCo,
    * oldInteractions, caps) triple inconsistent — a stale frame or a
    * different cap (a delta-evicted pair subtracts mass the stale oldCo
    * never held). Checked row-inline via raise_error: zero extra passes,
    * fires at action time (GraphCFSpec pins one per fold). */
  private def foldHalf(oldCo: DataFrame, walk: DataFrame, fn: String,
                       mismatch: String): DataFrame =
    halfMirror(oldCo.select(col("s1"), col("s2"), col("co"))
      .filter(col("s1") < col("s2"))
      .unionByName(walk)
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("co")).as("co"))
      .filter(col("co") =!= 0L)
      .select(col("s1"), col("s2"),
        when(col("co") < 0L, raise_error(concat(
          lit(s"$fn: negative folded co for pair ("),
          col("s1").cast("string"), lit(", "), col("s2").cast("string"),
          lit(s") — oldCo does not match oldInteractions at $mismatch"))))
          .otherwise(col("co")).as("co")))

  /** Standing USER-user co-occurrence counts from an interaction log —
    * the maintained state behind a UserKNN serving layer
    * ([[userKnnRecsFromEdges]]), aggregated and capped exactly as it
    * does: per-user histories cut to top-`maxHistory`, then per-item
    * audiences cut to top-`maxAudience` (the order matters and is the serving path's order). Keep THIS
    * frame, not the similarity matrix: co-counts are the additive
    * representation [[foldUserCoDelta]] maintains incrementally;
    * similarities re-derive from co + norms in one linear pass
    * ([[cosineSimQ]] with `broadcastNorms = false` — norms are
    * user-sized). Output columns (s1, s2, co). */
  def userCoCounts(interactions: DataFrame, userCol: String, itemCol: String,
                   maxHistory: Int = Int.MaxValue,
                   maxAudience: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    require(maxAudience >= 1, "maxAudience must be >= 1")
    // persist + eager count (see materialized): the co self-join reads
    // the capped frame twice, and only a FINALIZED cache keeps hash(i)
    // so the join plans exchange-free (round 13; caller-owned release)
    coPairs(materialized(capAudience(
      edgeFrame(interactions, userCol, itemCol, maxHistory), maxAudience)),
      "i", "u")
  }

  /** Fold a DELTA of interactions into standing USER-user co-counts
    * WITHOUT rebuilding — the transpose of [[foldCoDelta]], closing the
    * maintenance story for all three neighborhood models: user-user co
    * is a sum of per-ITEM outer products over audience-capped vectors,
    * so
    *
    *   co_new = co_old − Σ_{i touched} outer(capA(old_i))
    *                   + Σ_{i touched} outer(capA(new_i))
    *
    * and only TOUCHED items pay the quadratic leg — Σ_touched
    * min(aud, A)² instead of the full Σ_all. The history cap makes the
    * transpose subtler than the item-side fold: a delta row (u, x) can
    * evict item j from u's top-H, changing item j's audience even though
    * j never appears in the delta. The touched-item set is therefore
    * computed EXACTLY, from ONE tagged pass per user: [[taggedEdges]]
    * gives every (u, i) row its old weight `wo` and merged weight `wn`,
    * and two row_number windows on the same u partitioning rank each
    * user's rows by (wo desc, i) and by (wn desc, i). A row's old capped
    * weight is `o` = wo when wo > 0 and its old rank is ≤ H, its new
    * capped weight `n` = wn when its new rank is ≤ H (null otherwise —
    * a row null on both sides is in neither audience; rows with wo = 0
    * sort last, so they never displace an old row). The touched items
    * are those of the rows where o and n differ (presence or weight); an
    * untouched user has wd = 0, so o == n on all its rows,
    * and an item with no differing row has a bit-identical audience
    * vector and nets zero — skipped. On the touched items the `o` rows
    * (side −1) and `n` rows (side +1) are exactly the old and new capped
    * audiences, cut to top-A and walked as ONE signed co-walk joined on
    * (i, side) in half space ([[signedHalfWalk]]), then summed with the
    * s1 < s2 half of `oldCo` in one (s1, s2) aggregate and mirrored once
    * ([[foldHalf]]). The whole fold is ONE lazy plan — no persist, no
    * count(), no driver read, so it leaves no cache behind; the small
    * touched-item set is a semi-join AQE broadcasts. Result is
    * BIT-IDENTICAL to [[userCoCounts]] over the unioned log (the declared
    * query's oracle replays the one-shot build; GraphCFSpec pins the
    * history-eviction case, a brand-new item whose old side is empty and
    * a differential over both caps). Same negative-co corruption
    * tripwire as [[foldCoDelta]].
    *
    * `oldCo` must be the [[userCoCounts]] of `oldInteractions` at the
    * SAME (maxHistory, maxAudience); it stays caller-owned. A production
    * deployment feeds the aggregated (u, i, w) edge frame from a keyed
    * store instead of re-aggregating the raw log — the algebra is
    * identical. */
  def foldUserCoDelta(oldInteractions: DataFrame, delta: DataFrame,
                      userCol: String, itemCol: String, oldCo: DataFrame,
                      maxHistory: Int = Int.MaxValue,
                      maxAudience: Int = Int.MaxValue): DataFrame = {
    require(maxHistory >= 1, "maxHistory must be >= 1")
    require(maxAudience >= 1, "maxAudience must be >= 1")
    require(Seq("s1", "s2", "co").forall(oldCo.columns.contains),
      "oldCo must be a userCoCounts frame with columns (s1, s2, co)")
    // a row survives the history cut when its rank by (w desc, i) is ≤ H
    def kept(w: String) =
      if (maxHistory == Int.MaxValue) lit(true)
      else row_number().over(Window.partitionBy(col("u"))
        .orderBy(col(w).desc, col("i"))) <= maxHistory
    val capped = taggedEdges(oldInteractions, delta, userCol, itemCol)
      .select(col("u"), col("i"),
        when(col("wo") > 0L && kept("wo"), col("wo")).as("o"),
        when(kept("wn"), col("wn")).as("n"))
    val touchedI = capped.filter(not(col("o") <=> col("n")))
      .select(col("i")).distinct()
    foldHalf(oldCo, signedHalfWalk(
        capped.join(touchedI, Seq("i"), "left_semi"), "i", "u",
        col("o"), col("n"), maxAudience),
      "foldUserCoDelta", s"maxHistory=$maxHistory, maxAudience=" +
        s"$maxAudience (stale frame or different caps)")
  }

  /** Top-`k` P3alpha recommendations per user from an ALREADY-AGGREGATED,
    * history-capped (u, i, w) edge frame — [[edges]] over a raw log,
    * [[edgesFromStore]] over the standing edge store. Returns (user,
    * item, score, rnk) with `score` the exact integer fixed-point walk
    * mass (scale³ ≈ probability·10¹²), ties broken by smallest item id;
    * already-interacted items excluded; zero-mass candidates dropped.
    *
    * `maxHistory` on the edge builder bounds the co-walk (see the object
    * doc — the scale lever for heavy users); `neighbors` truncates each
    * item's walk row to its top-N similar items before the scoring join
    * (the KNN neighborhood bound — pass `neighbors` ≥ |catalog| for the
    * untruncated walk); above [[broadcastKeys]] distinct items the
    * truncated matrix is shuffle-joined instead of broadcast (no hard
    * catalog limit — both modes bit-identical).
    *
    * Sharing: a comparative evaluation (several models on one train
    * split) or a standing deployment builds the capped edge frame ONCE and
    * feeds every model from it, instead of each model re-running the
    * groupBy + history window over the raw log. Store-served, the walk
    * state (du/di/pui/piu) derives from the folded (u, i, w) frame, so
    * serving needs no raw-log replay and the recs are bit-equal to the
    * one-shot build over the concatenated batches (reference analogue:
    * serving loads persisted params instead of retraining,
    * explicit_ratings/ab_test.py:73-85). The frame is persisted here
    * (five legs of the plan reuse it) — re-persisting a frame the caller
    * already persisted is a no-op; the engine's documented cache
    * contract applies (clear between corpora). */
  def p3alphaRecsFromEdges(edges0: DataFrame, userCol: String,
                           itemCol: String, k: Int, scale: Long = 10000L,
                           neighbors: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(neighbors >= 1, "neighbors must be >= 1")
    require(scale >= 10L, "scale < 10 quantizes transitions to noise")
    // sub-stochastic rows bound every downstream sum by scale^3 (object
    // doc); scale <= 10^6 keeps that under 2^62 — no catalog-size term
    require(scale <= 1000000L,
      "scale > 10^6 risks long overflow: walk sums are bounded by scale^3")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges0.select(col("u"), col("i"), col("w")).persist(lvl)
    // row-normalized transitions, quantized to integer fixed-point:
    // floor(scale*w/deg) — exact in IEEE doubles (operands < 2^53) and
    // exactly DuckDB's integer `//` on the same longs
    val du = e.groupBy(col("u")).agg(sum(col("w")).as("du"))
    // di is read twice (the pIu build and the mode probe); persisting it
    // makes the probe — di's row count IS the distinct item count — the
    // action that materializes both caches: one driver job where the old
    // distinct().count() probe paid its own full aggregation and pIu
    // re-aggregated di again at action time (round 13)
    val di = e.groupBy(col("i")).agg(sum(col("w")).as("di")).persist(lvl)
    val nItems = di.count()
    // pUi feeds TWO legs of the returned plan (the item-item hop and the
    // final scoring hop) — persist + materialize so the u-keyed hop join
    // plans exchange-free off the finalized hash(u) cache
    val pUi = materialized(e.join(du, "u")
      .select(col("u"), col("i"),
        floor(col("w") * lit(scale) / col("du")).cast("long").as("p")))
    val pIu = e.join(broadcast(di), "i")
      .select(col("i"), col("u"),
        floor(col("w") * lit(scale) / col("di")).cast("long").as("p"))
    // item-item hop: S(s,s') = sum_u' P(s->u')*P(u'->s') — u'-keyed join.
    // The join INTERMEDIATE is sum(deg(u)^2) pair rows — the family's one
    // quadratic leg; maxHistory bounds it at sum(min(deg, C)^2). The
    // OUTPUT is bounded by distinct co-walked item pairs and stays
    // distributed (grouped on (s1,s2)) — never materialized driver-side.
    val ssFull = pIu.select(col("i").as("s1"), col("u"), col("p").as("p1"))
      .join(pUi.select(col("u"), col("i").as("s2"), col("p").as("p2")), "u")
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("p1") * col("p2")).as("q"))
    // neighborhood truncation (top-N per s1, integer mass + id tie-break
    // keeps the cut bit-replayable) — <= |items|*neighbors rows survive
    val ss = Relational.topKPerGroup(ssFull, Seq(col("s1")),
        Seq(col("q").desc, col("s2")), neighbors)
      .drop("rn")
    // final hop: score(u, s') = sum_s P(u->s)*S(s,s'). Small catalogs
    // broadcast the truncated matrix (user side never shuffles); big
    // catalogs shuffle-join on s1 — same result, one more exchange, no
    // catalog-size cliff (the matrix is |items|*neighbors, distributed)
    val ssJ = if (nItems <= broadcastKeys) broadcast(ss) else ss
    val scores = pUi.select(col("u"), col("i").as("s1"), col("p"))
      .join(ssJ, "s1")
      .groupBy(col("u"), col("s2"))
      .agg(sum(col("p") * col("q")).as("score"))
      .filter(col("score") > 0L)
    // e stays persisted: it feeds five legs of the lazy result plan
    // (du/di/pUi/pIu/anti-join) — the documented cache contract (USAGE.md:
    // clearCache between corpora); unpersisting here would silently
    // recompute the edge aggregation once per leg at action time
    val unseen = scores.join(
      e.select(col("u"), col("i").as("s2")),
      Seq("u", "s2"), "left_anti")
    Relational.topKPerGroup(unseen, Seq(col("u")),
        Seq(col("score").desc, col("s2")), k, rankName = "rnk")
      .select(col("u").as(userCol), col("s2").as(itemCol),
        col("score"), col("rnk"))
  }

  /** Top-`k` USER-KNN cosine recommendations from an already-aggregated,
    * history-capped (u, i, w) edge frame ([[edges]] / [[edgesFromStore]])
    * — the third classical neighborhood model beside
    * [[itemKnnRecsFromEdges]] and [[p3alphaRecsFromEdges]] (user-based
    * CF, Resnick et al. 1994): similar USERS vote with their histories.
    * sim(u,u') = quantized cosine of the two users' item vectors
    * ([[cosineSimQ]], the shared guarded derivation); score(u,i) =
    * Σ_{u'∈N(u)} simQ(u,u')·w(u',i); seen items anti-joined; ties to the
    * smallest ids everywhere — bit-replayable. Store-served recs are
    * bit-equal to the one-shot build over the concatenated batches, so
    * all THREE neighborhood recommenders serve from standing state.
    *
    * Scale levers, the exact mirror of the item side:
    *  - `maxHistory` (on the edge builder) caps each USER's edges (top-C
    *    by weight, id tie-break) — bounds vector length;
    *  - `maxAudience` caps each ITEM's user list the same way — the
    *    user-user co-walk's quadratic leg is Σ_i min(audience, A)²,
    *    the transpose of ItemKNN's Σ_u min(deg, C)² (a popular item's
    *    audience² is THE user-KNN scale killer; the cap is an exact,
    *    replayable cut applied AFTER the history cap, and a property of
    *    the similarity computation, not of the standing frame);
    *  - two-mode joins: cohorts of ≤ [[broadcastKeys]] users broadcast
    *    the truncated similarity matrix AND the norm frame; bigger
    *    cohorts shuffle-join both — no cohort-size cliff.
    * Similarities derive from the audience-capped frame; scoring and
    * the seen-item anti-join use the full history-capped frame.
    *
    * Cache lifetime: the edge frame stays persisted — it feeds the norm,
    * co-count, scoring and anti-join legs of the LAZY returned plan; the
    * caller owns the release via `spark.catalog.clearCache()` once the
    * result is materialized (USAGE.md's between-corpora contract;
    * GraphCFSpec pins the no-orphan release). Same contract as
    * [[p3alphaRecsFromEdges]] / [[itemKnnRecsFromEdges]] /
    * [[similarItems]]. */
  def userKnnRecsFromEdges(edges0: DataFrame, userCol: String,
                           itemCol: String, k: Int, scale: Long = 10000L,
                           neighbors: Int = 20,
                           maxAudience: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(neighbors >= 1, "neighbors must be >= 1")
    require(maxAudience >= 1, "maxAudience must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges0.select(col("u"), col("i"), col("w")).persist(lvl)
    // the audience-capped frame feeds THREE legs (norms + both sides of
    // the i-keyed co self-join) — persist so the audience window runs
    // once instead of per leg (round 13; same cache contract as e)
    val ea = capAudience(e, maxAudience).persist(lvl)
    // user squared norms and user-user co-counts from the audience-capped
    // frame: the i-keyed self-join's intermediate is Σ_i min(aud, A)²
    val nrm = ea.groupBy(col("u").as("i")).agg(sum(col("w") * col("w")).as("nrm"))
    // ONE driver action serves both probes (the ItemKNN fold):
    // nUsers (the broadcast-mode switch — distinct u over the FULL edge
    // frame, the pre-cap cohort as before) and the overflow budget's
    // max(norm²) off the audience-capped norm frame, cross-joined 1×1
    val probe = nrm.agg(max(col("nrm")).as("m"))
      .crossJoin(e.agg(countDistinct(col("u")).as("n"))).head()
    val maxNrm = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    val nUsers = probe.getLong(1)
    val small = nUsers <= broadcastKeys
    val co = coPairs(ea, "i", "u")
    val sim =
      try cosineSimQPre(co, nrm, scale, maxNrm, broadcastNorms = small)
      catch { case t: Throwable => e.unpersist(); throw t }
    val ss = Relational.topKPerGroup(sim, Seq(col("s1")),
        Seq(col("q").desc, col("s2")), neighbors)
      .drop("rn")
      .select(col("s1").as("__u"), col("s2"), col("q"))
    val ssJ = if (small) broadcast(ss) else ss
    val scores = ssJ
      .join(e.select(col("u").as("s2"), col("i"), col("w")), "s2")
      .groupBy(col("__u"), col("i"))
      .agg(sum(col("q") * col("w")).as("score"))
      .filter(col("score") > 0L)
    val unseen = scores.join(e.select(col("u").as("__u"), col("i")),
      Seq("__u", "i"), "left_anti")
    Relational.topKPerGroup(unseen, Seq(col("__u")),
        Seq(col("score").desc, col("i")), k, rankName = "rnk")
      .select(col("__u").as(userCol), col("i").as(itemCol),
        col("score"), col("rnk"))
  }

  /** Top-`neighbors` most-similar items PER ITEM — the "related items"
    * serving surface of an item-item recommender (the OTHER endpoint
    * beside per-user recs: every item page hits it), exposed as its own
    * frame: (item, neighbor, q, rnk) with q the guarded quantized cosine
    * ([[cosineSimQ]]) and the exact (q desc, id) truncation cut. This is
    * precisely the matrix [[itemKnnRecsFromEdges]] builds internally
    * before scoring — here it IS the product. Same scale shape: the
    * co-walk's Σ_u min(deg,C)² leg (cap histories upstream), ≤
    * |items|·neighbors output rows. A deployment refreshes it from the
    * standing edge store ([[edgesFromStore]]), bit-equal to the one-shot
    * build over the concatenated batches.
    *
    * Cache lifetime: the edge frame stays persisted because the RETURNED
    * frame is lazy and reads it on every action — unpersisting here
    * would recompute the aggregation per leg. The CALLER owns the
    * release: `spark.catalog.clearCache()` after the result is
    * materialized (USAGE.md's between-corpora contract; GraphCFSpec pins
    * that the release leaves no orphan cache entry). A long-lived
    * service that skips the release accumulates one MEMORY_AND_DISK
    * entry per call until LRU pressure evicts. */
  def similarItems(edges0: DataFrame, neighbors: Int = 10,
                   scale: Long = 10000L): DataFrame = {
    require(neighbors >= 1, "neighbors must be >= 1")
    val e = edges0.select(col("u"), col("i"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nrm = e.groupBy(col("i")).agg(sum(col("w") * col("w")).as("nrm"))
    val sim =
      try cosineSimQ(coPairs(e, "u", "i"), nrm, scale)
      catch { case t: Throwable => e.unpersist(); throw t }
    Relational.topKPerGroup(sim, Seq(col("s1")),
        Seq(col("q").desc, col("s2")), neighbors, rankName = "rnk")
      .select(col("s1").as("item"), col("s2").as("neighbor"),
        col("q"), col("rnk"))
  }

  /** Quantized cosine similarities from standing co-counts + squared
    * norms — THE one guarded derivation every ItemKNN path shares
    * (direct, store-served, and incremental q172-style refreshes):
    * `q = floor(scale·co/√(n₁·n₂))`, long products exact under the
    * budget, sqrt/division correctly-rounded IEEE — DuckDB replays
    * floor() bit-exactly. Enforces the FULL overflow budget on every
    * caller: scale ∈ [10, 10⁶] (so the `maxNrm·scale` check below cannot
    * itself wrap a long), max(norm²) < 2³¹ (keeps n₁·n₂ < 2⁶²) and
    * max(norm²)·scale < 2⁵³ (keeps the floor() exact) — ONE bounded
    * 1-row driver read off the |items|-row norm frame.
    * `nrm` must be the (i, nrm) squared-norm frame of the SAME edge
    * frame `co` was derived from. Rows with q = 0 are dropped.
    * `broadcastNorms = false` shuffle-joins the norm frame instead —
    * the [[userKnnRecsFromEdges]] path, where norms are USER-sized and a
    * broadcast would not survive a large cohort. */
  def cosineSimQ(co: DataFrame, nrm: DataFrame, scale: Long,
                 broadcastNorms: Boolean = true): DataFrame = {
    require(scale >= 10L, "scale < 10 quantizes similarities to noise")
    require(scale <= 1000000L,
      "scale > 10^6 breaks the exactness budget: max(norm^2) * scale " +
        "must stay < 2^53 and the guard product itself must not overflow")
    val maxNrm = nrm.agg(max(col("nrm"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    cosineSimQPre(co, nrm, scale, maxNrm, broadcastNorms)
  }

  /** [[cosineSimQ]] with the max(norm²) probe value already read — lets a
    * caller that needs its own bounded 1-row read off the norm frame (the
    * ItemKNN mode probe) fold the budget guard's read into it: one
    * driver action instead of two. Same guard, same result. */
  private[ops] def cosineSimQPre(co: DataFrame, nrm: DataFrame, scale: Long,
                                 maxNrm: Long,
                                 broadcastNorms: Boolean): DataFrame = {
    require(scale >= 10L, "scale < 10 quantizes similarities to noise")
    // without this bound, maxNrm just under 2^31 with scale ~ 2^32 wraps
    // maxNrm * scale negative and the budget check silently passes
    require(scale <= 1000000L,
      "scale > 10^6 breaks the exactness budget: max(norm^2) * scale " +
        "must stay < 2^53 and the guard product itself must not overflow")
    if (maxNrm >= (1L << 31) || maxNrm * scale >= (1L << 53)) {
      throw new IllegalArgumentException(
        s"cosineSimQ: max item norm^2 = $maxNrm breaks the exactness " +
          s"budget (need < 2^31 and * scale=$scale < 2^53): n1*n2 would " +
          "overflow a long or floor(co*scale/sqrt(n1*n2)) would leave the " +
          "exact-double range — binarize weights (dedup interactions per " +
          "user-item) or lower scale")
    }
    val n1f = nrm.select(col("i").as("s1"), col("nrm").as("n1"))
    val n2f = nrm.select(col("i").as("s2"), col("nrm").as("n2"))
    co.join(if (broadcastNorms) broadcast(n1f) else n1f, "s1")
      .join(if (broadcastNorms) broadcast(n2f) else n2f, "s2")
      .select(col("s1"), col("s2"),
        floor(col("co") * lit(scale) / sqrt(col("n1") * col("n2")))
          .cast("long").as("q"))
      .filter(col("q") > 0L)
  }

  /** Reciprocal-Rank-Fusion of two or more ranked top-k lists (Cormack,
    * Clarke & Buettcher 2009) — the standard model-ensembling step a
    * production ranker runs over its candidate generators (here: any mix
    * of [[p3alphaRecsFromEdges]] / [[itemKnnRecsFromEdges]] /
    * [[userKnnRecsFromEdges]] / [[popularityRecs]] / [[markovRecs]]
    * frames): each list contributes `1/(rrfK + rank)` per item and the
    * fused list ranks by the summed mass. Rank positions — not model
    * scores — are fused, so models with incomparable score scales (walk
    * mass vs quantized cosine vs raw popularity) combine without
    * normalization, which is RRF's whole point.
    *
    * Exactness: the contribution is quantized ONCE per (list, row) as
    * `10⁶ div (rrfK + rank)` — integer division on longs, replayed
    * bit-exactly by DuckDB's `//` — and the fused score is an order-free
    * long sum, so results are bit-identical under any partitioning.
    * Ties break to the smallest item id. Budget: each contribution is
    * ≤ 10⁶/(rrfK+1) and a (u, i) pair appears at most once per list, so
    * the fused sum is ≤ lists·10⁶ — nowhere near a long.
    *
    * Scale shape: inputs are already-served top-k frames (≤ |users|·k
    * rows each); the fusion is one union + one (u, i)-keyed groupBy +
    * the per-user top-k window — strictly linear, no quadratic leg, no
    * driver-side state. Contract: each input carries one row per
    * (user, item) with a dense 1-based rank (what every recommender in
    * this family emits); a (user, item) pair MAY appear in several
    * lists (that is the fusion) but at most once per list. */
  def rrfFuse(rankedLists: Seq[DataFrame], userCol: String, itemCol: String,
              rankCol: String, k: Int, rrfK: Long = 60L): DataFrame = {
    require(rankedLists.size >= 2, "rrfFuse: need at least two ranked lists")
    require(k >= 1, "k must be >= 1")
    require(rrfK >= 0L, "rrfK must be >= 0")
    val contrib = rankedLists.map(_
      .select(col(userCol).as("u"), col(itemCol).as("i"),
        col(rankCol).cast("long").as("__r"))
      .select(col("u"), col("i"),
        expr(s"1000000L div (${rrfK}L + __r)").as("__rrf")))
    // one u-keyed exchange serves the (u,i) fold and the per-user top-k
    // window below (the edgeFrame layout; a pair appears in ≤ `lists`
    // rows, so raw ≈ folded bytes and the second exchange was pure cost)
    val fused = contrib.reduce(_.unionByName(_))
      .repartition(col("u"))
      .groupBy(col("u"), col("i"))
      .agg(sum(col("__rrf")).as("rrf_q"))
    Relational.topKPerGroup(fused, Seq(col("u")),
        Seq(col("rrf_q").desc, col("i")), k, rankName = "rnk")
      .select(col("u").as(userCol), col("i").as(itemCol),
        col("rrf_q"), col("rnk"))
  }

  /** Capped basket-item rows — the shared head of the Markov next-basket
    * family: aggregate interaction multiplicities per (user, basket,
    * item), keep each basket's top-`maxBasket` items (by multiplicity
    * desc, item asc — the family's exact replayable cut), and index each
    * user's baskets 1..n in time order (`dense_rank` over (time, basket
    * id) — basket ids are unique within a user, so the order is total).
    * `timeCol` must be constant within a basket (an order's date).
    * Output: (u, b, rb, i) — one row per surviving basket item.
    *
    * Scale shape: one groupBy on (u, b, i), two user/basket-keyed
    * windows — all linear; the basket cap is what bounds the transition
    * join downstream (see [[basketTransitions]]). */
  private def basketItems(interactions: DataFrame, userCol: String,
                          basketCol: String, timeCol: String,
                          itemCol: String, maxBasket: Int): DataFrame = {
    require(maxBasket >= 1, "maxBasket must be >= 1")
    // one u-keyed exchange serves the (u,b,t,i) count, the (u,b) cap
    // window AND the per-user dense_rank window (u is a subset of every
    // key) — the plain groupBy paid three exchanges for the same chain
    // (the edgeFrame layout argument; basket rows are near-unique per
    // (u,b,i), so raw ≈ aggregated bytes)
    val bi = interactions
      .select(col(userCol).as("u"), col(basketCol).as("b"),
        col(timeCol).as("t"), col(itemCol).as("i"))
      .repartition(col("u"))
      .groupBy(col("u"), col("b"), col("t"), col("i"))
      .agg(count(lit(1)).as("w"))
    capBy(bi, Seq("u", "b"), "i", maxBasket)
      .withColumn("rb", dense_rank().over(
        Window.partitionBy(col("u")).orderBy(col("t"), col("b")))
      .cast("long"))
      .select(col("u"), col("b"), col("rb"), col("i"))
  }

  /** Global item→item transition counts between CONSECUTIVE baskets —
    * the sufficient statistics of a first-order Markov next-basket model
    * (Rendle, Freudenthaler & Schmidt-Thieme 2010's FMC baseline):
    * cnt(i, j) = #{(u, t) : i ∈ basket_t(u) ∧ j ∈ basket_{t+1}(u)},
    * exact long counts over the capped basket frame.
    *
    * Scale shape: the (u, rb)-keyed join of each basket against its
    * successor fans out Σ_u Σ_t |b_t|·|b_{t+1}| ≤ #baskets·maxBasket²
    * pair rows — LINEAR in baskets once `maxBasket` caps basket width
    * (the family's one quadratic-looking leg, bounded the same way
    * maxHistory bounds the co-walk). Counts are additive, so this is
    * the standing representation a deployment maintains incrementally
    * ([[writeTransitionBatch]] / [[transitionsFromStore]]). */
  def basketTransitions(interactions: DataFrame, userCol: String,
                        basketCol: String, timeCol: String, itemCol: String,
                        maxBasket: Int = Int.MaxValue): DataFrame =
    transitionsFromBasketItems(basketItems(interactions, userCol, basketCol,
      timeCol, itemCol, maxBasket))

  private def transitionsFromBasketItems(bi: DataFrame): DataFrame =
    bi.select(col("u"), col("rb"), col("i").as("prev"))
      .join(bi.select(col("u"), (col("rb") - lit(1L)).as("rb"),
        col("i").as("next")), Seq("u", "rb"))
      .groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-batch partial for the standing transition store: the batch's
    * (prev, next, cnt) transition counts land under `batch=<id>` —
    * batch-id-keyed OVERWRITE, replay-idempotent (the [[writeEdgeBatch]]
    * recipe). CONTRACT: batches must partition the log BY USER (a user's
    * whole history in one batch) — transitions are within-user
    * statistics, so a user split across batches would lose the pairs
    * crossing the cut. Counts are additive across user shards (each
    * user's pairs land in exactly one partial), so the standing frame
    * folds with one groupBy. */
  def writeTransitionBatch(batch: DataFrame, userCol: String,
                           basketCol: String, timeCol: String,
                           itemCol: String, maxBasket: Int,
                           path: String, batchId: Long): Unit =
    basketTransitions(batch, userCol, basketCol, timeCol, itemCol, maxBasket)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** Per-batch partial for the standing transition store fed by a STREAM
    * of (prev, next) pairs ([[graft.streaming.EventStreams.transitionDeltas]]):
    * the batch's pairs land as aggregated (prev, next, cnt) counts under
    * `batch=<id>`, the layout [[transitionsFromStore]] folds. Unlike
    * [[writeTransitionBatch]], micro-batches need not be user-sharded: the
    * stateful pair generator carries each user's last basket across them.
    * Its checkpointed state makes a replayed micro-batch re-emit the SAME
    * pairs, so the batch-id-keyed overwrite is replay-idempotent. */
  def writeTransitionPairBatch(pairs: DataFrame, path: String,
                               batchId: Long): Unit =
    pairs.groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** The standing transition frame folded from the per-batch partials
    * ([[writeTransitionBatch]]): Σ of partial counts per (prev, next) —
    * bit-equal to [[basketTransitions]] over the concatenated batches
    * (long sums are order-free; user-sharded batches make the partials
    * disjoint in the pairs they witness). */
  def transitionsFromStore(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)
      .groupBy(col("prev"), col("next"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Top-`k` Markov next-basket recommendations: score(u, j) =
    * Σ_{i ∈ last basket(u)} cnt(i, j) over the top-`neighbors` truncated
    * transition rows — "users who bought your last basket bought next".
    * Unlike the history recommenders, SEEN items are NOT excluded:
    * repurchase is the point of next-basket prediction (the reference's
    * anti-join contract applies to its discovery models, not here).
    * Ties break to the smallest item id; every sum is exact long
    * arithmetic over counts — bit-replayable, no quantization needed.
    *
    * Scale levers, mirroring the neighborhood family: `maxBasket` bounds
    * the transition fanout (see [[basketTransitions]]); `neighbors`
    * truncates each item's transition row (cnt desc, next-id tie-break —
    * exact cut) before the serving join; above [[broadcastKeys]]
    * distinct `prev` items the truncated matrix is shuffle-joined
    * instead of broadcast (both modes bit-identical — the ItemKNN
    * two-mode contract). The serving leg is |users|·maxBasket·neighbors
    * at most — never users × catalog. */
  def markovRecs(interactions: DataFrame, userCol: String, basketCol: String,
                 timeCol: String, itemCol: String, k: Int,
                 neighbors: Int = 20,
                 maxBasket: Int = Int.MaxValue): DataFrame = {
    val bi = basketItems(interactions, userCol, basketCol, timeCol, itemCol,
        maxBasket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    markovServe(transitionsFromBasketItems(bi), lastBasket(bi), userCol,
      itemCol, k, neighbors)
  }

  /** [[markovRecs]] served off the standing transition store
    * ([[writeTransitionBatch]] / [[transitionsFromStore]]): the model
    * state (transition counts) folds from the per-user-shard partials;
    * only each user's LAST basket is read from the serving-side log —
    * bit-equal to the one-shot build over the concatenated batches. */
  def markovRecsFromStore(spark: org.apache.spark.sql.SparkSession,
                          path: String, interactions: DataFrame,
                          userCol: String, basketCol: String,
                          timeCol: String, itemCol: String, k: Int,
                          neighbors: Int = 20,
                          maxBasket: Int = Int.MaxValue): DataFrame =
    // persist + materialize the serving-side basket frame: lastBasket
    // self-joins it (the frame vs its per-user max), so un-persisted it
    // was built twice — markovRecs already persists its bi for the same
    // reason (round 13; caller-owned release, the family's cache contract)
    markovServe(transitionsFromStore(spark, path),
      lastBasket(materialized(basketItems(interactions, userCol, basketCol,
        timeCol, itemCol, maxBasket))),
      userCol, itemCol, k, neighbors)

  /** Each user's last (highest-index) capped basket: (u, i) rows. */
  private def lastBasket(bi: DataFrame): DataFrame =
    bi.join(bi.groupBy(col("u")).agg(max(col("rb")).as("rb")),
        Seq("u", "rb"))
      .select(col("u"), col("i"))

  private def markovServe(trans: DataFrame, last: DataFrame, userCol: String,
                          itemCol: String, k: Int,
                          neighbors: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(neighbors >= 1, "neighbors must be >= 1")
    // trans is read twice (the truncated-matrix build and the join-mode
    // probe below) — persist so the probe scans the cache instead of
    // re-running the store fold / transition build. Stays persisted for
    // the lazy result plan: the documented cache contract (USAGE.md:
    // clearCache between corpora), same as the ItemKNN edge frame.
    val t = trans.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tt = Relational.topKPerGroup(t, Seq(col("prev")),
        Seq(col("cnt").desc, col("next")), neighbors, rankName = "__rt")
      .drop("__rt")
    // one bounded 1-row read (the cosineSimQ guard pattern) picks the
    // physical join: small catalogs broadcast the truncated matrix, big
    // ones shuffle-join on prev — bit-identical either way; the distinct
    // count runs over the persisted transition frame, not a re-aggregation
    val nPrev = t.select(col("prev")).distinct().count()
    val ttJ = if (nPrev <= broadcastKeys) broadcast(tt) else tt
    val scores = last.select(col("u"), col("i").as("prev"))
      .join(ttJ, "prev")
      .groupBy(col("u"), col("next"))
      .agg(sum(col("cnt")).as("score"))
    Relational.topKPerGroup(scores, Seq(col("u")),
        Seq(col("score").desc, col("next")), k, rankName = "rnk")
      .select(col("u").as(userCol), col("next").as(itemCol),
        col("score"), col("rnk"))
  }

  /** Top-`k` ItemKNN-cosine recommendations per user from an
    * already-aggregated, history-capped (u, i, w) edge frame ([[edges]]
    * over a raw log, [[edgesFromStore]] over the standing edge store) —
    * the OTHER classical neighborhood baseline next to
    * [[p3alphaRecsFromEdges]]: item-item COSINE over the
    * interaction-count vectors (cos(i,j) = Σ_u w_ui·w_uj /
    * √(Σw_ui²·Σw_uj²)) instead of the random-walk mass. Reference
    * analogue: the implicit-feedback scoring loop (implicit_bpr) ranks by
    * a learned dot product; ItemKNN is the model-free production
    * first-pass ranker alongside it.
    *
    * Replayability: co-counts and squared norms are exact long sums; the
    * similarity is quantized ONCE per (i,j) — `floor(scale·co/√(nᵢ·nⱼ))`,
    * a single correctly-rounded IEEE expression identical in DuckDB — and
    * every downstream sum (user scoring) is order-free long arithmetic,
    * so results are bit-identical under any partitioning. Store-served
    * recs are bit-equal to the one-shot build over the concatenated
    * batches — the store just replaces the raw-log aggregation with the
    * partial-count fold.
    *
    * Scale shape: identical to [[p3alphaRecsFromEdges]] and shares its
    * three levers — `maxHistory` (on the edge builder) bounds the
    * Σ_u deg(u)² co-occurrence intermediate, `neighbors` truncates the
    * similarity matrix, and above [[broadcastKeys]] distinct items the
    * scoring join shuffles instead of broadcasting. Overflow guard:
    * co ≤ √(n₁·n₂) ≤ max(norm²), so the operator requires
    * max(norm²) < 2³¹ (keeps n₁·n₂ < 2⁶²) and max(norm²)·scale < 2⁵³
    * (keeps the floor() exact in IEEE doubles) — checked with ONE bounded
    * 1-row driver read off the |items|-row norm frame; corpora past the
    * budget should binarize weights (dedup interactions) or lower scale.
    * Returns (user, item, score, rnk), `score` = Σ w_ui·simQ(i,j) in
    * fixed-point (≈ scale·Σw·cos), ties to the smallest item id. Same
    * cache contract and sharing contract as [[p3alphaRecsFromEdges]]. */
  def itemKnnRecsFromEdges(edges0: DataFrame, userCol: String,
                           itemCol: String, k: Int, scale: Long = 10000L,
                           neighbors: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(neighbors >= 1, "neighbors must be >= 1")
    val e = edges0.select(col("u"), col("i"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // squared norms: tiny (|items| rows) — broadcast into the pair frame
    val nrm = e.groupBy(col("i")).agg(sum(col("w") * col("w")).as("nrm"))
    // ONE bounded 1-row driver read serves both probes: the norm frame
    // has exactly one row per distinct item, so its row count IS nItems
    // (the broadcast-mode switch) and its max is the overflow budget's
    // max(norm²) — previously two separate driver actions (a distinct
    // count + cosineSimQ's own head()). This read also materializes the
    // edge cache, as the distinct count used to.
    val probe = nrm
      .agg(count(lit(1)).as("n"), max(col("nrm")).as("m")).head()
    val nItems = probe.getLong(0)
    val maxNrm = if (probe.isNullAt(1)) 0L else probe.getLong(1)
    // co-occurrence: user-keyed self-join; coPairs builds the s1 < s2
    // half and mirrors it in one pass, so the per-s1 truncation below
    // still sees every row of the symmetric matrix
    val co = coPairs(e, "u", "i")
    // cosineSimQPre enforces the overflow budget on the pre-read max and
    // owns the single quantization point
    val sim =
      try cosineSimQPre(co, nrm, scale, maxNrm, broadcastNorms = true)
      catch { case t: Throwable => e.unpersist(); throw t }
    val ss = Relational.topKPerGroup(sim, Seq(col("s1")),
        Seq(col("q").desc, col("s2")), neighbors)
      .drop("rn")
    // broadcast below the catalog threshold, distributed shuffle join
    // above it — same result either way (GraphCFSpec pins the differential)
    val ssJ = if (nItems <= broadcastKeys) broadcast(ss) else ss
    val scores = e.select(col("u"), col("i").as("s1"), col("w"))
      .join(ssJ, "s1")
      .groupBy(col("u"), col("s2"))
      .agg(sum(col("w") * col("q")).as("score"))
      .filter(col("score") > 0L)
    // e stays persisted (feeds nrm/co/scoring/anti-join legs) — the
    // documented cache contract, same as p3alphaRecsFromEdges
    val unseen = scores.join(
      e.select(col("u"), col("i").as("s2")),
      Seq("u", "s2"), "left_anti")
    Relational.topKPerGroup(unseen, Seq(col("u")),
        Seq(col("score").desc, col("s2")), k, rankName = "rnk")
      .select(col("u").as(userCol), col("s2").as(itemCol),
        col("score"), col("rnk"))
  }
}
