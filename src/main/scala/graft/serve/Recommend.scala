package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.AlsBias
import graft.ops.{Relational, Similarity, VectorOps}

/** Serving path: cold-start fold-in + full-catalog scoring + top-N
  * (SURVEY.md L7-L9), batched over ALL users as one pipeline instead of the
  * reference's per-user driver loop (/root/reference/explicit_ratings/ab_test.py:100-199).
  */
object Recommend {

  /** Cold-start fold-in (L7+L8): given rating histories of NEW users, solve
    * bias + trait vector against the frozen item factors. Implemented as one
    * AlsBias half-sweep from a zero factor state — with u=0 the bias update
    * reduces exactly to the reference's  b = λΣ(r−b_n)/(α+λ|hist|)
    * (/root/reference/explicit_ratings/functions.py:522-548) and the trait
    * solve to (λΣvvᵀ+τI)u = λΣ(r−b_n−b)v (functions.py:551-596). */
  def foldInUsers(history: DataFrame, itemFactors: DataFrame,
                  userCol: String, itemCol: String, ratingCol: String,
                  p: AlsBias.Params): DataFrame = {
    val zeroUsers = history.select(col(userCol).as("id")).distinct()
      .withColumn("features",
        transform(sequence(lit(0), lit(p.rank - 1)), _ => lit(0.0)))
      .withColumn("bias", lit(0.0))
    // Q1 is a movie-loop-only quirk: the reference's fold-in always SUMS
    // the bias numerator (functions.py:522-548), so never let a
    // strict-trained model's params leak the overwrite semantics in here
    AlsBias.halfSweep(history, zeroUsers, itemFactors,
      userCol, itemCol, ratingCol, p.copy(strictQ1Bias = false))
  }

  /** Full-catalog scoring + top-N (L9): score(u,n) = u·vₙ + damping·b_n
    * (bias damping 0.05, /root/reference/explicit_ratings/functions.py:627),
    * excluding items with fewer than `popularityFloor` ratings
    * (functions.py:643-645; floor 90 in ab_test.py), top-k per user with
    * deterministic tie-break.
    *
    * Scale shape: the user side is broadcast (queries), so scoring is a
    * narrow map over the catalog; per-user top-k runs as a bounded TopK
    * Aggregator with map-side partial aggregation — the ONLY shuffled data
    * is at most k (score, item) pairs per (user, partition), never the full
    * users × catalog product a row_number window would exchange. */
  def recommend(userFactors: DataFrame, itemFactors: DataFrame,
                itemRatingCounts: DataFrame, k: Int = 20,
                popularityFloor: Long = 90L, biasDamping: Double = 0.05): DataFrame = {
    val scored = broadcast(userFactors.select(col("id").as("user_id"),
        col("features").as("u")))
      .crossJoin(eligibleItems(itemFactors, itemRatingCounts, popularityFloor)
        .select(col("id").as("item_id"), col("features").as("v"),
          col("bias").as("bv")))
      .withColumn("score", VectorOps.dot(col("u"), col("v")) + lit(biasDamping) * col("bv"))
      .select(col("user_id"), col("item_id"), col("score"))
    topKPerUser(scored, k)
  }

  private def eligibleItems(itemFactors: DataFrame, itemRatingCounts: DataFrame,
                            popularityFloor: Long): DataFrame =
    itemFactors.join(itemRatingCounts.filter(col("n_ratings") >= popularityFloor)
      .select(col("id")), Seq("id"), "left_semi")

  /** The shared serving tail: bounded per-user TopK Aggregator over
    * (user_id, item_id, score) — at most k pairs per (user, partition)
    * cross the wire, never the scored product. */
  private def topKPerUser(scored: DataFrame, k: Int): DataFrame = {
    val itemType = scored.schema("item_id").dataType
    val topk = udaf(new graft.ops.Aggregators.TopK(k))
    scored.groupBy(col("user_id"))
      .agg(topk(col("score"), col("item_id").cast("long")).as("recs"))
      .select(col("user_id"), posexplode(col("recs")))
      .select(col("user_id"), col("col._2").cast(itemType).as("item_id"),
        col("col._1").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Serving store: the popularity-eligible catalog, IVF-cell-assigned
    * (nearest codebook centroid by L2 — the k-means assignment) and
    * written bucketed+sorted by cell. Built ONCE per model refresh; every
    * [[recommendFromStore]] call after that bucket-prunes to its probed
    * cells. The popularity floor is applied at write time — the store is
    * the servable catalog by construction. */
  def writeCatalogStore(itemFactors: DataFrame, itemRatingCounts: DataFrame,
                        centroids: Seq[(Long, Seq[Double])], table: String,
                        numBuckets: Int, popularityFloor: Long = 90L): Unit = {
    val spark = itemFactors.sparkSession
    // a previous PROCESS can leave the table's warehouse location behind
    // with no entry in this session's in-memory catalog — overwrite mode
    // cannot reclaim an untracked location (LOCATION_ALREADY_EXISTS), so
    // drop the entry, any stale directory AND any tombstones recorded
    // against the previous store version (safe under the store's
    // single-writer contract)
    graft.ops.Stores.dropStore(spark, table)
    graft.ops.Stores.bucketAligned(
        eligibleItems(itemFactors, itemRatingCounts, popularityFloor)
          .select(col("id"), col("features").as("vec"), col("bias"),
            Similarity.nearestCell(col("features"), centroids).as("cell")),
        numBuckets, "cell")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "cell")
      .sortBy("cell")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental catalog refresh: append NEW servable items to the store
    * under the store's EXISTING codebook — O(new items), no rewrite of the
    * standing catalog (the [[graft.ops.Similarity.appendToIvfStore]]
    * pattern applied to the serving store: same popularity floor at
    * append time, same cell assignment, bucketed files append per cell).
    * A codebook refit requires [[writeCatalogStore]] (rewrite) — appending
    * under a different codebook desynchronizes probe assignment from the
    * standing rows' partitioning. Callers own id-uniqueness across
    * appends. */
  def appendToCatalogStore(itemFactors: DataFrame, itemRatingCounts: DataFrame,
                           centroids: Seq[(Long, Seq[Double])], table: String,
                           numBuckets: Int, popularityFloor: Long = 90L): Unit =
    graft.ops.Stores.bucketAligned(
        eligibleItems(itemFactors, itemRatingCounts, popularityFloor)
          .select(col("id"), col("features").as("vec"), col("bias"),
            Similarity.nearestCell(col("features"), centroids).as("cell")),
        numBuckets, "cell")
      .write.mode("append")
      .bucketBy(numBuckets, "cell")
      .sortBy("cell")
      .format("parquet")
      .saveAsTable(table)

  /** ANN catalog serving (the at-scale L9): each user probes the `nProbe`
    * cells whose centroids have the HIGHEST inner product with their trait
    * vector (IVF-MIPS probe — [[Similarity.cellsByDot]]), candidates in
    * those cells score exactly (u·v + damping·b), bounded TopK per user.
    * The probed cell ids become an IN-list literal so the bucketed store
    * scan reads only matching buckets (`SelectedBucketsCount`, asserted in
    * RecommendSpec) — a serve touches ~nProbe/nCells of the catalog bytes
    * instead of cross-scoring users × catalog. Approximate by nature:
    * recall@k vs the exact cross-score is spec-bound, and grows with
    * `nProbe` (= exact at nProbe = nCells). A stream of refreshed user
    * factors is served per micro-batch the same way, landing each batch's
    * result with a batch-id-keyed overwrite; a micro-batch of U users
    * costs O(U × probed cells), independent of the user universe, and the
    * store stays read-only to the stream. */
  def recommendFromStore(spark: org.apache.spark.sql.SparkSession, table: String,
                         userFactors: DataFrame,
                         centroids: Seq[(Long, Seq[Double])], nProbe: Int,
                         k: Int = 20, biasDamping: Double = 0.05): DataFrame = {
    val probes = userFactors
      .select(col("id").as("user_id"), col("features").as("u"),
        slice(Similarity.cellsByDot(col("features"), centroids), 1, nProbe).as("cells"))
      .select(col("user_id"), col("u"), explode(col("cells.cell")).as("cell"))
    // users are small by recommend's broadcast contract: collecting the
    // probed cell set gives the literal IN-list bucket pruning needs
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    // deleted (tombstoned) catalog items are anti-joined out of the
    // bucket-pruned slice — zero-cost until the first recorded delete
    val scored = graft.ops.Stores.minusTombstones(
        spark.table(table).filter(col("cell").isin(probedCells: _*)),
        table, idName = "id")
      .join(broadcast(probes), Seq("cell"))
      .withColumn("score", VectorOps.dot(col("u"), col("vec")) + lit(biasDamping) * col("bias"))
      .select(col("user_id"), col("id").as("item_id"), col("score"))
    topKPerUser(scored, k)
  }

  /** Auto-switching L9 (mirrors MoviePipeline's exact/DSGD switch): exact
    * cross-score below `annCatalogThreshold` servable items, IVF-MIPS
    * above — fit a codebook on the item factors, build the bucketed store,
    * probe. The default threshold marks where the exact users × catalog
    * product stops being the cheap option.
    *
    * The codebook is CORPUS-SCALED ([[Similarity.autoCodebook]]):
    * k = ⌈n / annTargetCellPop⌉ clamped to `annMaxCells`, fit on at most
    * `annFitSampleRows` hash-sampled vectors — cell population stays
    * ~constant as the catalog grows (a fixed cell count degrades probe
    * selectivity: 64 cells over 100 M items is ~1.5 M items per probe).
    *
    * Store lifecycle: each call writes its own store table — by default a
    * UNIQUE generated name, so concurrent serves on a shared metastore
    * never clobber each other between write and probe. The table outlives
    * the returned (lazy) frame and is the caller's to drop; callers with a
    * standing store should call [[recommendFromStore]] directly instead of
    * re-fitting per serve. Passing `storeTable` explicitly asserts
    * single-writer semantics for that name. */
  def recommendAuto(userFactors: DataFrame, itemFactors: DataFrame,
                    itemRatingCounts: DataFrame, k: Int = 20,
                    popularityFloor: Long = 90L, biasDamping: Double = 0.05,
                    annCatalogThreshold: Long = 200000L,
                    annTargetCellPop: Int = 4096, annMaxCells: Int = 65536,
                    annFitSampleRows: Long = 100000L, annProbe: Int = 8,
                    storeTable: Option[String] = None): DataFrame = {
    val eligible = eligibleItems(itemFactors, itemRatingCounts, popularityFloor)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (eligible.count() < annCatalogThreshold)
        recommend(userFactors, itemFactors, itemRatingCounts, k, popularityFloor, biasDamping)
      else {
        val table = storeTable.getOrElse(
          "graft_serving_catalog_" + java.util.UUID.randomUUID().toString.replace("-", "_"))
        val centroids = Similarity.autoCodebook(eligible, "features",
          annTargetCellPop, annMaxCells, annFitSampleRows)
        writeCatalogStore(itemFactors, itemRatingCounts, centroids, table,
          numBuckets = centroids.size, popularityFloor = popularityFloor)
        // the store is written: the returned frame reads the table only
        recommendFromStore(itemFactors.sparkSession, table, userFactors,
          centroids, annProbe, k, biasDamping)
      }
    } finally eligible.unpersist(blocking = false)
  }
}
