package graft.serve

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** ANN-backed catalog serving (the at-scale L9 path): IVF-MIPS store +
  * probe vs the exact cross-score. */
class RecommendSpec extends SparkTestBase {
  import spark.implicits._

  // MovieLens-shaped synthetic factors: 30 users x 400 items, rank 8,
  // seeded Gaussian — item factors cluster enough for k-means cells to
  // carry signal, which is all IVF needs
  private val rank = 8
  private val rng = new scala.util.Random(97L)
  private lazy val users = (0 until 30)
    .map(u => (u, Seq.fill(rank)(rng.nextGaussian()), 0.0))
    .toDF("id", "features", "bias")
  private lazy val items = (0 until 400)
    .map(i => (i, Seq.fill(rank)(rng.nextGaussian()), rng.nextGaussian() * 0.5))
    .toDF("id", "features", "bias")
  private lazy val counts = (0 until 400)
    .map(i => (i, if (i % 10 == 9) 5L else 100L)) // every 10th item below the floor
    .toDF("id", "n_ratings")

  private def recSets(df: org.apache.spark.sql.DataFrame): Map[Int, Set[Int]] =
    df.select("user_id", "item_id").as[(Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("recommendFromStore recall@20 >= 0.8 vs exact at nProbe=4 of 8 cells") {
    val exact = recSets(Recommend.recommend(users, items, counts, k = 20))
    val centroids = graft.ops.Similarity.kmeansCodebook(
      items.select("features"), "features", 8, seed = 7L)
    Recommend.writeCatalogStore(items, counts, centroids, "rec_store", numBuckets = 8)
    try {
      val ann = Recommend.recommendFromStore(spark, "rec_store", users,
        centroids, nProbe = 4, k = 20)
      // bucket pruning: the store scan must read fewer buckets than exist
      // when the probed cell set is a strict subset (not guaranteed for
      // every seed, so assert the scan at nProbe=1 on one user)
      val oneUser = Recommend.recommendFromStore(spark, "rec_store",
        users.filter(col("id") === 0), centroids, nProbe = 1, k = 20)
      val scanLine = oneUser.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("SelectedBucketsCount"))
      assert(scanLine.isDefined, "store scan must bucket-prune")
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanLine.get).get
      assert(m.group(1).toInt < m.group(2).toInt, scanLine.get)
      // recall@20 against the exact cross-score, averaged over users
      val annSets = recSets(ann)
      val recalls = exact.map { case (u, ex) =>
        annSets.getOrElse(u, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.8, s"mean recall@20 = $mean")
      // the floor holds in the ANN path too (store applies it at write)
      assert(!annSets.values.flatten.exists(_ % 10 == 9))
    } finally spark.sql("DROP TABLE IF EXISTS rec_store")
  }

  test("recommendFromStore with nProbe = nCells reproduces the exact top-k") {
    val centroids = graft.ops.Similarity.kmeansCodebook(
      items.select("features"), "features", 8, seed = 7L)
    Recommend.writeCatalogStore(items, counts, centroids, "rec_store_full", numBuckets = 8)
    try {
      val exact = Recommend.recommend(users, items, counts, k = 20)
        .as[(Int, Int, Double, Int)].collect().toSet
      val full = Recommend.recommendFromStore(spark, "rec_store_full", users,
        centroids, nProbe = 8, k = 20)
        .as[(Int, Int, Double, Int)].collect().toSet
      assert(full == exact) // all cells probed = the same scored set
    } finally spark.sql("DROP TABLE IF EXISTS rec_store_full")
  }

  test("recommendAuto switches to the store path above the catalog threshold") {
    // high threshold: exact path, no store table created
    spark.sql("DROP TABLE IF EXISTS rec_auto")
    val small = Recommend.recommendAuto(users, items, counts, k = 5,
      annCatalogThreshold = 100000L, storeTable = Some("rec_auto"))
    assert(small.count() == 30 * 5)
    assert(!spark.catalog.tableExists("rec_auto"))
    // threshold 1: ANN path — builds the store and serves from it.
    // 360 eligible items / targetCellPop 50 = 8 cells; probing all 8
    // reproduces the exact top-k
    try {
      val ann = Recommend.recommendAuto(users, items, counts, k = 5,
        annCatalogThreshold = 1L, annTargetCellPop = 50, annProbe = 8,
        storeTable = Some("rec_auto"))
      assert(spark.catalog.tableExists("rec_auto"))
      val exact = Recommend.recommend(users, items, counts, k = 5)
        .as[(Int, Int, Double, Int)].collect().toSet
      assert(ann.as[(Int, Int, Double, Int)].collect().toSet == exact)
    } finally spark.sql("DROP TABLE IF EXISTS rec_auto")
  }

  private def numBuckets(table: String): Int =
    spark.sql(s"DESCRIBE FORMATTED $table")
      .filter(col("col_name") === "Num Buckets")
      .select("data_type").as[String].head().trim.toInt

  test("recommendAuto sizes the serving codebook to the eligible catalog") {
    // same targetCellPop, two catalog sizes: the store's cell/bucket count
    // must grow with the catalog (k = ceil(n / targetCellPop)), and the
    // recall bound must hold at BOTH sizes with half the cells probed
    val rng2 = new scala.util.Random(131L)
    def catalog(n: Int) = (0 until n)
      .map(i => (i, Seq.fill(rank)(rng2.nextGaussian()), rng2.nextGaussian() * 0.5))
      .toDF("id", "features", "bias")
    def allEligible(n: Int) = (0 until n).map(i => (i, 100L)).toDF("id", "n_ratings")
    def recallVsExact(nItems: Int, table: String): Double = {
      val its = catalog(nItems)
      val cts = allEligible(nItems)
      val cells = (nItems + 49) / 50
      val ann = recSets(Recommend.recommendAuto(users, its, cts, k = 20,
        annCatalogThreshold = 1L, annTargetCellPop = 50,
        annProbe = (cells + 1) / 2, storeTable = Some(table)))
      assert(numBuckets(table) == cells,
        s"expected $cells buckets for $nItems items")
      val exact = recSets(Recommend.recommend(users, its, cts, k = 20))
      val recalls = exact.map { case (u, ex) =>
        ann.getOrElse(u, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      recalls.sum / recalls.size
    }
    try {
      val rSmall = recallVsExact(400, "rec_scale_s")   // 8 cells, probe 4
      val rBig = recallVsExact(1600, "rec_scale_b")    // 32 cells, probe 16
      assert(numBuckets("rec_scale_b") > numBuckets("rec_scale_s"))
      assert(rSmall >= 0.8, s"small-catalog recall@20 = $rSmall")
      assert(rBig >= 0.8, s"big-catalog recall@20 = $rBig")
    } finally {
      spark.sql("DROP TABLE IF EXISTS rec_scale_s")
      spark.sql("DROP TABLE IF EXISTS rec_scale_b")
    }
  }

  test("catalog store append: new eligible items served, floor applied at append") {
    // day-2 refresh: two new items appended under the standing codebook —
    // one servable, one under the popularity floor. Probes at nProbe =
    // nCells must rank the servable newcomer exactly as a full rewrite
    // would, and never surface the under-floor one.
    val rng3 = new scala.util.Random(211L)
    val newItems = Seq(
      (1000, Seq.fill(rank)(rng3.nextGaussian()), 0.3),
      (1001, Seq.fill(rank)(rng3.nextGaussian()), 0.1))
      .toDF("id", "features", "bias")
    val newCounts = Seq((1000, 500L), (1001, 5L)).toDF("id", "n_ratings")
    val centroids = graft.ops.Similarity.kmeansCodebook(
      items.select("features"), "features", 8, seed = 7L)
    Recommend.writeCatalogStore(items, counts, centroids, "rec_store_inc", numBuckets = 8)
    Recommend.writeCatalogStore(items.unionByName(newItems),
      counts.unionByName(newCounts), centroids, "rec_store_rw", numBuckets = 8)
    try {
      Recommend.appendToCatalogStore(newItems, newCounts, centroids,
        "rec_store_inc", numBuckets = 8)
      val inc = Recommend.recommendFromStore(spark, "rec_store_inc", users,
        centroids, nProbe = 8, k = 20).as[(Int, Int, Double, Int)].collect().toSet
      val rw = Recommend.recommendFromStore(spark, "rec_store_rw", users,
        centroids, nProbe = 8, k = 20).as[(Int, Int, Double, Int)].collect().toSet
      assert(inc == rw)
      assert(inc.exists(_._2 == 1000), "servable newcomer must be rankable")
      assert(!inc.exists(_._2 == 1001), "under-floor newcomer must never serve")
    } finally {
      spark.sql("DROP TABLE IF EXISTS rec_store_inc")
      spark.sql("DROP TABLE IF EXISTS rec_store_rw")
    }
  }

  test("streaming serving sink: per-batch store probes equal the batch serve") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val outDir = java.nio.file.Files.createTempDirectory("rec_stream").toString
    val centroids = graft.ops.Similarity.kmeansCodebook(
      items.select("features"), "features", 8, seed = 7L)
    Recommend.writeCatalogStore(items, counts, centroids, "rec_stream_store",
      numBuckets = 8)
    try {
      val in = MemoryStream[(Int, Seq[Double])]
      val q = in.toDF().toDF("id", "features").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Recommend.recommendFromStore(b.sparkSession, "rec_stream_store", b, centroids,
              nProbe = 4, k = 5)
            .write.mode("overwrite").parquet(s"$outDir/batch=$id") }
        .start()
      val batch0 = users.as[(Int, Seq[Double], Double)].collect()
        .map { case (id, f, _) => (id, f) }
      in.addData(batch0.take(10).toSeq: _*); q.processAllAvailable()
      in.addData(batch0.drop(10).toSeq: _*); q.processAllAvailable()
      q.stop()
      def served(dir: String) = spark.read.parquet(dir)
        .as[(Int, Int, Double, Int)].collect().toSet
      def batchServe(us: Seq[(Int, Seq[Double])]) =
        Recommend.recommendFromStore(spark, "rec_stream_store",
            us.toDF("id", "features"), centroids, nProbe = 4, k = 5)
          .as[(Int, Int, Double, Int)].collect().toSet
      assert(served(s"$outDir/batch=0") == batchServe(batch0.take(10).toSeq))
      assert(served(s"$outDir/batch=1") == batchServe(batch0.drop(10).toSeq))
      assert(served(s"$outDir/batch=0").nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS rec_stream_store")
  }

  test("recommendAuto default store name is unique per call (no clobber)") {
    val before = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_serving_catalog_")).toSet
    Recommend.recommendAuto(users, items, counts, k = 5,
      annCatalogThreshold = 1L, annTargetCellPop = 50, annProbe = 8).count()
    Recommend.recommendAuto(users, items, counts, k = 5,
      annCatalogThreshold = 1L, annTargetCellPop = 50, annProbe = 8).count()
    val created = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_serving_catalog_")).toSet -- before
    try assert(created.size == 2, s"two serves must write two stores: $created")
    finally created.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
