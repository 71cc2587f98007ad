package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StoresSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private val corpus = Seq(
    (100L, vec(1.0, 0.05)), (101L, vec(0.95, 0.1)), (102L, vec(1.05, -0.05)),
    (200L, vec(0.05, 1.0)), (201L, vec(0.1, 0.9)), (202L, vec(-0.02, 1.1)))
    .toDF("vec_id", "embedding")
  private val queries = Seq((1L, vec(0.9, 0.0)), (2L, vec(0.0, 0.8)))
    .toDF("vec_id", "embedding")
  private val centroids = Seq((100L, Seq(1.0, 0.0)), (200L, Seq(0.0, 1.0)))

  private def search(table: String, k: Int = 10) =
    Similarity.ivfSearchFromStore(spark, table, queries, "vec_id", "embedding",
        centroids, nProbe = 2, k = k)
      .select($"query_id", $"cand_id", $"cosine_sim", $"rnk")
      .as[(Long, Long, Double, Long)].collect().toSet

  test("no tombstones: reader plan takes the identity fast path") {
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_none", numBuckets = 2)
    try {
      assert(Stores.tombstoneIds(spark, "st_none").isEmpty)
      assert(Stores.tombstoneCount(spark, "st_none") == 0L)
      // the probe plan must not contain an anti-join when nothing was deleted
      val plan = Similarity.ivfSearchFromStore(spark, "st_none", queries,
        "vec_id", "embedding", centroids, nProbe = 1, k = 3)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("LeftAnti"), plan)
    } finally Stores.dropStore(spark, "st_none")
  }

  test("tombstoned search equals a store rebuilt from the filtered corpus") {
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_del", numBuckets = 2)
    Similarity.writeIvfStore(
      corpus.filter(!col("vec_id").isin(101L, 200L)), "vec_id", "embedding",
      centroids, "st_ref", numBuckets = 2)
    try {
      Stores.addTombstones(Seq(101L).toDF("vec_id"), "vec_id", "st_del", 0L)
      Stores.addTombstones(Seq(200L, 999L).toDF("vec_id"), "vec_id", "st_del", 1L)
      assert(Stores.tombstoneCount(spark, "st_del") == 3L) // unknown id kept, harmless
      assert(search("st_del") == search("st_ref"))
      val served = search("st_del").map(_._2)
      assert(!served.contains(101L) && !served.contains(200L))
    } finally { Stores.dropStore(spark, "st_del"); Stores.dropStore(spark, "st_ref") }
  }

  test("re-running a delete batch is replay-idempotent") {
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_replay", numBuckets = 2)
    try {
      Stores.addTombstones(Seq(101L).toDF("vec_id"), "vec_id", "st_replay", 0L)
      Stores.addTombstones(Seq(101L).toDF("vec_id"), "vec_id", "st_replay", 0L)
      assert(Stores.tombstoneCount(spark, "st_replay") == 1L)
    } finally Stores.dropStore(spark, "st_replay")
  }

  test("compaction drops tombstoned rows, preserves results and bucketing") {
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_c1", numBuckets = 2)
    try {
      Stores.addTombstones(Seq(102L, 201L).toDF("vec_id"), "vec_id", "st_c1", 0L)
      val before = search("st_c1")
      Stores.compactInto(spark, "st_c1", "st_c2", numBuckets = 2)
      // old table + tombstones gone; new table holds only survivors
      assert(!spark.catalog.tableExists("st_c1"))
      assert(Stores.tombstoneIds(spark, "st_c2").isEmpty)
      assert(spark.table("st_c2").count() == 4L)
      assert(search("st_c2") == before)
      // compacted store still bucket-prunes
      val plan = Similarity.ivfSearchFromStore(spark, "st_c2", queries,
        "vec_id", "embedding", centroids, nProbe = 1, k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally { Stores.dropStore(spark, "st_c1"); Stores.dropStore(spark, "st_c2") }
  }

  test("store rewrite clears tombstones recorded against the old version") {
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_rw", numBuckets = 2)
    try {
      Stores.addTombstones(Seq(100L).toDF("vec_id"), "vec_id", "st_rw", 0L)
      assert(Stores.tombstoneCount(spark, "st_rw") == 1L)
      Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
        "st_rw", numBuckets = 2)
      assert(Stores.tombstoneIds(spark, "st_rw").isEmpty)
      assert(search("st_rw").map(_._2).contains(100L))
    } finally Stores.dropStore(spark, "st_rw")
  }

  test("LSH store: tombstoned doc stops suppressing new near-dups; compaction by band_key") {
    import org.apache.spark.sql.functions.col
    val corpus0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then some more text"),
      (2L, "completely different content about distributed query engines at scale"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and then some more text"))
      .toDF("doc_id", "text")
    Dedup.writeLshSignatureStore(corpus0, "doc_id", "text", "st_lsh", numBuckets = 4)
    try {
      def probeIds(table: String) =
        Dedup.lshProbeStore(spark, table, probe, "doc_id", "text")
          .select($"store_id").as[Long].collect().toSet
      assert(probeIds("st_lsh") == Set(1L)) // suppressed while doc 1 lives
      Stores.addTombstones(Seq(1L).toDF("doc_id"), "doc_id", "st_lsh", 0L)
      assert(probeIds("st_lsh") == Set.empty[Long]) // takedown: no longer suppressed
      // pair extraction over the store also excludes the dead doc
      val pairs = Dedup.minHashLshCandidatesFromStore(spark, "st_lsh")
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
      assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L))
      // compaction by the store's band_key bucket column preserves semantics
      Stores.compactInto(spark, "st_lsh", "st_lsh2", numBuckets = 4,
        bucketCol = "band_key")
      assert(probeIds("st_lsh2") == Set.empty[Long])
      assert(spark.table("st_lsh2").filter(col("id") === 1L).count() == 0L)
    } finally { Stores.dropStore(spark, "st_lsh"); Stores.dropStore(spark, "st_lsh2") }
  }

  test("streaming takedown feed lands replay-idempotent tombstone batches") {
    implicit val sqlCtx = spark.sqlContext
    Similarity.writeIvfStore(corpus, "vec_id", "embedding", centroids,
      "st_stream", numBuckets = 2)
    val dir = java.nio.file.Files.createTempDirectory("tomb_ckpt").toString
    try {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = in.toDF().toDF("vec_id").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Stores.addTombstones(b, "vec_id", "st_stream", id) }
        .option("checkpointLocation", dir).start()
      in.addData(101L)
      q.processAllAvailable()
      in.addData(200L, 101L) // re-delete across batches stays one distinct id
      q.processAllAvailable()
      q.stop()
      assert(Stores.tombstoneIds(spark, "st_stream").get
        .as[Long].collect().toSet == Set(101L, 200L))
      assert(!search("st_stream").map(_._2).exists(Set(101L, 200L)))
    } finally Stores.dropStore(spark, "st_stream")
  }

  test("catalog store serving excludes tombstoned items") {
    val items = corpus.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("features"),
      lit(0.0).as("bias"))
    val counts = corpus.select(col("vec_id").as("id"), lit(100L).as("n_ratings"))
    val users = queries.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("features"))
    graft.serve.Recommend.writeCatalogStore(items, counts, centroids,
      "st_cat", numBuckets = 2)
    try {
      Stores.addTombstones(Seq(100L, 202L).toDF("id"), "id", "st_cat", 0L)
      val served = graft.serve.Recommend.recommendFromStore("st_cat",
          users, centroids, nProbe = 2, k = 10)
        .select($"item_id").as[Long].collect().toSet
      assert(served == Set(101L, 102L, 200L, 201L))
    } finally Stores.dropStore(spark, "st_cat")
  }

  test("version manifest: atomic publish, alias resolution, compaction swap") {
    val alias = "st_alias"
    // unpublished alias fails loudly, never silently falls back
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${alias}__versions")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    intercept[IllegalStateException] { Stores.resolve(spark, alias) }
    // publish v1 and read through the alias
    val rows = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 20L, "c"))
      .toDF("id", "cell", "payload")
    Stores.dropStore(spark, "st_gen1"); Stores.dropStore(spark, "st_gen2")
    rows.write.bucketBy(2, "cell").sortBy("cell")
      .format("parquet").saveAsTable("st_gen1")
    assert(Stores.publishVersion(spark, alias, "st_gen1") == 1L)
    assert(Stores.resolve(spark, alias) == "st_gen1")
    assert(spark.table(Stores.resolve(spark, alias)).count() == 3)
    // delete + compact under the alias: the swap publishes BEFORE the old
    // generation drops, so the alias is valid at every instant
    Stores.addTombstones(Seq(2L).toDF("id"), "id", "st_gen1", 0L)
    Stores.compactInto(spark, "st_gen1", "st_gen2", numBuckets = 2,
      publishAlias = Some(alias))
    assert(Stores.resolve(spark, alias) == "st_gen2")
    assert(spark.table(Stores.resolve(spark, alias))
      .select($"id").as[Long].collect().toSet == Set(1L, 3L))
    assert(!spark.catalog.tableExists("st_gen1"))
    // version numbers are monotone; history remains inspectable
    assert(Stores.currentVersion(spark, alias).map(_._1).contains(2L))
    Stores.dropStore(spark, "st_gen2")
    fs.delete(dir, true)
  }

  test("BM25 compaction publishes the new generation under an alias") {
    import graft.ops.Terms
    val docs = Seq(
      (1L, "vector join filter"),
      (2L, "vector apple banana"),
      (3L, "apple banana cherry")).toDF("doc_id", "text")
    val alias = "st_bm25_alias"
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${alias}__versions")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    Terms.dropBm25Store(spark, "st_bm25_g1"); Terms.dropBm25Store(spark, "st_bm25_g2")
    Terms.writeBm25Store(docs, "doc_id", "text", "st_bm25_g1", numBuckets = 4)
    Stores.publishVersion(spark, alias, "st_bm25_g1")
    Terms.tombstoneBm25Docs("st_bm25_g1", Seq(2L).toDF("doc_id"),
      "doc_id", batchId = 0L)
    Terms.compactBm25Store(spark, "st_bm25_g1", "st_bm25_g2",
      numBuckets = 4, publishAlias = Some(alias))
    val current = Stores.resolve(spark, alias)
    assert(current == "st_bm25_g2")
    val got = Terms.bm25SearchFromStore(spark, current, Seq("apple"), k = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(3L))
    Terms.dropBm25Store(spark, "st_bm25_g2")
    fs.delete(dir, true)
  }
}
