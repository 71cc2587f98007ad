package graft.streaming

import graft.SparkTestBase
import graft.ops._
import graft.stats.AbDecision
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The replay rule of [[EventStreams]], checked writer by writer: a
  * micro-batch delivered twice under the same id (a failure replay)
  * leaves a store that reads back exactly as if it had been delivered
  * once. Every store gets a prior batch 0, then batch 1 once in one root
  * and twice in another; the read-backs are compared as row multisets, so
  * an append that duplicated rows would fail. Frames are tiny and every
  * double is integral, so sums are exact in any merge order. */
class BatchReplaySpec extends SparkTestBase {
  import BatchReplaySpec.Store
  import spark.implicits._

  private def tableOf(root: String): String =
    "rp_" + java.nio.file.Paths.get(root).getFileName.toString
      .replaceAll("[^A-Za-z0-9]", "_")

  private def warehouse(name: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every parquet row under `path`, partition columns included. */
  private def parquetRows(path: String): Seq[String] =
    rows(spark.read.option("basePath", path).parquet(path))

  private def docs(rs: (Long, String)*) = () => rs.toDF("doc_id", "text")
  private def vecs(rs: (Long, Seq[Float])*) = () => rs.toDF("vec_id", "embedding")
  private val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))

  private val stores = Seq(
    Store("Layout.overwritePartitions",
      () => Seq((0L, "click", 2L), (0L, "view", 1L)).toDF("wstart", "event_type", "cnt"),
      () => Seq((1L, "click", 3L)).toDF("wstart", "event_type", "cnt"),
      (root, b, _) => Layout.overwritePartitions(b, root, Seq("wstart")),
      parquetRows),
    Store("Layout.writeTrainingShardBatch",
      docs((1L, "a b c"), (2L, "d e")), docs((3L, "f g h i"), (4L, "j")),
      (root, b, id) => Layout.writeTrainingShardBatch(b, "doc_id",
        TextOps.wsTokenCount(col("text")), 2, s"$root/data", s"$root/manifest", id),
      root => parquetRows(s"$root/data") ++ parquetRows(s"$root/manifest")),
    Store("KeyedStore.writeKeyedBatch",
      () => Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      () => Seq((2L, "c"), (3L, "d")).toDF("id", "name"),
      (root, b, id) => KeyedStore.writeKeyedBatch(b, "id", root, id),
      root => parquetRows(s"$root/log")),
    Store("Projection.writeFitBatch",
      vecs((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f))), vecs((3L, Seq(5f, 6f)), (4L, Seq(7f, 8f))),
      (root, b, id) => Projection.writeFitBatch(b, "embedding", 2, root, id),
      parquetRows),
    Store("Cluster.writeMomentBatch",
      vecs((1L, Seq(1f, 2f)), (2L, Seq(9f, 9f))), vecs((3L, Seq(0f, 1f)), (4L, Seq(11f, 8f))),
      (root, b, id) => Cluster.writeMomentBatch(b, "vec_id", "embedding", cents, 100L, root, id),
      parquetRows),
    Store("Similarity.writeIvfDeltaBatch",
      vecs((1L, Seq(1f, 2f)), (2L, Seq(9f, 9f))), vecs((3L, Seq(0f, 1f)), (4L, Seq(11f, 8f))),
      (root, b, id) => Similarity.writeIvfDeltaBatch(b, "vec_id", "embedding", cents, root, id),
      root => parquetRows(s"$root/rows")),
    Store("GraphCF.writeEdgeBatch",
      () => Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("user", "item"),
      () => Seq((1L, "b"), (2L, "b"), (3L, "a")).toDF("user", "item"),
      (root, b, id) => GraphCF.writeEdgeBatch(b, "user", "item", root, id),
      parquetRows),
    Store("GraphCF.writeRuleStatsBatch",
      () => Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("basket", "item"),
      () => Seq((3L, 10L), (3L, 20L), (3L, 30L)).toDF("basket", "item"),
      (root, b, id) => GraphCF.writeRuleStatsBatch(b, "basket", "item", 3, root, id),
      root => Seq("items", "pairs", "baskets").flatMap(d => parquetRows(s"$root/$d"))),
    Store("GraphCF.writeTransitionPairBatch",
      () => Seq((1L, 2L), (1L, 2L), (2L, 3L)).toDF("prev", "next"),
      () => Seq((1L, 2L), (3L, 1L)).toDF("prev", "next"),
      (root, b, id) => GraphCF.writeTransitionPairBatch(b, root, id),
      parquetRows),
    Store("AbDecision.writeUnitCountBatch",
      () => Seq((10L, "purchase"), (11L, "view")).toDF("user_id", "event_type"),
      () => Seq((10L, "purchase"), (12L, "purchase")).toDF("user_id", "event_type"),
      (root, b, id) => AbDecision.writeUnitCountBatch(b, col("user_id"),
        col("event_type") === "purchase", root, id),
      parquetRows),
    Store("Sketches.writeDistinctSketches",
      () => Seq(("x", 1L), ("x", 2L), ("y", 1L)).toDF("g", "v"),
      () => Seq(("x", 3L), ("y", 1L)).toDF("g", "v"),
      (root, b, id) => Sketches.writeDistinctSketches(b, "g", col("v"), root, id),
      // the sketch bytes may encode insertion order; their estimate is the content
      root => rows(spark.read.option("basePath", root).parquet(root)
        .select(col("g"), col("batch"), hll_sketch_estimate(col("sketch"))))),
    Store("Sketches.writeValueHistograms",
      () => Seq(("x", 1L), ("x", 2L), ("y", 1L)).toDF("g", "v"),
      () => Seq(("x", 3L), ("x", 3L), ("y", 1L)).toDF("g", "v"),
      (root, b, id) => Sketches.writeValueHistograms(b, "g", col("v"), root, id),
      parquetRows),
    Store("Terms.writeBm25DeltaBatch",
      docs((1L, "apple banana"), (2L, "banana cherry")), docs((3L, "apple cherry cherry")),
      (root, b, id) => Terms.writeBm25DeltaBatch(b, "doc_id", "text", root, id),
      root => Seq("post", "docs", "stats").flatMap(d => parquetRows(s"$root/$d"))),
    Store("Terms.tombstoneBm25Docs",
      () => Seq(1L).toDF("doc_id"), () => Seq(1L, 2L).toDF("doc_id"),
      (root, b, id) => { Terms.tombstoneBm25Docs(spark, tableOf(root), b, "doc_id", id); () },
      root => parquetRows(warehouse(s"${tableOf(root)}_tombstones")) ++
        parquetRows(warehouse(s"${tableOf(root)}_stats_tomb")),
      setup = root => Terms.writeBm25Store(
        Seq((1L, "apple banana"), (2L, "banana cherry"), (3L, "cherry"))
          .toDF("doc_id", "text"), "doc_id", "text", tableOf(root), numBuckets = 2),
      teardown = root => Terms.dropBm25Store(spark, tableOf(root))),
    Store("Stores.addTombstones",
      () => Seq(1L).toDF("vec_id"), () => Seq(2L, 1L).toDF("vec_id"),
      (root, b, id) => Stores.addTombstones(b, "vec_id", tableOf(root), id),
      root => parquetRows(warehouse(s"${tableOf(root)}_tombstones")),
      teardown = root => Stores.dropStore(spark, tableOf(root))),
    Store("Dedup.appendDigests",
      docs((10L, "hello world")), docs((11L, "fresh content"), (12L, "hello world")),
      (root, b, _) => Dedup.appendDigests(spark, tableOf(root), b, "doc_id", "text",
        numBuckets = 2),
      root => rows(spark.table(tableOf(root))),
      setup = root => Dedup.writeDigestStore(Seq((1L, "old text")).toDF("doc_id", "text"),
        "doc_id", "text", tableOf(root), numBuckets = 2),
      teardown = root => Stores.dropStore(spark, tableOf(root))),
    Store("EventStreams.processIncrementalLshBatch",
      docs((1L, "the quick brown fox jumps over the lazy dog")),
      docs((2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "an entirely different sentence about other things")),
      (root, b, id) => EventStreams.processIncrementalLshBatch(b, id, "doc_id",
        "text", None, s"$root/delta", s"$root/out"),
      root => parquetRows(s"$root/delta") ++ parquetRows(s"$root/out"))
  )

  for (st <- stores)
    test(s"${st.name}: a batch delivered twice reads back as delivered once") {
      val once = Files.createTempDirectory("replay_once").toString
      val twice = Files.createTempDirectory("replay_twice").toString
      try {
        for (root <- Seq(once, twice)) {
          st.setup(root)
          st.write(root, st.prior(), 0L)
        }
        st.write(once, st.batch(), 1L)
        st.write(twice, st.batch(), 1L)
        st.write(twice, st.batch(), 1L)
        val expected = st.read(once)
        assert(expected.nonEmpty)
        assert(st.read(twice) == expected)
      } finally Seq(once, twice).foreach(st.teardown)
    }
}

object BatchReplaySpec {

  /** A standing store: `write(root, batch, batchId)` lands a batch through
    * the store's writer, `read(root)` reads the whole store back as sorted
    * row strings. `root` is a fresh directory; table-keyed stores name
    * their warehouse table after it (`tableOf`) and drop it in `teardown`. */
  final case class Store(name: String, prior: () => DataFrame,
                         batch: () => DataFrame,
                         write: (String, DataFrame, Long) => Unit,
                         read: String => Seq[String],
                         setup: String => Unit = _ => (),
                         teardown: String => Unit = _ => ())
}
