package graft.streaming

import graft.SparkTestBase
import graft.ops.GraphCF
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Batch-equality contract for the streaming interaction-edge store:
  * micro-batched ingest through [[GraphCF.writeEdgeBatch]] must
  * yield the SAME standing edge frame and co-counts as the one-shot
  * build over the concatenated interactions — edge counts are additive
  * across batches and the history cut is deterministic, so equality is
  * exact, not approximate. */
class CoStoreStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed edge store folds to the one-shot edges and co-counts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("edge_store").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("user", "item").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphCF.writeEdgeBatch(b, "user", "item", dir, id) }.start()
    // same (user, item) pair split ACROSS batches — the fold must merge
    // the partial counts, and u1's cap-2 membership is decided only by
    // the cross-batch total (c reaches w=3 only after batch 3)
    in.addData((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"))
    q.processAllAvailable()
    in.addData((1L, "c"), (2L, "c"), (1L, "c"))
    q.processAllAvailable()
    in.addData((1L, "c"), (3L, "a"))
    q.processAllAvailable()
    q.stop()
    val allRows = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"),
      (1L, "c"), (2L, "c"), (1L, "c"),
      (1L, "c"), (3L, "a")).toDF("user", "item")
    val gotEdges = GraphCF.edgesFromStore(spark, dir, maxHistory = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val wantEdges = GraphCF.edges(allRows, "user", "item", maxHistory = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(gotEdges == wantEdges)
    // u1 totals: a=2, b=1, c=3 -> cap 2 keeps c(3), a(2) — b evicted by
    // counts that only exist across batches
    assert(gotEdges.contains((1L, "c", 3L)) && gotEdges.contains((1L, "a", 2L)))
    assert(!gotEdges.exists(e => e._1 == 1L && e._2 == "b"))
    val gotCo = GraphCF.coFromEdgeStore(spark, dir, maxHistory = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val wantCo = GraphCF.coCounts(allRows, "user", "item", maxHistory = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotCo == wantCo)
    spark.catalog.clearCache()
  }

  test("a replayed batch overwrites its own partial instead of double-counting") {
    val dir = Files.createTempDirectory("edge_store_replay").toString
    val b = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("user", "item")
    GraphCF.writeEdgeBatch(b, "user", "item", dir, batchId = 0L)
    // failure replay: the SAME batch id lands again
    GraphCF.writeEdgeBatch(b, "user", "item", dir, batchId = 0L)
    val got = GraphCF.edgesFromStore(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 2L), (2L, "b", 1L)))
    spark.catalog.clearCache()
  }
}
