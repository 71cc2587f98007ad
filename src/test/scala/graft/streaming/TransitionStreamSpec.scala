package graft.streaming

import graft.SparkTestBase
import graft.ops.GraphCF
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Batch-equality contract for the streaming Markov transition store:
  * stateful pair generation ([[EventStreams.transitionDeltas]]) through
  * the per-batch writer ([[GraphCF.writeTransitionPairBatch]]) must fold
  * to the SAME transition counts as the one-shot
  * [[graft.ops.GraphCF.basketTransitions]] over the concatenated log —
  * including transitions whose two baskets arrive in DIFFERENT
  * micro-batches, the case the state exists for (a stateless
  * time-sharded sink would lose them). */
class TransitionStreamSpec extends SparkTestBase {
  import spark.implicits._

  // (user, basket, tsMillis, item) — the GraphCFSpec markov fixture with
  // epoch-millis timestamps: u1 t1 b9{a=1,b=2}, t2 b5{b,c}, t3 b2{a};
  // u2 t1 b4{a}, t2 b7{c}  (items as longs: a=1, b=2, c=3)
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("user"), col("bsk"),
      timestamp_millis(col("ts_ms")).as("ts"), col("item"))

  private def rows(data: Seq[(Long, Long, Long, Long)]): org.apache.spark.sql.DataFrame =
    rows(data.toDF("user", "bsk", "ts_ms", "item"))

  private val log = Seq(
    (1L, 9L, 1000L, 1L), (1L, 9L, 1000L, 2L),
    (1L, 5L, 2000L, 2L), (1L, 5L, 2000L, 3L),
    (1L, 2L, 3000L, 1L),
    (2L, 4L, 1000L, 1L),
    (2L, 7L, 2000L, 3L))

  test("streamed transition store folds to the one-shot build across micro-batch cuts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("trans_store").toString
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = EventStreams.transitionDeltas(
        rows(in.toDF().toDF("user", "bsk", "ts_ms", "item")),
        "user", "bsk", "ts", "item", maxBasket = 8).toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphCF.writeTransitionPairBatch(b, dir, id) }.start()
    // CUT BETWEEN BASKETS: u1's basket 5 arrives a micro-batch after
    // basket 9, and basket 2 another batch later — every u1 transition
    // crosses a micro-batch boundary and exists only because the state
    // carried the previous basket over
    in.addData((1L, 9L, 1000L, 1L), (1L, 9L, 1000L, 2L), (2L, 4L, 1000L, 1L))
    q.processAllAvailable()
    in.addData((1L, 5L, 2000L, 2L), (1L, 5L, 2000L, 3L), (2L, 7L, 2000L, 3L))
    q.processAllAvailable()
    in.addData((1L, 2L, 3000L, 1L))
    q.processAllAvailable()
    q.stop()
    val got = GraphCF.transitionsFromStore(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val want = GraphCF.basketTransitions(rows(log), "user", "bsk", "ts",
        "item")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // the cross-batch pairs specifically: 9→5 and 5→2 both straddle cuts
    assert(got.contains((2L, 1L, 1L))) // b→a from u1's basket 5→2
    spark.catalog.clearCache()
  }

  test("streamed basket cap matches the batch cut; served recs are bit-equal") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("trans_store_cap").toString
    // basket {a,a,b} capped at 1 keeps a (multiplicity 2 beats b's 1):
    // the b→c transition must not exist in the streamed store either
    val capLog = Seq(
      (1L, 1L, 1000L, 1L), (1L, 1L, 1000L, 1L), (1L, 1L, 1000L, 2L),
      (1L, 2L, 2000L, 3L))
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = EventStreams.transitionDeltas(
        rows(in.toDF().toDF("user", "bsk", "ts_ms", "item")),
        "user", "bsk", "ts", "item", maxBasket = 1).toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphCF.writeTransitionPairBatch(b, dir, id) }.start()
    in.addData(capLog.take(3): _*)
    q.processAllAvailable()
    in.addData(capLog.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val got = GraphCF.transitionsFromStore(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L))) // a→c only; b evicted by the cap
    // serving off the streamed store == the direct capped build
    val served = GraphCF.markovRecsFromStore(spark, dir, rows(capLog),
        "user", "bsk", "ts", "item", k = 3, maxBasket = 1)
      .collect().map(_.toSeq).toSet
    val direct = GraphCF.markovRecs(rows(capLog), "user", "bsk", "ts",
        "item", k = 3, maxBasket = 1)
      .collect().map(_.toSeq).toSet
    assert(served == direct)
    spark.catalog.clearCache()
  }

  test("late and duplicate baskets across micro-batches are dropped, never reversed") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("trans_store_late").toString
    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = EventStreams.transitionDeltas(
        rows(in.toDF().toDF("user", "bsk", "ts_ms", "item")),
        "user", "bsk", "ts", "item", maxBasket = 8).toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphCF.writeTransitionPairBatch(b, dir, id) }.start()
    // batch 1: basket 9 at t=2000 {a, b}
    in.addData((1L, 9L, 2000L, 1L), (1L, 9L, 2000L, 2L))
    q.processAllAvailable()
    // batch 2: basket 5 arrives LATE (t=1000 < state's 2000, inside the
    // 2h watermark) plus a replayed duplicate of basket 9 — the old code
    // would emit REVERSED pairs (a→c, b→c) and clobber state with the
    // stale basket; both must be dropped with state intact
    in.addData((1L, 5L, 1000L, 3L), (1L, 9L, 2000L, 1L), (1L, 9L, 2000L, 2L))
    q.processAllAvailable()
    // batch 3: basket 2 at t=3000 {a} — pairs against basket 9, NOT 5
    in.addData((1L, 2L, 3000L, 1L))
    q.processAllAvailable()
    q.stop()
    val got = GraphCF.transitionsFromStore(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (2L, 1L, 1L)))
    spark.catalog.clearCache()
  }
}
