package graft.streaming

import graft.SparkTestBase
import graft.ops.GraphCF
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Batch-equality contract for the streaming association-rule statistics
  * store: micro-batched ingest through
  * [[GraphCF.writeRuleStatsBatch]] must serve the SAME rules as
  * the one-shot [[GraphCF.liftRules]] over the concatenated
  * interactions — supports, pair counts and basket counts are additive
  * over disjoint baskets and the Apriori prune is global-at-serve, so
  * equality is exact. Feed contract: micro-batches are basket-atomic
  * (a split basket would double-count itself and lose its cross-batch
  * pairs — documented, not detected). */
class RuleStatsStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed rule-stats store folds to the one-shot liftRules") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("rule_stats_stream").toString
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("basket", "item").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        GraphCF.writeRuleStatsBatch(b, "basket", "item", 3, dir, id) }.start()
    // batches are basket-atomic; item 30's support and the (10, 20)
    // pair's count accumulate ACROSS batches, and item 40 is infrequent
    // in every single batch but frequent overall — the global-prune case
    val b1 = Seq((1L, 10L), (1L, 20L), (1L, 40L), (2L, 10L), (2L, 30L))
    val b2 = Seq((3L, 10L), (3L, 20L), (3L, 30L), (4L, 20L), (4L, 40L))
    val b3 = Seq((5L, 10L), (5L, 20L), (5L, 30L), (5L, 30L), (5L, 50L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val all = (b1 ++ b2 ++ b3).toDF("basket", "item")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
    val got = GraphCF.liftRulesFromStore(spark, dir, minSupport = 2L, k = 5)
      .collect().map(key).toSet
    val want = GraphCF.liftRules(all, "basket", "item", minSupport = 2L,
      maxBasket = 3, k = 5).collect().map(key).toSet
    assert(got == want && want.nonEmpty)
    // the cross-batch item 40 (support 2, never 2 within one batch)
    // survives the global prune — a per-batch prune would have lost it
    assert(want.exists(t => t._1 == 40L || t._2 == 40L))
    spark.catalog.clearCache()
  }

  test("a replayed micro-batch overwrites its own partials (no double count)") {
    val dir = Files.createTempDirectory("rule_stats_replay").toString
    val b = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
      .toDF("basket", "item")
    GraphCF.writeRuleStatsBatch(b, "basket", "item", Int.MaxValue, dir, 0L)
    // failure replay: the SAME batch id lands again
    GraphCF.writeRuleStatsBatch(b, "basket", "item", Int.MaxValue, dir, 0L)
    val rules = GraphCF.liftRulesFromStore(spark, dir, minSupport = 2L, k = 5)
      .collect()
    // 2 baskets, both {10, 20}: support 2 each, pair_n 2, lift = 2*2/(2*2)=1
    assert(rules.forall(r => r.getLong(2) == 2L && r.getLong(3) == 2L))
    assert(rules.forall(_.getLong(6) == 1000000L)) // lift_q = 1.0 scaled
    spark.catalog.clearCache()
  }
}
