package graft.streaming

import graft.SparkTestBase
import graft.stats.AbDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Batch-equality contract for the streaming conversion-counter store:
  * micro-batched ingest through [[AbDecision.writeUnitCountBatch]] must
  * yield the SAME standing per-unit totals — and therefore the same A/B
  * decision rows — as the one-shot count over the concatenated events
  * (success counts are additive across batches; zero-success active
  * units keep their rows so every experimental unit survives the fold). */
class ConversionStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed conversion store folds to the one-shot counts and decision") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("conv_store").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("user_id", "event_type").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        AbDecision.writeUnitCountBatch(b, col("user_id"),
          col("event_type") === "purchase", dir, id) }.start()
    // user 10 converts (>= 2 purchases) only on the CROSS-batch total;
    // user 11 stays a zero-success unit through every batch
    in.addData((10L, "purchase"), (11L, "view"), (20L, "view"))
    q.processAllAvailable()
    in.addData((10L, "purchase"), (21L, "purchase"), (21L, "purchase"))
    q.processAllAvailable()
    in.addData((11L, "click"), (20L, "view"))
    q.processAllAvailable()
    q.stop()
    val allRows = Seq(
      (10L, "purchase"), (11L, "view"), (20L, "view"),
      (10L, "purchase"), (21L, "purchase"), (21L, "purchase"),
      (11L, "click"), (20L, "view")).toDF("user_id", "event_type")
    val got = AbDecision.unitCounts(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = allRows.groupBy(col("user_id").as("unit"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.contains((10L, 2L)) && got.contains((11L, 0L)))
    // the decision off the store equals the decision off the one-shot
    def decide(units: org.apache.spark.sql.DataFrame) =
      AbDecision.decideProportions(units,
        when(pmod(col("unit"), lit(2L)) === 0L, lit("A")).otherwise(lit("B")),
        when(col("cnt") >= 2L, 1L).otherwise(0L))
        .collect().map(_.toSeq).toSeq
    assert(decide(AbDecision.unitCounts(spark, dir)) ==
      decide(allRows.groupBy(col("user_id").as("unit"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("cnt"))))
    spark.catalog.clearCache()
  }
}
