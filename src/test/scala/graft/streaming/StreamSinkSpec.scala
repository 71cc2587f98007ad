package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

class StreamSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(sec: Long) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000)

  test("left-outer interval join emits unmatched lefts with nulls once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val r = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = EventStreams.intervalJoinLeftOuter(
      l.toDF().toDF("user_id", "event_id", "ts"),
      r.toDF().toDF("user_id", "event_id", "ts"),
      maxGapSeconds = 300, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    // user 1 converts; user 2 does not
    l.addData((1L, 10L, ts(0)), (2L, 11L, ts(0)))
    r.addData((1L, 20L, ts(100)))
    q.processAllAvailable()
    // far-future traffic on BOTH sides pushes both watermarks past
    // left_ts + gap, forcing the unmatched left to emit null-padded
    l.addData((9L, 90L, ts(7200)))
    r.addData((9L, 91L, ts(7200)))
    q.processAllAvailable()
    val got = spark.table("ssj_outer")
      .select(col("left_id"), col("right_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q.stop()
    // 10->20 matched; 11 unmatched (null); 90->91 matched (gap 0)
    assert(got == Set((10L, 20L), (11L, -1L), (90L, 91L)))
  }

  test("sessionWindowStats equals the batch session_window and the sessionize rollup") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val rows = Seq(
      (1L, 1L, ts(0), 1.0), (1L, 2L, ts(60), 2.0),     // session A (gap 120s)
      (1L, 3L, ts(600), 4.0),                           // session B
      (2L, 4L, ts(30), 8.0),                            // session C
      (9L, 5L, ts(7200), 0.5))                          // watermark pusher
    val stats = EventStreams.sessionWindowStats(
      in.toDF().toDF("user_id", "event_id", "ts", "value"),
      gap = "2 minutes", watermark = "0 seconds")
    val q = stats.writeStream.format("memory").queryName("sw_stats")
      .outputMode("append").start()
    in.addData(rows.take(2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("sw_stats")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    q.stop()

    // batch twin 1: the same session_window aggregation on the static frame.
    // The watermark-pusher's own session is still OPEN in streaming (the
    // watermark never passes its end), so it stays in state — the batch
    // twins exclude it
    val batch = rows.toDF("user_id", "event_id", "ts", "value")
      .filter(col("user_id") =!= 9L)
    val expected = batch
      .groupBy(col("user_id"), session_window(col("ts"), "2 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sw.start"), col("n_events"), col("sum_value"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got == expected)

    // batch twin 2: gap-sessionize + rollup agrees on (n_events, sum)
    val viaSessionize = graft.ops.Relational.sessionize(
        batch, "user_id", "ts", "event_id", gapSeconds = 120.0)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got == viaSessionize)
  }

  test("sinkPartitionedUpsert recovers from a checkpoint restart without duplicating output") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val dir = Files.createTempDirectory("upsert_ckpt_sink").toString
    val ckpt = Files.createTempDirectory("upsert_ckpt").toString
    def start() = EventStreams.tumblingCounts(
          in.toDF().toDF("event_id", "ts", "event_type", "value"),
          window_ = "1 hour", watermark = "0 seconds")
      .select(col("window.start").as("wstart"), col("event_type"),
        col("cnt"), col("sum_value"))
      .withColumn("part", date_format(col("wstart"), "yyyyMMddHH"))
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Layout.overwritePartitions(b, dir, Seq("part")) }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    in.addData((1L, ts(100), "click", 1.0), (2L, ts(200), "click", 2.0))
    q1.processAllAvailable()
    in.addData((3L, ts(7300), "view", 4.0)) // finalizes hour 0
    q1.processAllAvailable()
    q1.stop() // simulated failure/shutdown after hour 0 was written

    // restart from the checkpoint; more traffic finalizes hour 2
    val q2 = start()
    in.addData((4L, ts(14500), "click", 8.0)) // finalizes hour 2
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(dir)
      .select("part", "event_type", "cnt", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    // hour 0 written exactly once (pre-restart), hour 2 exactly once
    // (post-restart); no duplicated or truncated partitions
    assert(got == Set(
      ("2024010100", "click", 2L, 3.0),
      ("2024010102", "view", 1L, 4.0)))
  }

  test("sinkPartitionedUpsert finalizes windows to partitions and replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val dir = Files.createTempDirectory("upsert_sink").toString
    val finalized = EventStreams.tumblingCounts(
        in.toDF().toDF("event_id", "ts", "event_type", "value"),
        window_ = "1 hour", watermark = "0 seconds")
      .select(col("window.start").as("wstart"), col("event_type"),
        col("cnt"), col("sum_value"))
      .withColumn("part", date_format(col("wstart"), "yyyyMMddHH"))
    val q = finalized.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
      graft.ops.Layout.overwritePartitions(b, dir, Seq("part")) }.start()
    // hour-0 traffic, then hour-2 traffic to finalize hour 0
    in.addData((1L, ts(100), "click", 1.0), (2L, ts(200), "click", 2.0),
      (3L, ts(300), "view", 4.0))
    q.processAllAvailable()
    in.addData((4L, ts(7300), "click", 8.0))
    q.processAllAvailable()
    val firstRead = spark.read.parquet(dir)
      .select("part", "event_type", "cnt", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(firstRead == Set(
      ("2024010100", "click", 2L, 3.0),
      ("2024010100", "view", 1L, 4.0)))

    // replayed delivery of the SAME finalized batch: content unchanged
    graft.ops.Layout.overwritePartitions(
      Seq(("2024010100", "click", 2L, 3.0), ("2024010100", "view", 1L, 4.0))
        .toDF("part", "event_type", "cnt", "sum_value")
        .select(col("event_type"), col("cnt"), col("sum_value"), col("part")),
      dir, Seq("part"))
    val secondRead = spark.read.parquet(dir)
      .select("part", "event_type", "cnt", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    q.stop()
    assert(secondRead == firstRead)
  }

  test("sinkTrainingShards: streamed docs land in batch/shard layout; merged manifest equals the batch exporter's") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Layout, TextOps}
    val in = MemoryStream[(Long, String)]
    val dir = Files.createTempDirectory("shard_sink").toString
    val mdir = Files.createTempDirectory("shard_manifest").toString
    val n = 4
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Layout.writeTrainingShardBatch(b, "doc_id",
          TextOps.wsTokenCount(col("text")), n, dir, mdir, id) }
      .start()
    val batch1 = (0L until 20L).map(i => (i, s"doc $i body words"))
    val batch2 = (20L until 50L).map(i => (i, s"late doc $i arrives"))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    // every doc is present exactly once, in its replayable shard, across
    // batch subdirectories (both batch and shard are discovered partitions)
    val back = spark.read.parquet(dir)
    assert(back.count() == 50L)
    assert(back.select("doc_id").distinct().count() == 50L)
    assert(back.filter(
      col("shard") =!= TextOps.shardAssign(col("doc_id"), n)).count() == 0)
    assert(back.select("batch").distinct().count() == 2L)

    // the folded manifest equals shardManifest over the full corpus — the
    // monoid property (counts add, XORs xor, ranges min/max)
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val expected = Layout.shardManifest(all, "doc_id",
        TextOps.wsTokenCount(col("text")), n)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    val merged = Layout.mergedShardManifest(spark, mdir)
      .select("shard", "n_docs", "n_tokens", "id_checksum", "min_id", "max_id")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(merged == expected)

    // a trainer's one-shard read prunes to that shard's directories
    val oneShard = back.filter(col("shard") === merged.head._1)
    assert(oneShard.count() == merged.head._2)
  }
}
