package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DigestStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox"), (2L, "hello world"), (3L, "hello world"))
    .toDF("doc_id", "text")
  // 10: corpus dup; 11/12: batch-internal dup pair (novel text); 13: novel
  private val batch = Seq(
    (10L, "hello world"), (11L, "fresh content"), (12L, "fresh content"),
    (13L, "entirely new"))
    .toDF("doc_id", "text")

  private def verdicts(table: String) =
    Dedup.dedupAgainstStore(spark, table, batch, "doc_id", "text")
      .select($"doc_id", $"dup_of_corpus", $"keep")
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1).toSeq

  test("probe flags corpus dups, batch-internal dups, and keeps novels once") {
    Stores.dropStore(spark, "tst_digest")
    Dedup.writeDigestStore(corpus, "doc_id", "text", "tst_digest", numBuckets = 4)
    assert(verdicts("tst_digest") == Seq(
      (10L, true, false),   // already in corpus
      (11L, false, true),   // canonical occurrence of the novel text
      (12L, false, false),  // later copy within the batch
      (13L, false, true)))
    // store is distinct-texts-sized: corpus has 2 distinct texts
    assert(spark.table("tst_digest").count() == 2L)
    Stores.dropStore(spark, "tst_digest")
  }

  test("append folds only keeps; replayed append appends nothing") {
    Stores.dropStore(spark, "tst_digest_a")
    Dedup.writeDigestStore(corpus, "doc_id", "text", "tst_digest_a", numBuckets = 4)
    Dedup.appendDigests(spark, "tst_digest_a", batch, "doc_id", "text", numBuckets = 4)
    assert(spark.table("tst_digest_a").count() == 4L) // +fresh, +entirely new
    // re-probe: everything in the batch is now a corpus dup
    assert(verdicts("tst_digest_a").forall { case (_, dup, keep) => dup && !keep })
    // replay the SAME append: keep set is empty against the current store
    Dedup.appendDigests(spark, "tst_digest_a", batch, "doc_id", "text", numBuckets = 4)
    assert(spark.table("tst_digest_a").count() == 4L)
    Stores.dropStore(spark, "tst_digest_a")
  }

  test("probe stays 1:1 against duplicate store rows; compaction repairs size") {
    Stores.dropStore(spark, "tst_digest_d")
    Dedup.writeDigestStore(corpus, "doc_id", "text", "tst_digest_d", numBuckets = 4)
    // simulate a torn replay landing the same digests twice
    corpus.select(md5(col("text").cast("binary")).as("text_hash"),
        col("doc_id").as("first_id"))
      .write.mode("append").bucketBy(4, "text_hash").sortBy("text_hash")
      .format("parquet").saveAsTable("tst_digest_d")
    assert(spark.table("tst_digest_d").count() == 5L) // 2 + 3 raw rows
    // verdicts unchanged — no join fan-out
    assert(verdicts("tst_digest_d") == Seq(
      (10L, true, false), (11L, false, true), (12L, false, false),
      (13L, false, true)))
    Stores.dropStore(spark, "tst_digest_c")
    Dedup.compactDigestStore(spark, "tst_digest_d", "tst_digest_c", numBuckets = 4)
    assert(spark.table("tst_digest_c").count() == 2L)
    assert(verdicts("tst_digest_c") == verdicts("tst_digest_d"))
    Stores.dropStore(spark, "tst_digest_d")
    Stores.dropStore(spark, "tst_digest_c")
  }

  test("streaming digest sink: batches fold novel digests; later batches dedup against earlier") {
    Stores.dropStore(spark, "tst_digest_s")
    Dedup.writeDigestStore(corpus, "doc_id", "text", "tst_digest_s", numBuckets = 4)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.appendDigests(b.sparkSession, "tst_digest_s", b, "doc_id", "text", numBuckets = 4) }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("dg_ckpt").toString)
      .start()
    in.addData(Seq((10L, "hello world"), (11L, "fresh content")))
    q.processAllAvailable()
    // second batch: one repeat of batch 1's novel text, one new
    in.addData(Seq((20L, "fresh content"), (21L, "entirely new")))
    q.processAllAvailable()
    q.stop()
    // 2 corpus + "fresh content" + "entirely new" — the repeat folded nothing
    assert(spark.table("tst_digest_s").count() == 4L)
    val v = Dedup.dedupAgainstStore(spark, "tst_digest_s",
        Seq((30L, "fresh content")).toDF("doc_id", "text"), "doc_id", "text")
      .select($"dup_of_corpus").as[Boolean].collect()
    assert(v.toSeq == Seq(true))
    Stores.dropStore(spark, "tst_digest_s")
  }
}
