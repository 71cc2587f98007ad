package graft.streaming

import graft.SparkTestBase
import graft.ops.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The streaming × dedup composition: continuous LSH near-dup detection in
  * the LSM shape (bucketed base store + replay-idempotent delta log +
  * O(delta) compaction). Verifies all three candidate tiers, replay
  * idempotence before AND after a horizon-bounded compaction, and that
  * compaction moves coverage from delta to base without changing results. */
class IncrementalLshDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val tA = "the quick brown fox jumps over the lazy dog and then some more text"
  private val tB = "completely different content about distributed query engines at scale"
  private val tC = "yet another unrelated document talking about streaming watermarks today"
  private val tD = "a fourth body of text concerning manifest folds and shard layouts"
  private val tE = "fifth standalone passage on bucketed join layouts and probe pruning"

  private def readPairs(dir: String, batch: Long): Set[(Long, Long, Double)] =
    spark.read.parquet(s"$dir/batch=$batch")
      .select("probe_id", "match_id", "est_sim")
      .as[(Long, Long, Double)].collect().toSet

  test("incremental LSH sink flags dups against base store, delta log, and within-batch; compaction preserves replay") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("lsh_out").toString
    val deltaDir = Files.createTempDirectory("lsh_delta").toString
    // backfilled base corpus: docs 1 (tA), 2 (tB)
    Dedup.writeLshSignatureStore(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      "doc_id", "text", "lsh_sb", numBuckets = 4)
    try {
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          EventStreams.processIncrementalLshBatch(b, id, "doc_id", "text",
            Some("lsh_sb"), deltaDir, outDir) }
        .start()
      // batch 0: 10 dups base doc 1; 11 is new content
      val b0 = Seq((10L, tA), (11L, tC))
      // batch 1: 20 dups DELTA doc 11; 21/22 dup each other WITHIN the
      // batch; 23 is unique
      val b1 = Seq((20L, tC), (21L, tD), (22L, tD), (23L, tE))
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      q.stop()

      assert(readPairs(outDir, 0L) == Set((10L, 1L, 1.0)))
      assert(readPairs(outDir, 1L) == Set((20L, 11L, 1.0), (22L, 21L, 1.0)))

      // replay of the latest batch (the only batch a restart re-delivers):
      // bit-identical flags, delta directory rewritten not double-appended
      val expect1 = readPairs(outDir, 1L)
      EventStreams.processIncrementalLshBatch(b1.toDF("doc_id", "text"), 1L,
        "doc_id", "text", Some("lsh_sb"), deltaDir, outDir)
      assert(readPairs(outDir, 1L) == expect1)
      assert(spark.read.option("basePath", deltaDir).parquet(deltaDir)
        .filter(col("batch") === 1L).count() == 4 * 16) // 4 docs x 16 bands

      // horizon-bounded compaction: fold committed batch 0 only
      assert(Dedup.compactLshDelta(spark, "lsh_sb", deltaDir,
        numBuckets = 4, maxBatchExclusive = 1L) == 1)
      val deltaBatches = spark.read.option("basePath", deltaDir)
        .parquet(deltaDir).select("batch").distinct().as[Int].collect().toSet
      assert(deltaBatches == Set(1))

      // replaying batch 1 AFTER compaction: its predecessors moved from
      // delta to base, coverage unchanged -> flags unchanged
      EventStreams.processIncrementalLshBatch(b1.toDF("doc_id", "text"), 1L,
        "doc_id", "text", Some("lsh_sb"), deltaDir, outDir)
      assert(readPairs(outDir, 1L) == expect1)

      // batch 2 probes both tiers post-compaction: 30 dups doc 21 (still in
      // the delta), 31 dups doc 10 (folded into the base) AND base doc 1
      EventStreams.processIncrementalLshBatch(
        Seq((30L, tD), (31L, tA)).toDF("doc_id", "text"), 2L,
        "doc_id", "text", Some("lsh_sb"), deltaDir, outDir)
      val got2 = readPairs(outDir, 2L)
      assert(got2 == Set((30L, 21L, 1.0), (30L, 22L, 1.0),
        (31L, 1L, 1.0), (31L, 10L, 1.0)))

      // full compaction to the committed horizon; a fresh probe through the
      // batch API sees the whole corpus exchange-free from the base store
      assert(Dedup.compactLshDelta(spark, "lsh_sb", deltaDir,
        numBuckets = 4, maxBatchExclusive = 3L) == 2)
      val probed = Dedup.lshProbeStore(spark, "lsh_sb",
          Seq((40L, tE)).toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
      assert(probed == Set((40L, 23L, 1.0)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS lsh_sb")
    }
  }

  test("probe landing mid-compaction (base appended, delta not deleted) stays deduped") {
    // the crash window between compactLshDelta's base append and its delta
    // delete: folded docs are covered by BOTH tiers. A probe batch landing
    // there must still flag each (probe, store) pair exactly once — the
    // first-agg over tiers collapses the double coverage (est_sim is
    // signature-pure, so any copy is the value)
    val outDir = Files.createTempDirectory("lsh_out_mc").toString
    val deltaDir = Files.createTempDirectory("lsh_delta_mc").toString
    Dedup.writeLshSignatureStore(Seq((1L, tA)).toDF("doc_id", "text"),
      "doc_id", "text", "lsh_mc", numBuckets = 4)
    try {
      // committed batch 0: doc 10 dups base doc 1; doc 11 is new content
      EventStreams.processIncrementalLshBatch(
        Seq((10L, tA), (11L, tC)).toDF("doc_id", "text"), 0L,
        "doc_id", "text", Some("lsh_mc"), deltaDir, outDir)
      assert(readPairs(outDir, 0L) == Set((10L, 1L, 1.0)))
      // snapshot the delta, compact, then restore the snapshot — the exact
      // on-disk state of a compaction that crashed after its append
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(deltaDir), conf)
      val b0 = new org.apache.hadoop.fs.Path(deltaDir, "batch=0")
      val saved = new org.apache.hadoop.fs.Path(
        Files.createTempDirectory("lsh_saved_mc").toString, "batch=0")
      org.apache.hadoop.fs.FileUtil.copy(fs, b0, fs, saved, false, conf)
      assert(Dedup.compactLshDelta(spark, "lsh_mc", deltaDir,
        numBuckets = 4, maxBatchExclusive = 1L) == 1)
      org.apache.hadoop.fs.FileUtil.copy(fs, saved, fs, b0, false, conf)
      // docs 10/11 now sit in base AND delta; the mid-compaction probe:
      // doc 20 dups 1 and 10 (both tiers for 10), 21 dups 11 (both tiers)
      EventStreams.processIncrementalLshBatch(
        Seq((20L, tA), (21L, tC)).toDF("doc_id", "text"), 1L,
        "doc_id", "text", Some("lsh_mc"), deltaDir, outDir)
      assert(readPairs(outDir, 1L) ==
        Set((20L, 1L, 1.0), (20L, 10L, 1.0), (21L, 11L, 1.0)))
    } finally spark.sql("DROP TABLE IF EXISTS lsh_mc")
  }

  test("sink works with NO base store: delta log and within-batch tiers only") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("lsh_out_nb").toString
    val deltaDir = Files.createTempDirectory("lsh_delta_nb").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStreams.processIncrementalLshBatch(b, id, "doc_id", "text",
          None, deltaDir, outDir) }
      .start()
    in.addData((1L, tA), (2L, tB)); q.processAllAvailable()
    in.addData((3L, tA)); q.processAllAvailable()
    q.stop()
    assert(readPairs(outDir, 0L).isEmpty)
    assert(readPairs(outDir, 1L) == Set((3L, 1L, 1.0)))
  }
}
