package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end incremental curation: the streaming composition of the
  * gate / exact-store / incremental-LSH / decontamination stages. Verifies
  * per-stage drop labels across three micro-batches (greedy
  * first-seen-wins semantics), the "seen but not kept" near-dup rule, and
  * replay idempotence of the latest batch. */
class CurateStreamSpec extends SparkTestBase {
  import spark.implicits._

  // 20-word English texts so 3-shingle MinHash estimates are stable
  private val tA = "the quick brown fox jumps over the lazy dog and then runs far away into the quiet green forest"
  private val tAnear = "the quick brown fox jumps over the lazy dog and then runs far away into the quiet green meadow"
  private val tAnear2 = "the quick brown fox jumps over the lazy dog and then runs far away into the quiet dark meadow"
  private val tB = "distributed query engines shuffle and broadcast data for the large scale joins that power modern analytics pipelines in production"
  private val tC = "streaming watermarks bound the state that a long running pipeline must keep for late arriving events in practice"
  private val benchSpan = "canonical benchmark sentence used for the evaluation of models"
  private val tContam = s"this document quotes the $benchSpan verbatim and for that reason it must be flagged and dropped"
  private val tShort = "too short here"
  private val tGerman = "der hund und die katze ist nicht mit der maus und das haus und ein baum und eine wiese den tag"

  private val bench = Seq((900L, s"some prefix $benchSpan some suffix words here"))
    .toDF("doc_id", "text")

  private def labels(corpusPath: String, batch: Long): Map[Long, String] =
    spark.read.parquet(s"$corpusPath/batch=$batch")
      .select(col("doc_id"), coalesce(col("drop_stage"), lit("kept")))
      .as[(Long, String)].collect().toMap

  test("streaming curation labels every stage across batches; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stores = CurateStream.Stores(
      Files.createTempDirectory("cur_corpus").toString,
      Files.createTempDirectory("cur_hash").toString,
      Files.createTempDirectory("cur_delta").toString)
    val cfg = CurateStream.Config()

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        CurateStream.processBatch(b, id, "doc_id", "text", bench, cfg, stores) }
      .start()
    // batch 0: kept / quality / lang / within-batch exact dup / contaminated
    in.addData((1L, tA), (2L, tShort), (3L, tGerman), (4L, tA), (5L, tContam))
    q.processAllAvailable()
    // batch 1: exact dup vs hash store / near-dup vs batch-0 delta / kept
    in.addData((10L, tA), (11L, tAnear), (12L, tB))
    q.processAllAvailable()
    // batch 2: near-dup of a doc that was itself DROPPED as near-dup in
    // batch 1 (seen-not-kept rule) / exact dup vs batch-1 hashes / kept
    val b2 = Seq((20L, tAnear2), (21L, tB), (22L, tC))
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    assert(labels(stores.corpusPath, 0L) == Map(
      1L -> "kept", 2L -> "quality", 3L -> "lang", 4L -> "exact_dup",
      5L -> "contaminated"))
    assert(labels(stores.corpusPath, 1L) == Map(
      10L -> "exact_dup", 11L -> "near_dup", 12L -> "kept"))
    assert(labels(stores.corpusPath, 2L) == Map(
      20L -> "near_dup", 21L -> "exact_dup", 22L -> "kept"))

    // funnel over the full labeled corpus: one aggregation
    val f = CurateStream.funnel(
        CurateStream.labeledCorpus(spark, stores.corpusPath))
      .as[(String, Long)].collect().toMap
    assert(f == Map("kept" -> 3L, "quality" -> 1L, "lang" -> 1L,
      "exact_dup" -> 3L, "near_dup" -> 2L, "contaminated" -> 1L))

    // replay of the LATEST batch (what a restart re-delivers): store reads
    // exclude batch >= 2, so the rerun sees the same state and rewrites
    // identical labels and store content
    val before = labels(stores.corpusPath, 2L)
    val deltaBefore = spark.read
      .option("basePath", stores.deltaPath).parquet(stores.deltaPath)
      .filter(col("batch") === 2L).count()
    CurateStream.processBatch(b2.toDF("doc_id", "text"), 2L,
      "doc_id", "text", bench, cfg, stores)
    assert(labels(stores.corpusPath, 2L) == before)
    val deltaAfter = spark.read
      .option("basePath", stores.deltaPath).parquet(stores.deltaPath)
      .filter(col("batch") === 2L).count()
    assert(deltaAfter == deltaBefore) // rewritten, not double-appended
  }

  test("fuzzy decontamination leg catches paraphrased leakage exact n-grams miss") {
    // bench text paraphrased every 8th word: no shared 8-gram (exact leg
    // blind), MinHash est_sim 0.578 (probed deterministic value)
    val benchLong = Seq((900L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two"))
      .toDF("doc_id", "text")
    val paraphrase = "alpha bravo charlie delta echo foxtrot golf hotelx india juliet kilo lima mike november oscar papax quebec romeo sierra tango uniform victor whiskey xrayx yankee zulu one two"
    val batch = Seq((1L, paraphrase), (2L, tB)).toDF("doc_id", "text")
    def runWith(cfg: CurateStream.Config): Map[Long, String] = {
      val stores = CurateStream.Stores(
        Files.createTempDirectory("cur_fz_corpus").toString,
        Files.createTempDirectory("cur_fz_hash").toString,
        Files.createTempDirectory("cur_fz_delta").toString)
      CurateStream.processBatch(batch, 0L, "doc_id", "text", benchLong, cfg, stores)
      labels(stores.corpusPath, 0L)
    }
    // exact-only config keeps the paraphrase (documented miss)
    assert(runWith(CurateStream.Config()) == Map(1L -> "kept", 2L -> "kept"))
    // fuzzy leg on: the paraphrase is contaminated, the clean doc unaffected
    assert(runWith(CurateStream.Config(fuzzyThreshold = Some(0.5))) ==
      Map(1L -> "contaminated", 2L -> "kept"))
  }
}
