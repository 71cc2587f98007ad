package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, TextOps}

/** End-to-end INCREMENTAL corpus curation — the streaming twin of
  * [[graft.ops.CorpusPipeline.curate]], composed from the same operator
  * family but restructured for an append-only document feed: each
  * micro-batch pays work proportional to ITS OWN size plus bounded probes
  * of persistent stores, and the corpus already curated is never re-read
  * or re-written. This is the production shape at 100 TB: the one-shot
  * batch pipeline curates the backfill, this stream curates everything that
  * arrives after.
  *
  * Per micro-batch, in order (first dropping stage claims the doc — the
  * batch pipeline's `drop_stage` label contract):
  *
  *  1. quality + language gate: one stateless kernel pass
  *     ([[graft.functions.TextKernels.langQualityStats]]), no state, no
  *     shuffle — scan-throughput, like [[EventStreams.gateByNbModel]].
  *  2. exact dedup: md5 text hash; within-batch the min-id doc of each
  *     hash group survives, and any hash present in the HASH STORE
  *     (`hashPath/batch=B` directories of gate-surviving hashes from
  *     prior batches) drops. The store read is hash-cardinality columns
  *     of prior batches — never corpus text.
  *  3. near-dup vs everything previously SEEN: the incremental-LSH tiers
  *     of [[EventStreams.processIncrementalLshBatch]] — optional bucketed
  *     base store (exchange-free probe), delta log of prior batches,
  *     within-batch self-probe (earlier id wins) — dropping docs whose
  *     best band-estimated similarity reaches `minEstSim`. Probing is
  *     batch × bucket-bounded; corpus text is never touched.
  *  4. decontamination: the broadcast benchmark shingle-hash set
  *     ([[Dedup.decontaminate]]), plus — when `fuzzyThreshold` is set —
  *     the MinHash near-duplicate check ([[Dedup.fuzzyDecontaminate]])
  *     that catches paraphrased leakage exact n-grams miss. Both legs
  *     are stateless per batch (bench side broadcasts in each).
  *
  * Cross-batch dedup semantics are GREEDY FIRST-SEEN-WINS (a doc drops if
  * it duplicates anything seen by an earlier batch or an earlier id in
  * its own batch), which is the semantics an append-only feed can have
  * without revisiting history; the batch pipeline's
  * connected-component-representative rule needs the whole graph at once.
  * Near-dup "seen" = docs that reached stage 3 (passed gates + exact),
  * whether or not stage 3 then dropped them — the CCNet convention, and
  * the same rule [[EventStreams.processIncrementalLshBatch]] applies.
  *
  * Everything written is per-batch directories written with OVERWRITE, and
  * every store read filters `batch < batchId`, so a failure-replayed
  * micro-batch (always the latest) recomputes from exactly the state its
  * first attempt saw and rewrites byte-identical content — exactly-once
  * output from at-least-once execution (the replay rule stated on
  * [[EventStreams]]). */
object CurateStream {

  final case class Config(
      minWords: Int = 5,
      maxWords: Int = 100000,
      maxPunctRatio: Double = 0.3,
      allowedLangs: Seq[String] = Seq("en"),
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 200,
      minEstSim: Double = 0.5,
      decontamN: Int = 8,
      minOverlap: Int = 1,
      // Some(t): ALSO drop docs whose MinHash est_sim vs any bench doc
      // reaches t (fuzzy leg, paraphrased leakage). None = exact only —
      // bit-identical to the pre-option pipeline.
      fuzzyThreshold: Option[Double] = None)

  /** Paths of the three persistent stores the stream maintains.
    * `corpusPath/batch=B`: labeled batch output (all input docs +
    * `drop_stage`, null = curated). `hashPath/batch=B`: md5 hashes of
    * gate survivors. `deltaPath/batch=B`: LSH signatures of exact
    * survivors ([[Dedup.compactLshDelta]]-compatible — fold into
    * `baseTable` on the same horizon rule). */
  final case class Stores(corpusPath: String, hashPath: String,
                          deltaPath: String, baseTable: Option[String] = None)

  private def hasBatchDirs(spark: org.apache.spark.sql.SparkSession,
                           path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
  }

  /** Curate ONE batch against the stores' state from batches < `batchId`,
    * label every input doc with its `drop_stage`, and advance the stores.
    * Deterministic given prior-batch store state — a replay rewrites
    * identical content. Callable directly on a batch frame, or as a
    * stream's writer: `docs.writeStream.foreachBatch { (b: DataFrame,
    * id: Long) => processBatch(b, id, …) }`. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, bench: DataFrame, cfg: Config,
                   stores: Stores): Unit = {
    val spark = batch.sparkSession
    val text = col(textCol)

    // -- stage 1: stateless quality + language gate (one kernel pass)
    val stats = graft.functions.TextFunctions.lang_quality_stats(text)
    val words = col("__s").getField("n_ws_tokens")
    val qualityOk = words >= cfg.minWords && words <= cfg.maxWords &&
      col("__s").getField("n_nonalnum").cast("double") /
        col("__s").getField("n_chars").cast("double") < cfg.maxPunctRatio
    val langGuess = TextOps.langId(
      TextOps.LangMarkers.map { case (l, _) => l -> col("__s").getField(l) })
    // feeds the exact stage, the label join and the hash-store write
    val flagged = batch
      .withColumn("__s", stats)
      .withColumn("__quality_ok", coalesce(qualityOk, lit(false)))
      .withColumn("__lang_ok",
        coalesce(langGuess.isin(cfg.allowedLangs: _*), lit(false)))
      .drop("__s")
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val gated = flagged.filter(col("__quality_ok") && col("__lang_ok"))

      // -- stage 2: exact dedup (within batch: min id per hash wins;
      // vs store: any prior-batch hash drops)
      val hashed = gated.select(col(idCol),
          md5(text.cast("binary")).as("__h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val withinOk = hashed
        .withColumn("__keep_id",
          min(col(idCol)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
        .filter(col(idCol) === col("__keep_id"))
        .select(col(idCol), col("__h"))
      val exactKeptIds = (if (hasBatchDirs(spark, stores.hashPath)) {
        val seen = spark.read.option("basePath", stores.hashPath)
          .parquet(stores.hashPath)
          .filter(col("batch") < batchId).select(col("__h"))
        withinOk.join(seen, Seq("__h"), "left_anti")
      } else withinOk).select(col(idCol))
      val exactKept = gated.join(exactKeptIds, Seq(idCol))

      // -- stage 3: near-dup vs base store + delta log + within batch
      val banded = Dedup.lshProbeBands(exactKept, idCol, textCol,
          cfg.shingleLen, cfg.numHashes, cfg.bands)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val asStore = banded.select(col("probe_id").as("id"),
          col("probe_sig").as("sig"), col("band_key"))
        val base = stores.baseTable.filter(spark.catalog.tableExists)
          .map(t => Dedup.lshProbeFrames(
            // taken-down corpus docs (Stores tombstones) must not suppress
            // new near-dups of themselves
            graft.ops.Stores.minusTombstones(spark.table(t), t, "id"),
            banded, cfg.maxBucketSize))
        val delta =
          if (hasBatchDirs(spark, stores.deltaPath))
            Some(Dedup.lshProbeFrames(
              spark.read.option("basePath", stores.deltaPath)
                .parquet(stores.deltaPath)
                .filter(col("batch") < batchId)
                .select(col("id"), col("sig"), col("band_key")),
              banded, cfg.maxBucketSize))
          else None
        val within = Dedup.lshProbeFrames(asStore, banded, cfg.maxBucketSize)
          .filter(col("probe_id") > col("store_id"))
        val nearDropIds = (Seq(within) ++ base ++ delta)
          .reduce(_ unionByName _)
          .filter(col("est_sim") >= cfg.minEstSim)
          .select(col("probe_id").as(idCol)).distinct()
        val nearKept = exactKept.join(nearDropIds, Seq(idCol), "left_anti")

        // -- stage 4: decontamination (broadcast bench shingle set), with
        // the optional MinHash fuzzy leg unioned in on the same id column
        val exactContam = Dedup.decontaminate(nearKept, bench, idCol, textCol,
            cfg.decontamN, cfg.minOverlap)
          .select(col("doc_id").as(idCol))
        val contamIds = cfg.fuzzyThreshold match {
          case None => exactContam
          case Some(t) =>
            exactContam.unionByName(
                Dedup.fuzzyDecontaminate(nearKept, bench, idCol, textCol,
                    cfg.shingleLen, cfg.numHashes, cfg.bands, t)
                  .select(col("doc_id").as(idCol)))
              .distinct()
        }

        // -- label + write (all per-batch overwrite => replay-idempotent)
        val labeled = flagged
          .join(exactKeptIds.withColumn("__exact_ok", lit(true)), Seq(idCol), "left")
          .join(nearDropIds.withColumn("__near_dup", lit(true)), Seq(idCol), "left")
          .join(contamIds.withColumn("__contaminated", lit(true)), Seq(idCol), "left")
          .withColumn("drop_stage",
            when(not(col("__quality_ok")), "quality")
              .when(not(col("__lang_ok")), "lang")
              .when(col("__exact_ok").isNull, "exact_dup")
              .when(col("__near_dup"), "near_dup")
              .when(col("__contaminated"), "contaminated"))
          .drop("__quality_ok", "__lang_ok", "__exact_ok", "__near_dup",
            "__contaminated")
        labeled.write.mode("overwrite")
          .parquet(s"${stores.corpusPath}/batch=$batchId")
        withinOk.select(col("__h")).distinct().write.mode("overwrite")
          .parquet(s"${stores.hashPath}/batch=$batchId")
        asStore.write.mode("overwrite")
          .parquet(s"${stores.deltaPath}/batch=$batchId")
      } finally banded.unpersist()
      hashed.unpersist()
    } finally flagged.unpersist()
  }

  /** The labeled per-batch output as one frame (batch column included),
    * and the funnel: one aggregation over labels, never a re-curate. */
  def labeledCorpus(spark: org.apache.spark.sql.SparkSession,
                    corpusPath: String): DataFrame =
    spark.read.option("basePath", corpusPath).parquet(corpusPath)

  def funnel(labeled: DataFrame): DataFrame =
    labeled.groupBy(coalesce(col("drop_stage"), lit("kept")).as("stage"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("stage"))
}
