package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed
  * shuffle-conscious for the 100-TB design point:
  *
  *  - exact dedup: one hash-aggregate shuffle on a 16-byte digest (never on
  *    the full text);
  *  - MinHash + LSH: signatures are a narrow map; the only shuffle is the
  *    band-bucket exchange whose keys are 8-byte hashes; candidate pairs are
  *    verified locally per bucket;
  *  - SimHash: a shuffle-free narrow map (single-pass kernel);
  *  - n-gram Jaccard: blocked self-join (equi-join on cheap block keys) so the
  *    quadratic comparison only happens inside small blocks.
  *
  * Per-doc sketches (shingle sets, MinHash signatures, SimHash) are computed
  * by the single-pass codegen kernels in [[graft.functions.TextKernels]] —
  * shuffle-free narrow maps. All deterministic: the hash family is the
  * SQL-expressible polynomial one (TextKernels doc) — stable across runs,
  * partitionings, and cluster sizes, and replayable by the DuckDB oracle.
  */
object Dedup {

  /** Exact duplicate groups: key = md5(text). Returns one row per distinct
    * text with the representative (min id) and multiplicity. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------- standing digest store

  /** Standing EXACT-dedup digest store — the incremental production shape
    * [[exactDupGroups]] lacks: the corpus's distinct text digests persist
    * once, bucketed by hash, and each new crawl batch dedups against the
    * whole history by probing the store — the corpus is never rescanned.
    * One (text_hash, first_id) row per distinct text; 16-byte keys, so the
    * store is distinct-texts-sized, not corpus-sized.
    *
    * Deletion semantics, decided and documented: a taken-down document's
    * digest STAYS in the store — content removed for compliance must keep
    * suppressing (flagging) identical re-uploads; the digest is a
    * fingerprint, not the content. (Contrast the ANN/BM25 stores, where
    * deletion must remove the item from RESULTS — here the store's output
    * is a keep/duplicate verdict, and "this content was already seen" stays
    * true after a takedown.) */
  def writeDigestStore(df: DataFrame, idCol: String, textCol: String,
                       table: String, numBuckets: Int = 32): Unit =
    Stores.bucketAligned(exactDupGroups(df, idCol, textCol)
        .select(col("text_hash"), col("keep_id").as("first_id")),
        numBuckets, "text_hash")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "text_hash")
      .sortBy("text_hash")
      .format("parquet")
      .saveAsTable(table)

  /** Dedup a new batch against the standing store: every batch row
    * annotated with `dup_of_corpus` (digest already in the store) and
    * `keep` (not in the corpus AND the batch's canonical — lowest-id —
    * occurrence of its text). The batch pays one hash shuffle of itself;
    * the store side reads its bucketed layout exchange-free and the probe
    * join is batch-sized. */
  def dedupAgainstStore(spark: SparkSession, table: String, batch: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val b = batch.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol).cast("binary")).as("text_hash"))
    // distinct per hash so a replay-duplicated append can never fan the
    // probe join out; the aggregation rides the store's bucketed layout
    // exchange-free (grouping key == bucket key)
    val store = spark.table(table).select(col("text_hash").as("h"))
      .groupBy(col("h")).agg(first(col("h")).as("__dup")).select(col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text_hash")).orderBy(col("doc_id"))
    b.join(store, b("text_hash") === store("h"), "left")
      .select(col("doc_id"), col("text_hash"),
        col("h").isNotNull.as("dup_of_corpus"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("text_hash"), col("dup_of_corpus"),
        (!col("dup_of_corpus") && col("rn") === 1).as("keep"))
  }

  /** Fold a batch's kept (novel) digests into the store. Replay-idempotent
    * BY DERIVATION, not by marker: the append re-computes the keep set
    * against the CURRENT store, so a failure-replayed batch finds its own
    * hashes already present (keep = false end to end) and appends nothing.
    * Even a torn half-append only strengthens membership (the store is
    * read as a set — [[dedupAgainstStore]] distincts it before probing);
    * `compactDigestStore` is the size repair if duplicate rows ever
    * accumulate. `numBuckets` must match the store's write (Spark rejects
    * a mismatched bucket spec). */
  def appendDigests(table: String, batch: DataFrame,
                    idCol: String, textCol: String,
                    numBuckets: Int = 32): Unit = {
    val verdicts = dedupAgainstStore(batch.sparkSession, table, batch, idCol, textCol)
    Stores.bucketAligned(verdicts.filter(col("keep"))
        .select(col("text_hash"), col("doc_id").as("first_id")),
        numBuckets, "text_hash")
      .write.mode("append")
      .bucketBy(numBuckets, "text_hash")
      .sortBy("text_hash")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Version-swap rewrite collapsing any replay-duplicated digest rows
    * back to one row per hash (min first_id). */
  def compactDigestStore(spark: SparkSession, table: String, into: String,
                         numBuckets: Int = 32): Unit =
    Stores.bucketAligned(spark.table(table)
        .groupBy(col("text_hash")).agg(min(col("first_id")).as("first_id")),
        numBuckets, "text_hash")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "text_hash")
      .sortBy("text_hash")
      .format("parquet")
      .saveAsTable(into)

  /** Word shingles of length n over normalized text, as an ARRAY column.
    *
    * WARNING — interpreted-eval trap: the transform lambda re-evaluates the
    * `toks` subtree (regex normalize + split) once PER SHINGLE, not per doc
    * (higher-order functions are CodegenFallback with no common-subexpression
    * elimination). Fine for small frames/tests; hot pipelines use the
    * [[graft.functions.ShingleHashSet]] kernel (this and [[shingleRows]]
    * remain as the composable built-in formulations the specs cross-check
    * the kernels against). */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.wsTokens(TextOps.normalizeText(text))
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Word shingles of length n as ROWS (id, passthrough..., shingle) — the
    * scalable formulation: posexplode evaluates the tokenizer once per doc,
    * shingle assembly is a codegen'd window of `lead`s over (id, pos), and
    * the only shuffle is the fixed-N repartition on the doc id (which the
    * window then reuses). NOT de-duplicated per doc (callers that need set
    * semantics aggregate with collect_set — cheaper than a distinct shuffle
    * plus a second count window). Docs shorter than n tokens yield their
    * single partial shingle, matching [[shingles]]. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
                  passthrough: Seq[String] = Seq.empty): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val toks = df.repartition(nPart, col(idCol))
      .select(Seq(col(idCol).as("id")) ++ passthrough.map(col) ++ Seq(
        TextOps.wsTokens(TextOps.normalizeText(col(textCol))).as("__toks")): _*)
      .select(Seq(col("id")) ++ passthrough.map(col) ++ Seq(
        size(col("__toks")).as("__ntok"),
        posexplode(col("__toks"))): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    toks
      .withColumn("shingle",
        concat_ws(" ", (0 until n).map(k =>
          if (k == 0) col("col") else lead(col("col"), k).over(w)): _*))
      .filter(col("pos") <= col("__ntok") - n || (col("__ntok") < n && col("pos") === 0))
      .drop("pos", "col", "__ntok")
  }

  /** MinHash signatures via the single-pass [[graft.functions.MinHashSig]]
    * codegen kernel: a narrow, shuffle-free map over the corpus (the prior
    * explode → numHashes-min() aggregation formulation was correct but paid
    * a doc-id exchange + a wide hash aggregation per run; per-doc sketches
    * should cost zero shuffles at the 100-TB design point). Hash family is
    * the SQL-expressible polynomial one (TextKernels), so the DuckDB oracle
    * replays signatures exactly. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, numHashes: Int): DataFrame =
    Layout.spread(df, idCol).select(col(idCol).as("id"),
      graft.functions.TextFunctions.minhash_sig(col(textCol), shingleLen, numHashes).as("sig"))

  /** LSH band keys: signature split into `bands` rows-per-band slices, each
    * folded with a polynomial hash (band index mixed into the seed so
    * buckets don't collide across bands). The fold is a higher-order
    * `aggregate` over a MATERIALIZED small array attribute — interpreted,
    * but O(numHashes) per row with no re-evaluation of the signature
    * kernel. All intermediates < 2^52 (acc < 2^31, sig values < 2^31),
    * making the same fold expressible in the DuckDB oracle. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => aggregate(
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
        (b + lit(97)).cast("long"),
        (acc, x) => (acc * 1000003L + x) % graft.functions.TextKernels.P))

  /** Full MinHash-LSH candidate-pair pipeline. Output: (id_a, id_b, est_sim)
    * where est_sim = fraction of matching signature components.
    *
    * `maxBucketSize` drops LSH buckets larger than the cap (standard LSH
    * skew guard: a degenerate bucket of B docs costs B² comparisons — at
    * 100 TB one hot bucket would dominate the whole job; oversized buckets
    * signal shingle-level degeneracy, not near-duplication). */
  def minHashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleLen: Int = 3, numHashes: Int = 64,
                           bands: Int = 16, maxBucketSize: Int = 200): DataFrame = {
    val rowsPerBand = numHashes / bands
    // signatures feed three plan branches (banding, bucket-size counting,
    // and the pair-side joins); persist so they materialize once — without
    // this each branch re-runs the whole shingle+hash pipeline (no
    // ReuseExchange across differently-aliased projections). persist, not
    // localCheckpoint: the cache manager dedupes by canonical plan, so
    // repeated invocations share one entry, and checkpoint's eager
    // block-materialization showed erratic multi-second stalls here.
    val sigs = minHashSignatures(df, idCol, textCol, shingleLen, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(
      col("id"), col("sig"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key"))
    val okBuckets = banded.groupBy(col("band_key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .select(col("band_key"))
    val pruned = banded.join(okBuckets, Seq("band_key"), "left_semi")
    // narrow (band_key, id) join + codegen'd distinct FIRST; the interpreted
    // signature comparison then runs once per unique candidate pair, not once
    // per (pair x shared band)
    val a = pruned.select(col("band_key"), col("id").as("id_a"))
    val b = pruned.select(col("band_key"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(broadcast(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))), Seq("id_a"))
      .join(broadcast(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / numHashes).as("est_sim"))
  }

  /** Corpus-scale LSH path, part 1: materialize the banded signature store
    * ONCE, bucketed+sorted by band key. At 100 TB the signature computation
    * (a narrow kernel map over the corpus) and the band-key shuffle are paid
    * at write time; every subsequent candidate query then joins CO-LOCATED
    * buckets with zero exchanges (same amortization as ScaleJoins
    * bucketing). Each row carries its signature so the bucket self-join
    * needs no second lookup join. */
  def writeLshSignatureStore(df: DataFrame, idCol: String, textCol: String,
                             table: String, shingleLen: Int = 3,
                             numHashes: Int = 64, bands: Int = 16,
                             numBuckets: Int = 32): Unit = {
    val rowsPerBand = numHashes / bands
    val sigs = minHashSignatures(df, idCol, textCol, shingleLen, numHashes)
    Stores.bucketAligned(sigs.select(col("id"), col("sig"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key")),
        numBuckets, "band_key")
      .write.mode("overwrite")
      .bucketBy(numBuckets, "band_key")
      .sortBy("band_key")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental twin of [[writeLshSignatureStore]]: append a NEW batch's
    * signatures into the existing bucketed store. The batch pays its own
    * signature kernel + one band shuffle into the store's bucket layout;
    * the EXISTING corpus is untouched — no re-signing, no re-shuffle.
    * `shingleLen`/`numHashes`/`bands`/`numBuckets` must match the store's
    * write (Spark rejects a mismatched bucket spec outright; a mismatched
    * signature length would desynchronize est_sim silently, so it is the
    * one parameter the caller must keep in lockstep — store it with the
    * table). */
  def appendToLshSignatureStore(df: DataFrame, idCol: String, textCol: String,
                                table: String, shingleLen: Int = 3,
                                numHashes: Int = 64, bands: Int = 16,
                                numBuckets: Int = 32): Unit = {
    val rowsPerBand = numHashes / bands
    val sigs = minHashSignatures(df, idCol, textCol, shingleLen, numHashes)
    Stores.bucketAligned(sigs.select(col("id"), col("sig"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key")),
        numBuckets, "band_key")
      .write.mode("append")
      .bucketBy(numBuckets, "band_key")
      .sortBy("band_key")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Core of the incremental probe: candidate (probe, store) pairs between
    * a banded PROBE signature frame (`probe_id`, `probe_sig`, `band_key`)
    * and a banded STORE signature frame (`id`, `sig`, `band_key`) — the
    * frame-level primitive [[lshProbeStore]] (bucketed base table) and the
    * streaming delta-log probe both reduce to. The degenerate-bucket guard
    * runs on the STORE side (one boilerplate band shared by B store rows
    * would otherwise multiply every probe hit by B); when the store frame
    * is a bucketed table scan the count window rides the bucketed layout
    * exchange-free, exactly as in [[minHashLshCandidatesFromStore]]. */
  def lshProbeFrames(store: DataFrame, probe: DataFrame,
                     maxBucketSize: Int = 200): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    val guarded = store
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz")
    probe.join(guarded, Seq("band_key"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"), col("id").as("store_id"),
        (size(filter(zip_with(col("probe_sig"), col("sig"), (x, y) => x === y),
          m => m)).cast("double") / size(col("probe_sig"))).as("est_sim"))
      .groupBy(col("probe_id"), col("store_id"))
      .agg(first(col("est_sim")).as("est_sim"))
  }

  /** Banded probe frame for a new batch: (probe_id, probe_sig, band_key)
    * rows ready for [[lshProbeFrames]]. Parameters must match the store
    * being probed (see [[appendToLshSignatureStore]]). */
  def lshProbeBands(df: DataFrame, idCol: String, textCol: String,
                    shingleLen: Int = 3, numHashes: Int = 64,
                    bands: Int = 16): DataFrame = {
    val rowsPerBand = numHashes / bands
    minHashSignatures(df, idCol, textCol, shingleLen, numHashes)
      .select(col("id").as("probe_id"), col("sig").as("probe_sig"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key"))
  }

  /** Probe the signature store with a NEW batch: candidate (probe, store)
    * pairs sharing an LSH band — the incremental-dedup query "which
    * existing corpus documents does this batch near-duplicate?", answered
    * WITHOUT touching the corpus text. The store side reads bucketed
    * (exchange-free); only the probe batch — vanishingly small next to
    * the corpus — shuffles into the band layout. Probe parameters must
    * match the store's write (see [[appendToLshSignatureStore]]). */
  def lshProbeStore(spark: org.apache.spark.sql.SparkSession, table: String,
                    df: DataFrame, idCol: String, textCol: String,
                    shingleLen: Int = 3, numHashes: Int = 64,
                    bands: Int = 16, maxBucketSize: Int = 200): DataFrame =
    // tombstoned (taken-down) docs no longer suppress new near-dups of
    // themselves; broadcast anti-join preserves the bucketed layout
    lshProbeFrames(Stores.minusTombstones(spark.table(table), table, "id"),
      lshProbeBands(df, idCol, textCol, shingleLen, numHashes, bands),
      maxBucketSize)

  /** Fold a streaming delta log (as written by
    * [[graft.streaming.EventStreams.processIncrementalLshBatch]]:
    * `deltaPath/batch=B/` directories of (id, sig, band_key) rows) into the
    * bucketed base store — the LSM compaction step of the incremental
    * dedup pipeline. Cost is O(delta): the delta rows pay one shuffle into
    * the store's bucket layout and APPEND; the existing corpus is never
    * rewritten. Folded batch directories are deleted after the append
    * commits, so the probe union (base ∪ delta) stays duplicate-free.
    * Returns the number of batches folded.
    *
    * Single-owner offline op. A crash between append and delete re-appends
    * those batches on re-run: probe RESULTS stay correct (pairs collapse in
    * [[lshProbeFrames]]'s aggregation and est_sim depends only on the
    * signatures), but duplicated store rows inflate the bucket-size guard's
    * counts — the repair is a full [[writeLshSignatureStore]] rewrite. The
    * batch-id collect is one long per micro-batch ever folded — trivially
    * driver-sized.
    *
    * `maxBatchExclusive` bounds the fold to COMMITTED batches: pass the
    * stream's latest checkpointed batch id, and a failure-replayed batch
    * (always the latest, never a committed one) still finds its
    * predecessors split cleanly between base and delta — each document
    * covered exactly once, so replay output is bit-identical even when a
    * compaction ran in between. Folding an uncommitted batch would put its
    * docs in the base, where its own replay can't exclude them — which is
    * why the parameter has NO default: the caller must state the horizon
    * (there is no value that is safe without consulting the stream's
    * checkpoint). */
  def compactLshDelta(spark: org.apache.spark.sql.SparkSession, table: String,
                      deltaPath: String, numBuckets: Int = 32,
                      maxBatchExclusive: Long): Int = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(deltaPath), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(deltaPath)
    if (!fs.exists(root) ||
        !fs.listStatus(root).exists(_.getPath.getName.startsWith("batch=")))
      return 0
    val delta = spark.read.option("basePath", deltaPath).parquet(deltaPath)
      .filter(col("batch") < maxBatchExclusive)
    val batches = delta.select(col("batch").cast("long")).distinct()
      .as[Long].collect().sorted
    if (batches.isEmpty) return 0
    // pin the fold to the batches seen NOW — a micro-batch landing during
    // the append is left for the next compaction, not half-folded
    Stores.bucketAligned(delta.filter(col("batch").isin(batches: _*))
        .select(col("id"), col("sig"), col("band_key")),
        numBuckets, "band_key")
      .write.mode("append")
      .bucketBy(numBuckets, "band_key")
      .sortBy("band_key")
      .format("parquet")
      .saveAsTable(table)
    batches.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=$b"), true)
    }
    batches.length
  }

  /** Corpus-scale LSH path, part 2: candidate pairs from the bucketed
    * store. The bucket-size guard (a count window over band_key) and the
    * band self-join both run exchange-free — bucketing already satisfies
    * the hashpartitioning(band_key) requirement (asserted in
    * ScaleJoinsSpec). The only shuffle is the final pair dedup, whose input
    * is candidate pairs (tiny relative to the corpus). Output matches
    * [[minHashLshCandidates]] on the same corpus/parameters. */
  def minHashLshCandidatesFromStore(spark: org.apache.spark.sql.SparkSession,
                                    table: String,
                                    maxBucketSize: Int = 200): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    // tombstones filter BEFORE the bucket-size guard (deleted rows must
    // neither pair nor inflate bucket counts); the broadcast anti-join
    // preserves the bucketed hashpartitioning, so the window and band
    // self-join below stay exchange-free
    val pruned = Stores.minusTombstones(spark.table(table), table, "id")
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
    val a = pruned.select(col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = pruned.select(col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      // denominator from the STORED signature length, so a store written
      // with any numHashes stays self-consistent
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / size(col("sig_a"))).as("est_sim"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("est_sim")).as("est_sim"))
  }

  /** 62-bit SimHash over whitespace tokens of the normalized text: bit b of
    * the hash = sign of Σ_tokens (token_hash bit b ? +1 : -1). Single-pass
    * [[graft.functions.SimHash62]] codegen kernel — a shuffle-free narrow
    * map (the prior explode → 64 bit-sum aggregation formulation paid an
    * exchange + a 64-column hash aggregation per run). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Layout.spread(df, idCol).select(col(idCol).as("id"),
      graft.functions.TextFunctions.simhash62(col(textCol)).as("simhash"))

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bit ranges distributing `nBits` bits over `chunks` NON-EMPTY chunks:
    * the first nBits % chunks get ceil width, the rest floor width. Every
    * chunk spans >= 1 bit for chunks <= nBits, which the pigeonhole
    * argument requires (a naive uniform-ceil split leaves trailing chunks
    * EMPTY once chunks >= 9 — an empty chunk is one universal bucket, and
    * after the bucket-size cap drops it the remaining chunks no longer
    * cover the distance bound: silent recall loss). nBits defaults to the
    * text SimHash's 62; the perceptual image hash uses 64. */
  private[graft] def chunkRanges(chunks: Int, nBits: Int = 62): Seq[(Int, Int)] = {
    val base = nBits / chunks
    val extra = nBits % chunks
    val widths = (0 until chunks).map(c => base + (if (c < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).take(chunks)
  }

  /** Generic pigeonhole-blocked Hamming near-pair core over ANY `nBits`-bit
    * LONG signature frame (`sigs`: (id, sig)): split into maxHamming + 1
    * chunks, candidates share a (chunk, value) key, exact popcount
    * verifies. Exact for the bound; quadratic work confined to buckets
    * with the standard degenerate-bucket cap. Backs [[simHashNearPairs]]
    * (62-bit text sketch) and
    * [[graft.multimodal.Multimodal.imageNearDupPairs]] (64-bit perceptual
    * aHash).
    *
    * For nBits = 64 the top chunk's mask spans to bit 63; the shift/mask
    * arithmetic stays non-negative because chunk widths are < 64 for every
    * chunks >= 2, and chunks = 1 (maxHamming = 0) masks with -1L — i.e.
    * the full signature, which is exactly the equality bucket that case
    * wants. */
  private[graft] def hammingNearPairs(sigs: DataFrame, maxHamming: Int,
                                      maxBucketSize: Int, nBits: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming $maxHamming out of range for $nBits-bit signatures")
    val chunks = maxHamming + 1
    val hashes = sigs.toDF("id", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkKeys = chunkRanges(chunks, nBits).zipWithIndex.map { case ((lo, bits), c) =>
      struct(lit(c).as("c"),
        shiftright(col("sig"), lo)
          .bitwiseAND(lit(if (bits >= 64) -1L else (1L << bits) - 1)).as("v"))
    }
    val banded = hashes.select(col("id"), explode(array(chunkKeys: _*)).as("bk"))
    val okBuckets = banded.groupBy(col("bk"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .select(col("bk"))
    val pruned = banded.join(okBuckets, Seq("bk"), "left_semi")
    val pairs = pruned.select(col("bk"), col("id").as("id_a"))
      .join(pruned.select(col("bk"), col("id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(hashes.select(col("id").as("id_a"), col("sig").as("ha")), Seq("id_a"))
      .join(hashes.select(col("id").as("id_b"), col("sig").as("hb")), Seq("id_b"))
      .withColumn("hamming", hammingDist(col("ha"), col("hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-duplicate pairs — the pairing step the sketch exists for:
    * pairs of documents whose 62-bit simhashes differ in at most
    * `maxHamming` bits.
    *
    * Blocking by pigeonhole: the hash is split into `maxHamming + 1` bit
    * chunks ([[chunkRanges]]), so two hashes within the distance bound MUST
    * agree on at least one whole chunk — candidates are pairs sharing any
    * (chunk index, chunk value) key; the exact popcount distance then
    * verifies them. Exact (no recall loss), and the quadratic term is
    * confined to same-chunk buckets. `maxBucketSize` is the standard
    * degenerate-bucket guard: a chunk value shared by B docs (e.g. a
    * boilerplate corpus where one 16-bit slice saturates) costs B²
    * comparisons — capped buckets are refused, mirroring
    * [[minHashLshCandidates]]. All integer arithmetic — the DuckDB oracle
    * replays chunking and distance exactly.
    *
    * Cache lifecycle (same contract as [[graft.ops.Similarity.srpNearPairs]]):
    * the per-doc hash frame persists MEMORY_AND_DISK for the duration of the
    * returned frame's consumption; the cache manager dedupes by canonical
    * plan, so repeated invocations over the same corpus share ONE entry.
    * Long sessions mixing many DIFFERENT corpora should
    * `spark.catalog.clearCache()` between them (as Verify/Bench do) — an
    * operator returning an unconsumed frame cannot safely unpersist its own
    * input. */
  def simHashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    // bucket-size guard inside the shared core is aggregate + left-semi
    // prune, NOT the q42 count window: the banded frame derives from the
    // PERSISTED hashes cache (shift/mask per row), so the prune's second
    // pass is a cheap cache read — measured: the window variant's extra
    // sort on the band exchange costs more than it saves (q56 1.36 s →
    // 1.59 s at sf0.1)
    hammingNearPairs(simHash(df, idCol, textCol), maxHamming, maxBucketSize,
      nBits = 62)

  /** Blocked n-gram Jaccard near-dup pairs: candidates share (lang, length
    * bucket); Jaccard over distinct word shingles.
    *
    * Shape: explode to (block, shingle-hash, id) and self-join on the
    * (block, hash) LONG key, counting shared shingles per pair —
    * |A∪B| = |A|+|B|−|A∩B| closes the Jaccard without any per-pair array
    * intersection. Everything stays in whole-stage codegen (the naive
    * array_intersect-per-pair formulation is interpreted and measured 20×
    * slower at 314k candidate pairs). Quadratic work is confined to blocks,
    * and only pairs sharing ≥1 shingle ever materialize (Jaccard ≥ t > 0
    * implies a shared shingle, so the output is identical).
    *
    * `maxShingleDf` is the hot-shingle skew guard (the document-frequency
    * analogue of the prefix-filter trick): a shingle occurring in `f` docs
    * of a block contributes f² join rows, so one stopword-ish shingle
    * shared by most of a block re-quadratizes the job at corpus scale.
    * Shingle hashes whose within-block document frequency exceeds the cap
    * are dropped BEFORE the pair join — both from candidate generation and
    * from the intersection count, so Jaccard for a pair sharing a pruned
    * shingle is underestimated by at most (pruned shared)/(union): pairs
    * whose overlap is mostly ultra-common shingles are overwhelmingly below
    * `minJaccard` anyway. With no block-DF above the cap (true of the test
    * corpora up to DF 7 at sf0.1 vs the default cap 500) the output is
    * EXACTLY the unpruned result. The DF aggregation and semi-join run on
    * the same (block, h) partitioning as the pair join — no extra exchange. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], shingleLen: Int,
                        minJaccard: Double, maxShingleDf: Int = 500): DataFrame =
    blockedPairCounts(df, idCol, textCol, blockCols, shingleLen, maxShingleDf)
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Shared core of [[ngramJaccardPairs]] / [[ngramContainmentPairs]]:
    * blocked self-join over per-doc distinct shingle-hash sets, yielding
    * per-pair (id_a < id_b) set sizes and intersection count — every
    * set-overlap measure (Jaccard, containment, overlap coefficient, Dice)
    * is a closed-form over (na, nb, c). */
  private def blockedPairCounts(df: DataFrame, idCol: String, textCol: String,
                                blockCols: Seq[Column], shingleLen: Int,
                                maxShingleDf: Int): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val withBlock = df.withColumn("block", struct(blockCols: _*))
    // per-doc DISTINCT shingle-hash sets in one shuffle-free codegen'd map
    // (replaces the posexplode + window-lead + collect_set formulation:
    // two exchanges and an interpreted ObjectHashAggregate)
    val sets = Layout.spread(withBlock, idCol).select(col("block"), col(idCol).as("id"),
      graft.functions.TextFunctions.shingle_hashes(col(textCol), shingleLen).as("hs"))
    // fixed-N repartition on the join key: the pair-join stage is
    // compute-heavy on few bytes, so AQE's size-based coalescing would run
    // it single-task; an explicit numbered repartition is respected by AQE
    // and is reused (ReuseExchange) by both join branches
    val exploded = sets
      .select(col("block"), col("id"), size(col("hs")).as("n_sh"), explode(col("hs")).as("h"))
      .repartition(n, col("block"), col("h"))
    // shingles are distinct per doc, so the count over (block, h) IS the
    // within-block document frequency. A count WINDOW (not an aggregate +
    // semi-join): it runs on the very exchange the pair join needs, so the
    // prune adds one local sort — no second pass over the text/kernel, no
    // extra exchange, and the pruned subtree stays identical for both join
    // sides (one ReuseExchange)
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("h"))
    val pruned = exploded
      .withColumn("__df", count(lit(1)).over(wDf))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df")
    val a = pruned.select(col("block"), col("h"),
      col("id").as("id_a"), col("n_sh").as("na"))
    val b = pruned.select(col("block"), col("h"),
      col("id").as("id_b"), col("n_sh").as("nb"))
    a.join(b, Seq("block", "h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
  }

  /** Blocked n-gram CONTAINMENT near-dup pairs — the asymmetric overlap
    * measure (Broder '97's "containment of A in B": |A∩B|/|A|) symmetric
    * Jaccard structurally misses: a short document pasted inside a much
    * longer one has |A∩B| ≈ |A| ≪ |A∪B|, so Jaccard vanishes with the
    * length ratio while containment stays ≈ 1. The quote/excerpt/
    * template-inclusion detector of a curation pipeline — and, run with a
    * benchmark suite as one side, the contamination check that catches
    * benchmark items EMBEDDED in web pages. Emits both directions per
    * unordered pair (cont_a = |A∩B|/|A|, cont_b = |A∩B|/|B|) and keeps
    * pairs where EITHER side's containment clears the threshold; consumers
    * read max(cont_a, cont_b) ≥ t with the contained side identified by
    * which column cleared.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] (shared
    * [[blockedPairCounts]] core — one shingle pass, (block, hash)-keyed
    * self-join with the hot-shingle DF prune, per-pair counts closed over
    * (na, nb, c)); only the final arithmetic differs. Same `maxShingleDf`
    * underestimate contract on pruned shingles. BLOCKING CAVEAT: do NOT
    * block on a length bucket here (q42's choice) — the asymmetric pairs
    * containment exists to find are short-vs-long, which length bucketing
    * separates by construction; block on invariants of inclusion (lang,
    * source) only. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[Column], shingleLen: Int,
                            minContainment: Double,
                            maxShingleDf: Int = 500): DataFrame =
    blockedPairCounts(df, idCol, textCol, blockCols, shingleLen, maxShingleDf)
      .withColumn("cont_a", round(col("c").cast("double") / col("na"), 6))
      .withColumn("cont_b", round(col("c").cast("double") / col("nb"), 6))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))

  /** Duplicate-cluster extraction — the KEEP-LIST step of corpus dedup:
    * connected components over the undirected near-duplicate pair graph
    * (from [[ngramJaccardPairs]], [[minHashLshCandidates]] or
    * [[graft.ops.Similarity.srpNearPairs]]), labeling every document with
    * the minimum doc id reachable through the graph. `cluster_id == id`
    * marks the cluster representative a pipeline keeps; everything else is
    * dropped as a duplicate. Documents absent from `pairs` are singleton
    * clusters (their own representative).
    *
    * Distributed iterative min-label propagation with a FRONTIER (delta)
    * optimization: labels start as each node's own id; the seeding
    * aggregation `min(own id, neighbor ids)` already performs the first
    * propagation round in ONE shuffle, and every later round re-propagates
    * ONLY labels that improved since they were last sent (monotone min
    * propagation makes the delta form exact: a label a neighbor has
    * already seen can never need resending unless it shrank). Rounds
    * needed = graph diameter — near-dup components are tiny (pairs above a
    * similarity threshold), so 2-4 rounds in practice, and rounds after
    * the first run over the shrinking frontier, not the whole subgraph;
    * the O(log n) large-star/small-star variant only pays off on giant
    * components, which a dedup threshold graph does not produce.
    *
    * Scale shape: the pair pipeline is consumed ONCE (both edge
    * directions come from a single explode pass, materialized by one
    * localCheckpoint) and the edge set is hash-partitioned by `src` at
    * that materialization — the checkpoint preserves the partitioning, so
    * NO round re-shuffles the edges: each round's propagation join only
    * exchanges the (shrinking) frontier. Propagation runs only over nodes
    * that appear in `pairs` — at corpus scale that is the near-dup
    * subgraph, orders of magnitude smaller than the corpus; the full id
    * universe joins in exactly once at the end to label singletons. Per
    * round: one shuffle of the frontier + one aggregation + the label
    * merge, and the round's checkpoint is LAZY so its materialization and
    * the convergence count are ONE job (an eager checkpoint + count would
    * pay two full job launches per round — on small graphs per-job
    * overhead dominates propagation wall time). Labels are
    * localCheckpointed so lineage stays O(1). Deterministic for any
    * partitioning (min is order-insensitive). */
  /** Driver union-find over a collected edge list: component label = min
    * member id (identical contract to the distributed propagation). Path
    * compression + union by min-root; the edge list is
    * threshold-graph-sized and bounded by the caller's cap. */
  private def unionFindLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb // min id wins
      }
    }
    parent.keysIterator.map(id => id -> find(id)).toMap
  }

  def duplicateClusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
                        aCol: String = "id_a", bCol: String = "id_b",
                        maxRounds: Int = 50,
                        driverEdgeCap: Long = 1000000L): DataFrame = {
    // both directions in ONE pass over the (expensive) pairs input.
    // repartition by the join key WITHOUT a fixed N (AQE may coalesce: the
    // edge set is threshold-graph-sized, not corpus-sized) so every round's
    // edges-side exchange is pre-paid here, once
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .transform(org.apache.spark.sql.graft.Checkpoints.truncate)
    // SMALL-GRAPH FAST PATH: the threshold graph of a dedup run is the
    // rare-duplicate product, usually orders of magnitude below the corpus
    // — when the (already checkpointed) edge set fits the cap, collect it
    // and union-find on the driver: one count + one collect replaces
    // diameter-many propagation rounds, each of which costs a join + two
    // aggregations + a blocking count (at bench scale, per-round job
    // overhead dominated propagation wall time by ~4x). Labels broadcast
    // back for the singleton join; contract (component = min reachable id)
    // is identical — spec'd equal to the distributed path. Above the cap
    // the frontier propagation below runs unchanged, so the operator
    // never depends on the graph being small.
    val nEdgeRows = edges.count() // cheap: counts the checkpoint
    if (nEdgeRows / 2 <= driverEdgeCap) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val labelMap = unionFindLabels(
        edges.filter(col("src") < col("dst")).as[(Long, Long)].collect())
      val labelsDf = labelMap.toSeq.toDF("id", "cluster_id")
      return nodes.select(col(idCol).cast("long").as("id"))
        .join(broadcast(labelsDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    }
    // seed = round 1: every node's original id reaches all its neighbors
    // inside this one aggregation (the graph is symmetric, so every node
    // appears as dst), replacing a distinct + join + union + groupBy.
    // lazy checkpoint: the frontier count below materializes it
    var labels = edges.groupBy(col("dst"))
      .agg(least(min(col("src")), col("dst")).as("cluster_id"))
      .select(col("dst").as("id"), col("cluster_id"))
      .transform(org.apache.spark.sql.graft.Checkpoints.truncateLazy)
    // a node's neighbors have seen its ORIGINAL id; only improved labels
    // (cluster_id < id) are news that still must travel
    var frontier = labels.filter(col("cluster_id") < col("id"))
    var frontierSize = frontier.count()
    var round = 1
    while (frontierSize > 0 && round < maxRounds) {
      val candidates = edges
        .join(frontier.select(col("id").as("src"), col("cluster_id").as("cand")), Seq("src"))
        .groupBy(col("dst")).agg(min(col("cand")).as("cand"))
        .select(col("dst").as("id"), col("cand"))
      val merged = labels
        .join(candidates, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("cand"), col("cluster_id"))).as("cluster_id"),
          (col("cand") < col("cluster_id")).as("__improved"))
        .transform(org.apache.spark.sql.graft.Checkpoints.truncateLazy)
      frontier = merged.filter(col("__improved")).select(col("id"), col("cluster_id"))
      frontierSize = frontier.count()
      labels = merged.select(col("id"), col("cluster_id"))
      round += 1
    }
    val changed = frontierSize
    // non-convergence must be LOUD: returning partially-propagated labels
    // would split one true component into several keep=1 representatives —
    // duplicates silently surviving dedup
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxRounds rounds " +
          s"($changed labels still improving) — a component's diameter exceeds " +
          "maxRounds; raise it (rounds needed = longest chain in the pair graph)")
    // singletons (docs with no near-dup pair) label themselves
    nodes.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Leakage-safe train/validation split: every member of a near-dup
    * cluster lands in the SAME split, so a validation document can never
    * have a near-duplicate in train — the contamination whole-corpus
    * random splits silently commit (a val doc whose near-copy was trained
    * on scores as memorization, not generalization). The split decision
    * draws once per CLUSTER via the engine's shared replayable LCG
    * ([[TextOps.lcgState]] family — same constants every sampler oracle
    * replays) on the cluster label; singletons draw on their own id
    * (cluster_id == id). Output: (doc_id, cluster_id, split). Cost on top
    * of [[duplicateClusters]]: one codegen map — nothing new shuffles. */
  def clusterSafeSplit(nodes: DataFrame, idCol: String, pairs: DataFrame,
                       valPct: Int): DataFrame = {
    require(valPct >= 0 && valPct <= 100, "valPct must be in [0, 100]")
    duplicateClusters(nodes, idCol, pairs)
      .select(col("id").as("doc_id"), col("cluster_id"),
        when(pmod(shiftright(TextOps.lcgState(col("cluster_id")), 16), lit(100L))
          < valPct, "val").otherwise("train").as("split"))
  }

  /** The dedup OUTPUT stage: one canonical representative per duplicate
    * cluster, chosen by QUALITY. [[duplicateClusters]]' min-id `keep` flag
    * answers "which rows form a cluster"; a curation pipeline then keeps
    * the BEST copy, not the lowest-numbered one — min-id would discard a
    * clean later crawl of the same page in favor of its boilerplate-laden
    * first fetch.
    *
    * `docs` must carry `idCol` and the `rankCol` column; `labels` is the
    * (id, cluster_id) frame [[duplicateClusters]] returns. The winner per
    * cluster maximizes (rank, then SMALLEST id) — deterministic under ties
    * on any partitioning. A NULL rank sorts below every non-null rank
    * (Spark struct ordering), so a null-quality copy only represents a
    * cluster whose every member is null-ranked — the conservative choice,
    * documented rather than silent. Output: (doc_id, cluster_id, rep_id,
    * keep).
    *
    * Scale shape: rank attaches to labels by one id-keyed join (both sides
    * corpus-sized — sort-merge), the per-cluster argmax is a plain
    * `max(struct)` aggregation (map-side partial combine, ONE shuffle on
    * cluster_id, state = one struct per cluster — never a window over the
    * corpus), and the winners join back on the same cluster_id
    * partitioning. Nothing quadratic, nothing driver-side. */
  def clusterRepresentatives(docs: DataFrame, idCol: String,
                             labels: DataFrame, rankCol: Column): DataFrame = {
    val ranked = labels
      .join(docs.select(col(idCol).cast("long").as("id"), rankCol.as("__rank")), Seq("id"))
    // max of (rank asc, -id asc) = best rank, ties broken to the smallest id
    val reps = ranked.groupBy(col("cluster_id"))
      .agg(max(struct(col("__rank").as("r"), (-col("id")).as("nid"))).as("__best"))
      .select(col("cluster_id"), (-col("__best.nid")).as("rep_id"))
    ranked.join(reps, Seq("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id"), col("rep_id"),
        (col("id") === col("rep_id")).cast("int").as("keep"))
  }

  /** Benchmark decontamination: corpus documents sharing >= `minOverlap`
    * distinct n-token shingles (of the normalized text) with ANY benchmark
    * document — the train/eval-overlap filter a training pipeline runs
    * before the corpus ships. Returns (doc_id, n_overlap) for contaminated
    * docs only; anti-join the result against the corpus to drop them.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus (eval
    * suites are MBs against TBs), so its DISTINCT shingle-hash set is
    * broadcast; the corpus side is a narrow single-pass kernel map +
    * explode filtered against that broadcast set — the corpus itself never
    * shuffles. Only the matching (doc, hash) rows — a vanishing fraction —
    * pay the final per-doc count aggregation. Overlap is counted over
    * 62-bit shingle hashes, collision-free in practice (same argument as
    * the q42 oracle). Real pipelines use n ≈ 8–13; anything sharing a
    * 13-gram with a benchmark is a leak, not a coincidence. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8, minOverlap: Int = 1): DataFrame = {
    require(minOverlap >= 1, "minOverlap must be >= 1")
    val benchHashes = bench
      .select(explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("h"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("h"))
      .join(broadcast(benchHashes), Seq("h"))
      // kernel sets are per-doc distinct, so plain count = distinct overlap
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the shape for when
    * even the benchmark's DISTINCT shingle-hash set is too large to
    * broadcast exactly (stacked eval suites, or paranoid n as low as 4):
    * a Bloom filter over the benchmark hashes (`fpp` false-positive rate,
    * ~1.2 bytes/item at 1% vs 8+ for exact longs) broadcasts in its
    * place, the corpus explode keeps only might-contain hits — a
    * vanishing fraction — and ONLY those survivors pay the exact
    * verification join against the true benchmark set. Output is
    * IDENTICAL to [[decontaminate]] (false positives die in the verify
    * join); the bloom stage just keeps the corpus-side shuffle at
    * ~(true matches + fpp · corpus shingles) rows. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 8, minOverlap: Int = 1,
                         fpp: Double = 0.01): DataFrame = {
    require(minOverlap >= 1, "minOverlap must be >= 1")
    require(fpp > 0 && fpp < 0.5, "fpp must be in (0, 0.5)")
    val benchHashes = bench
      .select(explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = math.max(benchHashes.count(), 1L)
    val bloom = benchHashes.stat.bloomFilter("h", nBench, fpp)
    val spark = corpus.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomBc.value.mightContainLong(h))
    corpus
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("h"))
      .filter(mightContain(col("h")))
      // exact verify: only bloom survivors reach the real benchmark set
      .join(benchHashes, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** FUZZY decontamination — the near-duplicate complement of
    * [[decontaminate]]: exact n-gram overlap misses paraphrased or
    * lightly-edited benchmark leakage, so production pipelines
    * (GPT-3 §C, Llama eval-decontamination) also drop corpus documents
    * whose MinHash similarity to ANY benchmark item clears a threshold.
    * Output is the contamination report (doc_id, bench_id, est_sim) —
    * one row per flagged corpus doc with its best-matching benchmark item
    * (ties broken toward the smallest bench id); consumers anti-join it.
    *
    * Scale shape: the benchmark side is eval-suite sized, so its banded
    * signatures broadcast (same contract as [[decontaminate]]'s hash set).
    * The corpus pays ONE narrow kernel scan (signatures are the
    * shuffle-free [[minHashSignatures]] map), band keys explode map-side,
    * and the broadcast band join filters to hits before anything
    * shuffles — the only exchange carries candidate (doc, bench) pairs
    * (a vanishing fraction), each a few hundred bytes of signature.
    * Nothing corpus-sized ever crosses the wire. Hash family is the
    * SQL-replayable TextKernels polynomial one, so est_sim is
    * oracle-exact. */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleLen: Int = 3,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val benchBands = minHashSignatures(bench, idCol, textCol, shingleLen, numHashes)
      .select(col("id").as("bench_id"), col("sig").as("bench_sig"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key"))
    val corpusBands = minHashSignatures(corpus, idCol, textCol, shingleLen, numHashes)
      .select(col("id").as("doc_id"), col("sig"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key"))
    val simCol = (size(filter(zip_with(col("sig"), col("bench_sig"),
      (x, y) => x === y), m => m)).cast("double") / numHashes).as("est_sim")
    // NO doc_id =!= bench_id filter here: corpus and bench are independent
    // frames whose id spaces may overlap (an external benchmark passed to
    // the curator), and a contaminated doc that happens to share an id with
    // a bench item must still be flagged — the exact [[decontaminate]] leg
    // applies no id filter either, so the two legs stay consistent
    corpusBands
      .join(broadcast(benchBands), Seq("band_key"))
      // collapse the (pair × shared-band) multiplicity BEFORE scoring: the
      // group keys are (doc, bench) and the signatures ride along via
      // first() — only candidate pairs reach this exchange
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(first(col("sig")).as("sig"), first(col("bench_sig")).as("bench_sig"))
      .select(col("doc_id"), col("bench_id"), simCol)
      .filter(col("est_sim") >= threshold)
      // best benchmark match per doc: max est_sim, then smallest bench_id
      .groupBy(col("doc_id"))
      .agg(max(struct(col("est_sim"), (-col("bench_id")).as("nb"))).as("best"))
      .select(col("doc_id"), (-col("best.nb")).as("bench_id"),
        col("best.est_sim").as("est_sim"))
  }

  /** Corpus-wide duplicated-segment removal (the line/paragraph dedup step
    * of CCNet/RefinedWeb-style pipelines): drop every segment whose exact
    * text occurs >= `minDupCount` times across the WHOLE corpus (boilerplate
    * headers, navigation, license blocks), then reassemble each document
    * from its kept segments in order. Input is any (id, idx, segment) frame
    * — newline splits ([[TextOps.lineSpans]]), paragraphs, or token windows
    * ([[TextOps.chunkSpans]]). Documents whose every segment is dropped
    * disappear from the output.
    *
    * Scale shape: segments shuffle once on a 16-byte md5 digest for the
    * corpus-wide count (never on segment text), the keep-filter is a
    * window over that same exchange (no second join, no second scan —
    * the q42 lesson), and reassembly shuffles only kept segments on the
    * doc id. Returns (doc_id, clean_text, n_kept, n_dropped). */
  def dedupSegments(segments: DataFrame, idCol: String, idxCol: String,
                    segCol: String, minDupCount: Int = 2,
                    sep: String = " "): DataFrame = {
    require(minDupCount >= 2, "minDupCount must be >= 2")
    val nPart = segments.sparkSession.sessionState.conf.numShufflePartitions
    val hashed = segments
      .select(col(idCol).as("doc_id"), col(idxCol).cast("long").as("seg_idx"),
        col(segCol).as("seg"), md5(col(segCol).cast("binary")).as("seg_hash"))
      .repartition(nPart, col("seg_hash"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("seg_hash"))
    hashed
      .withColumn("__dup", count(lit(1)).over(w))
      .withColumn("__keep", col("__dup") < minDupCount)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), sep).as("clean_text"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"))
      .filter(col("n_kept") > 0)
  }

  /** CCNet-style corpus-frequency boilerplate detection at phrase
    * granularity: an n-gram shingle occurring in ≥ `minDocPct`% of the
    * documents is corpus boilerplate (navigation chrome, license headers,
    * templated intros), and each document is scored by the fraction of its
    * DISTINCT shingles that are boilerplate — the per-doc drop/clean signal
    * a curation funnel thresholds on. Output: (doc_id, n_shingles,
    * n_boiler, boiler_ratio).
    *
    * Scale shape: per-doc DISTINCT 62-bit shingle hashes come straight
    * from the scan-stage [[graft.functions.ShingleHashSet]] kernel (no
    * tokenizer window, no dedup exchange, 8-byte keys); doc frequency is
    * a single count aggregation over those longs; the threshold compare
    * is integer (df·100 ≥ pct·nDocs — no double knife-edge); the (small
    * by definition) boilerplate digest set broadcast-joins back and
    * per-doc scoring is one doc-id aggregation. The hash frame feeds two
    * branches (DF count + join-back), so it persists —
    * [[minHashLshCandidates]]'s cache contract (clearCache between
    * corpora). Docs yielding no shingles (NULL/empty text) have no
    * defined ratio and drop out, matching the shingle-kernel
    * total-function contract. */
  def boilerplateShingleRatio(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, minDocPct: Int = 25): DataFrame = {
    require(minDocPct >= 1 && minDocPct <= 100, "minDocPct must be in [1, 100]")
    // per-doc DISTINCT 62-bit hashes straight from the scan-stage kernel:
    // the previous tokenizer-window + md5 + distinct() formulation paid a
    // doc-id repartition, a window sort AND a dedup exchange over 32-byte
    // hex keys before any real work — the kernel's set is already
    // per-doc-distinct and the key is one long (q108's rework, same
    // collision argument)
    val sh = Layout.spread(df, idCol)
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("dg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = sh.select(col("id")).distinct().count() // scalar, one job
    val boiler = sh.groupBy(col("dg")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 100 >= lit(minDocPct.toLong) * nDocs)
      .select(col("dg"), lit(1).as("__bp"))
    sh.join(boiler, Seq("dg"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__bp"), lit(0))).cast("long").as("n_boiler"))
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6)
          .as("boiler_ratio"))
  }

  /** Cross-source n-gram contamination matrix: for every unordered source
    * pair, the number of DISTINCT n-gram shingles present in both — the
    * corpus-governance audit "which sources leak into / template each
    * other" (and, run with a benchmark suite as one side, the
    * train-test-contamination sweep at n-gram granularity; the Bloom path
    * ([[buildNgramBloom]]) answers per-DOC membership, this answers
    * source-pair mass). Output: (src_a, src_b, n_shared), src_a < src_b.
    *
    * Scale shape: ONE wide exchange total, keyed by the 8-BYTE 62-bit
    * kernel shingle hash (the SQL-replayable [[graft.functions
    * .ShingleHashSet]] family — a 32-byte md5 hex key was measured to put
    * 106 MB on this exchange at ~sf1 where the long key carries ~a
    * quarter of that; "distinct hashes" == "distinct shingles" absent
    * 2^-62 collisions, q42's standing argument). The kernel emits each
    * doc's DISTINCT hashes in the scan stage — no tokenizer window, no
    * doc-id repartition. The per-gram source set folds the (source,
    * digest) dedup INTO the aggregation (collect_set with map-side
    * partial set-union — the partial is bounded by the source dimension,
    * small by contract), `maxSourcesPerGram` guards the degenerate
    * universal gram (present in half the sources it would contribute
    * quadratically many pairs while carrying no pairwise signal — the
    * same cap reasoning as LSH's `maxBucketSize`), and the C(sources,2)
    * pairs explode MAP-SIDE on that aggregate's output, so the final
    * exchange carries at most |sources|² × partitions map-side-combined
    * rows — never gram-pair rows. (The original self-join formulation
    * shuffled an md5 gram table three times: distinct, count-prune, then
    * the join itself.) */
  def crossSourceNgramOverlap(df: DataFrame, idCol: String, textCol: String,
                              srcCol: String, n: Int = 6,
                              maxSourcesPerGram: Int = 1000): DataFrame =
    Layout.spread(df, idCol)
      .select(col(srcCol).as("src"),
        explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), n)).as("dg"))
      .groupBy(col("dg"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) > 1 && size(col("srcs")) <= maxSourcesPerGram)
      .select(posexplode(col("srcs")).as(Seq("pa", "src_a")), col("srcs"))
      .select(col("src_a"), col("pa"),
        posexplode(col("srcs")).as(Seq("pb", "src_b")))
      .filter(col("pa") < col("pb"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** SPAN-level repeated-substring detection — the sub-document granularity
    * Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better", ACL'22) show whole-doc dedup misses: a k-token window whose
    * text occurs ≥ `minCount` times ANYWHERE in the corpus (across docs or
    * repeated within one) marks its positions duplicated, and runs of
    * overlapping-or-adjacent duplicated windows merge into maximal spans.
    * Their suffix-array formulation is inherently single-machine; the
    * distributed equivalent is positional k-gram matching: every repeated
    * substring of length ≥ k contains a repeated k-window at each offset,
    * so the merged spans cover exactly the ≥k-token repeated regions
    * (granularity k: span ENDS round up to a window boundary). Output one
    * row per maximal span: (doc_id, span_start, span_len, n_windows) in
    * token coordinates of the normalized text — the mask a training
    * pipeline cuts or down-weights before packing sequences
    * ([[graft.ops.TextOps.packSequences]] consumes the complement).
    *
    * Scale shape: positional window hashes come from ONE codegen'd map
    * ([[graft.functions.TextKernels.shingleHashSeq]] — no partial tail
    * window, so sub-k docs contribute nothing); rows (doc_id, pos, g) are
    * 20 bytes and shuffle ONCE on the 8-byte gram hash, where a count
    * window marks repeats on that same exchange (the q42 prune pattern —
    * no second pass, no extra exchange; a corpus-boilerplate gram makes a
    * large window partition but its rows are narrow and the unordered
    * count spills, not OOMs). Survivors shuffle ONCE more on doc_id for
    * the gaps-and-islands merge — windows bounded by doc length, never
    * corpus-wide. Total: two shuffles of the window universe, both on
    * narrow keys; the full text never crosses the wire (no Layout.spread
    * here — kernel work is linear in text BYTES, and scan partitions are
    * byte-balanced by maxPartitionBytes already). */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minCount: Int = 2): DataFrame = {
    require(k >= 1 && minCount >= 2, "need k >= 1 and minCount >= 2")
    mergeWindowSpans(dupWindowPositions(df, idCol, textCol, k, minCount,
      keepFirst = false), k)
  }

  /** Canonical-owner variant of [[repeatedSpans]] — the other half of Lee
    * et al.'s dedup: cutting EVERY occurrence of a repeated substring
    * (q113) destroys the text; production dedup keeps ONE copy and cuts
    * the rest. The canonical occurrence of each repeated k-window is the
    * (doc_id, pos)-minimal one, so the doc that first utters a passage
    * keeps it and later copies lose it; feed the result to [[cutSpans]].
    * Keep-first at window granularity composes correctly across merges: in
    * a non-canonical copy every window of the repeated region is
    * non-first, so the whole region flags and merges, while the canonical
    * copy flags nothing.
    *
    * Scale shape: identical to [[repeatedSpans]] — the ordered row_number
    * rides the SAME gram-keyed exchange the occurrence count uses (one
    * extra sort within partitions, no extra shuffle). */
  def repeatedSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                             k: Int, minCount: Int = 2): DataFrame = {
    require(k >= 1 && minCount >= 2, "need k >= 1 and minCount >= 2")
    mergeWindowSpans(dupWindowPositions(df, idCol, textCol, k, minCount,
      keepFirst = true), k)
  }

  /** Shared front half of the span-dedup family: positional window hashes
    * from the single codegen kernel scan, ONE narrow shuffle on the 8-byte
    * gram hash, repeat-marking (and, for the keep-first form, canonical
    * exclusion) on that same exchange. */
  private def dupWindowPositions(df: DataFrame, idCol: String, textCol: String,
                                 k: Int, minCount: Int,
                                 keepFirst: Boolean): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.shingle_hash_seq(col(textCol), k)))
      .toDF("doc_id", "pos", "g")
      .repartition(n, col("g"))
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val marked = w.withColumn("__occ", count(lit(1)).over(wG))
    val flagged =
      if (!keepFirst) marked.filter(col("__occ") >= minCount)
      else {
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("doc_id"), col("pos"))
        marked.withColumn("__rn", row_number().over(wOrd))
          .filter(col("__occ") >= minCount && col("__rn") > 1)
      }
    flagged.select(col("doc_id"), col("pos"))
  }

  /** Gaps-and-islands merge of flagged window positions into maximal
    * per-doc spans: positions within `k` of their predecessor coalesce
    * (overlapping/adjacent k-windows form one span). Shared by
    * [[repeatedSpans]] and [[contaminatedSpans]]; the doc-keyed window is
    * bounded by doc_len/k rows per document. */
  private def mergeWindowSpans(flagged: DataFrame, k: Int): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= k, 0L).otherwise(1L))
      .withColumn("__grp", sum(col("__brk")).over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"), col("n_windows"))
  }

  /** SURGICAL decontamination front end: positions of corpus k-token
    * windows that occur ANYWHERE in the benchmark set, merged into maximal
    * per-doc spans ([[mergeWindowSpans]]) — feed to [[cutSpans]] to excise
    * only the leaked text instead of dropping whole documents (the
    * [[decontaminate]] doc-level verdict loses an entire document over one
    * quoted benchmark item; modern pipelines cut the quotation). Window
    * hashing is the positional [[graft.functions.ShingleHashSeq]] kernel on
    * BOTH sides — full k-windows only, so a benchmark shorter than k tokens
    * contributes nothing (it has no k-window to leak).
    *
    * Scale shape: the benchmark's distinct window-hash set broadcasts
    * (eval suites are MBs against TBs — same contract as
    * [[decontaminate]]); the corpus pays one narrow kernel scan +
    * posexplode, and only BENCH-MATCHING positions (a vanishing fraction)
    * reach the doc-keyed merge window. Nothing corpus-sized shuffles. */
  def contaminatedSpans(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val benchGrams = bench
      .select(explode(
        graft.functions.TextFunctions.shingle_hash_seq(col(textCol), k)).as("g"))
      .distinct()
    val hits = corpus
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.shingle_hash_seq(col(textCol), k)))
      .toDF("doc_id", "pos", "g")
      .join(broadcast(benchGrams), Seq("g"))
      .select(col("doc_id"), col("pos"))
    mergeWindowSpans(hits, k)
  }

  /** Consumer of [[repeatedSpans]] (or any (doc_id, span_start, span_len)
    * frame in normalized-token coordinates): CUT the flagged spans out of
    * each document, returning the cleaned text plus kept/cut token counts
    * — Lee et al.'s remove-the-repetition step, producing what a pipeline
    * actually trains on ([[graft.ops.TextOps.packSequences]] consumes
    * `clean_text` downstream). Documents without spans pass through with
    * their normalized text intact; a fully-covered document survives as an
    * empty row (n_kept = 0) for the funnel to drop explicitly rather than
    * vanishing silently.
    *
    * Scale shape: spans aggregate per doc (bounded by doc_len/k entries,
    * one map-side-combined shuffle) and join the corpus on doc_id (one
    * shuffle); the cut itself is a codegen'd array `filter`/`exists` over
    * the token array — no explode, no window, nothing corpus-sized beyond
    * the one keyed join. */
  def cutSpans(docs: DataFrame, idCol: String, textCol: String,
               spans: DataFrame): DataFrame = {
    val spanT = "array<struct<span_start:bigint,span_len:bigint>>"
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("__spans"))
    val toks = TextOps.wsTokens(TextOps.normalizeText(col(textCol)))
    docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"), array().cast(spanT)))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(col("__spans"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") < s.getField("span_start") + s.getField("span_len"))))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_cut"))
  }
}
