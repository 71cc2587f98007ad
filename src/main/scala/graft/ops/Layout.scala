package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

/** Physical-layout helpers. */
object Layout {

  /** Write a hive-partitioned parquet layout on `partCols` — the on-disk
    * organization a 100-TB corpus needs so downstream reads with a
    * partition-column predicate scan ONLY the matching directories
    * (partition pruning happens at file listing, before any footer or
    * row-group IO). Partition columns should be low-cardinality
    * (source, date, language...): each distinct combination is a
    * directory, and the files-per-partition count follows the upstream
    * task layout — repartition on `partCols` first if many tasks would
    * otherwise each write a sliver into every partition. */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** Range-partition + sort-within-partitions write — sort-based data
    * skipping (poor-man's Z-order on one dimension): after
    * `repartitionByRange(sortCols)` each output file covers a narrow,
    * near-disjoint range of the sort key, so parquet min/max row-group
    * stats let a selective scan skip almost every file — without any
    * directory explosion (contrast [[writePartitioned]], which needs
    * low-cardinality columns). The right layout for HIGH-cardinality
    * predicates (id ranges, timestamps, hash prefixes) at 100 TB: range
    * exchange once at write time, every later point/range query reads
    * O(matching files). `nFiles` bounds the file count (and thus the
    * per-file range width). */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String,
                       nFiles: Int): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Spread the low 16 bits of `c` out to even bit positions (classic
    * Morton bit-dilation: four shift-or-mask doubling steps). Input must
    * already be in [0, 65536) — [[zOrderKey]] bins raw columns down. */
  private def spread16(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 2-D Morton (Z-curve) key over two 16-bit bin values: bits of `a`
    * land on even positions, bits of `b` on odd — so sorting by the key
    * orders rows along the Z-curve, where ranges of EITHER dimension map
    * to a bounded set of curve segments. Pure integer bit math, exactly
    * replayable by any engine with shifts and masks (q120's oracle). */
  def mortonKey16(a: Column, b: Column): Column =
    spread16(a.cast("long")).bitwiseOR(shiftleft(spread16(b.cast("long")), 1))

  /** Min-max bin an integral column into [0, 65536): exact integer
    * arithmetic `((v - lo) * 65535) div (hi - lo)`, truncating division —
    * identical in Spark and SQL engines for the non-negative operands
    * here. Exact while `(hi - lo) * 65535` fits double's 53-bit mantissa,
    * i.e. column RANGES up to ~2^37 — beyond that the product's double
    * rounding may move a value one bin, which skews layout, never
    * correctness (the key is dropped after sorting). */
  private def bin16(v: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0L))
      .otherwise(((v.cast("long") - lo) * lit(65535L) / (hi - lo)).cast("long"))

  /** Append a Z-order key column `zName` interleaving the min-max-binned
    * values of `colA` and `colB`. The min/max aggregate is one tiny job
    * whose 1-row result broadcast-joins back — the corpus itself stays
    * narrow. */
  def zOrderKey(df: DataFrame, colA: String, colB: String,
                zName: String = "__z"): DataFrame = {
    val mm = df.agg(
      min(col(colA)).cast("long").as("__amin"), max(col(colA)).cast("long").as("__amax"),
      min(col(colB)).cast("long").as("__bmin"), max(col(colB)).cast("long").as("__bmax"))
    df.crossJoin(broadcast(mm))
      .withColumn(zName, mortonKey16(
        bin16(col(colA), col("__amin"), col("__amax")),
        bin16(col(colB), col("__bmin"), col("__bmax"))))
      .drop("__amin", "__amax", "__bmin", "__bmax")
  }

  /** Z-order layout: range-partition + sort by the Morton key of (colA,
    * colB), so each output file covers a short Z-curve segment — a narrow
    * rectangle-ish region of the 2-D key space. Parquet min/max stats then
    * skip files for selective predicates on EITHER column (~sqrt(nFiles)
    * of the files match a point predicate on one dimension), where
    * [[writeRangeSorted]] skips only on its single sort column and leaves
    * the other column's per-file span at the full global range. This is
    * the multi-column data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER
    * shape) for the two-predicate access pattern at 100 TB. The key is
    * computed once at write time and dropped — readers see the original
    * schema. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    zOrderKey(df, colA, colB)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Overwrite ONLY the partitions present in `df` (dynamic partition
    * overwrite), leaving sibling partitions intact — the incremental
    * corpus-refresh primitive: re-curating one source/date re-writes that
    * directory, the other N-1 partitions' files are untouched. Static
    * overwrite (the default mode) would truncate the whole root. The mode
    * is a PER-WRITER option, not a session-conf mutation: concurrent
    * writes in the same session (two streaming sinks, or one refresh next
    * to an unrelated static overwrite) never see each other's mode.
    *
    * As a stream's `foreachBatch` writer over FINALIZED append-mode
    * output, a replayed micro-batch rewrites its partitions with identical
    * content instead of appending duplicates. That needs every micro-batch
    * to be PARTITION-COMPLETE: each partition value's rows must all
    * finalize in the same batch. Tumbling-window output partitioned BY ITS
    * OWN window start qualifies (a window crosses the watermark once,
    * emitting all its rows together). Session windows do NOT qualify under
    * a coarser partition key (e.g. session date): two sessions sharing
    * that key finalize in different batches, and whichever emits later
    * would overwrite the other's directory. An append-only raw feed does
    * not qualify either. When in doubt, partition by exactly the
    * window-start column. No pre-write emptiness probe is needed: an empty
    * dynamic overwrite touches no partitions. */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }

  /** Per-shard accounting for a sharded export: (shard, n_docs, n_tokens,
    * id_checksum, min_id, max_id), one row per NON-EMPTY shard. The
    * publish-side contract of [[exportTrainingShards]]: a trainer (or a
    * re-run) verifies its read against these counts, and two exports of
    * the same corpus version produce byte-identical manifests.
    *
    * `id_checksum` is `bit_xor` of the LCG-mixed id — order-independent,
    * overflow-free (XOR never wraps, unlike a SUM that a 10^12-row shard
    * would overflow), and sensitive to membership: one missing or
    * duplicated doc flips it. One aggregation, map-side partial, shuffle
    * carries nShards rows. */
  def shardManifest(df: DataFrame, idCol: String, weightCol: Column,
                    nShards: Int): DataFrame =
    df.groupBy(TextOps.shardAssign(col(idCol), nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(weightCol.cast("long")).as("n_tokens"),
        bit_xor(TextOps.lcgState(col(idCol))).as("id_checksum"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .orderBy(col("shard"))

  /** The corpus → trainer handoff: write `df` as `nShards` deterministic
    * hive partitions (`shard=K/`) and return the [[shardManifest]]. The
    * shard id is the replayable [[TextOps.shardAssign]] LCG draw, so the
    * SAME doc lands in the SAME shard every run — a failed export resumes
    * by diffing manifests, and shard-parallel trainers re-read stable
    * slices. `repartition(nShards, shard)` routes each shard's rows into
    * few tasks before the partitioned write (without it every upstream
    * task dribbles a sliver file into every shard directory — nShards ×
    * nTasks small files at scale); rows are sorted by id within each file
    * so re-exports are byte-comparable. */
  def exportTrainingShards(df: DataFrame, idCol: String, weightCol: Column,
                           nShards: Int, path: String): DataFrame = {
    val sharded = df.withColumn("shard", TextOps.shardAssign(col(idCol), nShards))
    sharded.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    shardManifest(df, idCol, weightCol, nShards)
  }

  /** Streaming twin of [[exportTrainingShards]]: one micro-batch of an
    * append-only document feed lands as `path/batch=B/shard=K/`, and its
    * [[shardManifest]] as `manifestPath/batch=B/`. Both are batch-id-keyed
    * overwrites, so a replayed micro-batch rewrites its own directories.
    * The shard id is the same [[TextOps.shardAssign]] draw as the batch
    * exporter, so a doc lands in the same shard whether it arrived by
    * backfill or by stream; a trainer reads one shard across all batches
    * via partition pruning on `shard` (both are partition columns under
    * discovery). The corpus manifest at any point is
    * [[mergedShardManifest]] over `manifestPath` — a fold of batches ×
    * nShards rows, never a corpus rescan. Batch-granular small files are
    * the append trade; [[compact]] per shard directory is the standing
    * fix. */
  def writeTrainingShardBatch(docs: DataFrame, idCol: String,
                              weightCol: Column, nShards: Int, path: String,
                              manifestPath: String, batchId: Long): Unit =
    exportTrainingShards(docs, idCol, weightCol, nShards, s"$path/batch=$batchId")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$manifestPath/batch=$batchId")

  /** Fold per-batch shard manifests (parquet under `manifestPath`, one
    * directory per micro-batch) into the corpus manifest. The manifest is
    * a MONOID: doc counts and token masses add, XOR checksums xor
    * (micro-batches of an append-only feed are disjoint by id, and XOR of
    * disjoint XOR-aggregates is the union's XOR), id ranges min/max — so
    * the merged manifest equals [[shardManifest]] over the full corpus
    * without ever rescanning it. The aggregation input is batches ×
    * nShards rows: trivially small at any corpus size. */
  def mergedShardManifest(spark: org.apache.spark.sql.SparkSession,
                          manifestPath: String): DataFrame =
    spark.read.parquet(manifestPath)
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        bit_xor(col("id_checksum")).as("id_checksum"),
        min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
      .orderBy(col("shard"))

  /** Compact a small-files parquet directory in place: read, coalesce to
    * `targetFiles`, rewrite. The small-file problem is an operational
    * certainty at 100 TB (every streaming micro-batch and every
    * fine-grained partition overwrite leaves slivers; each file costs a
    * task + a footer read + a namenode entry forever after).
    * `coalesce` — not `repartition` — so compaction is SHUFFLE-FREE:
    * existing files merge into fewer tasks; row order within the new
    * files follows input order. The rewrite stages into a sibling temp
    * directory, then swaps via two renames. The swap is NOT atomic: a
    * reader in the instant between the two renames sees no directory, and
    * a crash there leaves the data at `<path>.__compact_old` — the next
    * compact() detects and restores it. Never sees a HALF-WRITTEN
    * directory, though: each rename is atomic, so readers get either the
    * old files, the new files, or a clean not-found. Run compaction in
    * the maintenance window a mutable-directory layout implies (a
    * transaction-log table format is the zero-window alternative). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFiles: Int): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".__compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".__compact_old")
    // recover from a prior crash: a leftover backup with no live dir is
    // the mid-swap state — restore it; a leftover tmp is always garbage
    if (fs.exists(bak) && !fs.exists(dst)) {
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(s"compact: could not restore $bak to $path")
    } else if (fs.exists(bak) && !fs.delete(bak, true))
      throw new java.io.IOException(s"compact: could not clear stale $bak")
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      throw new java.io.IOException(s"compact: could not clear stale $tmp")

    spark.read.parquet(path).coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // rename onto an EXISTING destination has nesting/copy semantics on
    // some filesystems instead of failing — every step must be checked
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compact: could not back up $path to $bak")
    if (!fs.rename(tmp, dst)) {
      if (!fs.rename(bak, dst)) // roll back: the original directory wins
        throw new java.io.IOException(
          s"compact: swap failed AND rollback failed — data is at $bak")
      throw new java.io.IOException(s"compact: could not swap $tmp into $path (rolled back)")
    }
    fs.delete(bak, true)
  }

  /** Spread rows across the session's shuffle parallelism BEFORE an
    * expensive per-row projection (sketch kernels, multi-regex scoring) —
    * but only when needed: a single-split local file would otherwise
    * serialize the whole map onto one core (AQE only coalesces, never
    * splits a stage's input). On a real corpus with >= nPart input splits
    * this is a no-op, so the at-scale plan pays NO extra shuffle.
    *
    * Shuffle-rooted frames (aggregate/join/window/... anywhere in the plan)
    * are returned unchanged WITHOUT probing: their parallelism already
    * comes from the shuffle, and probing `df.rdd` on such a plan would
    * eagerly execute the upstream stages under AQE (the final-plan
    * resolution materializes query stages) only to read a partition count.
    * For the remaining narrow-over-scan plans the probe is free — no
    * exchanges means no jobs run. */
  def spread(df: DataFrame, idCol: String): DataFrame = {
    val hasShuffle = df.queryExecution.analyzed.collectFirst {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Distinct |
           _: RepartitionOperation | _: GlobalLimit => true
    }.isDefined
    if (hasShuffle) df
    else {
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions >= n) df
      else df.repartition(n, col(idCol))
    }
  }
}
