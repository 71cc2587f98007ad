package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tombstone-based deletion for the engine's standing bucketed stores
  * (IVF / quantized-IVF vector stores, the ANN serving catalog) — the
  * "remove these documents from the corpus AND from every derived store"
  * path a production pipeline needs for takedowns / right-to-be-forgotten,
  * designed so deletes never rewrite the store:
  *
  *  - [[addTombstones]] appends the deleted ids to a tiny side table
  *    (`<table>_tombstones/batch=B` parquet, one id column) — O(deleted)
  *    cost, the 10^8-row store is untouched.
  *  - Every store reader ([[graft.ops.Similarity.ivfSearchFromStore]],
  *    [[graft.ops.Similarity.quantizedIvfSearchFromStore]],
  *    [[graft.serve.Recommend.recommendFromStore]]) anti-joins its
  *    candidate rows against the broadcast tombstone set — the store scan
  *    stays bucket-pruned and nothing corpus-sized shuffles, because the
  *    anti-join runs AFTER cell filtering on the already-pruned candidate
  *    slice. With no tombstones on disk the reader plan is bit-identical
  *    to the pre-deletion plan (the side table's absence is checked at
  *    plan time; zero overhead until the first delete).
  *  - [[compactInto]] amortizes: rewrite the store minus tombstones into a
  *    fresh bucketed table (the version-swap idiom — at 100 TB you write a
  *    new table version and repoint consumers, never rewrite in place),
  *    then drop the old table and its tombstones. Run it when
  *    |tombstones| / |store| crosses the read-amplification budget.
  *
  * Batch directories follow the engine's replay-idempotence contract:
  * re-running a delete batch overwrites `batch=B` with identical content.
  * The LSH signature store is covered through the same mechanism (a
  * taken-down document must stop suppressing future near-duplicates of
  * itself — [[Dedup.lshProbeStore]] / [[Dedup.minHashLshCandidatesFromStore]]
  * and the streaming curator's base-store probe all filter tombstones).
  * Deliberately NOT covered: sketch stores
  * ([[Sketches.writeDistinctSketches]] — HLL registers are monotone, so
  * deletion there is a rebuild of the affected batches by contract) and
  * path-based per-batch stores (the curator's hash/corpus/delta logs —
  * their deletion unit IS the batch directory, already the replay
  * contract).
  *
  * Reference analogue: the reference curates by dropping rows from the
  * in-memory frame and re-deriving everything downstream
  * (explicit_ratings/functions.py drop/filter steps); a standing store
  * makes deletion a first-class operation instead of a full re-derive. */
object Stores {

  private def tombstonePath(spark: SparkSession, table: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${table}_tombstones")

  /** Record `ids` (any single-column projection of deleted ids) as deleted
    * from `table`. O(deleted): writes one tiny parquet batch directory. */
  def addTombstones(ids: DataFrame, idCol: String, table: String,
                    batchId: Long): Unit = {
    val dir = tombstonePath(ids.sparkSession, table)
    ids.select(col(idCol).as("__raw"))
      // in-flight assert (the shardAssign pattern): a non-numeric string id
      // would cast to NULL, never match in [[minusTombstones]], and the
      // takedown would silently no-op — fail the delete job loudly instead
      .select(when(
        assert_true(col("__raw").isNotNull && col("__raw").cast("long").isNotNull,
          concat(lit(s"addTombstones: id in '$idCol' NULL or not castable to long: "),
            coalesce(col("__raw").cast("string"), lit("NULL")))).isNull,
        col("__raw").cast("long")).as("id"))
      .distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch=$batchId")
  }

  /** The distinct deleted-id set for `table`, or None when no delete has
    * ever been recorded (the zero-overhead fast path: readers skip the
    * anti-join entirely). */
  def tombstoneIds(spark: SparkSession, table: String): Option[DataFrame] = {
    val dir = tombstonePath(spark, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else Some(spark.read.option("basePath", dir.toString).parquet(dir.toString)
      .select(col("id")).distinct())
  }

  /** True iff `path` exists and holds at least one `batch=` directory —
    * the probe every delta-log reader uses for its zero-overhead
    * no-deltas fast path. */
  private[ops] def hasBatchDirs(spark: SparkSession, path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
  }

  /** The distinct deleted-id set EXCLUDING one batch — what a delete
    * batch's own recompute must see so its artifacts stay a pure function
    * of prior, frozen state under replay ([[graft.ops.Terms.tombstoneBm25Docs]]).
    * None when no OTHER batch exists. */
  def tombstoneBatches(spark: SparkSession, table: String,
                       exceptBatch: Long): Option[DataFrame] = {
    val dir = tombstonePath(spark, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else {
      val others = spark.read.option("basePath", dir.toString)
        .parquet(dir.toString)
        .filter(col("batch") =!= exceptBatch)
        .select(col("id")).distinct()
      if (fs.listStatus(dir).count(s =>
            s.getPath.getName.startsWith("batch=") &&
            s.getPath.getName != s"batch=$exceptBatch") == 0) None
      else Some(others)
    }
  }

  /** Filter deleted rows out of a (candidate) frame keyed by `idName`.
    * Broadcast left-anti: the tombstone set is bounded by the compaction
    * cadence, so the big side never shuffles. Identity when no tombstones
    * exist. */
  def minusTombstones(cand: DataFrame, table: String, idName: String): DataFrame =
    tombstoneIds(cand.sparkSession, table) match {
      case None => cand
      case Some(dead) =>
        cand.join(broadcast(dead), cand(idName) === dead("id"), "left_anti")
    }

  /** Number of recorded deletions — the compaction trigger input
    * (compact when this crosses a fraction of the store row count). */
  def tombstoneCount(spark: SparkSession, table: String): Long =
    tombstoneIds(spark, table).map(_.count()).getOrElse(0L)

  /** Drop a bucketed store table AND its warehouse directory (a previous
    * process can leave the location behind with no entry in this session's
    * in-memory catalog), plus any tombstones. Safe under the stores'
    * single-writer contract. */
  def dropStore(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val ts = tombstonePath(spark, table)
    if (fs.exists(ts)) fs.delete(ts, true)
    ()
  }

  private def versionDir(spark: SparkSession, alias: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${alias}__versions")

  /** Atomic version publication — the version-swap idiom made
    * first-class. A compaction writes generation G+1 as a NEW table,
    * PUBLISHES it under the stable alias, and only then drops generation
    * G; consumers address the alias ([[resolve]]) and never a concrete
    * generation. Pointer records are IMMUTABLE files
    * `<alias>__versions/v<N>` (content = the table name) created via
    * tmp + rename-to-a-fresh-name — atomic on posix and HDFS — and the
    * current version is the highest N, so there is no torn-pointer
    * state: a crash before the rename leaves the alias on the old,
    * still-existing generation; a crash after it leaves both
    * generations on disk with readers already resolving the new one.
    * Returns the published version number. Single-publisher contract
    * (the same owner that runs compaction). */
  def publishVersion(spark: SparkSession, alias: String, table: String): Long = {
    val dir = versionDir(spark, alias)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val next = currentVersion(spark, alias).map(_._1 + 1).getOrElse(1L)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".v$next.tmp")
    val out = fs.create(tmp, true)
    try out.write(table.getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, s"v$next")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"publishVersion: concurrent publish detected for alias '$alias' v$next")
    next
  }

  /** The alias's current (version, table), or None when never published. */
  def currentVersion(spark: SparkSession, alias: String): Option[(Long, String)] = {
    val dir = versionDir(spark, alias)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toLong)
      if (vs.isEmpty) None
      else {
        val n = vs.max
        val in = fs.open(new org.apache.hadoop.fs.Path(dir, s"v$n"))
        val table = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some((n, table))
      }
    }
  }

  /** The concrete table the alias currently points at — what every
    * consumer should address instead of a generation name. Throws loudly
    * on an unpublished alias (a silent fallback would read a stale or
    * wrong table). */
  def resolve(spark: SparkSession, alias: String): String =
    currentVersion(spark, alias).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"resolve: alias '$alias' has no published version"))

  /** Align a frame to its bucketed-write layout BEFORE the write:
    * hash-partition into exactly `numBuckets` partitions on the bucket
    * column. Spark's bucket id is pmod(murmur3(col), numBuckets) — the
    * same function `repartition(n, col)`'s HashPartitioning uses — so
    * after this every write task holds exactly ONE bucket and the write
    * emits ONE file per bucket instead of one per (task × bucket): a
    * 24-task × 32-bucket BM25 build was measured writing 768 postings
    * files where 32 carry the same rows (guide §6 small files — the
    * probe pays listing + open cost per file on every query, the build
    * pays 24× the commits). The repartition is one index-sized exchange
    * of already-aggregated rows, paid once per build. Sizing rule
    * unchanged: `numBuckets` is the store's scale knob — size it so a
    * bucket lands near the 128 MB–1 GB file range at the corpus' scale
    * (it already had to be, for the probe side). */
  def bucketAligned(df: DataFrame, numBuckets: Int,
                    bucketCol: String): DataFrame =
    df.repartition(numBuckets, col(bucketCol))

  /** Amortized rewrite: materialize `table` minus its tombstones into
    * `newTable` with the same cell bucketing (all engine stores bucket and
    * sort by `cell`), then drop the old table and its tombstone set. One
    * bucketed write of the surviving rows — the bucket-local sort is the
    * only per-partition work; no shuffle beyond the bucketing exchange.
    * Consumers repoint to `newTable` (version-swap, not in-place). */
  def compactInto(spark: SparkSession, table: String, newTable: String,
                  numBuckets: Int, bucketCol: String = "cell",
                  publishAlias: Option[String] = None): Unit = {
    require(newTable != table, "compaction writes a NEW table version")
    dropStore(spark, newTable)
    bucketAligned(minusTombstones(spark.table(table), table, idName = "id"),
        numBuckets, bucketCol)
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(newTable)
    // publish BEFORE dropping the old generation: a crash in between
    // leaves both generations with readers already on the new one; a
    // crash before the publish leaves the alias on the intact old one
    publishAlias.foreach(a => publishVersion(spark, a, newTable))
    dropStore(spark, table)
  }
}
