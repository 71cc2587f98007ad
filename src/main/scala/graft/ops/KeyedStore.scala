package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed CDC store: latest-wins upsert/delete batches over a long key,
  * with snapshot ("time travel") reads and crash-safe compaction — the
  * UPDATE path the engine's standing stores were missing ([[Stores]]
  * covers append + tombstone-delete; a mutable dimension — user profiles,
  * document metadata, label corrections — needs keyed upserts).
  *
  * Layout (all under one store directory):
  *  - `log/batch=B` — one immutable parquet dir per CDC batch, rows
  *    `(id, op, batch, payload…)`, `op` ∈ {'u','d'}. Writes OVERWRITE
  *    their own batch dir, so replaying a failed batch is idempotent by
  *    construction (the engine's replay contract, same as the BM25/IVF
  *    delta logs).
  *  - `base/gen=G` — an optional compacted generation: the folded
  *    latest-wins state of every batch ≤ its horizon, deletes realized
  *    (dropped), per-row `batch` preserved. Published via immutable
  *    pointer files `base/v<N>` (content = "G\tupTo", tmp+rename —
  *    the [[Stores.publishVersion]] idiom), so there is no torn-pointer
  *    state: a crash before the rename leaves readers on the previous
  *    generation; a crash after it leaves stale folded batch dirs that
  *    readers IGNORE (they only read log batches > the horizon), making
  *    the trailing delete pure space reclamation.
  *
  * Read plan at scale (the merge-on-read shape): the base is corpus-sized,
  * the log is bounded by the compaction cadence — so [[readLatest]] folds
  * ONLY the log with a groupBy (tiny), anti-joins the base against the
  * broadcast set of log-touched ids, and unions the log's surviving rows.
  * The base never shuffles; merge cost is O(log), zero until the first
  * post-compaction batch. Snapshot reads (`asOf = B`) filter the log to
  * batches ≤ B; history older than the compaction horizon is trimmed
  * (the Delta/Iceberg vacuum trade) and requesting it throws loudly.
  *
  * Contracts: ids are non-null longs (in-flight assert, the
  * [[Stores.addTombstones]] pattern); one row per id within a batch
  * (checked at write — latest-wins needs a total order and (id, batch)
  * is it); payload schema fixed across batches (unionByName on read
  * fails loudly on drift); batch ids strictly ordered by the caller;
  * single-writer, like every engine store.
  *
  * Reference analogue: the reference mutates its ratings frame in place
  * and re-derives downstream (explicit_ratings/functions.py assignment
  * steps); a standing CDC store makes the mutation itself durable,
  * replayable and snapshot-addressable. */
object KeyedStore {

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new org.apache.hadoop.fs.Path(path, "log")
  private def baseDir(path: String) = new org.apache.hadoop.fs.Path(path, "base")

  /** Non-null-long id projection with the engine's in-flight assert: a
    * NULL / non-castable id would silently vanish from the latest-wins
    * fold, so the write job fails loudly instead. */
  private def checkedId(c: Column, idCol: String): Column =
    when(
      assert_true(c.isNotNull && c.cast("long").isNotNull,
        concat(lit(s"KeyedStore: id in '$idCol' NULL or not castable to long: "),
          coalesce(c.cast("string"), lit("NULL")))).isNull,
      c.cast("long")).as("id")

  /** Append one upsert batch: every row of `df` (its `idCol` plus any
    * payload columns) becomes the new current version of its id. One row
    * per id (checked — a batch is a keyed map, and latest-wins needs
    * (id, batch) to totally order versions). Overwrites `log/batch=B`:
    * re-running a failed write is idempotent. As a stream's
    * `foreachBatch` writer (CDC ingestion keyed by micro-batch id), run
    * [[compactKeyedStore]] at cadence from the maintenance job, never
    * from the stream: one writer per concern. */
  def writeKeyedBatch(df: DataFrame, idCol: String, path: String,
                      batchId: Long): Unit = {
    val payload = df.columns.filter(_ != idCol).toSeq
    // reject payload drift at WRITE time — a drifted batch would otherwise
    // poison the log and only fail (or worse, null-fill) at read time
    storeSchema(df.sparkSession, path).foreach { schema =>
      val want = schema.filterNot(f => Seq("id", "op", "batch").contains(f.name))
        .map(f => (f.name, f.dataType)).toSeq
      val got = payload.map(c => (c, df.schema(c).dataType))
      if (got != want)
        throw new IllegalArgumentException(
          s"writeKeyedBatch: batch $batchId payload ${got.mkString(",")} " +
            s"drifts from the store schema ${want.mkString(",")} — evolve " +
            "by compacting into a new store, not by mixed-schema batches")
    }
    val rows = df.select(
      checkedId(col(idCol), idCol) +: payload.map(col): _*)
    val dup = rows.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"writeKeyedBatch: batch $batchId has ${dup.head.getLong(1)} rows " +
          s"for id ${dup.head.getLong(0)} — one row per id per batch")
    rows.select(col("id") +: lit("u").as("op") +: lit(batchId).as("batch") +:
        payload.map(col): _*)
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(logDir(path), s"batch=$batchId").toString)
  }

  /** Append one delete batch: the ids stop existing as of `batchId` (a
    * later upsert may re-insert them). Payload columns are NULL-typed
    * from the store's existing schema, so the log stays union-compatible.
    * Requires at least one prior batch or base (a delete needs a schema
    * to be a delete OF). */
  def deleteKeyedBatch(ids: DataFrame, idCol: String, path: String,
                       batchId: Long): Unit = {
    val spark = ids.sparkSession
    val schema = storeSchema(spark, path).getOrElse(
      throw new IllegalStateException(
        s"deleteKeyedBatch: no store at $path — nothing to delete from"))
    val payload = schema.filterNot(f => Seq("id", "op", "batch").contains(f.name))
    ids.select(checkedId(col(idCol), idCol)).distinct()
      .select(col("id") +: lit("d").as("op") +: lit(batchId).as("batch") +:
        payload.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(logDir(path), s"batch=$batchId").toString)
  }

  private def storeSchema(spark: SparkSession, path: String) = {
    val ld = logDir(path)
    val f = fs(spark, ld)
    // read one leaf dir directly (NO basePath: the dirs carry an explicit
    // long `batch` column; partition inference would shadow it with an int)
    val fromLog =
      if (f.exists(ld))
        f.listStatus(ld).map(_.getPath).find(_.getName.startsWith("batch="))
          .map(p => spark.read.parquet(p.toString).schema)
      else None
    fromLog.orElse(currentBase(spark, path).map { case (gen, _) =>
      spark.read.parquet(
        new org.apache.hadoop.fs.Path(baseDir(path), s"gen=$gen").toString).schema
    })
  }

  /** The published (generation, horizon) — highest immutable pointer file
    * wins, exactly [[Stores.currentVersion]]. None before first compaction. */
  def currentBase(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val bd = baseDir(path)
    val f = fs(spark, bd)
    if (!f.exists(bd)) None
    else {
      val vs = f.listStatus(bd).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toLong)
      if (vs.isEmpty) None
      else {
        val in = f.open(new org.apache.hadoop.fs.Path(bd, s"v${vs.max}"))
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val Array(gen, upTo) = s.split('\t')
        Some((gen.toLong, upTo.toLong))
      }
    }
  }

  /** Log batches with `horizon < batch ≤ asOf` (folded dirs a crashed
    * compaction left behind are thereby ignored), or None when the live
    * log is empty — the base-only fast path. */
  private def liveLog(spark: SparkSession, path: String, horizon: Long,
                      asOf: Option[Long]): Option[DataFrame] = {
    val ld = logDir(path)
    val f = fs(spark, ld)
    if (!f.exists(ld)) None
    else {
      val live = f.listStatus(ld).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .filter(b => b > horizon && asOf.forall(b <= _))
      if (live.isEmpty) None
      // leaf dirs read directly (no basePath): the explicit long `batch`
      // column in the data is authoritative, never partition inference
      else Some(spark.read.parquet(live.sorted.map(b =>
        new org.apache.hadoop.fs.Path(ld, s"batch=$b").toString): _*))
    }
  }

  /** The current (or `asOf`-snapshot) state: one row per live id —
    * `(id, batch, payload…)` with `batch` the version that produced the
    * row. Merge-on-read: the log folds with one tiny groupBy, the base
    * anti-joins the broadcast log-id set and never shuffles. `asOf`
    * below the compaction horizon throws (history trimmed). */
  def readLatest(spark: SparkSession, path: String,
                 asOf: Option[Long] = None): DataFrame = {
    val base = currentBase(spark, path)
    val horizon = base.map(_._2).getOrElse(Long.MinValue)
    asOf.foreach { a =>
      if (a < horizon) throw new IllegalArgumentException(
        s"readLatest: asOf=$a predates the compaction horizon $horizon — " +
          "history was trimmed; compact less eagerly to keep it")
    }
    val baseDf = base.map { case (gen, _) =>
      spark.read.parquet(
        new org.apache.hadoop.fs.Path(baseDir(path), s"gen=$gen").toString)
    }
    val logLatest = liveLog(spark, path, horizon, asOf).map { log =>
      val payload = log.columns.filterNot(Seq("id", "op", "batch").contains)
      // (id, batch) is unique by the write contract, so max_by is exact
      log.groupBy(col("id"))
        .agg(max_by(struct(col("op") +: col("batch") +: payload.map(col): _*),
          col("batch")).as("w"))
        .select(col("id") +: col("w.op").as("op") +: col("w.batch").as("batch") +:
          payload.map(p => col(s"w.$p").as(p)): _*)
    }
    (baseDf, logLatest) match {
      case (None, None) =>
        throw new IllegalStateException(s"readLatest: no store at $path")
      case (Some(b), None) => b
      case (bOpt, Some(l)) =>
        val touched = l.select(col("id"))
        val survivors = l.filter(col("op") === "u").drop("op")
        bOpt match {
          case None => survivors
          case Some(b) =>
            b.join(broadcast(touched), Seq("id"), "left_anti")
              .unionByName(survivors.select(b.columns.map(col): _*))
        }
    }
  }

  /** SCD-type-2 materialization of the store's history: one row per
    * VERSION of each id with its validity interval —
    * `(id, valid_from, valid_to, payload…)`, `valid_to` the batch that
    * superseded the version (exclusive) or NULL while current. A delete
    * closes the prior interval and contributes no row; a re-insert opens
    * a fresh one. History older than the compaction horizon is trimmed
    * (the [[readLatest]] contract): the base's rows enter as intervals
    * opening at their recorded batch.
    *
    * Shape: ONE window (lead over (id, batch)) — an id-keyed exchange
    * over versions, which is the honest minimum for interval
    * construction; this is the batch materialization you run at
    * compaction cadence to feed as-of auditing, not a serving read. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val base = currentBase(spark, path)
    val horizon = base.map(_._2).getOrElse(Long.MinValue)
    val baseDf = base.map { case (gen, _) =>
      spark.read.parquet(
        new org.apache.hadoop.fs.Path(baseDir(path), s"gen=$gen").toString)
        .withColumn("op", lit("u"))
    }
    val rows = (baseDf, liveLog(spark, path, horizon, asOf = None)) match {
      case (None, None) =>
        throw new IllegalStateException(s"history: no store at $path")
      case (Some(b), None) => b
      case (None, Some(l)) => l
      case (Some(b), Some(l)) => b.select(l.columns.map(col): _*).unionByName(l)
    }
    val payload = rows.columns.filterNot(Seq("id", "op", "batch").contains)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("batch"))
    rows
      .withColumn("valid_to", lead(col("batch"), 1).over(w))
      .filter(col("op") === "u")
      .select(col("id") +: col("batch").as("valid_from") +:
        col("valid_to") +: payload.map(col): _*)
  }

  /** Fold every batch ≤ `upTo` (plus any previous base) into a new base
    * generation, publish it, then reclaim the folded batch dirs. Crash
    * windows are all safe: before the pointer rename readers stay on the
    * old state; after it, leftover folded dirs are ignored by the
    * `batch > horizon` log filter. Snapshots older than `upTo` are
    * trimmed ([[readLatest]] rejects them loudly). */
  def compactKeyedStore(spark: SparkSession, path: String, upTo: Long): Unit = {
    val prev = currentBase(spark, path)
    prev.foreach { case (_, h) =>
      require(upTo > h, s"compactKeyedStore: upTo=$upTo must exceed horizon $h")
    }
    val folded = readLatest(spark, path, asOf = Some(upTo))
    val bd = baseDir(path)
    val f = fs(spark, bd)
    val gen = prev.map(_._1 + 1).getOrElse(1L)
    // range-sort the generation by id: parquet row-group min/max stats then
    // prune point lookups and id-range scans to one file / few row groups,
    // so a readLatest(...).filter(id = k) serve path touches O(1) of the
    // corpus-sized base (KeyedStoreSpec pins the pushed filter)
    folded.repartitionByRange(col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(bd, s"gen=$gen").toString)
    // publish: immutable pointer, tmp + rename (atomic on posix/HDFS)
    val next = {
      val vs = if (!f.exists(bd)) Array.empty[Long]
        else f.listStatus(bd).map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
          .map(_.drop(1).toLong)
      if (vs.isEmpty) 1L else vs.max + 1
    }
    val tmp = new org.apache.hadoop.fs.Path(bd, s".v$next.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$gen\t$upTo".getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, new org.apache.hadoop.fs.Path(bd, s"v$next")))
      throw new IllegalStateException(
        s"compactKeyedStore: concurrent publish detected at $path v$next")
    // space reclamation only — readers already ignore batches ≤ upTo
    val ld = logDir(path)
    val lf = fs(spark, ld)
    if (lf.exists(ld)) lf.listStatus(ld).map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        p.getName.stripPrefix("batch=").toLong <= upTo)
      .foreach(p => lf.delete(p, true))
    prev.foreach { case (g, _) =>
      f.delete(new org.apache.hadoop.fs.Path(bd, s"gen=$g"), true)
    }
  }

  /** Number of live (un-compacted) log batches — the compaction trigger
    * input, mirroring [[Stores.tombstoneCount]]: compact when the live
    * log crosses the read-amplification budget (each live batch adds one
    * file-listing plus its rows to the merge-on-read groupBy). */
  def liveLogBatches(spark: SparkSession, path: String): Long = {
    val horizon = currentBase(spark, path).map(_._2).getOrElse(Long.MinValue)
    val ld = logDir(path)
    val f = fs(spark, ld)
    if (!f.exists(ld)) 0L
    else f.listStatus(ld).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .count(_.stripPrefix("batch=").toLong > horizon).toLong
  }

  /** Remove the store directory (test/rebuild hygiene, the
    * [[Stores.dropStore]] analogue for path-based stores). */
  def dropKeyedStore(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, p)
    if (f.exists(p)) f.delete(p, true)
    ()
  }
}
