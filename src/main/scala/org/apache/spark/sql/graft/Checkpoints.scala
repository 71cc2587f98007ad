package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The one graft file under `org.apache.spark.sql` — it needs the
  * `private[sql]` Dataset constructor to re-wrap a checkpointed plan.
  *
  * WHY: `Dataset.localCheckpoint` truncates LINEAGE but COPIES the
  * truncated plan's estimated statistics onto the resulting LogicalRDD
  * (`LogicalRDD.fromDataset` → `rewriteStatsAndConstraints`,
  * unconditionally). In an iterative trainer — ALS sweeps, BPR epochs,
  * union-find rounds — iteration n's output joins iteration (n-1)'s
  * checkpointed frames, so the size-only estimator MULTIPLIES the carried
  * sizeInBytes values: the estimate doubles (or worse) per iteration,
  * and by iteration ~30 the driver is grinding Toom-Cook multiplications
  * on million-bit BigIntegers inside every plan's stats walk (measured:
  * sweep 13 = 1.3 s, sweep 16 = 33 s, pure driver CPU in
  * SizeInBytesOnlyStatsPlanVisitor). The blocks, partitioning and
  * ordering are all fine — only the carried estimate is poison.
  *
  * [[truncate]] therefore re-wraps the checkpointed RDD in a fresh
  * LogicalRDD whose statistics are the MEASURED byte size of the
  * checkpoint blocks (the storage layer already knows it exactly) — an
  * honest, iteration-independent estimate that keeps downstream
  * broadcast decisions working and caps the stats walk at real-world
  * magnitudes forever. */
object Checkpoints {

  /** `df.localCheckpoint()` with the carried stats estimate replaced by
    * the checkpoint blocks' actual storage size (memory + disk). Use for
    * every iterative loop whose checkpointed output feeds the next
    * iteration's plan. Lazy form ([[truncateLazy]]): the blocks don't
    * exist yet, so the stats fall back to the session default — still a
    * CONSTANT, which is the property the loop needs. */
  def truncate(df: DataFrame): DataFrame = truncate(df, eager = true)

  def truncateLazy(df: DataFrame): DataFrame = truncate(df, eager = false)

  private def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.logical match {
      case lr: LogicalRDD =>
        val ss = cp.sparkSession.asInstanceOf[SparkSession]
        // an empty or not (fully) cached checkpoint keeps the
        // session-default estimate: conservative, and still
        // iteration-independent, which is the property the loop needs
        val stats = storedBytes(lr.rdd).filter(_ > 0).map(b => Statistics(sizeInBytes = b))
        Dataset.ofRows(ss, LogicalRDD(lr.output, lr.rdd,
          lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          lr.stream)(ss, stats, None))
      case _ => cp
    }
  }

  /** Frees the checkpoint blocks behind a [[truncate]]d frame now, rather
    * than when the ContextCleaner collects it. The frame, and every frame
    * that still reads it, must not be computed again. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** `df` — a frame computed from the cached (typically locally
    * checkpointed) RDD `cached` — re-wrapped in a LogicalRDD whose
    * statistics are `cached`'s stored bytes. A frame built from an RDD
    * otherwise estimates `spark.sql.defaultSizeInBytes` (Long.MaxValue by
    * default), which silently disables auto-broadcast for every caller
    * that joins it. The bytes are an upper bound when `df` projects only
    * part of `cached`. When some partition is not cached the session
    * default stays. */
  def fromRdd(df: DataFrame, cached: RDD[_]): DataFrame = {
    val ss = df.sparkSession.asInstanceOf[SparkSession]
    val stats = storedBytes(cached).map(b => Statistics(sizeInBytes = b))
    val qe = df.queryExecution
    Dataset.ofRows(ss, LogicalRDD(qe.analyzed.output, qe.toRdd)(ss, stats, None))
  }

  /** The stored bytes (memory + disk) of every partition of the cached
    * `rdd`, or None when some partition is not cached. Read synchronously
    * from the block manager master, which every cached block reports to
    * before its task ends — unlike the app status store, which its
    * listener updates asynchronously and at most once per live-update
    * period, so it can still read a just-checkpointed RDD as uncached. */
  private def storedBytes(rdd: RDD[_]): Option[BigInt] = {
    val master = SparkEnv.get.blockManager.master
    val sizes = rdd.partitions.indices.map { i =>
      master.getBlockStatus(RDDBlockId(rdd.id, i), askStorageEndpoints = false)
        .values.map(s => s.memSize + s.diskSize).maxOption
    }
    if (sizes.forall(_.isDefined)) Some(BigInt(sizes.flatten.sum)) else None
  }
}
