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
        // point lookup (statusStore.rdd is a KV-store get by id) — the
        // full getRDDStorageInfo listing walks EVERY cached RDD, which a
        // per-iteration loop over a session with hundreds of cached
        // frames pays each round. Trust the measurement only when every
        // partition reports cached: on a cluster, block-status updates
        // can lag the checkpoint action, and stamping a PARTIAL size
        // would understate the stat (and could wrongly qualify a large
        // frame for auto-broadcast downstream); an incomplete read falls
        // back to the session-default estimate — conservative and still
        // iteration-independent, which is the property the loop needs.
        val measured = (try Some(ss.sparkContext.statusStore.rdd(lr.rdd.id))
          catch { case _: NoSuchElementException => None })
          .filter(_.numCachedPartitions == lr.rdd.getNumPartitions)
          .map(i => BigInt(i.memoryUsed + i.diskUsed))
          .filter(_ > 0)
        val stats = measured.map(b => Statistics(sizeInBytes = b))
        Dataset.ofRows(ss, LogicalRDD(lr.output, lr.rdd,
          lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          lr.stream)(ss, stats, None))
      case _ => cp
    }
  }

  /** `df` — a frame computed from the cached (typically locally
    * checkpointed) RDD `cached` — re-wrapped in a LogicalRDD whose
    * statistics are `cached`'s stored bytes. A frame built from an RDD
    * otherwise estimates `spark.sql.defaultSizeInBytes` (Long.MaxValue by
    * default), which silently disables auto-broadcast for every caller
    * that joins it. The bytes are an upper bound when `df` projects only
    * part of `cached`. They are read synchronously from the block manager
    * master, which every cached block reports to before its task ends; the
    * status store [[truncate]] reads lags it by up to the UI's live-update
    * period. When some partition is not cached the session default stays. */
  def fromRdd(df: DataFrame, cached: RDD[_]): DataFrame = {
    val ss = df.sparkSession.asInstanceOf[SparkSession]
    val master = SparkEnv.get.blockManager.master
    val sizes = cached.partitions.indices.map { i =>
      master.getBlockStatus(RDDBlockId(cached.id, i), askStorageEndpoints = false)
        .values.map(s => s.memSize + s.diskSize).maxOption
    }
    val stats = if (sizes.forall(_.isDefined))
      Some(Statistics(sizeInBytes = BigInt(sizes.flatten.sum))) else None
    val qe = df.queryExecution
    Dataset.ofRows(ss, LogicalRDD(qe.analyzed.output, qe.toRdd)(ss, stats, None))
  }
}
