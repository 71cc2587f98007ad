package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Accumulates stage-level data-movement metrics so the bench artifact
  * records not just WALL TIME but the data-movement profile behind it —
  * the auditable form of every "no corpus-sized shuffle" claim in
  * PLANS.md/OPERATORS.md. Stage events are aggregated task metrics; reads
  * happen outside the timers, after a settle wait (the listener bus is
  * async and its drain API is private), so instrumentation cost never
  * lands in a timed window. */
final class MovementListener extends SparkListener {
  val inputBytes = new AtomicLong; val inputRecords = new AtomicLong
  val shuffleWriteBytes = new AtomicLong; val shuffleWriteRecords = new AtomicLong
  val spillDiskBytes = new AtomicLong
  // stamp of the last event seen, for the settle wait
  val lastEvent = new AtomicLong
  def reset(): Unit =
    Seq(inputBytes, inputRecords, shuffleWriteBytes, shuffleWriteRecords,
      spillDiskBytes).foreach(_.set(0))
  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val m = ev.stageInfo.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spillDiskBytes.addAndGet(m.diskBytesSpilled)
    }
    lastEvent.set(System.nanoTime())
  }
  /** Wait until no stage event has arrived for `quietMs` (bounded). */
  def settle(quietMs: Long = 200, maxMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
           System.nanoTime() - math.max(lastEvent.get(), quietSince) < quietMs * 1000000L) {
      Thread.sleep(20)
    }
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shuffle partitions default to the core count (right for the gate
    // scales), overridable for scale probes: partitions are THE knob every
    // real deployment sizes to its data, and the x100 CF-family probe runs
    // with them sized (e.g. 256) to show the co-walk exchange clean — AQE
    // (on by default) coalesces small exchanges back down, so oversizing
    // doesn't tax the light queries
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // floor AQE's partition coalescing at the knob too: coalescing is
      // advisory on INPUT bytes and otherwise floors at defaultParallelism
      // (= cpus here), so a join whose OUTPUT fans out quadratically (the
      // CF co-walk) would run its [join → partial agg] stage at cpus-many
      // same-heap tasks no matter what the knob says — exactly the ~1 GB
      // x100-probe spill measured invariant to the knob until this floor
      // (see GraphCF.coPairs' physical note; on a real cluster the floor
      // is the cluster's cores and per-task memory is per-executor)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Verify.runWarehouse())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // steady-state measurement: first execution of each query is dominated
    // by JVM JIT + whole-stage-codegen compilation (measured 2-3x the warm
    // time), so run once uncounted, then time the second execution. A query
    // that throws is recorded as failed (time -1, listed in "failed") — NOT
    // timed as if its fast-fail wall time were a result.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // SPARK_GRAFT_ONLY=q54_dup_clusters,q42_ngram_jaccard — local profiling
    // aid; unset (the driver's mode) runs the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // drop state an execution left behind (persisted frames, checkpoint
    // RDDs) and nudge a GC — run BETWEEN executions, outside the timers,
    // so each timed run pays its own persists (as a driver cold run would)
    // but not the previous execution's leftovers: queries with per-round
    // localCheckpoints were measured 2-3x slower on their second timed run
    // purely from accumulated memory-store pressure
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // materialize via the no-op DSv2 sink, NOT count(): count() lets
    // Catalyst prune every unreferenced column, and for a query whose last
    // operator is a left join against an aggregated (unique-key) subtree
    // the ENTIRE compute collapses to a bare row-count scan (q113 measured
    // 0.3 s at both 1x and 10x — it was benching the parquet footer). The
    // noop write forces every output column through the full plan, which
    // is what any real consumer of the query pays.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val movement = new MovementListener
    spark.sparkContext.addSparkListener(movement)
    val moved = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = selected.map { case (name, fn) =>
      try {
        run(fn(spark, sfDir)) // warm-up (JIT + codegen)
        // min of 2 timed runs: the host is shared, and a transient load
        // spike during a single timed run was measured to inflate one query
        // 8x — min-of-k is the standard steady-state estimator for that.
        // Movement metrics are captured on the LAST run only (they are
        // plan-deterministic, unlike wall time) and read after the timer
        // stops, post listener settle.
        val t = (0 until 2).map { i =>
          cleanup()
          if (i == 1) { movement.settle(); movement.reset() }
          val t0 = System.nanoTime()
          run(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.min
        movement.settle()
        moved(name) =
          s"""{"input_mb":${movement.inputBytes.get / 1048576.0},""" +
          s""""input_rows":${movement.inputRecords.get},""" +
          s""""shuffle_mb":${movement.shuffleWriteBytes.get / 1048576.0},""" +
          s""""shuffle_rows":${movement.shuffleWriteRecords.get},""" +
          s""""spill_mb":${movement.spillDiskBytes.get / 1048576.0}}"""
        name -> t
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          name -> -1.0
      } finally {
        // isolate queries: Spark's ContextCleaner only reclaims shuffle
        // files / broadcasts when the JVM collects their references, and
        // 79 queries x 3 executions otherwise accumulate enough driver
        // state that late-suite queries were measured 5-10x slower from GC
        // pressure
        cleanup()
      }
    }
    // per-phase timings for the store-backed queries: the headline number
    // above conflates the one-time index build with serving cost; the
    // serving argument rests on the probe-only time, so build / delete /
    // probe are timed separately (same min-of-2, same noop sink for the
    // frame-returning phase). Phases run in declaration order per pass —
    // each probe measurement sees the store its own pass just built.
    val phased = SparkEntry.queryPhases.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val phaseTimes = phased.flatMap { case (name, ps) =>
      try {
        val passes = (0 until 2).map { _ =>
          ps.map { case (pname, fn) =>
            cleanup()
            val t0 = System.nanoTime()
            fn(spark, sfDir).foreach(run)
            pname -> (System.nanoTime() - t0) / 1e9
          }
        }
        val best = ps.map(_._1).zipWithIndex.map { case (pname, i) =>
          pname -> passes.map(_(i)._2).min
        }
        Some(name -> best)
      } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH PHASE FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          None
      } finally cleanup()
    }
    val ph = phaseTimes.map { case (name, ts) =>
      "\"" + name + "\":" +
        ts.map { case (p, t) => "\"" + p + "\":" + t }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val mv = moved.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fl,"movement":$mv,"phases":$ph,"sf":${Verify.jsonString(sfDir)},"cpus":$cpus,"shuffle_partitions":$shufflePartitions}"""
    println(line)
    // the driver's artifact truncates long stdout tails, which has left the
    // per-query map unauditable in past rounds — persist the identical JSON
    // line to a file as the durable record. The default is a NON-committed
    // path: ad-hoc partial runs used to silently clobber the committed
    // /root/repo/BENCH_FULL.json artifact (twice in round 10). Writing the
    // committed artifact now requires opting in via SPARK_GRAFT_BENCH_OUT.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"BENCH: could not write $out: ${e.getMessage}") }
    // The driver's artifact keeps only the last ~2000 characters of stdout,
    // and the full line above (201-query map + movement + phases) is tens of
    // KB — which left `parsed: null` in every BENCH_r*.json since round 9.
    // Emit a COMPACT final line that fits the tail: headline total, failure
    // list, scale knobs, and a pointer to the full-map file written above.
    // The full line still prints first (old numbers kept, per the contract).
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$fl,"sf":${Verify.jsonString(sfDir)},"cpus":$cpus,"shuffle_partitions":$shufflePartitions,"detail":${Verify.jsonString(out)}}"""
    println(compact)
    spark.stop()
  }
}
