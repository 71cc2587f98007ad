package graft
import graft.tools.Harness
import graft.tools.Harness.{MovementListener, jsonString}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val cpus = spark.sparkContext.defaultParallelism
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // steady-state measurement: first execution of each query is dominated
    // by JVM JIT + whole-stage-codegen compilation (measured 2-3x the warm
    // time), so run once uncounted, then time the second execution. A query
    // that throws is recorded as failed (time -1, listed in "failed") — NOT
    // timed as if its fast-fail wall time were a result.
    val failed = scala.collection.mutable.ArrayBuffer[String]()
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
    val results = Harness.selected(SparkEntry.queries).map { case (name, fn) =>
      try {
        run(fn(spark, sfDir)) // warm-up (JIT + codegen)
        // Movement metrics are captured on the LAST run only (they are
        // plan-deterministic, unlike wall time) and read after the timer
        // stops, post listener settle.
        val t = Harness.minOf2(spark, Seq(name -> (() => run(fn(spark, sfDir)))),
          beforeSecond = () => { movement.settle(); movement.reset() }).head._2
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
        // isolate queries: 79 queries x 3 executions otherwise accumulate
        // enough driver state that late-suite queries were measured 5-10x
        // slower from GC pressure
        Harness.cleanup(spark)
      }
    }
    // per-phase timings for the store-backed queries: the headline number
    // above conflates the one-time index build with serving cost; the
    // serving argument rests on the probe-only time, so build / delete /
    // probe are timed separately (same min-of-2, same noop sink for the
    // frame-returning phase). Phases run in declaration order per pass —
    // each probe measurement sees the store its own pass just built.
    val phaseTimes = Harness.selected(SparkEntry.queryPhases).flatMap { case (name, ps) =>
      try {
        Some(name -> Harness.minOf2(spark,
          ps.map { case (pname, fn) => pname -> (() => fn(spark, sfDir).foreach(run)) }))
      } catch {
        case e: Throwable =>
          System.err.println(
            s"BENCH PHASE FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          None
      } finally Harness.cleanup(spark)
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
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fl,"movement":$mv,"phases":$ph,"sf":${jsonString(sfDir)},"cpus":$cpus,"shuffle_partitions":$shufflePartitions}"""
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
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$fl,"sf":${jsonString(sfDir)},"cpus":$cpus,"shuffle_partitions":$shufflePartitions,"detail":${jsonString(out)}}"""
    println(compact)
    spark.stop()
  }
}
