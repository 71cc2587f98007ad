package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan-audit artifact generator (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: PlanDump <outDir> <suffix> [q1,q2,...]
  *   outDir  — directory to write <query>_<suffix>.txt files into
  *   suffix  — e.g. "before" / "after"
  *   queries — comma-separated names; omitted = all declared queries
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like graft.Bench so the
  * dumped plan is the bench's plan (same master, same shuffle-partition
  * knob). Plans are the ANALYZED physical plan pre-execution (AQE
  * isFinalPlan=false) — the deterministic, commit-stable form.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [q1,q2,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        shufflePartitions)
      .config("spark.sql.warehouse.dir", graft.Verify.runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntryAccess.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"dumped $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"PLAN FAIL $name: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}

private object SparkEntryAccess {
  def queries = graft.SparkEntry.queries
}
