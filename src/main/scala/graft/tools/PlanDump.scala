package graft.tools

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan-audit artifact generator (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: PlanDump <outDir> <suffix> [q1,q2,...]
  *   outDir  — directory to write <query>_<suffix>.txt files into
  *   suffix  — e.g. "before" / "after"
  *   queries — comma-separated names; omitted = all declared queries
  *
  * Reads SPARK_GRAFT_SF_DIR and builds its session with [[Harness]], like
  * graft.Bench, so the dumped plan is the bench's plan. Plans are the
  * ANALYZED physical plan pre-execution (AQE isFinalPlan=false) — the
  * deterministic, commit-stable form.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [q1,q2,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.selected(graft.SparkEntry.queries, args.lift(2)).foreach { case (name, fn) =>
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
      } finally Harness.cleanup(spark)
    }
    spark.stop()
  }
}
