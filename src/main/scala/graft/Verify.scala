package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q103_cluster_survivors,q104_shard_manifest — fast
    // local iteration on a new query; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // same hygiene as Bench: drop per-query caches and nudge the GC so
        // ContextCleaner reclaims shuffle files/broadcasts — 53 dump queries
        // otherwise accumulate driver state and slow the tail of the run
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A warehouse directory of this process alone,
    * `spark-warehouse/run-<pid>-<nanoTime>`, deleted when the JVM exits.
    * Runs that share one `spark-warehouse/` drop and rewrite each other's
    * stores mid-query (q190's transition store read as FILE_NOT_EXIST
    * under two concurrent runs); a per-run directory keeps them apart. */
  private[graft] def runWarehouse(): String = {
    val dir = Paths.get("spark-warehouse",
      s"run-${ProcessHandle.current().pid()}-${System.nanoTime()}").toAbsolutePath
    Files.createDirectories(dir)
    sys.addShutdownHook {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
    dir.toString
  }

  /** A quoted JSON string literal: escapes backslash, quote and ALL
    * control chars (<0x20) — a tab or CR in oracle SQL, or a quote or
    * backslash in a path, would otherwise break the reader's json.load. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
