package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-by-stage timing of the neighborhood-CF pipeline (the q163/q178
  * ItemKNN shape) — the measurement harness behind the round-13 co-walk
  * optimization work. Each leg is materialized through the noop sink
  * (guide §1.4) with min-of-2 timing after a warm-up, so the numbers
  * decompose the bench's end-to-end query time into: edge build, co-walk
  * join+agg, cosine+truncate, scoring join, anti-join+topk.
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like graft.Bench.
  */
object CfProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cpus)
      .config("spark.sql.warehouse.dir", graft.Verify.runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    def time(label: String)(mk: => DataFrame): Unit = {
      noop(mk) // warm-up
      val t = (0 until 2).map { _ =>
        cleanup()
        val t0 = System.nanoTime()
        noop(mk)
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$label%-40s $t%8.3f s")
      cleanup()
    }

    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    def inter = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_suppkey").as("i"))

    def eRaw = inter.groupBy(col("u"), col("i")).agg(count(lit(1)).as("w"))
    def eCap = graft.ops.Relational.topKPerGroup(eRaw, Seq(col("u")),
      Seq(col("w").desc, col("i")), 50, rankName = "__rh").drop("__rh")

    // Leg 1: the edge build (agg + history window)
    time("edges (agg+cap)")(eCap)

    // Leg 2: co-walk over a persisted edge frame
    def persisted(): DataFrame = {
      val e = eCap.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }
    def coOf(e: DataFrame): DataFrame =
      e.select(col("u"), col("i").as("s1"), col("w").as("w1"))
        .join(e.select(col("u"), col("i").as("s2"), col("w").as("w2")), "u")
        .filter(col("s1") =!= col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(col("w1") * col("w2")).as("co"))
    time("co-walk (join+agg) incl. edge persist") { coOf(persisted()) }

    // Leg 3: full itemKnnRecs end-to-end
    time("itemKnnRecs end-to-end") {
      graft.ops.GraphCF.itemKnnRecs(inter, "u", "i", k = 10,
        neighbors = 20, maxHistory = 50)
    }

    // Leg 4: p3alpha end-to-end
    time("p3alphaRecs end-to-end") {
      graft.ops.GraphCF.p3alphaRecs(inter, "u", "i", k = 10,
        neighbors = 20, maxHistory = 50)
    }

    // Leg 5: userKnn end-to-end (the q184 shape)
    time("userKnnRecs end-to-end") {
      graft.ops.GraphCF.userKnnRecs(inter, "u", "i", k = 10,
        neighbors = 20, maxHistory = 50, maxAudience = 50)
    }

    // Experiment: half-pair co-walk (s1 < s2) + persisted mirror — halves
    // the quadratic fanout through the join and the partial aggregation;
    // the mirror is two cache scans + a union over the ~|co|/2 frame.
    // (Round-9 recorded the UNPERSISTED self-union as a dead end — 23.8 s
    // from subtree re-execution; the persist is what changes the math.)
    def coHalfMirror(e: DataFrame): DataFrame = {
      val half = e.select(col("u"), col("i").as("s1"), col("w").as("w1"))
        .join(e.select(col("u"), col("i").as("s2"), col("w").as("w2")), "u")
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(col("w1") * col("w2")).as("co"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      half.unionByName(
        half.select(col("s2").as("s1"), col("s1").as("s2"), col("co")))
    }
    time("co-walk HALF+mirror incl. edge persist") { coHalfMirror(persisted()) }

    // row counts for the napkin math
    {
      val e = persisted()
      val pairs = e.select(col("u"), col("i").as("s1"), col("w").as("w1"))
        .join(e.select(col("u"), col("i").as("s2"), col("w").as("w2")), "u")
        .filter(col("s1") =!= col("s2"))
      println(s"edge rows: ${e.count()}")
      println(s"pair fanout rows: ${pairs.count()}")
      println(s"distinct co pairs: ${coOf(e).count()}")
      cleanup()
    }

    // Plan dumps for the co-walk and scoring legs
    val e = persisted()
    println("=== co-walk plan ===")
    println(coOf(e).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
