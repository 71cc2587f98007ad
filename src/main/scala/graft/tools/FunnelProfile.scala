package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CorpusPipeline, Dedup, TextOps}

/** Per-stage wall-clock attribution for the q80 curation funnel (round-6
  * verdict item 5): times each stage's frame in isolation under the same
  * noop-sink accounting the bench uses, so the 8.5 s total can be pinned to
  * the stage that pays it. Run:
  * `scripts/run_main.sh graft.tools.FunnelProfile /root/testdata/sf0.1` */
object FunnelProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", graft.Verify.runWarehouse())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    def time(name: String)(mk: => DataFrame): Unit = {
      noop(mk); cleanup() // warm codegen
      val t = (0 until 2).map { _ =>
        val t0 = System.nanoTime(); noop(mk); val dt = (System.nanoTime() - t0) / 1e9
        cleanup(); dt
      }.min
      println(f"[funnel] $name%-28s $t%7.2f s")
    }

    val docsAll = graft.Tables.documents(spark, sfDir)
    val docs = docsAll.filter(col("doc_id") % 97 =!= 0)
    val bench = docsAll.filter(col("doc_id") % 97 === 0)
    val cfg = CorpusPipeline.Config(
      allowedLangs = Seq("en"),
      blockCols = Seq(col("lang"), floor(col("n_chars") / 50.0).cast("long")),
      shingleLen = 3, minJaccard = 0.1,
      decontamN = 4, minOverlap = 1,
      strataCol = "source", ratesPct = Map("src0" -> 50), defaultPct = 90)

    // stage frames replicated from CorpusPipeline.curate's internals
    // (kernel-based flags, matching the shipped pipeline; stages here are
    // UN-persisted so each timing is its stage's full lineage cost)
    def flagged = {
      val stats = graft.functions.TextFunctions.lang_quality_stats(col("text"))
      val words = col("__s").getField("n_ws_tokens")
      docs
        .withColumn("__s", stats)
        .withColumn("__quality_ok", words >= cfg.minWords && words <= cfg.maxWords &&
          col("__s").getField("n_nonalnum").cast("double") /
            col("__s").getField("n_chars").cast("double") < cfg.maxPunctRatio)
        .withColumn("lang_guess", TextOps.langId(
          TextOps.LangMarkers.map { case (l, _) => l -> col("__s").getField(l) }))
        .withColumn("__lang_ok", col("lang_guess").isin(cfg.allowedLangs: _*))
        .drop("__s")
    }
    def base = flagged.filter(col("__quality_ok") && col("__lang_ok"))
    def exactFlags = base
      .select(col("doc_id"), md5(col("text").cast("binary")).as("__h"))
      .withColumn("__keep_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .select(col("doc_id"), (col("doc_id") === col("__keep_id")).as("__exact_ok"))
    def baseExact = base.join(exactFlags.filter(col("__exact_ok")), Seq("doc_id"))
      .select(base.columns.map(col): _*)
    def pairs = Dedup.ngramJaccardPairs(baseExact, "doc_id", "text",
      cfg.blockCols, cfg.shingleLen, cfg.minJaccard)
    def clusters = Dedup.duplicateClusters(baseExact, "doc_id", pairs)
    def decon = Dedup.decontaminate(baseExact, bench, "doc_id", "text",
      cfg.decontamN, cfg.minOverlap)

    time("flags (quality+lang)")(flagged.select(col("doc_id"),
      col("__quality_ok"), col("lang_guess"), col("__lang_ok")))
    time("base (flag survivors)")(base)
    time("exact_flags (md5 window)")(exactFlags)
    time("base_exact (join back)")(baseExact)
    time("neardup_pairs")(pairs)
    time("neardup_clusters")(clusters)
    time("decontaminate")(decon)
    time("FULL q80")(graft.SparkEntry.queries("q80_curation_funnel")(spark, sfDir))
    spark.stop()
  }
}
