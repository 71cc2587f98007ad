package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SketchSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val events =
    graft.Tables.events(spark, sf0001)

  test("approxDistinct is within the HLL rsd bound of the exact count") {
    val approx = Sketches.approxDistinct(events, Seq(col("event_type")),
        col("user_id"), rsd = 0.05)
      .as[(String, Long)].collect().toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d"))
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val err = math.abs(approx(k) - ex).toDouble / ex
      // 0.05 rsd: allow 4 sigma
      assert(err <= 0.2, s"$k: approx=${approx(k)} exact=$ex err=$err")
    }
  }

  test("approxDistinct partial-aggregates map-side (sketches merge, values don't shuffle)") {
    val p = Sketches.approxDistinct(events, Seq(col("event_type")), col("user_id"))
      .queryExecution.executedPlan.toString
    // partial_approx_count_distinct before the exchange = the map-side
    // sketch merge; exact countDistinct would plan an expand/two-phase
    // distinct that shuffles every value
    assert(p.contains("partial_approx_count_distinct"), p)
  }

  test("approxQuantiles lands within rank-error of the exact percentiles") {
    val approx = Sketches.approxQuantiles(events, Seq(col("event_type")),
        col("value"), Seq(0.25, 0.5, 0.75), accuracy = 10000)
      .as[(String, Seq[Double])].collect().toMap
    val exact = events.groupBy("event_type")
      .agg(expr("percentile(value, array(0.25, 0.5, 0.75))").as("q"))
      .as[(String, Seq[Double])].collect().toMap
    exact.foreach { case (k, exq) =>
      approx(k).zip(exq).foreach { case (a, e) =>
        // value tolerance: GK guarantees rank error; on this smooth synthetic
        // distribution that translates to a small value gap
        assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 0.5),
          s"$k: approx=$a exact=$e")
      }
    }
  }

  test("frequentItems finds every item above the support threshold in one pass") {
    // each of the 5 event types holds ~20% share — all must surface at 10%
    val items = Sketches.frequentItems(events, Seq("event_type"), support = 0.1)
      .select(col("event_type_freqItems")).as[Seq[String]].head().toSet
    val all = events.select("event_type").distinct().as[String].collect().toSet
    assert(all.subsetOf(items), s"missing heavy hitters: ${all -- items}")
  }

  test("exactTopKeys equals the full-shuffle top-k, independent of partitioning") {
    // planted Zipf-ish skew: key i appears 1000/i times for i in 1..40,
    // plus a 2000-key long tail of singletons
    val rows = (1 to 40).flatMap(i => Seq.fill(1000 / i)(s"k$i")) ++
      (1 to 2000).map(i => s"tail$i")
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (k, n) => (-n, k) }.take(10)
      .zipWithIndex.map { case ((k, n), i) => (k, n, (i + 1).toLong) }
    for (nPart <- Seq(1, 7, 32)) {
      val df = spark.sparkContext.parallelize(rows, nPart).toDF("key")
      val got = Sketches.exactTopKeys(df, "key", 10, support = 0.01)
        .as[(String, Long, Long)].collect().toSeq
      assert(got == exact, s"nPart=$nPart")
    }
  }

  test("exactTopKeys refuses an uncertifiable top-k instead of approximating") {
    // uniform keys: no key's count can exceed support*N at this support
    val df = (1 to 1000).map(i => s"u${i % 200}").toDF("key")
    val e = intercept[IllegalStateException] {
      Sketches.exactTopKeys(df, "key", 5, support = 0.1)
    }
    assert(e.getMessage.contains("not provable"))
    // nulls count toward N but never rank
    val withNulls = (1 to 100).map(_ => Some("hot")) ++ (1 to 50).map(_ => None)
    val got = Sketches.exactTopKeys(withNulls.toDF("key"), "key", 1, support = 0.2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("hot", 100L, 1L)))
  }

  test("runtime bloom filter prunes the large join side when enabled") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val lineitem = graft.Tables.lineitem(spark, sf0001)
      val orders = graft.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"expected a runtime bloom filter on the fact side:\n$p")
      // and it still returns the right rows
      val expected = lineitem.join(orders.hint("broadcast"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("HLL sketch store: per-batch sketches merge to the one-shot answer") {
    val dir = java.nio.file.Files.createTempDirectory("hll_store").toString
    // 3 batches with overlapping user sets per group
    val batches = Seq(
      (0 until 4000).map(i => ("a", i.toLong)) ++
        (0 until 500).map(i => ("b", i.toLong)),
      (2000 until 6000).map(i => ("a", i.toLong)),              // 2000 overlap
      (0 until 1000).map(i => ("b", i.toLong)))                 // 500 overlap
    batches.zipWithIndex.foreach { case (rows, b) =>
      Sketches.writeDistinctSketches(rows.toDF("g", "u"), "g", col("u"),
        dir, batchId = b.toLong)
    }
    val merged = Sketches.mergedDistinct(spark, dir)
      .as[(String, Long)].collect().toMap

    // merged == the one-shot sketch over the union (register maxima —
    // identical estimate, not approximation-of-approximation)
    val union = batches.flatten.toDF("g", "u")
    val oneShot = union
      .groupBy(col("g"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12)))
        .as("approx_distinct"))
      .as[(String, Long)].collect().toMap
    assert(merged == oneShot)

    // ... and within the HLL error bound of the exact distinct
    val exact = union.distinct().groupBy(col("g")).count()
      .as[(String, Long)].collect().toMap
    for ((g, ex) <- exact) {
      val err = math.abs(merged(g) - ex).toDouble / ex
      assert(err < 0.05, s"group $g: est ${merged(g)} vs exact $ex")
    }

    // replayed batch overwrites; the fold is unchanged
    Sketches.writeDistinctSketches(batches(2).toDF("g", "u"), "g", col("u"),
      dir, batchId = 2L)
    assert(Sketches.mergedDistinct(spark, dir)
      .as[(String, Long)].collect().toMap == merged)
  }

  test("streaming sinks feed both monoid stores; merged equals one-shot") {
    implicit val sqlCtx = spark.sqlContext
    val hDir = java.nio.file.Files.createTempDirectory("s_hist").toString
    val dDir = java.nio.file.Files.createTempDirectory("s_hll").toString
    val ck1 = java.nio.file.Files.createTempDirectory("s_ck1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("s_ck2").toString
    val rows = (0 until 200).map(i => (if (i % 2 == 0) "x" else "y", (i % 13).toLong))
    val in1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q1 = in1.toDF().toDF("g", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Sketches.writeValueHistograms(b, "g", col("v"), hDir, id) }
      .option("checkpointLocation", ck1).start()
    in1.addData(rows.take(120): _*); q1.processAllAvailable()
    in1.addData(rows.drop(120): _*); q1.processAllAvailable()
    q1.stop()
    val merged = Sketches.mergedQuantiles(spark, hDir, "g", Seq(0.5))
      .as[(String, Double, Long)].collect().map(r => r._1 -> r._3).toMap
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, vs) <- byG)
      assert(merged(g) == vs(math.ceil(0.5 * vs.size).toInt - 1))

    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q2 = in2.toDF().toDF("g", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Sketches.writeDistinctSketches(b, "g", col("v"), dDir, id) }
      .option("checkpointLocation", ck2).start()
    in2.addData(rows.take(120): _*); q2.processAllAvailable()
    in2.addData(rows.drop(120): _*); q2.processAllAvailable()
    q2.stop()
    val est = Sketches.mergedDistinct(spark, dDir)
      .as[(String, Long)].collect().toMap
    for ((g, vs) <- byG) // 13 distinct values — HLL exact at this cardinality
      assert(est(g) == vs.distinct.size.toLong, s"group $g")
  }

  test("histogram store: merged quantiles equal exact type-1 quantiles and replay stably") {
    val dir = java.nio.file.Files.createTempDirectory("hist_store").toString
    val rows = (0 until 300).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      (g, (i * 37 % 23 + 1).toLong)
    }
    val batches = rows.grouped(100).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      Sketches.writeValueHistograms(b.toDF("g", "v"), "g", col("v"),
        dir, batchId = i.toLong)
    }
    val probs = Seq(0.25, 0.5, 0.75, 0.9)
    val merged = Sketches.mergedQuantiles(spark, dir, "g", probs)
      .as[(String, Double, Long)].collect()
      .map { case (g, p, q) => (g, p) -> q }.toMap
    // exact type-1 quantile: rank ceil(p*n), 1-indexed over the sorted multiset
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, vs) <- byG; p <- probs) {
      val expect = vs(math.ceil(p * vs.size).toInt - 1)
      assert(merged((g, p)) == expect, s"group $g p=$p")
    }
    // bin counts are a monoid: merged == one-shot over the union
    val oneDir = java.nio.file.Files.createTempDirectory("hist_one").toString
    Sketches.writeValueHistograms(rows.toDF("g", "v"), "g", col("v"),
      oneDir, batchId = 0L)
    assert(Sketches.mergedQuantiles(spark, oneDir, "g", probs)
      .as[(String, Double, Long)].collect().toSet ==
      Sketches.mergedQuantiles(spark, dir, "g", probs)
        .as[(String, Double, Long)].collect().toSet)
    // replayed batch overwrites; the fold is unchanged
    Sketches.writeValueHistograms(batches(1).toDF("g", "v"), "g", col("v"),
      dir, batchId = 1L)
    assert(Sketches.mergedQuantiles(spark, dir, "g", probs)
      .as[(String, Double, Long)].collect()
      .map { case (g, p, q) => (g, p) -> q }.toMap == merged)
  }
}
