package graft.model

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DsgdBprSpec extends SparkTestBase {
  import spark.implicits._

  // two taste clusters: users 0-3 like items 0-4, users 4-7 like items 5-9
  private def clusteredPositives = {
    val rows = for {
      u <- 0 until 8
      i <- 0 until 10
      if (u < 4 && i < 5) || (u >= 4 && i >= 5)
    } yield (u, i)
    rows.toDF("user", "item")
  }

  private def meanMargin(m: Bpr.ModelArrays): Double = {
    val pos = clusteredPositives.as[(Int, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val margins = for {
      (u, ps) <- pos.toSeq
      i <- ps
      j <- 0 until 10 if !ps.contains(j)
    } yield {
      val uf = m.userFactors(u)
      val d = uf.indices.map(k => uf(k) * (m.itemFactors(i)(k) - m.itemFactors(j)(k))).sum
      d
    }
    margins.sum / margins.size
  }

  test("DSGD training separates the planted taste clusters") {
    val p = DsgdBpr.Params(rank = 4, lr = 0.05, epochs = 12, blocks = 3,
      seed = 7L, initScale = 0.1)
    val trained = DsgdBpr.train(clusteredPositives, "user", "item", 10, p)
    val before = Bpr.ModelArrays(
      trained.userFactors.map { case (u, f) => u -> Array.fill(f.length)(0.0) },
      trained.itemFactors.map(f => Array.fill(f.length)(0.0)))
    assert(meanMargin(trained) > meanMargin(before) + 0.05,
      s"margin=${meanMargin(trained)}")
    assert(trained.userFactors.size == 8 && trained.itemFactors.length == 10)
  }

  test("DSGD is bit-identical under different input partitionings") {
    val p = DsgdBpr.Params(rank = 3, lr = 0.05, epochs = 3, blocks = 3, seed = 11L,
      initScale = 0.1)
    val a = DsgdBpr.train(clusteredPositives, "user", "item", 10, p)
    val b = DsgdBpr.train(clusteredPositives.repartition(7, col("item")), "user", "item", 10, p)
    assert(a.userFactors.keySet == b.userFactors.keySet)
    a.userFactors.foreach { case (u, f) => assert(f.sameElements(b.userFactors(u)), s"user $u") }
    a.itemFactors.zip(b.itemFactors).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x.sameElements(y), s"item $i")
    }
  }

  test("trainFactors frame contract is bit-identical to the collecting wrapper") {
    // the scale path: factors stay DataFrames end-to-end; collecting them
    // here (test-side) must reproduce train()'s ModelArrays exactly
    val p = DsgdBpr.Params(rank = 3, lr = 0.05, epochs = 4, blocks = 3, seed = 19L,
      initScale = 0.1)
    val viaArrays = DsgdBpr.train(clusteredPositives, "user", "item", 10, p)
    val ff = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p)
    val uf = ff.userFactors.as[(Int, Seq[Double])].collect().toMap
    val vf = ff.itemFactors.as[(Int, Seq[Double])].collect().toMap
    assert(uf.keySet == viaArrays.userFactors.keySet)
    uf.foreach { case (u, f) => assert(f.toArray.sameElements(viaArrays.userFactors(u))) }
    assert(vf.size == 10)
    vf.foreach { case (i, f) => assert(f.toArray.sameElements(viaArrays.itemFactors(i))) }
    // item rows carry their own popularity — every item id is present even
    // when unrated (pop 0), so the frame covers the full catalog
    assert(vf.keySet == (0 until 10).toSet)
  }

  test("trainFactors with factorsDir returns parquet-backed frames") {
    val dir = java.nio.file.Files.createTempDirectory("dsgd_factors").toString
    val p = DsgdBpr.Params(rank = 2, lr = 0.05, epochs = 2, blocks = 2, seed = 23L,
      initScale = 0.1)
    val ff = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p,
      factorsDir = Some(dir))
    // the returned frames read from the parquet snapshot, not the lineage
    assert(ff.itemFactors.queryExecution.optimizedPlan.toString.contains("Relation"))
    assert(new java.io.File(s"$dir/final/item_factors").exists())
    assert(ff.userFactors.count() == 8 && ff.itemFactors.count() == 10)
  }

  test("item-factor init is distributed: plan reads Range, no local table scan") {
    // the at-scale contract: nothing O(numItems) is allocated on the
    // driver. With epochs=0 the returned item frame IS the init frame —
    // its plan must be built on spark.range (Range leaf), not a
    // LocalTableScan/LocalRelation of a driver-side Seq. Positives also
    // come from spark.range here so the only possible local leaf would be
    // the init itself.
    val pos = spark.range(40).selectExpr("cast(id % 8 as int) as user",
      "cast(id % 10 as int) as item")
    val p = DsgdBpr.Params(rank = 3, epochs = 0, blocks = 3, seed = 3L, initScale = 0.1)
    val ff = DsgdBpr.trainFactors(pos, "user", "item", 10, p)
    val plan = ff.itemFactors.queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), s"expected Range leaf in:\n$plan")
    assert(!plan.contains("LocalRelation") && !plan.contains("LocalTableScan"),
      s"driver-local leaf in init plan:\n$plan")
  }

  test("genre-aware training is bit-identical across Map and DataFrame genre sources") {
    // the join-based genre path (at-scale) must reproduce the driver-Map
    // path exactly: genres ride the item rows either way
    val genres = (0 until 10).map(i => i -> Array(if (i < 5) 1 else 2)).toMap
    val genresDf = genres.toSeq.map { case (i, g) => (i, g.toSeq) }
      .toDF("item", "genres")
    val p = DsgdBpr.Params(rank = 3, lr = 0.05, epochs = 3, blocks = 2, seed = 13L,
      initScale = 0.1)
    val viaMap = DsgdBpr.train(clusteredPositives, "user", "item", 10, p, Some(genres))
    val ffDf = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p,
      itemGenresDf = Some(genresDf))
    val vf = ffDf.itemFactors.as[(Int, Seq[Double])].collect().toMap
    vf.foreach { case (i, f) => assert(f.toArray.sameElements(viaMap.itemFactors(i)), s"item $i") }
    val uf = ffDf.userFactors.as[(Int, Seq[Double])].collect().toMap
    uf.foreach { case (u, f) => assert(f.toArray.sameElements(viaMap.userFactors(u)), s"user $u") }
  }

  /** `java.util.Arrays.hashCode` over the IEEE bit patterns of the
    * id-ordered factors — equal hashes mean bit-identical factors. */
  private def factorDigest(df: org.apache.spark.sql.DataFrame): Int =
    java.util.Arrays.hashCode(df.as[(Int, Seq[Double])].collect().sortBy(_._1)
      .flatMap(_._2).map(java.lang.Double.doubleToLongBits))

  test("golden pin: factors are bit-identical to the recorded digests") {
    // exact factors for three block counts, one genre-aware: any change to
    // the schedule, RNG streams, sampling or update order moves a digest
    val pos = spark.range(3000).selectExpr("cast(id % 97 as int) as user",
      "cast((id * 7919) % 53 as int) as item").distinct()
    val genres = (0 until 60).map(i => i -> Array(i % 4)).toMap
    def digests(blocks: Int, g: Option[Map[Int, Array[Int]]]): (Int, Int) = {
      val ff = DsgdBpr.trainFactors(pos, "user", "item", 60, DsgdBpr.Params(rank = 6,
        lr = 0.05, epochs = 3, blocks = blocks, seed = 9L), itemGenres = g)
      (factorDigest(ff.userFactors), factorDigest(ff.itemFactors))
    }
    assert(digests(4, None) == ((787934450, -280974192)))
    assert(digests(3, Some(genres)) == ((1142659724, -1134034584)))
    assert(digests(5, None) == ((-1740908015, -2044721291)))
  }

  test("one Spark job per sub-epoch, plus a small constant for the init") {
    // the constant: the init frames' AQE shuffle stages (3 for this fixture)
    val p = DsgdBpr.Params(rank = 3, lr = 0.05, epochs = 3, blocks = 3, seed = 29L,
      initScale = 0.1)
    val (_, jobs) = org.apache.spark.sql.graft.JobCount(spark) {
      DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p)
    }
    assert(jobs <= p.epochs * p.blocks + 3, s"$jobs jobs")
  }

  test("returned frames carry a measured size that keeps auto-broadcast working") {
    // a frame built straight from an RDD would estimate Long.MaxValue bytes
    val p = DsgdBpr.Params(rank = 3, lr = 0.05, epochs = 2, blocks = 3, seed = 31L,
      initScale = 0.1)
    val ff = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p)
    val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    Seq(ff.userFactors, ff.itemFactors).foreach { df =>
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size < threshold, s"sizeInBytes $size >= $threshold")
    }
  }

  test("cache lifetime: the last stratum checkpoint stays, none with factorsDir") {
    val sc = spark.sparkContext
    val p = DsgdBpr.Params(rank = 2, lr = 0.05, epochs = 2, blocks = 2, seed = 37L,
      initScale = 0.1)
    val before = sc.getPersistentRDDs.keySet
    val ff = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"persisted RDDs left behind: $added")
    assert(ff.userFactors.count() == 8 && ff.itemFactors.count() == 10)
    added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))

    val dir = java.nio.file.Files.createTempDirectory("dsgd_cache").toString
    val before2 = sc.getPersistentRDDs.keySet
    val pf = DsgdBpr.trainFactors(clusteredPositives, "user", "item", 10, p,
      factorsDir = Some(dir))
    assert((sc.getPersistentRDDs.keySet -- before2).isEmpty)
    assert(pf.userFactors.count() == 8 && pf.itemFactors.count() == 10)
  }

  test("DSGD genre-aware mode trains without violating the skip rule") {
    // items 0-4 share genre 1, items 5-9 share genre 2: for cluster-1 users
    // every negative candidate for a positive in genre 1 must come from
    // genre 2's items (or the update is skipped) — training must not throw
    // and must still learn
    val genres = (0 until 10).map(i => i -> Array(if (i < 5) 1 else 2)).toMap
    val p = DsgdBpr.Params(rank = 4, lr = 0.05, epochs = 8, blocks = 2, seed = 5L,
      initScale = 0.1)
    val trained = DsgdBpr.train(clusteredPositives, "user", "item", 10, p, Some(genres))
    assert(meanMargin(trained) > 0.0)
  }
}
