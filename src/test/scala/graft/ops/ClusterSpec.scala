package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  // 2-d toy corpus in two clear clusters around (1,0) and (0,1); ids chosen
  // so the lowest-id seed picks one point from EACH cluster (1 and 2).
  private val corpus = Seq(
    (1L, vec(1.0, 0.05)), (2L, vec(0.05, 1.0)), (3L, vec(0.95, 0.1)),
    (4L, vec(1.05, -0.05)), (5L, vec(0.1, 0.9)), (6L, vec(-0.02, 1.1)))
    .toDF("vec_id", "embedding")

  test("fit: hand-computed two-point seed converges to the two cluster means") {
    val fitted = Cluster.fit(corpus, "vec_id", "embedding",
      k = 2, iters = 2, scale = 100L)
    // quantized: floor(v*100): c1 = {(100,5),(95,10),(104,-6)} wait: floor
    // on exact float-widened doubles — verified against the brute force
    // below; here assert the structural contract.
    assert(fitted.centroids.map(_._1) == Seq(0L, 1L))
    assert(fitted.counts == Map(0L -> 3L, 1L -> 3L))
    // cluster 0 (seeded from id 1) holds ids {1,3,4}: mean near (100, 3)
    val c0 = fitted.centroids.head._2
    assert(math.abs(c0.head - 99.0) <= 2.0 && math.abs(c0(1) - 2.0) <= 3.0)
  }

  /** Driver brute-force replay of the documented spec: quantize, lowest-id
    * seed, (dist, cell)-min assignment, floorDiv update, empty cells drop. */
  private def replay(pts: Seq[(Long, Seq[Long])], k: Int,
                     iters: Int): (Seq[(Long, Seq[Long])], Map[Long, Long]) = {
    val sorted = pts.sortBy(_._1)
    var cents: Seq[(Long, Seq[Long])] =
      sorted.take(k).zipWithIndex.map { case ((_, q), i) => (i.toLong, q) }
    var counts = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val assigned = sorted.map { case (_, q) =>
        val best = cents.map { case (c, cv) =>
          (cv.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, c)
        }.min
        (best._2, q)
      }
      val byCell = assigned.groupBy(_._1)
      cents = byCell.toSeq.sortBy(_._1).map { case (c, rows) =>
        val n = rows.length
        val dim = rows.head._2.length
        (c, (0 until dim).map(i =>
          Math.floorDiv(rows.map(_._2(i)).sum, n.toLong)))
      }
      counts = byCell.view.mapValues(_.length.toLong).toMap
    }
    (cents, counts)
  }

  test("fit matches a driver-side brute-force replay of the same spec") {
    val fitted = Cluster.fit(corpus, "vec_id", "embedding",
      k = 2, iters = 2, scale = 100L)
    val pts = corpus.collect().map { r =>
      (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 100).toLong))
    }.toSeq
    val (cents, counts) = replay(pts, k = 2, iters = 2)
    assert(fitted.centroids.map { case (c, v) => (c, v.map(_.toLong)) } == cents)
    assert(fitted.counts == counts)
  }

  test("property: random tie-heavy corpora match the brute-force replay") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // coordinates from a coarse grid (multiples of 0.25, scale 4 -> small
    // ints) so equidistant centroids and duplicate points are COMMON —
    // the tie-break and empty-cell paths get exercised, not dodged
    val corpusGen: Gen[List[(Long, Seq[Float])]] = for {
      n <- Gen.choose(4, 24)
      rows <- Gen.listOfN(n,
        Gen.listOfN(3, Gen.choose(-4, 4).map(_ * 0.25f)).map(_.toSeq))
    } yield rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (seedNo <- 0 until 6) {
      val rows = corpusGen
        .pureApply(Gen.Parameters.default.withSize(30), Seed(911L + seedNo))
      val df = rows.toDF("vec_id", "embedding")
      val fitted = Cluster.fit(df, "vec_id", "embedding",
        k = 3, iters = 2, scale = 4L)
      val pts = rows.map { case (id, v) =>
        (id, v.map(x => math.floor(x.toDouble * 4).toLong)) }
      val (cents, counts) = replay(pts, k = 3, iters = 2)
      assert(fitted.centroids.map { case (c, v) => (c, v.map(_.toLong)) } == cents,
        s"seed $seedNo centroids")
      assert(fitted.counts == counts, s"seed $seedNo counts")
    }
  }

  test("fit is bit-identical under different partitionings") {
    val a = Cluster.fit(corpus.repartition(7), "vec_id", "embedding",
      k = 2, iters = 2, scale = 100L)
    val b = Cluster.fit(corpus.repartition(2), "vec_id", "embedding",
      k = 2, iters = 2, scale = 100L)
    assert(a.centroids == b.centroids)
    assert(a.counts == b.counts)
  }

  test("empty cells are dropped from the codebook") {
    // two seed points inside ONE tight cluster plus a far outlier: after
    // sweep 1 every point is closer to seed 1's updated mean region —
    // construct directly: all points identical, so cell 1 gets nothing
    // (ties break toward cell 0).
    val flat = Seq((1L, vec(1.0, 1.0)), (2L, vec(1.0, 1.0)),
      (3L, vec(1.0, 1.0))).toDF("vec_id", "embedding")
    val fitted = Cluster.fit(flat, "vec_id", "embedding",
      k = 2, iters = 1, scale = 100L)
    assert(fitted.centroids.map(_._1) == Seq(0L))
    assert(fitted.counts == Map(0L -> 3L))
  }

  test("assign reproduces the final sweep's cells") {
    val fitted = Cluster.fit(corpus, "vec_id", "embedding",
      k = 2, iters = 2, scale = 100L)
    val cells = Cluster.assign(corpus, "vec_id", "embedding", fitted)
      .as[(Long, Long)].collect().toMap
    assert(cells(1L) == cells(3L) && cells(3L) == cells(4L))
    assert(cells(2L) == cells(5L) && cells(5L) == cells(6L))
    assert(cells(1L) != cells(2L))
  }

  test("balancedSample production draw: seeded-hash order, quota-exact, repartition-stable") {
    val assigned = Seq.tabulate(20)(i => (i.toLong, i.toLong % 2))
      .toDF("id", "cell")
    def draw(parts: Int) = Cluster.balancedSample(
        assigned.repartition(parts), "cell",
        xxhash64(col("id"), lit(7L)), ceil(sqrt(col("n_cell"))).cast("long"))
      .as[(Long, Long)].collect().toSet
    val a = draw(7)
    assert(a == draw(3)) // the draw is a pure function of the data
    // quota-exact per cell: 10 per cell -> ceil(sqrt(10)) = 4
    assert(a.count(_._2 == 0L) == 4 && a.count(_._2 == 1L) == 4)
    // and it is NOT the lowest-id prefix — the hash order actually mixes
    assert(a.map(_._1) != (0L until 8L).toSet)
  }

  test("fit rejects k beyond the literal-codebook plan bound with advice") {
    val ex = intercept[IllegalArgumentException] {
      Cluster.fit(corpus, "vec_id", "embedding", k = 5000, iters = 1)
    }
    assert(ex.getMessage.contains("kmeansCodebook"))
  }

  test("balancedSample keeps exactly min(n, ceil(sqrt(n))) per cell in order") {
    val assigned = Seq.tabulate(12)(i => (i.toLong, i.toLong % 2))
      .toDF("id", "cell")
    val out = Cluster.balancedSample(assigned, "cell", col("id"),
        ceil(sqrt(col("n_cell"))).cast("long"))
      .as[(Long, Long)].collect().toSet
    // 6 per cell -> ceil(sqrt(6)) = 3: lowest three ids of each parity
    assert(out == Set((0L, 0L), (2L, 0L), (4L, 0L), (1L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("moment-store fold equals the one-shot sweep bit-for-bit") {
    val seedCents = Cluster.initCentroids(corpus, "vec_id", "embedding",
      k = 2, scale = 100L)
    val dir = java.nio.file.Files.createTempDirectory("kmeans_moments").toString
    (0L until 3L).foreach { b =>
      Cluster.writeMomentBatch(
        corpus.filter(pmod(col("vec_id"), lit(3L)) === b),
        "vec_id", "embedding", seedCents, 100L, dir, b)
    }
    val folded = Cluster.centroidsFromMoments(spark, dir, 100L)
    val oneShot = Cluster.fit(corpus, "vec_id", "embedding",
      k = 2, iters = 1, scale = 100L)
    assert(folded.centroids == oneShot.centroids)
    assert(folded.counts == oneShot.counts)
  }

  test("fit on an empty / all-NULL input fails loudly") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Cluster.fit(empty, "vec_id", "embedding", k = 2, iters = 1, scale = 100L)
    }
    assert(ex.getMessage.contains("no non-NULL vectors"))
  }

  test("streaming moment sink: micro-batches fold to the one-shot sweep") {
    val seedCents = Cluster.initCentroids(corpus, "vec_id", "embedding",
      k = 2, scale = 100L)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sdir = java.nio.file.Files.createTempDirectory("km_moments_s").toString
    val rows = corpus.as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Cluster.writeMomentBatch(b, "vec_id", "embedding", seedCents, 100L, sdir, id) }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("km_ckpt").toString)
      .start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val folded = Cluster.centroidsFromMoments(spark, sdir, 100L)
    val oneShot = Cluster.fit(corpus, "vec_id", "embedding",
      k = 2, iters = 1, scale = 100L)
    assert(folded.centroids == oneShot.centroids)
    assert(folded.counts == oneShot.counts)
  }
}
