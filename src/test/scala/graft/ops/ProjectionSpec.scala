package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ProjectionSpec extends SparkTestBase {
  import spark.implicits._

  test("symmetricEigen golden: 2x2 with known spectrum and sign-fixed vectors") {
    // [[2,1],[1,2]] has eigenvalues 3 (vector (1,1)/sqrt2) and 1 ((-1,1)/sqrt2)
    val (vals, vecs) = Projection.symmetricEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(math.abs(vecs(0)(0)) - s) < 1e-12)
    assert(math.abs(vecs(0)(0) - vecs(0)(1)) < 1e-12)        // (1,1) direction
    assert(math.abs(vecs(1)(0) + vecs(1)(1)) < 1e-12)        // (-1,1) direction
  }

  test("PCA golden: colinear 2-d points project to centered 1-d coordinates") {
    val df = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(4.0f, 0.0f)), (3L, Seq(6.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val model = Projection.fitPca(df, "embedding", dim = 2, k = 2)
    // principal axis is +x by the sign convention; mean is (3, 0)
    assert(model.components(0).zip(Seq(1.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(model.variances(0) - 20.0 / 3.0) < 1e-12) // var of 0,2,4,6
    assert(math.abs(model.variances(1)) < 1e-12)
    val out = Projection.projectPca(df, "embedding", model, Seq("x", "y"))
      .orderBy($"vec_id").select($"x", $"y").as[(Double, Double)].collect()
    assert(out.map(_._1).zip(Seq(-3.0, -1.0, 1.0, 3.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out.forall(p => math.abs(p._2) < 1e-12))
  }

  test("components are orthonormal, variance-ordered, and match ml.feature.PCA") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val model = Projection.fitPca(emb, "embedding", dim = 64, k = 2)
    val w0 = model.components(0).toArray
    val w1 = model.components(1).toArray
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(w0, w0) - 1.0) < 1e-9)
    assert(math.abs(dot(w1, w1) - 1.0) < 1e-9)
    assert(math.abs(dot(w0, w1)) < 1e-9)
    assert(model.variances(0) >= model.variances(1) && model.variances(1) > 0.0)
    // projected variance along component j equals eigenvalue j
    val proj = Projection.projectPca(emb, "embedding", model, Seq("x", "y"))
    val Array(vx, vy) = proj.agg(var_samp($"x"), var_samp($"y"))
      .as[(Double, Double)].head() match { case (a, b) => Array(a, b) }
    assert(math.abs(vx - model.variances(0)) / model.variances(0) < 1e-9)
    assert(math.abs(vy - model.variances(1)) / model.variances(1) < 1e-9)
    // ml.feature.PCA fits the same covariance eigenvectors (orientation is
    // engine-specific: compare |cosine| of the component directions)
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val mlPc = new PCA().setK(2).setInputCol("f").setOutputCol("p")
      .fit(emb.select(array_to_vector($"embedding".cast("array<double>")).as("f")))
      .pc.toArray // column-major d x k
    val m0 = Array.tabulate(64)(i => mlPc(i))
    val m1 = Array.tabulate(64)(i => mlPc(64 + i))
    assert(math.abs(math.abs(dot(w0, m0)) - 1.0) < 1e-6)
    assert(math.abs(math.abs(dot(w1, m1)) - 1.0) < 1e-6)
  }

  test("fit is deterministic across partitionings; null vectors project to null") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val a = Projection.fitPca(emb, "embedding", dim = 64, k = 2)
    val b = Projection.fitPca(emb.repartition(13), "embedding", dim = 64, k = 2)
    // partial-sum merge order differs across partitionings, so the Gramian
    // (and with it the eigenvectors) can wiggle in the last ulps — same as
    // any distributed double sum. The q114 contract rounds to 6 dp, orders
    // of magnitude above this
    def close(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).forall { case (p, q) => math.abs(p - q) < 1e-9 }
    assert(close(a.mean, b.mean) && close(a.variances, b.variances))
    assert(a.components.zip(b.components).forall { case (p, q) => close(p, q) })
    val withNull = Seq((1L, Some(Seq(1.0f, 2.0f)), 0), (2L, Some(Seq(3.0f, 1.0f)), 0),
      (3L, None, 0)).toDF("vec_id", "embedding", "pad")
      .select($"vec_id", $"embedding")
    val model = Projection.fitPca(withNull, "embedding", dim = 2, k = 1)
    val out = Projection.projectPca(withNull, "embedding", model, Seq("x"))
      .orderBy($"vec_id").select($"x").as[Option[Double]].collect()
    assert(out(0).isDefined && out(1).isDefined && out(2).isEmpty)
  }

  test("moment store fold equals the one-shot fit; streaming sink feeds it") {
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding")
    val (n1, m1, c1) = Projection.covarianceStats(emb, "embedding", 64)
    // batched store: four disjoint batches cover the corpus
    val dir = java.nio.file.Files.createTempDirectory("pca_moments").toString
    (0L until 4L).foreach { b =>
      Projection.writeFitBatch(emb.filter(pmod($"vec_id", lit(4L)) === b),
        "embedding", 64, dir, b)
    }
    val (n2, m2, c2) = Projection.covarianceStatsFromStore(spark, dir, 64)
    assert(n1 == n2)
    (0 until 64).foreach { i =>
      assert(math.abs(m1(i) - m2(i)) < 1e-9, s"mean $i")
      (0 until 64).foreach { j =>
        assert(math.abs(c1(i)(j) - c2(i)(j)) < 1e-9, s"cov $i $j") }
    }
    // the folded model agrees with the one-shot model
    val a = Projection.fitPcaFromStore(spark, dir, 64, 2)
    val b = Projection.fitPca(emb, "embedding", 64, 2)
    a.components.zip(b.components).foreach { case (wa, wb) =>
      wa.zip(wb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-8) } }
    // an all-NULL batch is ignored, not an NPE
    Projection.writeFitBatch(
      emb.limit(3).select($"vec_id",
        org.apache.spark.sql.functions.lit(null)
          .cast("array<double>").as("embedding")),
      "embedding", 64, dir, 9L)
    assert(Projection.covarianceStatsFromStore(spark, dir, 64)._1 == n1)
    // streaming: micro-batches land the same monoid rows
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sdir = java.nio.file.Files.createTempDirectory("pca_moments_s").toString
    val rows = emb.as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Projection.writeFitBatch(b, "embedding", 64, sdir, id) }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("pca_ckpt").toString)
      .start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    in.addData(h1); q.processAllAvailable()
    in.addData(h2); q.processAllAvailable()
    q.stop()
    val (n3, m3, _) = Projection.covarianceStatsFromStore(spark, sdir, 64)
    assert(n3 == n1)
    (0 until 64).foreach(i => assert(math.abs(m3(i) - m1(i)) < 1e-9))
  }
}
