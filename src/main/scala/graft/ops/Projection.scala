package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA embedding projection — the engine's substitute for the reference's
  * t-SNE visualization prep (SURVEY.md §7.4; reference use:
  * explicit_ratings/tSNE_and_conv_plot.py:107-108,
  * implicit_feedback/prac_2_results.py:66-67). t-SNE itself is an iterative
  * O(n²)-affinity algorithm with no distributed formulation worth shipping;
  * PCA-to-2D answers the same product question ("lay the embedding space out
  * on a plane") with a single distributed pass.
  *
  * Scale shape: the fit is ONE map-side-combining aggregation over the
  * corpus — count + Σv ([[Aggregators.VectorSum]]) + Σvvᵀ
  * ([[Aggregators.GramianSum]]) — so the exchange carries one
  * d(d+1)/2-double buffer per partition, never the vectors. The d×d
  * eigenproblem is solved driver-side (d is the embedding width, 64 here —
  * microseconds of Jacobi; the corpus size never enters), and the
  * projection itself is a narrow codegen map with the component vectors
  * embedded as literals. This is exactly how `ml.feature.PCA` splits the
  * work (RowMatrix Gramian + driver eigen), re-expressed on the engine's
  * own aggregators so the fit shares plumbing with the ALS trainers.
  *
  * Determinism: Jacobi rotations run a fixed cyclic sweep order and the
  * sign convention (the component's largest-|coordinate| entry is positive,
  * ties to the lowest index) pins the eigenvector orientation — the model is
  * a pure function of the aggregated (n, Σv, Σvvᵀ) statistics. Those partial
  * sums merge in partition order, so re-partitioning can wiggle the last
  * ulps (inherent to any distributed double sum); consumers that need
  * byte-stable output round, as q114 does at 6 dp.
  */
object Projection {

  /** Fitted model: `mean` (length d) and `components` — `k` orthonormal
    * rows, eigenvalue-descending. */
  final case class PcaModel(mean: Seq[Double], components: Seq[Seq[Double]],
                            variances: Seq[Double])

  /** Cyclic-Jacobi symmetric eigendecomposition of `a` (d×d, mutated):
    * returns (eigenvalues, eigenvectors as rows), sorted by eigenvalue
    * descending, ties toward the lower original column index. Deterministic:
    * fixed sweep order, fixed sweep count bound. */
  private[ops] def symmetricEigen(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-300) {
            // classic Jacobi rotation zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(j => (-a(j)(j), j))
    (order.map(j => a(j)(j)).toArray,
      order.map(j => Array.tabulate(d)(i => v(i)(j))).toArray)
  }

  /** Orientation convention: largest-|coordinate| entry positive, |ties|
    * toward the lowest index. */
  private def fixSign(w: Array[Double]): Array[Double] = {
    var best = 0
    var i = 1
    while (i < w.length) { if (math.abs(w(i)) > math.abs(w(best))) best = i; i += 1 }
    if (w(best) < 0) w.map(-_) else w
  }

  /** The SQL-expressible fit stage of PCA: (n, mean, sample covariance) of
    * the non-NULL vectors in `vecCol`, from ONE map-side-combining
    * aggregation (count + Σv + Σvvᵀ). Every entry is plain sum/count
    * algebra — mean_i = Σv_i/n, cov_ij = (Σv_iv_j − n·μ_iμ_j)/(n−1) — so an
    * external SQL engine can replay it value-for-value, which is exactly
    * how q114's oracle audits the fit. Requires n ≥ 2. */
  def covarianceStats(df: DataFrame, vecCol: String,
                      dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val vecSum = udaf(new Aggregators.VectorSum(dim))
    val gramSum = udaf(new Aggregators.GramianSum(dim))
    val row = df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("v"))
      .agg(count(lit(1)).as("n"), vecSum(col("v")).as("s"), gramSum(col("v")).as("g"))
      .head()
    val n = row.getAs[Long]("n")
    require(n >= 2, s"PCA fit needs at least 2 non-null vectors, got $n")
    val s = row.getAs[scala.collection.Seq[Double]]("s").toSeq
    val g = graft.linalg.Linalg.unpackSymmetric(
      row.getAs[scala.collection.Seq[Double]]("g").toSeq, dim)
    val mean = s.map(_ / n).toArray
    // sample covariance: (Σvvᵀ − n·μμᵀ) / (n−1)
    val cov = Array.tabulate(dim, dim)((i, j) => (g(i)(j) - n * mean(i) * mean(j)) / (n - 1))
    (n, mean, cov)
  }

  /** Incremental leg of the PCA fit — the mergeable-store recipe
    * ([[Sketches]]) applied to MODEL FITTING: land one batch's moment
    * statistics (count, Σv, packed Σvvᵀ) as a 1-row parquet summary
    * `path/batch=B` (per-batch OVERWRITE = replay-idempotent). The
    * moments are a monoid, so the corpus-wide fit folds from the store
    * with NO rescan of any batch — a growing embedding corpus keeps its
    * PCA (and any covariance consumer: whitening, drift monitors)
    * refreshable at O(batches) driver cost. Storage per batch is
    * d + d(d+1)/2 + 1 doubles, corpus-size-independent. */
  def writeFitBatch(df: DataFrame, vecCol: String, dim: Int,
                    path: String, batchId: Long): Unit = {
    val vecSum = udaf(new Aggregators.VectorSum(dim))
    val gramSum = udaf(new Aggregators.GramianSum(dim))
    df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("v"))
      .agg(count(lit(1)).as("n"), vecSum(col("v")).as("s"), gramSum(col("v")).as("g"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** Fold the moment store into (n, mean, sample covariance) — the same
    * statistics [[covarianceStats]] computes in one shot. Equality is
    * exact sum algebra (the partial sums merge in a different order, so
    * last-ulp wiggle is absorbed by consumers' rounding, as for every
    * distributed double sum here). The fold reads one 1-row summary per
    * batch and adds driver-side; requires a total of n ≥ 2 vectors. */
  def covarianceStatsFromStore(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val rows = spark.read.option("basePath", path).parquet(path)
      .select(col("n"), col("s"), col("g")).collect()
    require(rows.nonEmpty, s"covarianceStatsFromStore: no batches under $path")
    var n = 0L
    val s = new Array[Double](dim)
    val g = new Array[Double](dim * (dim + 1) / 2)
    // an empty batch (all-NULL vectors) contributes n = 0 and possibly
    // NULL sums — skip it rather than NPE
    rows.filter(_.getAs[Long]("n") > 0L).foreach { r =>
      n += r.getAs[Long]("n")
      val bs = r.getAs[scala.collection.Seq[Double]]("s")
      val bg = r.getAs[scala.collection.Seq[Double]]("g")
      require(bs.length == dim && bg.length == g.length,
        s"covarianceStatsFromStore: batch dim ${bs.length} != $dim")
      var i = 0
      while (i < dim) { s(i) += bs(i); i += 1 }
      i = 0
      while (i < g.length) { g(i) += bg(i); i += 1 }
    }
    require(n >= 2, s"PCA fit needs at least 2 non-null vectors, got $n")
    val gm = graft.linalg.Linalg.unpackSymmetric(g.toSeq, dim)
    val mean = s.map(_ / n)
    val cov = Array.tabulate(dim, dim)((i, j) => (gm(i)(j) - n * mean(i) * mean(j)) / (n - 1))
    (n, mean, cov)
  }

  /** Fit the k-component model straight from the moment store. */
  def fitPcaFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      dim: Int, k: Int): PcaModel = {
    val (_, mean, cov) = covarianceStatsFromStore(spark, path, dim)
    pcaFromStats(mean, cov, k)
  }

  /** Driver-side eigen stage: top-k model from already-aggregated fit
    * statistics. `cov` is consumed (mutated) by the Jacobi sweep. */
  def pcaFromStats(mean: Array[Double], cov: Array[Array[Double]],
                   k: Int): PcaModel = {
    val dim = mean.length
    require(k >= 1 && k <= dim, s"k must be in [1, $dim], got $k")
    val (eigVals, eigVecs) = symmetricEigen(cov)
    PcaModel(mean.toSeq,
      (0 until k).map(j => fixSign(eigVecs(j)).toSeq),
      eigVals.take(k).toSeq)
  }

  /** Fit a k-component PCA on `vecCol` (ARRAY<FLOAT/DOUBLE>, width `dim`).
    * One aggregation job ([[covarianceStats]]); NULL vectors are excluded
    * from the fit (the projection maps them to NULL coordinates). Sample
    * covariance (n−1 denominator); requires n ≥ 2. */
  def fitPca(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim], got $k")
    val (_, mean, cov) = covarianceStats(df, vecCol, dim)
    pcaFromStats(mean, cov, k)
  }

  /** Project `vecCol` onto the model's components: output row =
    * (…idCols, c1..ck) with cⱼ = wⱼ·(v − μ) = wⱼ·v − wⱼ·μ. The mean shift
    * folds into a per-component scalar, so the per-row work is k literal
    * dot products — a narrow codegen map, no shuffle, NULL in → NULL out. */
  def projectPca(df: DataFrame, vecCol: String, model: PcaModel,
                 names: Seq[String]): DataFrame = {
    require(names.length == model.components.length,
      s"${names.length} names for ${model.components.length} components")
    val v = col(vecCol).cast("array<double>")
    val cols = model.components.zip(names).map { case (w, nm) =>
      val shift = w.zip(model.mean).map { case (wi, mi) => wi * mi }.sum
      (VectorOps.dot(v, typedLit(w)) - shift).as(nm)
    }
    df.select(df.columns.map(col).toSeq ++ cols: _*).drop(vecCol)
  }
}
