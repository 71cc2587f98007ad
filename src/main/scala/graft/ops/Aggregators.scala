package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed Aggregators for per-entity vector/Gramian accumulation —
  * the one genuinely custom Catalyst-adjacent component the reference's ALS
  * math needs (SURVEY.md §4: per-user `Σ vₙvₙᵀ` and `Σ (r−b_n−b_m)·vₙ`,
  * /root/reference/explicit_ratings/prac_1.py:79-87).
  *
  * Buffers are primitive double arrays; merge is elementwise add, so Spark
  * runs these with map-side partial aggregation — the shuffle carries one
  * d(d+1)/2-length buffer per (entity, partition), not one per rating.
  * The ALS half-sweeps use the fused [[RidgeStats]], one buffer for all
  * three of their vector statistics.
  */
object Aggregators {

  private def enc: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()

  /** Elementwise sum of double arrays (Σ v). */
  class VectorSum(dim: Int) extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    def zero: Array[Double] = new Array[Double](dim)
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
      var i = 0; while (i < dim) { b(i) += a(i); i += 1 }; b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0; while (i < dim) { x(i) += y(i); i += 1 }; x
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = enc
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** Elementwise sum of long arrays (Σ q) — the integer twin of
    * [[VectorSum]] for quantized-vector accumulation ([[Cluster]]): long
    * addition is associative and overflow-free while
    * n·max|q| < 2⁶³, so grouped sums are bit-identical under ANY
    * partitioning or merge order — the property the exactly-replayable
    * k-means oracle rests on. */
  class LongVectorSum(dim: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](dim)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0; while (i < dim) { b(i) += a(i); i += 1 }; b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0; while (i < dim) { x(i) += y(i); i += 1 }; x
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Upper-triangle Gramian accumulation: Σ v·vᵀ packed row-major as
    * d(d+1)/2 doubles. */
  class GramianSum(dim: Int) extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    private val len = dim * (dim + 1) / 2
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], v: Seq[Double]): Array[Double] = {
      var k = 0; var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { b(k) += v(i) * v(j); j += 1; k += 1 }
        i += 1
      }
      b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0; while (i < len) { x(i) += y(i); i += 1 }; x
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = enc
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** The ridge-regression statistics of one ALS entity in one pass and one
    * buffer (the batch-of-aggregates idea of LMFAO, SIGMOD 2019): over rows
    * (r, b_other, v) it accumulates
    *   [ Σ(r − b_other)·v | Σv | Σvvᵀ upper triangle, row-major ]
    * — d + d + d(d+1)/2 doubles. Each factor array is decoded once, as a
    * primitive array; separate [[VectorSum]]s and a [[GramianSum]] would
    * each decode it into a boxed Seq, after a per-row (r − b_other)·v array
    * had been built. The products and sums are the same IEEE operations in
    * the same order as those three aggregators', so the result is
    * bit-identical to them; callers `slice` the three parts back out. */
  class RidgeStats(dim: Int)
      extends Aggregator[(Double, Double, Array[Double]), Array[Double], Array[Double]] {
    private val len = 2 * dim + dim * (dim + 1) / 2
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], a: (Double, Double, Array[Double])): Array[Double] = {
      val w = a._1 - a._2; val v = a._3
      var i = 0
      while (i < dim) { b(i) += w * v(i); b(dim + i) += v(i); i += 1 }
      var k = 2 * dim; i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { b(k) += v(i) * v(j); j += 1; k += 1 }
        i += 1
      }
      b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0; while (i < len) { x(i) += y(i); i += 1 }; x
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] = enc
    def outputEncoder: Encoder[Array[Double]] = enc
  }

  /** Bounded top-k buffer: parallel arrays sorted by (score desc, item asc),
    * n = filled prefix length. */
  final case class TopKBuf(scores: Array[Double], items: Array[Long], n: Int)

  /** Per-group top-k as an Aggregator — the scale shape for serving-style
    * top-k over a users × catalog product: unlike a row_number window
    * (which shuffles EVERY scored row), this partial-aggregates map-side,
    * so the exchange carries at most k (score, item) pairs per (group,
    * partition). Order matches the window formulation's total order:
    * score desc, item asc tiebreak. */
  class TopK(k: Int) extends Aggregator[(Double, Long), TopKBuf, Seq[(Double, Long)]] {
    def zero: TopKBuf = TopKBuf(new Array[Double](k), new Array[Long](k), 0)

    @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)

    private def insert(b: TopKBuf, s: Double, i: Long): TopKBuf = {
      if (b.n == k && !beats(s, i, b.scores(k - 1), b.items(k - 1))) return b
      // position of the first kept entry this one beats
      var pos = if (b.n == k) k - 1 else b.n
      while (pos > 0 && beats(s, i, b.scores(pos - 1), b.items(pos - 1))) pos -= 1
      val newN = math.min(b.n + 1, k)
      var j = newN - 1
      while (j > pos) { b.scores(j) = b.scores(j - 1); b.items(j) = b.items(j - 1); j -= 1 }
      b.scores(pos) = s; b.items(pos) = i
      TopKBuf(b.scores, b.items, newN)
    }

    def reduce(b: TopKBuf, a: (Double, Long)): TopKBuf = insert(b, a._1, a._2)
    def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
      var b = x
      var j = 0
      while (j < y.n) { b = insert(b, y.scores(j), y.items(j)); j += 1 }
      b
    }
    def finish(b: TopKBuf): Seq[(Double, Long)] =
      (0 until b.n).map(j => (b.scores(j), b.items(j)))
    def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
  }
}
