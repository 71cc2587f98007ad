package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** [[Aggregators.RidgeStats]] against the three aggregators it fuses:
  * VectorSum over (r − bo)·v, VectorSum over v and GramianSum over v. */
class RidgeStatsSpec extends AnyFunSuite {

  test("RidgeStats is bit-identical to VectorSum(rv), VectorSum(v), GramianSum(v)") {
    val rng = new scala.util.Random(17)
    for (dim <- Seq(1, 3, 12)) {
      val rows = Seq.fill(40)((rng.nextInt(9) * 0.5 + 0.5, rng.nextGaussian(),
        Array.fill(dim)(rng.nextGaussian() * 2)))
      val ridge = new Aggregators.RidgeStats(dim)
      val vec = new Aggregators.VectorSum(dim)
      val gram = new Aggregators.GramianSum(dim)
      // two partial buffers, merged — the map-side partial aggregation path
      val (left, right) = rows.splitAt(17)
      def fused(rs: Seq[(Double, Double, Array[Double])]) =
        rs.foldLeft(ridge.zero)(ridge.reduce)
      val got = ridge.finish(ridge.merge(fused(left), fused(right)))
      def summed(agg: Aggregators.VectorSum, vs: Seq[Seq[Double]]) =
        agg.merge(vs.take(17).foldLeft(agg.zero)(agg.reduce),
          vs.drop(17).foldLeft(agg.zero)(agg.reduce))
      val rv = rows.map { case (r, bo, v) => v.toSeq.map(x => (r - bo) * x) }
      val vs = rows.map(_._3.toSeq)
      val g = gram.merge(vs.take(17).foldLeft(gram.zero)(gram.reduce),
        vs.drop(17).foldLeft(gram.zero)(gram.reduce))
      val want = summed(vec, rv) ++ summed(vec, vs) ++ g
      assert(got.length == 2 * dim + dim * (dim + 1) / 2)
      assert(got.map(java.lang.Double.doubleToLongBits).toSeq ==
        want.map(java.lang.Double.doubleToLongBits).toSeq, s"dim $dim")
    }
  }
}
