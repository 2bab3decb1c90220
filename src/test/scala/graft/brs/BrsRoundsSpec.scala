package graft.brs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Round counts of [[BRS.bestRegions]] in the modes that hand no fixed winners to the kernels
  * (overlap allowed, σ): every incomplete round must grow K′, since a round with the same K′ and
  * no new exclusions would only repeat the previous one.
  */
class BrsRoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // a 12×12 unit lattice in one node: with eps = 1.5 its 121 interior anchors tie at score 4, so
  // at the first K′ = max(4k, 16) = 40 the node is truncated at 4 and only the heavy far point
  // (score 10) is provable; at K′ = 160 all 144 lattice anchors fit, in the node's own result or
  // in any pre-merged partial
  private val lattice = for { x <- 0 until 12; y <- 0 until 12 } yield Pt(x, y, 1.0)
  private val pts = lattice :+ Pt(100.0, 100.0, 10.0)

  private def rounds(distinct: Boolean, sigma: Option[Double], premergeKeys: Int): (Long, Seq[Double]) = {
    import spark.implicits._
    val df = pts.map(p => (p.x, p.y, p.w)).toDF("lon", "lat", "f")
    val before = BRS.roundsRun.get()
    val got = BRS.bestRegions(df, eps = 1.5, k = 10, scoreCol = Some("f"), distinct = distinct,
      premergeKeys = premergeKeys, sigma = sigma).collect().sortBy(_.getInt(0)).toSeq
    (BRS.roundsRun.get() - before, got.map(_.getDouble(3)))
  }

  for ((mode, distinct, sigma) <- Seq(("overlap-allowed", false, None), ("σ=0.7", true, Some(0.7)));
       premergeKeys <- Seq(4096, 1)) {
    test(s"$mode BRS grows K′ after a round that fixes a winner (premergeKeys=$premergeKeys)") {
      val (n, scores) = rounds(distinct, sigma, premergeKeys)
      val want = GeoBrsKernel.bruteForce(pts, 1.5, 10, overlapAllowed = !distinct, sigma)
      assert(scores === want.map(_.score))
      assert(n === 2, "K′ = 40 fixes the heavy point, K′ = 160 completes: two rounds")
    }
  }
}
