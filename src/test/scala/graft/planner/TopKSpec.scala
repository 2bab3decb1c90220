package graft.planner

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

/** The one K′ round loop ([[TopK.solve]]) driven by stub runners that record (K′, exclusions)
  * per call: when K′ grows, when fixed winners are handed back, and when the loop gives up.
  */
class TopKSpec extends AnyFunSuite {

  /** A stub node holding `all` candidates: at (K′, exclusions) it emits its top K′ candidates
    * that overlap no exclusion — the contract of BRS's streaming kernel.
    */
  private def emit(all: Seq[Region], kPrime: Int, excl: Seq[Region]): NodeResult =
    TopK.emit(all.filterNot(r => excl.exists(_.overlaps(r))).sorted(RegionOrdering), kPrime)

  private def solve(nodes: Seq[Seq[Region]], k: Int, overlapAllowed: Boolean,
      sigma: Option[Double], excludeFixed: Boolean): (Vector[Region], Vector[(Int, Vector[Region])]) = {
    val calls = ArrayBuffer.empty[(Int, Vector[Region])]
    val got = TopK.solve[Region](k, overlapAllowed, sigma, 4, excludeFixed) { (kPrime, excl) =>
      calls += kPrime -> excl
      nodes.map(emit(_, kPrime, excl))
    }
    (got, calls.toVector)
  }

  private def oracle(nodes: Seq[Seq[Region]], k: Int, overlapAllowed: Boolean,
      sigma: Option[Double]): Vector[Region] =
    TopK.greedySelect(nodes.flatten.sorted(RegionOrdering).iterator, k, overlapAllowed,
      sigma = sigma)

  // a hot cluster: one 10 and forty tied 9s that all overlap it; two weaker regions far away
  private val hot = Region(0, 0, 4, 10.0) +: (for { x <- -3 to 3; y <- -3 to 3 } yield (x, y))
    .filter(_ != ((0, 0))).take(40).map { case (x, y) => Region(x, y, 4, 9.0) }
  private val far = Seq(Region(100, 0, 4, 8.0), Region(200, 0, 4, 7.0))

  test("exclusions off: every incomplete round grows K′ ×4, even one that fixes a winner") {
    // two strong regions above a hundred tied 5s: K′=4 proves the two, then only growth helps
    val node = Seq(Region(0, 0, 1, 10.0), Region(10, 0, 1, 9.0)) ++
      (0 until 100).map(i => Region(20 + 2 * i, 0, 1, 5.0))
    val (got, calls) = solve(Seq(node), k = 4, overlapAllowed = false, None, excludeFixed = false)
    assert(calls.map(_._1) === Vector(4, 16, 64, 256))
    assert(calls.forall(_._2.isEmpty))
    assert(got === oracle(Seq(node), 4, overlapAllowed = false, None))
    // a runner that ignores the exclusions sees the same K′ sequence
    val seen = ArrayBuffer.empty[Int]
    val viaDistributed = TopK.solve[Region](4, overlapAllowed = false, None, 4,
      excludeFixed = false) { (kp, _) => seen += kp; Seq(emit(node, kp, Nil)) }
    assert(seen.toVector === Vector(4, 16, 64, 256) && viaDistributed === got)
  }

  test("exclusions on: a round that fixes a winner keeps K′ and hands the winners back") {
    val nodes = Seq(hot, far)
    val (got, calls) = solve(nodes, k = 3, overlapAllowed = false, None, excludeFixed = true)
    assert(calls === Vector(4 -> Vector.empty, 4 -> Vector(hot.head)))
    assert(got === Vector(hot.head) ++ far)
    assert(got === oracle(nodes, 3, overlapAllowed = false, None))
    // without exclusions the hot cluster only empties by growth
    val (same, grown) = solve(nodes, k = 3, overlapAllowed = false, None, excludeFixed = false)
    assert(same === got && grown.map(_._1) === Vector(4, 16, 64))
  }

  test("no progress at the K′ cap fails loudly, in both exclusion modes") {
    for (excludeFixed <- Seq(false, true)) {
      val seen = ArrayBuffer.empty[Int]
      intercept[IllegalArgumentException] {
        TopK.solve[Region](2, overlapAllowed = false, None, 4, excludeFixed) { (kPrime, _) =>
          seen += kPrime // a node that never exhausts and never rises above its threshold
          Seq(NodeResult(Vector(Region(0, 0, 1, 5.0)), exhausted = false, minEmitted = 5.0))
        }
      }
      assert(seen.toVector === (1 to 10).map(i => 1 << (2 * i)).toVector, s"excl=$excludeFixed")
    }
  }

  test("overlap-allowed and σ rounds never repeat a K′; exclusion rounds repeat one only " +
    "after fixing a winner") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 300) {
      // few distinct scores → ties at the truncation threshold; anchors unique across nodes
      val anchors = rnd.shuffle(for { x <- 0 until 30; y <- 0 until 30 } yield (x, y))
        .take(5 + rnd.nextInt(120))
      val w = 1 + rnd.nextInt(4)
      val nNodes = 1 + rnd.nextInt(5)
      val nodes = anchors.map { case (x, y) => Region(x, y, w, 1.0 + rnd.nextInt(4)) }
        .groupBy(_ => rnd.nextInt(nNodes)).values.toSeq
      val k = 1 + rnd.nextInt(8)
      // the modes as BRS runs them: exclusions only in strict distinct mode
      for ((overlapAllowed, sigma) <- Seq((true, None), (false, Some(0.7)), (false, None))) {
        val excludeFixed = !overlapAllowed && sigma.isEmpty
        val (got, calls) = solve(nodes, k, overlapAllowed, sigma, excludeFixed)
        val ctx = s"trial=$trial k=$k overlap=$overlapAllowed sigma=$sigma"
        assert(got === oracle(nodes, k, overlapAllowed, sigma), ctx)
        calls.zip(calls.drop(1)).foreach { case ((k0, e0), (k1, e1)) =>
          if (excludeFixed) assert(k1 > k0 || (k1 == k0 && e1.size > e0.size), ctx)
          else assert(k1 > k0 && e1.isEmpty, ctx)
        }
      }
    }
  }

  test("a cached K′ of Int.MaxValue is clamped: capped rounds, still a loud failure") {
    val seen = ArrayBuffer.empty[Int]
    val truncated = (_: Set[Int], kPrime: Int) => {
      seen += kPrime
      Map(-1 -> NodeResult(Vector(Region(0, 0, 2, 5.0)), exhausted = false, minEmitted = 5.0))
    }
    intercept[IllegalArgumentException] {
      IncrementalTopK.solve(truncated, Set(0), Set(0), Some(PlannerState(Int.MaxValue, 0, Map.empty)),
        1L, k = 1, overlapAllowed = false)
    }
    assert(seen.nonEmpty && seen.forall(kp => kp >= 1 && kp <= (1 << 20)), seen.toString)
  }
}
