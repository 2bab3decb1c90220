package graft.planner

import org.scalatest.funsuite.AnyFunSuite

/** Property tests of the planner math against brute force (FIXTURES.md §2): random clustered grids,
  * the full distributed protocol simulated locally (border replication → per-node kernel →
  * thresholded merge) must equal the single-partition brute-force oracle exactly.
  */
class RegionKernelSpec extends AnyFunSuite {

  /** [[TopK.solve]] with no exclusions: every incomplete round grows K′. */
  private def solve(runRound: Int => Seq[NodeResult], k: Int, overlapAllowed: Boolean,
      sigma: Option[Double] = None): Vector[Region] =
    TopK.solve[Region](k, overlapAllowed, sigma, math.max(k, 4), excludeFixed = false)(
      (kPrime, _) => runRound(kPrime))

  private def randomCells(rnd: scala.util.Random, gridSize: Int, n: Int): Seq[Cell] = {
    // clustered hot spots: half the mass around a few centers, half uniform
    val centers = Seq.fill(3)((rnd.nextInt(gridSize), rnd.nextInt(gridSize)))
    (1 to n).map { _ =>
      val (x, y) =
        if (rnd.nextBoolean()) {
          val (cx, cy) = centers(rnd.nextInt(centers.size))
          (math.max(0, math.min(gridSize - 1, cx + rnd.nextInt(5) - 2)),
            math.max(0, math.min(gridSize - 1, cy + rnd.nextInt(5) - 2)))
        } else (rnd.nextInt(gridSize), rnd.nextInt(gridSize))
      Cell(x, y, 1.0 + rnd.nextInt(10)) // integral scores: exact double arithmetic, no FP ties
    }
  }

  /** The distributed pipeline without Spark: replicate → group by node → kernel → merge. */
  private def distributedTopK(cells: Seq[Cell], cfg: GridConfig, k: Int, overlapAllowed: Boolean): Vector[Region] = {
    def runRound(kPrime: Int): Seq[NodeResult] =
      cells.flatMap(c => cfg.nodesForCell(c.x, c.y).map(n => (n, c)))
        .groupBy(_._1).toSeq.map { case (node, cs) =>
          val (ax0, ax1, ay0, ay1) = cfg.anchorBounds(node)
          RegionKernel.localTopK(cs.map(_._2), ax0, ax1, ay0, ay1, cfg.regionW, kPrime)
        }
    solve(runRound, k, overlapAllowed)
  }

  test("distributed == brute force over random grids (both overlap modes)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 200) {
      val w = Seq(1, 2, 4)(rnd.nextInt(3))
      val cfg = GridConfig(sourceBuckets = 64, nodeSide = math.max(w, Seq(4, 8, 16)(rnd.nextInt(3))), regionW = w)
      val cells = randomCells(rnd, gridSize = 1 + rnd.nextInt(48), n = 1 + rnd.nextInt(120))
      val k = 1 + rnd.nextInt(10)
      for (overlap <- Seq(true, false)) {
        val got = distributedTopK(cells, cfg, k, overlap)
        val want = RegionKernel.bruteForceTopK(cells, w, k, overlap)
        assert(got === want, s"trial=$trial w=$w k=$k overlap=$overlap cells=${cells.take(5)}…")
      }
    }
  }

  test("approximate sigma mode: distributed == brute force") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 100) {
      val w = Seq(1, 2, 3)(rnd.nextInt(3))
      val cfg = GridConfig(sourceBuckets = 64, nodeSide = math.max(w, 8), regionW = w)
      val cells = randomCells(rnd, 1 + rnd.nextInt(40), 1 + rnd.nextInt(100))
      val k = 1 + rnd.nextInt(8)
      val sigma = Some(Seq(0.5, 0.7, 0.9)(rnd.nextInt(3)))
      def runRound(kPrime: Int): Seq[NodeResult] =
        cells.flatMap(c => cfg.nodesForCell(c.x, c.y).map(n => (n, c)))
          .groupBy(_._1).toSeq.map { case (node, cs) =>
            val (ax0, ax1, ay0, ay1) = cfg.anchorBounds(node)
            RegionKernel.localTopK(cs.map(_._2), ax0, ax1, ay0, ay1, cfg.regionW, kPrime)
          }
      val got = solve(runRound, k, overlapAllowed = false, sigma = sigma)
      val want = RegionKernel.bruteForceTopK(cells, w, k, overlapAllowed = false, sigma = sigma)
      assert(got === want, s"trial=$trial w=$w k=$k sigma=$sigma")
    }
  }

  test("executor pre-merge parity: partials through preMerge == direct merge == brute force") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 150) {
      val w = Seq(1, 2, 3)(rnd.nextInt(3))
      val cfg = GridConfig(sourceBuckets = 64, nodeSide = math.max(w, 8), regionW = w)
      val cells = randomCells(rnd, 1 + rnd.nextInt(40), 1 + rnd.nextInt(120))
      val k = 1 + rnd.nextInt(8)
      def perNode(kPrime: Int): Seq[NodeResult] =
        cells.flatMap(c => cfg.nodesForCell(c.x, c.y).map(n => (n, c)))
          .groupBy(_._1).toSeq.map { case (node, cs) =>
            val (ax0, ax1, ay0, ay1) = cfg.anchorBounds(node)
            RegionKernel.localTopK(cs.map(_._2), ax0, ax1, ay0, ay1, cfg.regionW, kPrime)
          }
      // random partitioning into "Spark partitions", each folded to ONE partial (with the same
      // m = kPrime the GridTopK wiring uses) — the driver merge must stay exact through them
      def preMerged(kPrime: Int): Seq[NodeResult] = {
        val m = math.min(math.max(kPrime, k), 1 << 20)
        val nParts = 1 + rnd.nextInt(4)
        perNode(kPrime).groupBy(_ => rnd.nextInt(nParts)).values.toSeq
          .map(group => TopK.preMerge(group.iterator, m))
      }
      for (overlap <- Seq(true, false)) {
        val direct = solve(perNode, k, overlap)
        val folded = solve(preMerged, k, overlap)
        val want = RegionKernel.bruteForceTopK(cells, w, k, overlap)
        assert(direct === want, s"trial=$trial w=$w k=$k overlap=$overlap (direct)")
        assert(folded === want, s"trial=$trial w=$w k=$k overlap=$overlap (pre-merged)")
      }
    }
  }

  test("non-overlapping winners are pairwise disjoint and descending") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val cfg = GridConfig(sourceBuckets = 64, nodeSide = 8, regionW = 2)
      val cells = randomCells(rnd, 32, 80)
      val got = distributedTopK(cells, cfg, 6, overlapAllowed = false)
      got.combinations(2).foreach { case Vector(a, b) => assert(!a.overlaps(b)) }
      got.sliding(2).foreach {
        case Vector(a, b) => assert(a.score >= b.score)
        case _ =>
      }
    }
  }

  test("kernel window sums are exact on a hand grid") {
    // 3x3 grid, w=2: best 2x2 window is the all-ones quad
    val cells = Seq(Cell(0, 0, 1), Cell(1, 0, 1), Cell(0, 1, 1), Cell(1, 1, 1), Cell(2, 2, 2))
    val r = RegionKernel.bruteForceTopK(cells, 2, 1, overlapAllowed = true)
    assert(r.head.score === 4.0)
    assert((r.head.x, r.head.y) === (0, 0))
  }

  test("empty and single-cell grids") {
    assert(RegionKernel.bruteForceTopK(Nil, 2, 3, overlapAllowed = false) === Vector.empty)
    val one = Seq(Cell(5, 7, 3.0))
    val cfg = GridConfig(sourceBuckets = 16, nodeSide = 4, regionW = 2)
    val got = distributedTopK(one, cfg, 2, overlapAllowed = false)
    val want = RegionKernel.bruteForceTopK(one, 2, 2, overlapAllowed = false)
    assert(got === want)
    assert(got.head.score === 3.0)
  }
}
