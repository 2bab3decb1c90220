package graft.brs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.planner.TopK

class GeoBrsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def randomPts(rnd: scala.util.Random, n: Int, extent: Double): Seq[Pt] = {
    val centers = Seq.fill(3)((rnd.nextDouble() * extent, rnd.nextDouble() * extent))
    (1 to n).map { _ =>
      if (rnd.nextBoolean()) {
        val (cx, cy) = centers(rnd.nextInt(3))
        Pt(cx + rnd.nextGaussian(), cy + rnd.nextGaussian(), 1 + rnd.nextInt(5))
      } else Pt(rnd.nextDouble() * extent, rnd.nextDouble() * extent, 1 + rnd.nextInt(5))
    }
  }

  /** local simulation of the distributed protocol (no Spark): replicate → kernel per node → merge */
  private def simulated(pts: Seq[Pt], eps: Double, k: Int, distinct: Boolean, nodeSide: Int,
      sigma: Option[Double] = None): Vector[GeoRegion] = {
    val minX = pts.map(_.x).min; val minY = pts.map(_.y).min
    val grid = GeoGrid(minX, minY, eps, nodeSide)
    def runRound(kPrime: Int): Seq[GeoNodeResult] =
      pts.flatMap(p => grid.nodesForPoint(p.x, p.y).map(n => (n, p)))
        .groupBy(_._1).toSeq.map { case (node, ps) =>
          val (ax0, ax1, ay0, ay1) = grid.anchorBox(node)
          GeoBrsKernel.localTopK(ps.map(_._2), eps, kPrime, ax0, ax1, ay0, ay1)
        }
    var kPrime = math.max(k, 4)
    var res = Vector.empty[GeoRegion]
    var done = false
    var round = 0
    while (!done && round < 8) {
      val (acc, complete) =
        TopK.mergeTopK(runRound(kPrime), k, overlapAllowed = !distinct, sigma = sigma)
      res = acc; done = complete; kPrime *= 4; round += 1
    }
    if (!done) res =
      TopK.mergeTopK(runRound(Int.MaxValue), k, overlapAllowed = !distinct, sigma = sigma)._1
    res
  }

  test("distributed protocol == brute force on random clustered points (both modes)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 120) {
      val pts = randomPts(rnd, 5 + rnd.nextInt(60), extent = 10 + rnd.nextInt(20))
      val eps = 0.5 + rnd.nextDouble() * 3
      val k = 1 + rnd.nextInt(6)
      val nodeSide = 1 + rnd.nextInt(8)
      for (distinct <- Seq(true, false)) {
        val got = simulated(pts, eps, k, distinct, nodeSide)
        val want = GeoBrsKernel.bruteForce(pts, eps, k, overlapAllowed = !distinct)
        assert(got === want, s"trial=$trial eps=$eps k=$k distinct=$distinct nodeSide=$nodeSide")
      }
    }
  }

  test("σ-approximate mode: distributed protocol == σ brute force, and σ actually admits overlaps") {
    val rnd = new scala.util.Random(77)
    var relaxedTrials = 0
    for (trial <- 1 to 100) {
      val pts = randomPts(rnd, 5 + rnd.nextInt(60), extent = 10 + rnd.nextInt(10))
      val eps = 0.5 + rnd.nextDouble() * 3
      val k = 2 + rnd.nextInt(5)
      val sigma = Some(Seq(0.5, 0.7, 0.9)(rnd.nextInt(3)))
      val nodeSide = 1 + rnd.nextInt(8)
      val got = simulated(pts, eps, k, distinct = true, nodeSide, sigma)
      val want = GeoBrsKernel.bruteForce(pts, eps, k, overlapAllowed = false, sigma)
      assert(got === want, s"trial=$trial eps=$eps k=$k sigma=$sigma nodeSide=$nodeSide")
      if (want != GeoBrsKernel.bruteForce(pts, eps, k, overlapAllowed = false)) relaxedTrials += 1
    }
    assert(relaxedTrials > 0, "σ trials must actually exercise the overlap relaxation")
  }

  test("end-to-end Spark BRS σ mode matches the σ brute force exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val pts = randomPts(rnd, 150, extent = 12).map(p => Pt(p.x, p.y, 1.0))
    val df = pts.map(p => (p.x, p.y)).toDF("lon", "lat")
    val got = BRS.bestRegions(df, eps = 1.5, k = 4, distinct = true, sigma = Some(0.7))
      .collect().sortBy(_.getAs[Int]("rank"))
    val want = GeoBrsKernel.bruteForce(pts, 1.5, 4, overlapAllowed = false, Some(0.7))
    assert(got.length === want.length && want.nonEmpty)
    got.zip(want).foreach { case (r, w) =>
      assert(math.abs(r.getAs[Double]("center_lon") - w.centerX) < 1e-12)
      assert(math.abs(r.getAs[Double]("center_lat") - w.centerY) < 1e-12)
      assert(r.getAs[Double]("score") === w.score)
    }
  }

  test("streaming kernel == in-memory kernel on random nodes, with bounded resident window") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 120) {
      val pts = randomPts(rnd, 5 + rnd.nextInt(120), extent = 10 + rnd.nextInt(20))
      val eps = 0.5 + rnd.nextDouble() * 3
      val kPrime = 1 + rnd.nextInt(8)
      val (ax0, ax1) = (2.0, 2.0 + rnd.nextDouble() * 20)
      val (ay0, ay1) = (2.0, 2.0 + rnd.nextDouble() * 20)
      val a = GeoBrsKernel.localTopK(pts, eps, kPrime, ax0, ax1, ay0, ay1)
      val b = GeoBrsKernel.localTopKStreaming(pts.sortBy(_.x).iterator, eps, kPrime, ax0, ax1, ay0, ay1)
      assert(a.candidates === b.candidates, s"trial=$trial eps=$eps kPrime=$kPrime")
      assert(a.exhausted === b.exhausted, s"trial=$trial (exhausted)")
      assert(a.minEmitted === b.minEmitted, s"trial=$trial (minEmitted)")
    }
  }

  test("hot node: resident window stays O(eps-strip), not O(node)") {
    // 100k points spread across x∈[0,100] with eps=0.5 → any strip holds ~0.5% of the node;
    // r01's kernel materialized all 100k per node
    val rnd = new scala.util.Random(5)
    val n = 100000
    val pts = (1 to n).map(_ => Pt(rnd.nextDouble() * 100, rnd.nextDouble() * 100, 1.0))
    val r = GeoBrsKernel.localTopKStreaming(
      pts.sortBy(_.x).iterator, eps = 0.5, kPrime = 10, 0.0, 100.0, 0.0, 100.0)
    assert(r.candidates.nonEmpty)
    assert(r.peakWindow < n / 50,
      s"resident window ${r.peakWindow} is not bounded by the eps-strip (n=$n)")
  }

  test("hot-node x-strip splitting: split and unsplit runs agree exactly (both modes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // one hot node: 3000 points inside a single 8x8-cell node, plus scatter around it
    val pts = (1 to 3000).map(_ => (rnd.nextDouble() * 4, rnd.nextDouble() * 4, 1.0 + rnd.nextInt(3))) ++
      (1 to 500).map(_ => (rnd.nextDouble() * 30, rnd.nextDouble() * 30, 1.0 + rnd.nextInt(3)))
    val df = pts.toDF("lon", "lat", "f")
    for (distinct <- Seq(true, false)) {
      val split = BRS.bestRegions(df, eps = 0.7, k = 4, scoreCol = Some("f"),
        distinct = distinct, hotNodeBudget = 300) // forces ceil(count/300) sub-strips
      val whole = BRS.bestRegions(df, eps = 0.7, k = 4, scoreCol = Some("f"),
        distinct = distinct, hotNodeBudget = Int.MaxValue)
      assert(split.collect().toSeq.map(_.toSeq) === whole.collect().toSeq.map(_.toSeq),
        s"distinct=$distinct")
    }
  }

  test("executor pre-merge: forced-on run equals forced-off run; partials are m-bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val pts = randomPts(rnd, 400, extent = 60).map(p => (p.x, p.y, p.w))
    val df = pts.toDF("lon", "lat", "f")
    for (distinct <- Seq(true, false)) {
      val pre = BRS.bestRegions(df, eps = 1.2, k = 5, scoreCol = Some("f"),
        distinct = distinct, nodeSide = 2, premergeKeys = 1) // every key count exceeds 1 → premerge
      val noPre = BRS.bestRegions(df, eps = 1.2, k = 5, scoreCol = Some("f"),
        distinct = distinct, nodeSide = 2, premergeKeys = Int.MaxValue)
      assert(pre.collect().toSeq.map(_.toSeq) === noPre.collect().toSeq.map(_.toSeq),
        s"distinct=$distinct")
    }
    // unit: the partial is a valid node-result — m-bounded, threshold covers what it dropped
    val results = (1 to 50).map { i =>
      GeoNodeResult(Vector.tabulate(8)(j => GeoRegion(i * 100.0 + j, 0, 1, 1000.0 - i - j * 0.01)),
        exhausted = i % 3 != 0, minEmitted = 1000.0 - i - 0.07)
    }
    val partial = TopK.preMerge(results.iterator, m = 20)
    assert(partial.candidates.size === 20)
    assert(!partial.exhausted)
    val dropped = results.flatMap(_.candidates).sorted(GeoRegionOrdering).drop(20)
    assert(dropped.forall(_.score <= partial.minEmitted),
      "every dropped candidate must sit at or below the partial's truncation threshold")
  }

  test("bounded heap: exclusion rounds converge where the old unbounded round was needed") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // many dense overlapping clusters in one node: small K' truncates, winners must be fixed
    // round by round via exclusions
    val clusters = (0 until 6).map(i => (3.0 * i, 0.0))
    val pts = clusters.flatMap { case (cx, cy) =>
      (1 to 40).map(_ => (cx + rnd.nextDouble() * 0.4, cy + rnd.nextDouble() * 0.4, 1.0))
    }
    val df = pts.toDF("lon", "lat", "f")
    val got = BRS.bestRegions(df, eps = 0.5, k = 4, scoreCol = Some("f"),
      distinct = true, nodeSide = 64)
      .collect().map(r => (r.getInt(0), r.getDouble(3)))
    val want = GeoBrsKernel.bruteForce(pts.map(p => Pt(p._1, p._2, p._3)), 0.5, 4, overlapAllowed = false)
    assert(got.map(_._2).toSeq === want.map(_.score))
  }

  test("end-to-end Spark BRS finds the dense cluster and respects keyword filters") {
    import spark.implicits._
    // 50 points at (10±.1, 10±.1) tagged 'cafe', 200 scattered far away tagged 'park'
    val rnd = new scala.util.Random(7)
    val dense = (1 to 50).map(i =>
      (10.0 + rnd.nextDouble() * 0.2, 10.0 + rnd.nextDouble() * 0.2, "cafe;food", 1.0))
    val sparse = (1 to 200).map(i =>
      (rnd.nextDouble() * 5, rnd.nextDouble() * 5, "park;green", 1.0))
    val df = (dense ++ sparse).toDF("lon", "lat", "keywords", "f")

    val top = BRS.bestRegions(df, eps = 1.0, k = 3, scoreCol = Some("f"),
      keywordFilters = Seq("keywords" -> Seq("cafe")), distinct = true)
    val rows = top.collect()
    assert(rows.length >= 1)
    val best = rows.minBy(_.getAs[Int]("rank"))
    assert(best.getAs[Double]("score") === 50.0) // the whole dense cluster fits in one eps-square
    assert(math.abs(best.getAs[Double]("center_lon") - 10.1) < 1.0)
    // distinct mode: winners pairwise non-overlapping
    val regs = rows.map(r => GeoRegion(r.getAs[Double]("center_lon") - 0.5,
      r.getAs[Double]("center_lat") - 0.5, 1.0, r.getAs[Double]("score")))
    regs.combinations(2).foreach { case Array(a, b) => assert(!a.overlaps(b)) }
  }

  test("empty input and all-filtered input return empty results") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("lon", "lat")
    assert(BRS.bestRegions(empty, 1.0, 3).count() === 0)
    val df = Seq((1.0, 1.0, "a"), (2.0, 2.0, "b")).toDF("lon", "lat", "kw")
    assert(BRS.bestRegions(df, 1.0, 3,
      keywordFilters = Seq("kw" -> Seq("nope"))).count() === 0)
  }

  test("hot-node pre-pass collects ONLY above-budget nodes; key count still exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // one dense node (400 points in a single eps-cell) + 300 scattered singletons
    val dense = (1 to 400).map(_ => Pt(5.0 + rnd.nextDouble() * 0.5, 5.0 + rnd.nextDouble() * 0.5, 1.0))
    val sparse = (1 to 300).map(_ => Pt(rnd.nextDouble() * 100, rnd.nextDouble() * 100, 1.0))
    val all = dense ++ sparse
    val minX = all.map(_.x).min; val minY = all.map(_.y).min
    val grid = GeoGrid(minX, minY, eps = 1.0, nodeSide = 4)
    val pts = spark.createDataset(all)

    val (splits, totalKeys) = BRS.hotNodeSplits(pts, grid, hotNodeBudget = 100)

    // local truth: full replicated per-node counts
    val truth = all.flatMap(p => grid.nodesForPoint(p.x, p.y)).groupBy(identity)
      .map { case (n, occ) => n -> occ.size.toLong }
    val expectHot = truth.collect { case (n, c) if c > 100 =>
      n -> math.ceil(c / 100.0).toInt }.toMap
    assert(splits.keySet === expectHot.keySet)
    // continuous random xs → no quantile ties → exactly nStrips-1 boundaries survive dedup
    splits.foreach { case (n, bounds) => assert(bounds.length === expectHot(n) - 1) }
    assert(splits.nonEmpty && splits.size < truth.size,
      "split plan must be a strict (hot-only) subset of occupied nodes")
    assert(totalKeys === truth.size + expectHot.values.map(_ - 1).sum)
  }

  test("x-skewed hot node: quantile strips balance points-per-task (uniform strips would not)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 900 points crammed into one eps-wide x-column of a wide node + 100 spread across it:
    // uniform-width strips would leave ~90% of the node in one strip
    val dense = (1 to 900).map(_ => Pt(4.0 + rnd.nextDouble() * 0.3, 5.0 + rnd.nextDouble() * 3.0, 1.0))
    val spread = (1 to 100).map(_ => Pt(rnd.nextDouble() * 8.0, 5.0 + rnd.nextDouble() * 3.0, 1.0))
    val all = dense ++ spread
    val grid = GeoGrid(0.0, 0.0, eps = 1.0, nodeSide = 8) // node 0 spans x ∈ [0, 8)
    val pts = spark.createDataset(all)
    val (splits, _) = BRS.hotNodeSplits(pts, grid, hotNodeBudget = 150)
    val hot = splits.keys.find(n => all.count(p => grid.nodesForPoint(p.x, p.y).contains(n)) > 800)
    assert(hot.isDefined, "the skewed node must be flagged hot")
    val bounds = splits(hot.get)
    val members = all.filter(p => grid.nodesForPoint(p.x, p.y).contains(hot.get))
    val loads = members.groupBy(p => BRS.stripIndex(bounds, p.x)).values.map(_.size)
    assert(loads.max <= 2 * 150,
      s"quantile strips must bound points-per-strip near the budget, got ${loads.toSeq.sorted}")
  }
}
