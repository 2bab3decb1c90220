package graft.brs

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.planner.TopK

/** Node geometry for continuous BRS: eps-sized cells, nodeSide×nodeSide cells per planner node.
  * Long-packed node ids; border replication to the ≤4 nodes whose anchors can cover a point —
  * the continuous twin of the discrete [[graft.planner.GridConfig]] (reference
  * `GridIndexer.getNodeIndex`, `/root/reference/src/main/scala/SDL/definitions/GridIndexer.scala:21-35`).
  */
final case class GeoGrid(minX: Double, minY: Double, eps: Double, nodeSide: Int) {
  def cellX(x: Double): Int = math.max(0, ((x - minX) / eps).toInt)
  def cellY(y: Double): Int = math.max(0, ((y - minY) / eps).toInt)
  def nodeOfCell(cx: Int, cy: Int): Long =
    ((cx / nodeSide).toLong << 32) | ((cy / nodeSide).toLong & 0xffffffffL)
  def nodesForPoint(x: Double, y: Double): Seq[Long] = {
    val cx = cellX(x); val cy = cellY(y)
    (for {
      ax <- Seq(math.max(0, cx - 1), cx).distinct
      ay <- Seq(math.max(0, cy - 1), cy).distinct
    } yield nodeOfCell(ax, ay)).distinct
  }
  /** Owned anchor box of a node: [ax0, ax1) × [ay0, ay1) in coordinate space. */
  def anchorBox(node: Long): (Double, Double, Double, Double) = {
    val bx = (node >> 32).toInt
    val by = (node & 0xffffffffL).toInt
    val side = nodeSide * eps
    (minX + bx * side, minX + (bx + 1) * side, minY + by * side, minY + (by + 1) * side)
  }
}

/** The reference's end-to-end query (`/root/reference/src/main/scala/SDL/main/Run.scala:22-189`)
  * as one library call: filters → bbox → border-replicated shuffle → exact per-node kernel →
  * thresholded merge → ranked centers.
  */
object BRS {

  /** Kernel rounds run by [[bestRegions]] in this JVM (one per call of its round runner). */
  private[brs] val roundsRun = new java.util.concurrent.atomic.AtomicLong

  /** Quantile grid resolution for hot-node strip boundaries; also caps strips per node (an
    * ultra-hot node keeps its memory bound regardless — the kernel is O(eps-strip) resident).
    */
  val MaxStripsPerNode: Int = 256

  /** Hot-node split plan. The per-node replicated point counts stay on executors: at fine eps the
    * occupied-node cardinality is data-dependent (can reach 10^8+ at the 10^12-point design
    * scale), so the `count > budget` filter runs INSIDE the aggregation and the driver collects
    * only the (few) hot nodes. The total key count — needed for the pre-merge decision — is a
    * distributed `count()`, a scalar.
    *
    * Strip boundaries are per-node x-QUANTILES (approximate, from one distributed pass over the
    * hot nodes' replicated points) rather than uniform x-widths: a node that is hot because of
    * x-skew (a dense eps-wide column) gets its strips where the points actually are, so the
    * budget really does bound points-per-task. Any boundary choice is EXACT (the same function
    * keys points and owns anchors, and halos always span [x−eps, x]); quantiles only buy balance.
    * @return (node → sorted strip-boundary xs (nStrips = len+1) for nodes above budget,
    *         total (node, strip) key count)
    */
  private[brs] def hotNodeSplits(
      pts: Dataset[Pt], grid: GeoGrid, hotNodeBudget: Int): (Map[Long, Array[Double]], Long) = {
    val spark = pts.sparkSession
    import spark.implicits._
    val counts = pts.flatMap(p => grid.nodesForPoint(p.x, p.y))
      .groupBy("value").count().persist()
    try {
      val hotCounts = counts.filter(col("count") > hotNodeBudget).as[(Long, Long)].collect()
        .map { case (n, c) =>
          n -> math.min(MaxStripsPerNode, math.ceil(c.toDouble / hotNodeBudget).toInt)
        }.toMap
      val occupiedNodes = counts.count()
      if (hotCounts.isEmpty) return (Map.empty, occupiedNodes)

      // one pass over the hot nodes' replicated points: a fixed quantile grid per node, from
      // which each node picks its nStrips-1 boundaries (grid is metadata-sized: hot × Q doubles)
      val hb = spark.sparkContext.broadcast(hotCounts.keySet)
      val q = MaxStripsPerNode
      val grids = pts
        .flatMap(p => grid.nodesForPoint(p.x, p.y).filter(hb.value.contains).map(n => (n, p.x)))
        .toDF("node", "x")
        .groupBy("node")
        .agg(percentile_approx(col("x"),
          array((1 until q).map(i => lit(i.toDouble / q)): _*), lit(2048)).as("qs"))
        .as[(Long, Seq[Double])].collect().toMap
      val splits = hotCounts.map { case (n, nStrips) =>
        val qs = grids.getOrElse(n, Seq.empty)
        val bounds =
          if (qs.isEmpty) Array.empty[Double] // no quantile row (nondeterministic source): unsplit
          else (1 until nStrips).map { s =>
            qs(math.min(qs.size - 1, math.max(0, s * q / nStrips - 1)))
          }.distinct.sorted.toArray // duplicate quantiles collapse (massive x-ties): fewer strips
        n -> bounds
      }
      // key count from the REALIZED split plan (dedup can collapse strips)
      (splits, occupiedNodes + splits.values.map(_.length.toLong).sum)
    } finally { counts.unpersist(); () }
  }

  /** Strip index of x under a sorted boundary array: #boundaries ≤ x. The SAME function keys
    * points and owns anchors, so a float boundary can never orphan an anchor between strips.
    */
  @inline private[brs] def stripIndex(bounds: Array[Double], x: Double): Int = {
    var i = java.util.Arrays.binarySearch(bounds, x)
    if (i < 0) i = -i - 1 else i += 1 // x == boundary b(s) belongs to strip s+1 (bounds are ≤)
    i
  }

  /** @param keywordFilters (column, accepted-values) pairs; a row passes when its `;`-separated
    *                       column intersects the accepted list (reference F2, `Run.scala:73-87`)
    * @param distinct       non-overlapping winners (the reference's dist=true)
    * @param hotNodeBudget  nodes holding more points than this are split into x-sub-strips, each
    *                       its own task: a dense node is no longer ONE sequential task
    * @param premergeKeys   above this many (node, strip) keys, per-partition pre-merge bounds the
    *                       driver collect at (#partitions × K′) candidates (reference P7 log-tree)
    * @param sigma          σ-approximate mode (reference algo 8, `NstepAlgoApp.scala:25-83`): in
    *                       distinct mode, an overlapping winner is still accepted when its score
    *                       ≥ σ × every accepted region it overlaps. Fixed-winner kernel
    *                       exclusions are disabled under σ (an overlapping candidate may still be
    *                       admissible); rounds progress via K′ growth alone.
    * @return rank, center_lon, center_lat, score — the reference's output shape (S4)
    * @note throws IllegalArgumentException instead of silently degrading when no greedy progress
    *       is possible at the K′ cap (adversarial score-tie pathology) — a loud failure, by
    *       design, not an unbounded-memory exact fallback
    */
  def bestRegions(
      df: DataFrame,
      eps: Double,
      k: Int,
      lonCol: String = "lon",
      latCol: String = "lat",
      scoreCol: Option[String] = None,
      keywordFilters: Seq[(String, Seq[String])] = Nil,
      distinct: Boolean = true,
      nodeSide: Int = 8,
      hotNodeBudget: Int = 200000,
      premergeKeys: Int = 4096,
      sigma: Option[Double] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    var rows = df.filter(col(lonCol).isNotNull && col(latCol).isNotNull)
    keywordFilters.foreach { case (c, kws) =>
      rows = rows.filter(arrays_overlap(split(col(c), ";"), array(kws.map(lit): _*)))
    }
    val w: Column = scoreCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    scoreCol.foreach(c => rows = rows.filter(col(c).isNotNull))
    val pts = rows.select(col(lonCol).cast("double"), col(latCol).cast("double"), w)
      .as[(Double, Double, Double)].map { case (x, y, s) => Pt(x, y, s) }

    val bbox = pts.agg(min("x"), min("y"), count(lit(1))).head()
    if (bbox.getLong(2) == 0L)
      return Seq.empty[(Int, Double, Double, Double)]
        .toDF("rank", "center_lon", "center_lat", "score")
    val grid = GeoGrid(bbox.getDouble(0), bbox.getDouble(1), eps, nodeSide)

    // hot-node split plan: nodes above budget get ceil(count/budget) x-sub-strips — a dense node
    // executes as MANY tasks with exact parity (anchors are partitioned by x; each strip's kernel
    // sees its strip plus the eps halo). Only hot nodes cross to the driver (see hotNodeSplits).
    val (splits, nKeys) = hotNodeSplits(pts, grid, hotNodeBudget)
    val splitsB = spark.sparkContext.broadcast(splits)
    val usePremerge = nKeys > premergeKeys

    // FLAT primitive columns (no nested Pt struct): the round loop rescans this cache every
    // round, and Spark's in-memory columnar cache scans primitives far faster than structs
    val keyed = pts.flatMap { p =>
      grid.nodesForPoint(p.x, p.y).flatMap { n =>
        splitsB.value.get(n) match {
          case None => Seq((n, 0, p.x, p.y, p.w))
          case Some(bounds) =>
            val (ax0, _, _, _) = grid.anchorBox(n)
            val lo = stripIndex(bounds, math.max(ax0, p.x - eps))
            val hi = stripIndex(bounds, p.x)
            (lo to hi).map(s => (n, s, p.x, p.y, p.w))
        }
      }
    }.toDF("node", "strip", "x", "y", "w").persist()

    try {
      // STREAMING per-(node, strip) kernel: repartition by key + secondary sort on x, then one
      // pass with an eps-strip window — per-task memory is O(eps-strip) resident points plus a
      // K′-bounded heap, never the whole node (r01 materialized whole nodes: the reference's
      // documented hot-node OOM). Per-key results are DETERMINISTIC functions of (points, K′,
      // exclusions), so a round re-runs only the keys whose inputs changed: K′ growth drops the
      // truncated results (exhausted ones hold every candidate), and a newly fixed winner drops
      // only keys whose squares (anchors in the node box, extending +eps) can overlap it.
      var cache = Map.empty[(Long, Int), GeoNodeResult]
      var lastK = 0
      var lastExcluded = 0
      def runRound(kPrime: Int, exclusions: Vector[GeoRegion]): Seq[GeoNodeResult] = {
        roundsRun.incrementAndGet()
        val won = exclusions.drop(lastExcluded)
        if (kPrime != lastK) cache = cache.filter(_._2.exhausted)
        if (won.nonEmpty) cache = cache.filter { case ((node, _), _) =>
          val (ax0, ax1, ay0, ay1) = grid.anchorBox(node)
          !won.exists(w => w.x + w.eps >= ax0 - eps && w.x <= ax1 + eps &&
            w.y + w.eps >= ay0 - eps && w.y <= ay1 + eps)
        }
        lastK = kPrime
        lastExcluded = exclusions.size
        val excl = spark.sparkContext.broadcast(exclusions)
        // skip-filter as a broadcast ANTI-JOIN on (node, strip): stays in whole-stage codegen —
        // a typed filter against the cached-key set deserialized all 8M+ replicated points per
        // round, which dwarfed the actual (few-key) recompute once rounds became incremental
        val base =
          if (cache.isEmpty) keyed
          else keyed.join(
            broadcast(cache.keySet.toSeq.toDF("node", "strip")), Seq("node", "strip"),
            "left_anti")
        val perKey = base
          .repartition(col("node"), col("strip"))
          .sortWithinPartitions(col("node"), col("strip"), col("x"))
          .as[(Long, Int, Double, Double, Double)]
          .mapPartitions { it =>
            val buf = it.buffered
            new Iterator[(Long, Int, GeoNodeResult)] {
              def hasNext: Boolean = buf.hasNext
              def next(): (Long, Int, GeoNodeResult) = {
                val (node, strip, _, _, _) = buf.head
                val run = new Iterator[Pt] {
                  def hasNext: Boolean = buf.hasNext && buf.head._1 == node && buf.head._2 == strip
                  def next(): Pt = { val r = buf.next(); Pt(r._3, r._4, r._5) }
                }
                val (ax0, ax1, ay0, ay1) = grid.anchorBox(node)
                val owns: Double => Boolean = splitsB.value.get(node) match {
                  case None => x => x >= ax0 && x < ax1
                  case Some(bounds) =>
                    x => x >= ax0 && x < ax1 && stripIndex(bounds, x) == strip
                }
                val r = GeoBrsKernel.localTopKStreaming(run, eps, kPrime, owns, ay0, ay1,
                  excl.value)
                while (run.hasNext) run.next() // kernel drains, but never trust an invariant twice
                (node, strip, r)
              }
            }
          }
        if (usePremerge) {
          // reference P7 log-tree: fold per-key results into one partial per Spark partition
          // before collecting — driver payload ≤ #partitions × K′ candidates, not #keys × K′.
          // No per-key cache in this mode (per-key results never reach the driver); with many
          // small keys, recomputing a round costs less than collecting 10^6 results ever would.
          perKey.mapPartitions(rs => Iterator.single(TopK.preMerge(rs.map(_._3), kPrime)))
            .collect().toSeq
        } else {
          cache ++= perKey.collect().map { case (n, s, r) => (n, s) -> r }
          cache.values.toSeq
        }
      }

      // strict distinct mode hands fixed winners to the kernels as exclusions — hot clusters stop
      // refilling the heap. Start 4× deeper than k: deeper emission proves MORE of the greedy
      // prefix per round — at 2M points this cut the fixed-winner rounds from 7 to ~2.
      val fixed = TopK.solve[GeoRegion](k, overlapAllowed = !distinct, sigma,
        kPrime0 = math.max(4 * k, 16), excludeFixed = distinct && sigma.isEmpty)(runRound)

      fixed.zipWithIndex.map { case (r, i) =>
        (i + 1, r.centerX, r.centerY, r.score)
      }.toDF("rank", "center_lon", "center_lat", "score")
    } finally { keyed.unpersist(); () }
  }

  /** Render a [[bestRegions]] result in the reference's exact REST/S4 output shape — the cached
    * answer format in `/root/reference/executable/buffer.tmp`:
    * `[\n{\n"rank":1,\n"center":[lon,lat],\n"score":25\n},…]` (integral scores unadorned).
    * The reference's input tables live in a remote Proteus DB (credentials scrubbed from
    * conf.txt), so its golden answers can't be re-derived — the output CONTRACT is what we pin.
    */
  def renderJson(df: DataFrame): String = {
    val rows = df.orderBy(col("rank")).collect()
    rows.map { r =>
      val sc = r.getAs[Double]("score")
      val s = if (sc == math.floor(sc) && !sc.isInfinite) sc.toLong.toString else sc.toString
      "{\n\"rank\":" + r.getAs[Int]("rank") +
        ",\n\"center\":[" + r.getAs[Double]("center_lon") + "," + r.getAs[Double]("center_lat") +
        "],\n\"score\":" + s + "\n}"
    }.mkString("[\n", ",\n", "\n]")
  }
}
