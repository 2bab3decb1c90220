package graft.planner

/** A scored grid cell. In the maintenance planner x = source-hash bucket, y = n_tok bin and the
  * score is the fragmentation contribution of the data files whose stats land in that cell. This is
  * the discrete re-instantiation of the reference's POI (`/root/reference/src/main/scala/SDL/POI.java:9-35`):
  * grid cells are integers, so region geometry degenerates to integer-interval overlap — no JTS.
  */
final case class Cell(x: Int, y: Int, score: Double)

/** A w×w candidate region anchored (top-left) at (x, y): covers [x, x+w-1] × [y, y+w-1].
  * Mirrors the reference's eps×eps SpatialObject
  * (`/root/reference/src/main/scala/SDL/SpatialObject.java:12-91`).
  */
final case class Region(x: Int, y: Int, w: Int, score: Double) extends TopKRegion[Region] {
  def overlaps(o: Region): Boolean =
    x <= o.x + o.w - 1 && o.x <= x + w - 1 && y <= o.y + o.w - 1 && o.y <= y + w - 1
  def compareAnchor(o: Region): Int = {
    val c = Integer.compare(x, o.x)
    if (c != 0) c else Integer.compare(y, o.y)
  }
}

object RegionOrdering extends TopK.Order[Region]

/** The local top-k region kernel — the Spark-first re-derivation of the reference's single-node BCA
  * branch-and-bound (`/root/reference/src/main/scala/SDL/ca/BCAIndexProgressive.java:35-177`).
  * On a discrete grid the eps×eps best-region search collapses to a 2-D sliding-window sum, which a
  * dense prefix-sum table answers in O(1) per anchor; no priority queue needed. Runs single-threaded
  * inside `flatMapGroups`, one invocation per planner partition, exactly how the reference runs its
  * kernel after `groupByKey` (`/root/reference/src/main/scala/SDL/distrib/OnestepAlgoReduce.scala:29`).
  */
object RegionKernel {

  /** Top-K′ anchors owned by this node.
    *
    * @param cells        every cell relevant to this node's anchors (its own plus the +side halo of
    *                     width w−1 supplied by border replication — see [[GridPartitioner]])
    * @param anchorMinX/Y inclusive bounds of the anchor range this node owns
    * @param w            region side length in cells
    * @param kPrime       max candidates to emit
    */
  def localTopK(
      cells: Iterable[Cell],
      anchorMinX: Int, anchorMaxX: Int,
      anchorMinY: Int, anchorMaxY: Int,
      w: Int,
      kPrime: Int): NodeResult = {
    // Dense local frame: anchor range extended by w-1 on the + side to cover the halo cells.
    var minX = anchorMinX; var minY = anchorMinY
    var maxX = anchorMaxX + w - 1; var maxY = anchorMaxY + w - 1
    // (cells outside the frame cannot influence any owned anchor; drop them)
    val width = maxX - minX + 1
    val height = maxY - minY + 1
    val grid = Array.ofDim[Double](width + 1, height + 1) // 1-based prefix-sum table
    cells.foreach { c =>
      if (c.x >= minX && c.x <= maxX && c.y >= minY && c.y <= maxY)
        grid(c.x - minX + 1)(c.y - minY + 1) += c.score
    }
    // 2-D prefix sums: grid(i)(j) = sum of scores in [minX..minX+i-1] × [minY..minY+j-1]
    var i = 1
    while (i <= width) {
      var j = 1
      while (j <= height) {
        grid(i)(j) += grid(i - 1)(j) + grid(i)(j - 1) - grid(i - 1)(j - 1)
        j += 1
      }
      i += 1
    }
    @inline def windowSum(ax: Int, ay: Int): Double = {
      val x0 = ax - minX; val y0 = ay - minY
      val x1 = math.min(x0 + w, width); val y1 = math.min(y0 + w, height)
      grid(x1)(y1) - grid(x0)(y1) - grid(x1)(y0) + grid(x0)(y0)
    }

    val all = scala.collection.mutable.ArrayBuffer.empty[Region]
    var ax = anchorMinX
    while (ax <= anchorMaxX) {
      var ay = anchorMinY
      while (ay <= anchorMaxY) {
        val s = windowSum(ax, ay)
        if (s > 0) all += Region(ax, ay, w, s)
        ay += 1
      }
      ax += 1
    }
    TopK.emit(all.sorted(RegionOrdering), kPrime)
  }

  /** Single-partition brute-force oracle (test-only semantics anchor): enumerate every anchor whose
    * window is non-empty, sort, greedy-select. Mirrors the role of the reference's golden outputs
    * (`/root/reference/src/main/scala/SDL/distrib/OnestepAlgoReduce.scala:110-410`).
    */
  def bruteForceTopK(cells: Iterable[Cell], w: Int, k: Int, overlapAllowed: Boolean,
      sigma: Option[Double] = None): Vector[Region] = {
    if (cells.isEmpty) return Vector.empty
    val byCell = cells.groupBy(c => (c.x, c.y)).map { case (k2, v) => (k2, v.map(_.score).sum) }
    val anchors = scala.collection.mutable.Map.empty[(Int, Int), Double]
    byCell.foreach { case ((cx, cy), s) =>
      var ax = math.max(0, cx - w + 1) // anchors are grid cells: ≥ 0 (canonical representative)
      while (ax <= cx) {
        var ay = math.max(0, cy - w + 1)
        while (ay <= cy) {
          anchors((ax, ay)) = anchors.getOrElse((ax, ay), 0.0) + s
          ay += 1
        }
        ax += 1
      }
    }
    val sorted = anchors.iterator
      .filter(_._2 > 0)
      .map { case ((ax, ay), s) => Region(ax, ay, w, s) }
      .toVector.sorted(RegionOrdering)
    TopK.greedySelect(sorted.iterator, k, overlapAllowed, sigma = sigma)
  }
}
