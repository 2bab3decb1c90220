package graft.brs

import graft.planner.{TopK, TopKRegion}

/** Continuous-coordinate Best Region Search — the reference's user-facing query: the k best
  * eps × eps axis-aligned squares maximizing the (monotone, additive) total weight of covered
  * points, optionally pairwise non-overlapping
  * (`/root/reference/src/main/scala/SDL/ca/BCAIndexProgressive.java:35-177`).
  *
  * Exactness argument (classic): an optimal square can always be translated so its left edge sits
  * at some point's x and its bottom edge at some point's y, so the candidate anchor set
  * {(xi, yj)} over point coordinates is complete. The local kernel enumerates it with a sweep +
  * prefix sums; the distributed layer is the same protocol as the discrete planner — eps-cell
  * border replication, per-node top-K′, maxMin-thresholded merge, multi-round K′ growth.
  */
final case class Pt(x: Double, y: Double, w: Double)

/** An eps×eps candidate anchored (lower-left) at (x, y). */
final case class GeoRegion(x: Double, y: Double, eps: Double, score: Double)
    extends TopKRegion[GeoRegion] {
  def overlaps(o: GeoRegion): Boolean =
    x < o.x + o.eps && o.x < x + eps && y < o.y + o.eps && o.y < y + eps
  def compareAnchor(o: GeoRegion): Int = {
    val c = java.lang.Double.compare(x, o.x)
    if (c != 0) c else java.lang.Double.compare(y, o.y)
  }
  def centerX: Double = x + eps / 2
  def centerY: Double = y + eps / 2
}

object GeoRegionOrdering extends TopK.Order[GeoRegion]

object GeoBrsKernel {

  /** Exact local top-K′ over candidate anchors inside the owned box [ax0, ax1) × [ay0, ay1).
    * `pts` must include every point within eps of the owned box on the +x/+y side (halo).
    */
  def localTopK(
      pts: Seq[Pt], eps: Double, kPrime: Int,
      ax0: Double, ax1: Double, ay0: Double, ay1: Double): GeoNodeResult = {
    val byX = pts.sortBy(_.x).toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[GeoRegion]
    var i = 0
    var hi = 0
    while (i < byX.length) {
      val ax = byX(i).x
      if (ax >= ax0 && ax < ax1 && (i == 0 || byX(i - 1).x != ax)) { // distinct anchor xs
        // active set: points with x in [ax, ax + eps], sorted by y
        if (hi < i) hi = i
        while (hi < byX.length && byX(hi).x <= ax + eps) hi += 1
        val active = java.util.Arrays.copyOfRange(byX, i, hi).sortBy(_.y)
        // canonical anchors require the left-edge-defining point itself covered (see bruteForce
        // scaladoc) — its ys, for the covered check per candidate ay:
        val edgeYs = active.iterator.filter(_.x == ax).map(_.y).toArray.sorted
        @inline def edgeCovered(ay: Double): Boolean = {
          var lo = java.util.Arrays.binarySearch(edgeYs, ay)
          if (lo < 0) lo = -lo - 1
          lo < edgeYs.length && edgeYs(lo) <= ay + eps
        }
        // two-pointer sweep over distinct candidate ays: window = points with y in [ay, ay+eps]
        var j = 0 // first index of the current anchor y
        var start = 0 // first index inside the window (y >= ay)
        var top = 0 // exclusive end of the window (y <= ay+eps)
        var sum = 0.0
        while (j < active.length) {
          if (j > 0 && active(j - 1).y == active(j).y) j += 1 // skip duplicate anchor ys
          else {
            val ay = active(j).y
            while (top < active.length && active(top).y <= ay + eps) { sum += active(top).w; top += 1 }
            while (start < j) { sum -= active(start).w; start += 1 }
            if (ay >= ay0 && ay < ay1 && sum > 0 && edgeCovered(ay)) out += GeoRegion(ax, ay, eps, sum)
            j += 1
          }
        }
      }
      i += 1
    }
    // candidates can repeat (same anchor from duplicate coords) — dedupe exact duplicates
    TopK.emit(out.sorted(GeoRegionOrdering).distinct, kPrime)
  }

  /** Memory-bounded exact kernel over an x-SORTED point stream: resident state is only the
    * eps-wide x-strip window plus a K′-bounded candidate heap — never the whole node. r01
    * materialized every node point into a Seq (`it.map(_._2).toSeq`), which is precisely the
    * reference's documented OOM failure mode on hot nodes
    * (`/root/reference/executable/hs_err_pid12888.log`, whole-group ListBuffers).
    *
    * Same candidate set as [[localTopK]]: distinct anchor xs inside the owned box; per anchor, a
    * y-sweep over the strip with the left-edge-covered canonicality check.
    */
  def localTopKStreaming(
      sortedByX: Iterator[Pt], eps: Double, kPrime: Int,
      ax0: Double, ax1: Double, ay0: Double, ay1: Double): GeoNodeResult =
    localTopKStreaming(sortedByX, eps, kPrime, x => x >= ax0 && x < ax1, ay0, ay1, Vector.empty)

  /** [[localTopKStreaming]] with a predicate for anchor-x ownership (hot-node sub-strips need
    * FLOOR-CONSISTENT ownership, not float range bounds) and a fixed-winner exclusion list
    * (reference NstepAlgo feeds previous answers back as exclusions,
    * `/root/reference/src/main/scala/SDL/distrib/NstepAlgo.scala:23-57`): candidates overlapping
    * an already-proven winner can never be accepted, so they neither enter the heap nor count as
    * dropped — this is what makes hot clusters EXHAUSTIBLE once their winner is fixed, bounding
    * the heap at K′ forever (no unbounded final round).
    */
  def localTopKStreaming(
      sortedByX: Iterator[Pt], eps: Double, kPrime: Int,
      ownsAnchorX: Double => Boolean, ay0: Double, ay1: Double,
      exclusions: IndexedSeq[GeoRegion]): GeoNodeResult = {
    // worst candidate on top, so the heap evicts it when a better one arrives
    val heap = new scala.collection.mutable.PriorityQueue[GeoRegion]()(GeoRegionOrdering)
    var dropped = false
    def offer(r: GeoRegion): Unit =
      if (exclusions.nonEmpty && exclusions.exists(_.overlaps(r))) () // provably unacceptable
      else if (heap.size < kPrime) heap.enqueue(r)
      else if (GeoRegionOrdering.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r); dropped = true }
      else dropped = true

    val it = sortedByX.buffered
    val window = new scala.collection.mutable.ArrayDeque[Pt]() // x ∈ [ax, ax+eps], arrival order
    var peak = 0
    var lastAx = Double.NaN
    // running POSITIVE-PART strip weight (Kahan-compensated): an upper bound on ANY candidate
    // anchored at ax even with mixed-sign weights (a candidate covers a subset of the strip, and
    // dropping its negative members only raises the sum) — the reference's border upper-bound
    // idea (A8, `GridIndexer.scala:128-211`) applied per anchor: once the heap is full, an
    // anchor whose whole strip cannot strictly beat the current worst emits nothing we'd keep,
    // so the sweep is skipped entirely (it still counts as `dropped` — completeness accounting
    // unchanged). The 1e-9 relative margin absorbs compensated-summation error so a borderline
    // anchor is never pruned (specs: brute-force parity unchanged).
    var stripSum = 0.0
    var stripC = 0.0
    // total churned magnitude: Kahan drift scales with WHAT FLOWED THROUGH the accumulator, not
    // with the current sum — under heavy cancellation (large weights entering and leaving) a
    // sum-relative margin alone could in principle undershoot and prune a tying anchor, so the
    // margin below also grows with churn (4 ulps per churned unit, conservatively)
    var stripChurn = 0.0
    @inline def stripAdd(v: Double): Unit = {
      stripChurn += math.abs(v)
      val y = v - stripC; val t = stripSum + y; stripC = (t - stripSum) - y; stripSum = t
    }
    @inline def posPart(w: Double): Double = if (w > 0) w else 0.0
    // y-SORTED mirror of the window (parallel primitive arrays, memmove insert/remove): the
    // window between consecutive anchors changes by a handful of points, so re-sorting it per
    // anchor (the r03 formulation) cost O(W log W) boxed comparisons per anchor and dominated
    // dense nodes; the incremental mirror makes each anchor's sweep a plain O(W) array walk.
    var cap = 256
    var sy = new Array[Double](cap); var sx = new Array[Double](cap); var sw = new Array[Double](cap)
    var m = 0
    def insertSorted(p: Pt): Unit = {
      if (m == cap) {
        cap *= 2
        sy = java.util.Arrays.copyOf(sy, cap)
        sx = java.util.Arrays.copyOf(sx, cap)
        sw = java.util.Arrays.copyOf(sw, cap)
      }
      var i = java.util.Arrays.binarySearch(sy, 0, m, p.y)
      if (i < 0) i = -i - 1 else { i += 1; while (i < m && sy(i) == p.y) i += 1 }
      System.arraycopy(sy, i, sy, i + 1, m - i)
      System.arraycopy(sx, i, sx, i + 1, m - i)
      System.arraycopy(sw, i, sw, i + 1, m - i)
      sy(i) = p.y; sx(i) = p.x; sw(i) = p.w; m += 1
    }
    def removeSorted(p: Pt): Unit = {
      var i = java.util.Arrays.binarySearch(sy, 0, m, p.y)
      while (i > 0 && sy(i - 1) == p.y) i -= 1
      while (sy(i) != p.y || sx(i) != p.x || sw(i) != p.w) i += 1 // exact entry exists by invariant
      System.arraycopy(sy, i + 1, sy, i, m - i - 1)
      System.arraycopy(sx, i + 1, sx, i, m - i - 1)
      System.arraycopy(sw, i + 1, sw, i, m - i - 1)
      m -= 1
    }
    while (it.hasNext || window.nonEmpty) {
      // next anchor = smallest unprocessed point x; the window head is the oldest still-relevant
      val ax =
        if (window.nonEmpty) window.head.x
        else { val p = it.next(); window.append(p); stripAdd(posPart(p.w)); insertSorted(p); window.head.x }
      // fill the strip [ax, ax+eps]
      while (it.hasNext && it.head.x <= ax + eps) {
        val p = it.next(); window.append(p); stripAdd(posPart(p.w)); insertSorted(p)
      }
      peak = math.max(peak, window.size)
      val bound = stripSum * (1 + 1e-9) + 1e-9 + stripChurn * 4e-16
      if (ownsAnchorX(ax) && (lastAx.isNaN || ax != lastAx) &&
          heap.size >= kPrime && bound < heap.head.score) {
        if (stripSum > 0) dropped = true // a positive-score candidate may exist here; we skipped it
      } else if (ownsAnchorX(ax) && (lastAx.isNaN || ax != lastAx)) {
        // edge-defining ys for the canonical-anchor check: ys of window points with x == ax
        var cnt = 0
        var i = 0
        while (i < m) { if (sx(i) == ax) cnt += 1; i += 1 }
        val edgeYs = new Array[Double](cnt)
        var e = 0
        i = 0
        while (i < m) { if (sx(i) == ax) { edgeYs(e) = sy(i); e += 1 }; i += 1 } // sorted already
        @inline def edgeCovered(ay: Double): Boolean = {
          var lo = java.util.Arrays.binarySearch(edgeYs, ay)
          if (lo < 0) lo = -lo - 1
          lo < edgeYs.length && edgeYs(lo) <= ay + eps
        }
        var j = 0; var start = 0; var top = 0; var sum = 0.0
        while (j < m) {
          if (j > 0 && sy(j - 1) == sy(j)) j += 1
          else {
            val ay = sy(j)
            while (top < m && sy(top) <= ay + eps) { sum += sw(top); top += 1 }
            while (start < j) { sum -= sw(start); start += 1 }
            if (ay >= ay0 && ay < ay1 && sum > 0 && edgeCovered(ay)) offer(GeoRegion(ax, ay, eps, sum))
            j += 1
          }
        }
      }
      lastAx = ax
      // retire every point at the current anchor x (their anchors are done)
      while (window.nonEmpty && window.head.x == ax) {
        val p = window.removeHead(); stripAdd(-posPart(p.w)); removeSorted(p)
      }
    }
    val emitted = heap.dequeueAll.reverse.toVector // worst-first queue → best-first list
    GeoNodeResult(emitted, exhausted = !dropped,
      if (emitted.isEmpty) Double.PositiveInfinity else emitted.last.score, peak)
  }

  /** Test oracle: enumerate the canonical anchor set and greedy-select.
    *
    * Canonical form: any square can be translated right until its left edge rests on the leftmost
    * covered point, then up until its bottom edge rests on the lowest covered point — neither move
    * loses coverage. So it suffices to enumerate anchors (xi, yj) where BOTH edge-defining points
    * are themselves covered; this is also exactly what border replication can guarantee to
    * deliver to the owning node (covered points live within the region's ≤2×2 cell footprint).
    */
  def bruteForce(pts: Seq[Pt], eps: Double, k: Int, overlapAllowed: Boolean,
      sigma: Option[Double] = None): Vector[GeoRegion] = {
    val regions = for {
      xi <- pts.map(_.x).distinct
      active = pts.filter(p => p.x >= xi && p.x <= xi + eps)
      yj <- active.map(_.y).distinct
      covered = active.filter(p => p.y >= yj && p.y <= yj + eps)
      if covered.exists(_.x == xi) // left-edge point covered (canonical)
      s = covered.map(_.w).sum
      if s > 0
    } yield GeoRegion(xi, yj, eps, s)
    TopK.greedySelect(regions.sorted(GeoRegionOrdering).distinct.iterator, k, overlapAllowed,
      sigma = sigma)
  }
}
