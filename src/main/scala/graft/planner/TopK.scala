package graft.planner

/** What the top-k merge algebra needs of a candidate region: its score, a total order on anchors
  * that breaks score ties (0 = same anchor), and overlap. The discrete planner's integer
  * [[Region]] and continuous BRS's [[graft.brs.GeoRegion]] are the two instances.
  */
trait TopKRegion[R] {
  def score: Double
  def compareAnchor(o: R): Int
  def overlaps(o: R): Boolean
}

/** Per-node ("planner partition") result crossing the shuffle — the analog of the reference's
  * OneStepResult (`/root/reference/src/main/scala/SDL/OneStepResult.java:9-23`).
  *
  * @param candidates this node's top-K′ anchors by score (overlap among them allowed — global
  *                   greedy resolves overlap), descending
  * @param exhausted  true iff every positive-score anchor owned by the node was emitted
  * @param minEmitted score of the weakest emitted candidate (completeness threshold input);
  *                   +∞ when nothing was emitted from an exhausted node
  * @param peakWindow max points resident in a streaming kernel's window (0 for other kernels)
  */
final case class TopKResult[+R](candidates: Vector[R], exhausted: Boolean, minEmitted: Double,
    peakWindow: Int = 0)

/** The one best-region protocol of the reference (algos 0 and 8, `NstepAlgo.scala:23-57`,
  * `NstepAlgoApp.scala:25-83`): per-node top-K′, a merge bounded by the maxMin threshold, an
  * executor-side log-tree pre-merge, and rounds that feed proven winners back in. Pure Scala over
  * an abstract "run the kernels" function, so one loop serves the discrete planner
  * ([[IncrementalTopK]]), continuous BRS ([[graft.brs.BRS]]) and Spark-free tests.
  */
object TopK {

  /** K′ ceiling for every round loop, and so for every kernel heap and pre-merge buffer. */
  val KPrimeCap: Int = 1 << 20

  /** Score desc, then anchor asc: the one tie-break of kernels, merges and oracles. */
  class Order[R <: TopKRegion[R]] extends Ordering[R] {
    def compare(a: R, b: R): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else a.compareAnchor(b)
    }
  }

  /** Greedy selection over a descending candidate stream — the reference's distinct-mode merge
    * (`/root/reference/src/main/scala/SDL/distrib/NstepAlgo.scala:91-119`). `seed` = winners
    * fixed by earlier rounds: they block overlapping candidates and re-emissions of their own
    * ANCHOR (a recomputed continuous score can drift in the last ulp; σ must not readmit them
    * either), and are not returned again; up to `k` NEW winners are returned.
    *
    * @param sigma approximate mode (reference algo 8): an overlapping candidate is still accepted
    *              when its score ≥ σ × EVERY accepted region it overlaps. None = strict.
    */
  def greedySelect[R <: TopKRegion[R]](sortedDesc: Iterator[R], k: Int, overlapAllowed: Boolean,
      seed: Seq[R] = Nil, sigma: Option[Double] = None): Vector[R] = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[R]
    while (accepted.size < k && sortedDesc.hasNext) {
      val r = sortedDesc.next()
      val ok = !seed.exists(_.compareAnchor(r) == 0) && (overlapAllowed || {
        val overlapping = (seed.iterator ++ accepted.iterator).filter(_.overlaps(r)).toSeq
        overlapping.isEmpty || sigma.exists(s => overlapping.forall(a => r.score >= s * a.score))
      })
      if (ok) accepted += r
    }
    accepted.toVector
  }

  /** Merge per-node candidate lists into the exact global greedy top-k, with the completeness
    * threshold argument of the reference's merge
    * (`/root/reference/src/main/scala/SDL/distrib/OnestepAlgoReduceHybrid.scala:84,120-122`):
    * node X guarantees the union holds ALL its regions scoring above X's own truncation point, so
    * the globally-complete prefix ends at the MAX truncation point over unexhausted nodes (the
    * maxMin bound). Strict: an equal-score region may be unseen.
    *
    * @return (new winners after `seed`, complete) — complete=false means another round is needed
    */
  def mergeTopK[R <: TopKRegion[R]](perNode: Seq[TopKResult[R]], k: Int, overlapAllowed: Boolean,
      seed: Vector[R] = Vector.empty, sigma: Option[Double] = None): (Vector[R], Boolean) = {
    val truncatedAt = perNode.iterator.filter(!_.exhausted).map(_.minEmitted).toSeq
    val union = perNode.flatMap(_.candidates).sorted(new Order[R]).distinct
    val safe = // every node emitted everything → the union is the full region set
      if (truncatedAt.isEmpty) union else union.takeWhile(_.score > truncatedAt.max)
    val accepted = greedySelect(safe.iterator, k, overlapAllowed, seed, sigma)
    (accepted, accepted.size >= k || truncatedAt.isEmpty)
  }

  /** A node's result from its full descending candidate list: the top K′, exhausted iff none
    * was cut.
    */
  def emit[R <: TopKRegion[R]](sortedDesc: collection.Seq[R], kPrime: Int): TopKResult[R] = {
    val out = sortedDesc.take(kPrime).toVector
    TopKResult(out, sortedDesc.size <= kPrime, out.lastOption.fold(Double.PositiveInfinity)(_.score))
  }

  /** Executor-side partial merge (the reference's log-tree reduce, P7 — `NstepAlgo.scala:31-40`):
    * fold many node results into ONE that keeps the top `m`. Dropping a candidate looks like a
    * node truncating at that score, so `minEmitted = max(children's thresholds, best dropped)`
    * keeps [[mergeTopK]]'s completeness test exact — an over-aggressive prune reports incomplete
    * and the round loop grows K′. The driver collects #partitions × m candidates, not #nodes × K′.
    */
  def preMerge[R <: TopKRegion[R]](results: Iterator[TopKResult[R]], m: Int): TopKResult[R] = {
    val all = scala.collection.mutable.ArrayBuffer.empty[R]
    var exhaustedAll = true
    var childThreshold = Double.NegativeInfinity
    var peak = 0
    results.foreach { r =>
      all ++= r.candidates
      peak = math.max(peak, r.peakWindow)
      if (!r.exhausted) { exhaustedAll = false; childThreshold = math.max(childThreshold, r.minEmitted) }
    }
    val sorted = all.sorted(new Order[R]).distinct
    val droppedBest = if (sorted.size > m) sorted(m).score else Double.NegativeInfinity
    val truncated = !exhaustedAll || sorted.size > m
    TopKResult(sorted.take(m).toVector, exhausted = !truncated,
      if (truncated) math.max(childThreshold, droppedBest) else Double.PositiveInfinity, peak)
  }

  /** The round loop (reference NstepAlgo): each round merges the runner's node results above the
    * winners fixed so far, and either completes, fixes a greedy prefix, or proves nothing. Fixed
    * winners reach the runner only when `excludeFixed` (a kernel that skips candidates
    * overlapping them, BRS's strict distinct mode). Whenever the runner's next input would equal
    * this round's, K′ grows ×4 up to [[KPrimeCap]] — at the cap that is the loud failure. So the
    * loop ends within k + log4(cap) rounds.
    *
    * @param runRound (K′, fixed winners to exclude) → per-node kernel results
    */
  def solve[R <: TopKRegion[R]](k: Int, overlapAllowed: Boolean, sigma: Option[Double],
      kPrime0: Int, excludeFixed: Boolean)(
      runRound: (Int, Vector[R]) => Seq[TopKResult[R]]): Vector[R] = {
    @annotation.tailrec
    def round(kPrime: Int, fixed: Vector[R]): Vector[R] = {
      val perNode = runRound(kPrime, if (excludeFixed) fixed else Vector.empty)
      val (won, complete) = mergeTopK(perNode, k - fixed.size, overlapAllowed, fixed, sigma)
      if (complete) fixed ++ won
      else if (excludeFixed && won.nonEmpty) round(kPrime, fixed ++ won)
      else {
        require(kPrime < KPrimeCap, s"top-k merge incomplete at the K' cap $KPrimeCap " +
          s"(${fixed.size + won.size}/$k winners provable): a score tie at the truncation " +
          "threshold, or an executor pre-merge truncating past the provable prefix")
        round(math.min(kPrime * 4, KPrimeCap), fixed ++ won)
      }
    }
    round(math.min(kPrime0, KPrimeCap), Vector.empty)
  }
}
