package graft.planner

/** Cached per-node kernel results carried between maintenance cycles.
  * @param kPrime      the K′ the cached results were computed at (exhausted nodes are valid for
  *                    any K′; truncated ones only up to this)
  * @param baseVersion table version the cache reflects
  */
final case class PlannerState(kPrime: Int, baseVersion: Long, nodes: Map[Int, NodeResult])

/** Incremental distributed top-k — the reference's partial-recompute optimization (algo 6,
  * `/root/reference/src/main/scala/SDL/distrib/OnestepAlgoReduceHybridOpt.scala:22-90`): per-node
  * results are cached across cycles; only nodes whose cells changed (files added/removed) are
  * re-run, the rest reuse cached candidates (the reference's `filter ∪ union` on untouched
  * partitions, F5/P8). A full solve is the same call with no cache (`prev = None`, every node
  * dirty); the K′ rounds and the completeness-checked fallback are [[DistributedTopK.solve]]'s.
  */
object IncrementalTopK {

  /** @param runNodes (nodesToCompute, kPrime) → fresh results for exactly those nodes — OR,
    *                  when the runner pre-merged on executors (driver-funnel gate), partials
    *                  under SYNTHETIC ids outside `allNodes`: a partial is a valid NodeResult
    *                  in the merge algebra ([[RegionKernel.preMerge]]) but cannot be attributed
    *                  to one node, so it is never cached — within rounds or across cycles
    * @param allNodes    every node with ≥1 occupied cell in the CURRENT state
    * @param dirty       nodes whose cell contents changed since `prev` was computed
    * @param baseVersion version the NEW state will reflect
    * @return (winners, state to cache for the next cycle)
    */
  def solve(
      runNodes: (Set[Int], Int) => Map[Int, NodeResult],
      allNodes: Set[Int],
      dirty: Set[Int],
      prev: Option[PlannerState],
      baseVersion: Long,
      k: Int,
      overlapAllowed: Boolean,
      sigma: Option[Double] = None,
      maxRounds: Int = 8): (Vector[Region], PlannerState) = {
    val prevK = prev.fold(0)(_.kPrime)
    val clean = prev.fold(Map.empty[Int, NodeResult])(_.nodes)
      .filter { case (n, _) => allNodes.contains(n) && !dirty.contains(n) }
    var state = Map.empty[Int, NodeResult]
    var lastK = 0
    def round(kPrime: Int): Seq[NodeResult] = {
      // reusable: clean cached nodes (truncated ones only up to the K′ they were computed at) plus
      // this call's exhausted results; pre-merged partials (synthetic ids ∉ allNodes) are transient
      // — carrying one into the next round while re-running its sources would double-count them
      val cache = clean.filter { case (_, r) => r.exhausted || prevK >= kPrime } ++
        state.filter { case (n, r) => r.exhausted && allNodes.contains(n) }
      val toRun = allNodes.diff(cache.keySet)
      state = cache ++ (if (toRun.nonEmpty) runNodes(toRun, kPrime) else Map.empty)
      lastK = kPrime
      state.values.toSeq
    }
    val answer = DistributedTopK.solve(round, k, overlapAllowed,
      kPrime0 = math.max(math.max(k, 4), prevK), maxRounds = maxRounds, sigma = sigma)
    // synthetic (pre-merged) entries are not per-node facts — persisting them would let a later
    // cycle treat a fold of many nodes as one node's cache; those nodes simply recompute next time
    (answer, PlannerState(lastK, baseVersion, state.filter(e => allNodes.contains(e._1))))
  }
}
