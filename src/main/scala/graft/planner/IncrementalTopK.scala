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
  * dirty); the K′ rounds and the capped, loudly failing growth are [[TopK.solve]]'s.
  */
object IncrementalTopK {

  /** @param runNodes (nodesToCompute, kPrime) → fresh results for exactly those nodes — OR,
    *                  when the runner pre-merged on executors (driver-funnel gate), partials
    *                  under SYNTHETIC ids outside `allNodes`: a partial is a valid NodeResult
    *                  in the merge algebra ([[TopK.preMerge]]) but cannot be attributed
    *                  to one node, so it is never cached — within rounds or across cycles
    * @param allNodes    every node with ≥1 occupied cell in the CURRENT state
    * @param dirty       nodes whose cell contents changed since `prev` was computed
    * @param prev        the cached state; its K′ is clamped to [4, [[TopK.KPrimeCap]]] (an older
    *                    state may hold the `Int.MaxValue` of a former unbounded last round)
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
      sigma: Option[Double] = None): (Vector[Region], PlannerState) = {
    val prevK = prev.fold(0)(p => math.min(math.max(p.kPrime, 4), TopK.KPrimeCap))
    val clean = prev.fold(Map.empty[Int, NodeResult])(_.nodes)
      .filter { case (n, _) => allNodes.contains(n) && !dirty.contains(n) }
    var state = Map.empty[Int, NodeResult]
    var lastK = 0
    val answer = TopK.solve[Region](k, overlapAllowed, sigma, math.max(math.max(k, 4), prevK),
        excludeFixed = false) { (kPrime, _) =>
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
    // synthetic (pre-merged) entries are not per-node facts — persisting them would let a later
    // cycle treat a fold of many nodes as one node's cache; those nodes simply recompute next time
    (answer, PlannerState(lastK, baseVersion, state.filter(e => allNodes.contains(e._1))))
  }
}
