package graft.planner

import org.apache.spark.sql.{Dataset, SparkSession}

/** Spark-backed distributed top-k regions over an arbitrary cell Dataset: border replication →
  * per-node kernel (`flatMapGroups`-style) → completeness-thresholded merge, multi-round on K′.
  * This is the whole reference pipeline (algo 0/2 family,
  * `/root/reference/src/main/scala/SDL/distrib/NstepAlgo.scala:23-57`) as one reusable function.
  */
object GridTopK {

  /** Replicated-cell count above which per-node results are folded into one partial per Spark
    * partition on EXECUTORS before the collect ([[RegionKernel.preMerge]], reference P7) — node
    * count grows with `ntokBins × sourceBuckets / nodeSide²` and a 10^8-cell planner grid must
    * not funnel #nodes × K′ candidates through the driver. Row count is a sound proxy: driver
    * payload ≤ replicated rows.
    */
  val PreMergeMinRows: Long = 200000L

  /** Replicated-cell count at or below which the kernels run ON THE DRIVER (guide §2.4: remove
    * shuffles outright). The planner's input is metadata (one cell per file / grid bucket), so
    * small problems — every bench-scale plan, and most steady-state maintenance cycles — were
    * paying 3+ Spark jobs (persist, count, groupByKey shuffle per K′ round) of pure scheduling
    * overhead for a few hundred rows. 2^16 Cells ≈ 2 MB of driver heap; bigger inputs keep the
    * distributed path unchanged.
    */
  val DriverLocalMaxRows: Long = 1L << 16

  def solve(
      spark: SparkSession,
      cells: Dataset[Cell],
      cfg: GridConfig,
      k: Int,
      overlapAllowed: Boolean,
      sigma: Option[Double] = None,
      preMergeMinRows: Long = PreMergeMinRows): Vector[Region] =
    withNodes(spark, Right(cells), cfg, preMergeMinRows) { (allNodes, runNodes) =>
      IncrementalTopK.solve(runNodes, allNodes, allNodes, None, 0L, k, overlapAllowed, sigma)._1
    }

  /** Border-replicates `cells` and lends `f` every occupied node plus the one node runner:
    * (nodes, K′) → kernel results for those nodes. Per-node row counts always reach the driver
    * (bounded by grid geometry, never by file count); the rows stay on the driver or in a
    * Dataset persisted hash-partitioned by node, so no K′ round shuffles. The one local-vs-Spark
    * gate: a call whose nodes hold ≤ min([[DriverLocalMaxRows]], `preMergeMinRows`) replicated
    * cells runs on the driver (a Dataset's rows are fetched once per node and reused by later
    * rounds), so `preMergeMinRows = 0` still forces the executor path; above `preMergeMinRows`
    * each partition's results fold into one partial under a synthetic NEGATIVE id (never cached).
    */
  def withNodes[T](
      spark: SparkSession,
      cells: Either[Seq[Cell], Dataset[Cell]],
      cfg: GridConfig,
      preMergeMinRows: Long)(
      f: (Set[Int], (Set[Int], Int) => Map[Int, NodeResult]) => T): T = {
    import spark.implicits._
    val gate = math.min(DriverLocalMaxRows, preMergeMinRows)
    val replicate = (c: Cell) => cfg.nodesForCell(c.x, c.y).map(n => (n, c))
    val resident = scala.collection.mutable.Map.empty[Int, Seq[Cell]]
    val rows: Option[Dataset[(Int, Cell)]] = (cells match {
      case Left(cs) =>
        val keyed = cs.flatMap(replicate)
        resident ++= keyed.groupMap(_._1)(_._2)
        if (keyed.size > gate) Some(spark.createDataset(keyed)) else None
      case Right(ds) => Some(ds.flatMap(replicate))
    }).map(_.repartition($"_1").persist())
    try {
      val counts = if (cells.isLeft) resident.map(e => e._1 -> e._2.size.toLong).toMap
        else rows.get.groupBy("_1").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      def runNodes(nodes: Set[Int], kPrime: Int): Map[Int, NodeResult] = {
        val n = nodes.iterator.map(counts).sum
        if (n <= gate) {
          val missing = nodes.filterNot(resident.contains)
          if (missing.nonEmpty)
            resident ++= rows.get.where($"_1".isin(missing.toSeq: _*)).collect().toSeq
              .groupMap(_._1)(_._2)
          nodes.iterator.map(node => node -> kernel(cfg, node, resident(node), kPrime)).toMap
        } else {
          val perNode = rows.get.where($"_1".isin(nodes.toSeq: _*)).mapPartitions(_.toSeq
            .groupMap(_._1)(_._2).iterator.map(e => e._1 -> kernel(cfg, e._1, e._2, kPrime)))
          if (n <= preMergeMinRows) perNode.collect().toMap
          else {
            // keep what one node keeps (K′ ≥ k), capped so the Int.MaxValue round sizes no buffer
            val m = math.min(kPrime, 1 << 20)
            perNode.mapPartitions(rs => Iterator.single((
              -(org.apache.spark.TaskContext.getPartitionId() + 1),
              RegionKernel.preMerge(rs.map(_._2), m)))).collect().toMap
          }
        }
      }
      f(counts.keySet, runNodes)
    } finally rows.foreach(_.unpersist())
  }

  private def kernel(cfg: GridConfig, node: Int, cells: Seq[Cell], kPrime: Int): NodeResult = {
    val (ax0, ax1, ay0, ay1) = cfg.anchorBounds(node)
    RegionKernel.localTopK(cells, ax0, ax1, ay0, ay1, cfg.regionW, kPrime)
  }
}
