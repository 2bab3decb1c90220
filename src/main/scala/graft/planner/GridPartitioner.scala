package graft.planner

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Grid geometry + partition ("node") assignment for the maintenance planner.
  *
  * Re-instantiates the reference's GridIndexer
  * (`/root/reference/src/main/scala/SDL/definitions/GridIndexer.scala:15-35`): the continuous lon/lat
  * plane becomes the discrete `(sourceBucket, ntokBin)` plane; a planner partition ("node") owns a
  * `nodeSide × nodeSide` block of cells; and the border-replication trick — emit a cell to every
  * node that owns an anchor whose w×w window covers it — replaces any shuffle join, exactly like
  * `Generic.poiToKeyValue` (`/root/reference/src/main/scala/SDL/Generic.scala:28-37`) replicates
  * border points to up to 4 neighbor nodes.
  *
  * @param sourceBuckets number of hash buckets on the x axis (source)
  * @param ntokBinWidth  width of each n_tok bin on the y axis
  * @param nodeSide      cells per node per axis (≥ w keeps replication ≤ 4 nodes per cell)
  * @param regionW       region side length w in cells
  */
final case class GridConfig(
    sourceBuckets: Int = 64,
    ntokBinWidth: Int = 128,
    nodeSide: Int = 16,
    regionW: Int = 2) {
  require(nodeSide >= regionW, "nodeSide must be >= regionW so replication stays <= 4 nodes")

  /** Same bits as Spark's `xxhash64(source)` (seed 42), so the driver-side planner and the
    * codegen'd `pmod(xxhash64($"source"), B)` rewrite key agree exactly — no UDF on the hot path.
    */
  def sourceBucket(source: String): Int =
    math.floorMod(GridConfig.sourceHash(UTF8String.fromString(source)), sourceBuckets.toLong).toInt

  def ntokBin(nTok: Int): Int = math.max(0, nTok) / ntokBinWidth

  /** Node id owning cell/anchor (x, y). Flattened to a single Int like the reference's node index
    * (`GridIndexer.getNodeIndex`). x is bounded by sourceBuckets; y is open-ended.
    */
  def nodeOf(x: Int, y: Int): Int = {
    val nodesPerRow = (sourceBuckets + nodeSide - 1) / nodeSide
    (math.floorDiv(y, nodeSide)) * nodesPerRow + math.floorDiv(math.max(0, x), nodeSide)
  }

  /** Anchor bounds owned by a node. */
  def anchorBounds(node: Int): (Int, Int, Int, Int) = {
    val nodesPerRow = (sourceBuckets + nodeSide - 1) / nodeSide
    val nx = node % nodesPerRow
    val ny = node / nodesPerRow
    (nx * nodeSide, nx * nodeSide + nodeSide - 1, ny * nodeSide, ny * nodeSide + nodeSide - 1)
  }

  /** Border replication: the ≤4 distinct nodes that need cell (x, y) — the nodes owning the four
    * corner anchors of the anchor range [x−w+1..x] × [y−w+1..y] whose windows cover the cell.
    */
  def nodesForCell(x: Int, y: Int): Seq[Int] = {
    val w = regionW
    // anchors whose window covers (x,y) live in [x-w+1..x] × [y-w+1..y], clamped to the grid;
    // with w <= nodeSide that range spans at most 2 nodes per axis = the nodes of its corners
    val xs = Seq(math.max(0, x - w + 1), x).distinct
    val ys = Seq(math.max(0, y - w + 1), y).distinct
    (for { ax <- xs; ay <- ys } yield nodeOf(ax, ay)).distinct
  }
}

object GridConfig {
  /** Spark's `xxhash64(source)`: the hash of every source bucket, the planner grid's and the
    * manifest's [[graft.table.SourceZones]]. */
  def sourceHash(source: UTF8String): Long = XxHash64Function.hash(source, StringType, 42L)
}
