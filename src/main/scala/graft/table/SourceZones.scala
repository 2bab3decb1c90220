package graft.table

import scala.collection.immutable.ArraySeq
import org.apache.spark.unsafe.types.UTF8String
import graft.planner.GridConfig

/** A data file's joint (source bucket × n_tok) extent, [[FileMeta.sourceZones]]: for every
  * source bucket its rows fall in, the min and max `n_tok` of those rows, as flattened
  * `(bucket, minNtok, maxNtok)` triples sorted by bucket. The bucket is
  * `floorMod(xxhash64(source, 42), 64)`, the hash of [[GridConfig.sourceBucket]] at a fixed
  * [[Buckets]], whatever bucket count a table's layout plans with. A bucket whose rows
  * all have a null `n_tok` is present with an empty range (`minNtok > maxNtok`); a row with a
  * null `source` has no zone.
  *
  * The file-wide source list and `[minNtok, maxNtok]` are two independent extents: a file holding
  * source `s` somewhere and n_tok in range somewhere matches them even when no row has both. A
  * zone bounds the n_tok of the rows of `s`'s bucket alone — Jigsaw's compact per-partition
  * descriptor for skipping, at the planner grid's resolution.
  */
object SourceZones {
  val Buckets = 64

  def bucket(source: UTF8String): Int =
    math.floorMod(GridConfig.sourceHash(source), Buckets.toLong).toInt

  def bucket(source: String): Int = bucket(UTF8String.fromString(source))

  /** May a file with `zones` hold a row with `source = s` and `lo <= n_tok <= hi`? */
  def mayMatch(zones: Seq[Int], source: String, lo: Option[Int], hi: Option[Int]): Boolean = {
    val b = bucket(source)
    var i = 0
    while (i < zones.length && zones(i) < b) i += 3
    i < zones.length && zones(i) == b &&
      lo.forall(zones(i + 2) >= _) && hi.forall(zones(i + 1) <= _)
  }

  /** One file's zones, folded row by row inside its write task. */
  final class Acc {
    private var present = 0L // bit b: a row of bucket b
    private val mins = Array.fill(Buckets)(Int.MaxValue)
    private val maxs = Array.fill(Buckets)(Int.MinValue)

    /** A row of non-null `source`; `ntok` is null when `hasNtok` is false. */
    def add(source: UTF8String, ntok: Int, hasNtok: Boolean): Unit = {
      val b = bucket(source)
      present |= 1L << b
      if (hasNtok) {
        if (ntok < mins(b)) mins(b) = ntok
        if (ntok > maxs(b)) maxs(b) = ntok
      }
    }

    /** The triples, held unboxed (`ArraySeq` keeps `Seq` equality). */
    def result: Seq[Int] = {
      val out = new Array[Int](3 * java.lang.Long.bitCount(present))
      var bits = present
      var i = 0
      while (bits != 0L) {
        val b = java.lang.Long.numberOfTrailingZeros(bits)
        out(i) = b; out(i + 1) = mins(b); out(i + 2) = maxs(b)
        i += 3
        bits &= bits - 1
      }
      ArraySeq.unsafeWrapArray(out)
    }
  }
}
