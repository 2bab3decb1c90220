package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** [[Rewrite.byteBalanced]] places rows where its greedy byte packing says: each curve key in
  * its partition, a hot key split over `ceil(w / perPart)` partitions by `doc_id` hash, never
  * more partitions than asked for.
  */
class ByteBalancedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The packing as documented on `byteBalanced`: keys in order, a key heavier than 1.5 ×
    * `perPart` on `ceil(w / perPart)` partitions of its own, the others filling a partition until
    * it reaches `perPart`; `perPart` starts at `totalW / nParts` and widens by 1/32 + 1 until the
    * partitions fit in `nParts`. Returns key → (first partition, partitions), `perPart`, and the
    * partition count. */
  private def packing(hist: Seq[(Long, Long)], nParts: Int)
      : (Map[Long, (Int, Int)], Long, Int) = {
    def pack(perPart: Long) = {
      var (pid, acc) = (0, 0L)
      val placed = hist.map { case (k, w) =>
        if (w > perPart * 3 / 2) {
          if (acc > 0) { pid += 1; acc = 0L }
          val splits = ((w + perPart - 1) / perPart).toInt
          pid += splits
          k -> (pid - splits, splits)
        } else {
          val at = pid
          acc += w
          if (acc >= perPart) { pid += 1; acc = 0L }
          k -> (at, 1)
        }
      }.toMap
      (placed, perPart, if (acc > 0) pid + 1 else math.max(1, pid))
    }
    Iterator.iterate(math.max(1L, hist.map(_._2).sum / nParts))(p => p + p / 32 + 1)
      .map(pack).find(_._3 <= nParts).get
  }

  test("rows land where the packing puts them; a hot key splits by doc_id hash") {
    // key 7 carries about half the bytes; 40 other keys of 20-60 rows, n_tok 10-109
    val keyed = spark.range(0, 3200, 1, 4).select(
      when(col("id") < 1000, lit(7L)).otherwise(pmod(xxhash64(col("id")), lit(41L)) + 10)
        .as("_ck"),
      format_string("doc-%010d", col("id")).as("doc_id"),
      when(col("id") < 1000, lit(150)).otherwise(pmod(col("id") * 7, lit(100)) + 10)
        .cast("int").as("n_tok"))
      .withColumn("_h", xxhash64(col("doc_id")))
    for (nParts <- Seq(6, 9, 16)) {
      // one row per partition: 3200 rows leave the partition count to nParts
      val out = Rewrite.byteBalanced(spark, keyed, nParts, rowsPerPart = 1L)
        .withColumn("_pid", spark_partition_id())
      val rows = out.select("_ck", "_h", "n_tok", "_pid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
      assert(rows.size === 3200)
      val hist = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3.toLong).sum }
        .toSeq.sortBy(_._1)
      val (placed, perPart, nOut) = packing(hist, nParts)
      assert(out.rdd.getNumPartitions === nOut)
      assert(nOut <= nParts, s"nParts $nParts")

      // every row in the partition the packing assigned, by doc_id hash within a split key
      rows.foreach { case (k, h, _, pid) =>
        val (base, splits) = placed(k)
        assert(pid === base + (if (splits > 1) math.floorMod(h, splits.toLong).toInt else 0))
      }
      val hotW = hist.toMap.apply(7L)
      val (_, hotSplits) = placed(7L)
      assert(hotSplits > 1 && hotSplits === ((hotW + perPart - 1) / perPart).toInt)
      assert(rows.filter(_._1 == 7L).map(_._4).distinct.size === hotSplits)

      // per-partition bytes: a packed partition was under perPart before its last key, and a
      // hot key's splits share it by hash, each well under twice perPart
      val byPart = rows.groupBy(_._4)
      byPart.foreach { case (pid, rs) =>
        val keys = rs.map(_._1).distinct.sorted
        val sum = rs.map(_._3.toLong).sum
        if (placed(keys.head)._2 > 1) {
          assert(keys === Seq(keys.head))
          assert(sum < 2 * perPart, s"hot split $pid of nParts $nParts")
        } else assert(sum - hist.toMap.apply(keys.last) < perPart, s"partition $pid")
      }
    }
  }
}
