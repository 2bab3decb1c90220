package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.SeqIO

/** Point-lookup fast path: range+Bloom candidate pruning, delete-awareness, guards. */
class LookupSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  test("lookupKeys returns exactly the requested live rows; misses prune to ~zero files") {
    import spark.implicits._
    val root = tempDir("lookup-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 30)
    val keys = SeqIO.read(spark, table).select("doc_id").as[String]
      .collect().sorted.grouped(300).map(_.head).toSeq // 10 scattered keys
    val (df, stats) = SeqIO.lookupKeys(spark, table, keys)
    val got = df.select("doc_id").as[String].collect().sorted.toSeq
    assert(got == keys.sorted)
    assert(stats.filesScanned <= stats.totalFiles)
    // nonexistent keys: the Bloom level must resolve to (almost) no candidate files
    val (miss, missStats) = SeqIO.lookupKeys(spark, table, Seq("zzz-1", "zzz-2"))
    assert(miss.count() == 0)
    assert(missStats.filesScanned <= 2, s"Bloom prune broken: $missStats")
    // a deleted key (deletion vector) must NOT return
    graft.ops.Dml.deleteWhere(spark, table, col("doc_id") === keys.head, cfg, 1000, dv = true)
    val (after, _) = SeqIO.lookupKeys(spark, table, keys)
    assert(after.select("doc_id").as[String].collect().sorted.toSeq == keys.sorted.tail)
    // and an equality-MoR-deleted key neither
    graft.ops.Dml.deleteWhere(spark, table, col("doc_id") === keys(1), cfg, 1000, mor = true)
    assert(SeqIO.lookupKeys(spark, table, keys)._1.count() == keys.size - 2)
    // guards: empty and scan-sized key sets are refused
    intercept[IllegalArgumentException](SeqIO.lookupKeys(spark, table, Nil))
    intercept[IllegalArgumentException](SeqIO.lookupKeys(spark, table,
      (1 to graft.table.DocBloom.PruneMaxKeys.toInt + 1).map(i => s"k$i")))
  }
}
