package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

/** Table-level NEAR-dedup: token-stream MinHash pairs → clusters → transactional keep-min delete. */
class NearDedupSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  test("near-dedup removes token-stream near-copies, keeps representatives and distinct docs") {
    import spark.implicits._
    val root = tempDir("neardedup-").toString + "/t"
    val t = SeqTable.create(root)
    val base = (1 to 30).toArray
    val b = (200 to 230).toArray
    val rnd = new scala.util.Random(3)
    val rows = Seq(
      ("a1", base), // representative (min doc_id of its cluster)
      ("a2", base ++ Array(99, 98)), // near-copy of a1
      ("a3", base ++ Array(99, 98, 97, 96)), // chain: near a2 (and a1)
      ("b1", b), // second cluster's representative
      ("b2", b ++ Array(1, 2)) // near-copy of b1
    ) ++ (1 to 4).map(i => (s"c$i", Array.fill(25)(rnd.nextInt(5000)))) // distinct docs
    val df = rows.map { case (id, toks) => (id, toks, toks.length, "s0") }
      .toDF("doc_id", "tokens", "n_tok", "source")
    t.commit("append", SeqIO.writeFiles(spark, t, df.repartition(3)), Set.empty)

    val (deleted, res) = DedupTable.dedupNear(spark, t, cfg, targetRecordsPerFile = 100)
    assert(deleted === 3 && res.isDefined)
    val survivors = SeqIO.read(spark, t).select("doc_id").as[String].collect().sorted
    assert(survivors === Array("a1", "b1", "c1", "c2", "c3", "c4"))
    // idempotent: a second pass finds nothing (survivors are below the Jaccard threshold)
    val (again, res2) = DedupTable.dedupNear(spark, t, cfg, targetRecordsPerFile = 100)
    assert(again === 0 && res2.isEmpty)
  }
}
