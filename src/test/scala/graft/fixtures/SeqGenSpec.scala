package graft.fixtures

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.table.SeqIO

/** The shuffle-free fragmented fixture rests on `slot -> (a*slot + b) mod n` being a bijection
  * on [0, n) — a broken multiplier (gcd(a, n) > 1, or an overflowing a*slot) would silently
  * duplicate some doc ids and drop others, and every content-equality spec built on the fixture
  * would then "verify" the wrong table. This pins the bijection itself on adversarial sizes:
  * tiny n, powers of two (even n kills naive odd-stepping), primes, and a Fibonacci number
  * (golden-ratio multiplier near-degenerate case).
  */
class SeqGenSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("fragmentedTable covers exactly ids 0..n-1, no dupes, for adversarial n") {
    for (n <- Seq(1L, 2L, 3L, 64L, 97L, 610L)) {
      val root = tempDir(s"seqgen-$n-").toString + "/t"
      val (table, metas) = SeqGen.fragmentedTable(spark, root, n, nFiles = math.min(n, 8L).toInt)
      val ids = SeqIO.read(spark, table).select("doc_id").collect().map(_.getString(0)).sorted
      val expected = (0L until n).map(i => f"doc-$i%010d").sorted
      assert(ids.toSeq === expected, s"n=$n: fixture ids are not a bijection over [0, $n)")
      assert(metas.map(_.records).sum === n)
    }
  }

  test("fragmentedTable content equals the plain generator's content (payload is id-pure)") {
    val n = 500L
    val root = tempDir("seqgen-parity-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, n, nFiles = 10)
    val frag = SeqIO.read(spark, table).select("doc_id", "tokens", "n_tok", "source")
    val plain = SeqGen.table(spark, n).select("doc_id", "tokens", "n_tok", "source")
    assert(frag.exceptAll(plain).count() === 0 && plain.exceptAll(frag).count() === 0,
      "scattered fixture must be content-identical to the sequential generator")
  }

  test("every fragmented file spans (nearly) the whole key space — the planner's worst case") {
    val root = tempDir("seqgen-span-").toString + "/t"
    val n = 4000L
    val (_, metas) = SeqGen.fragmentedTable(spark, root, n, nFiles = 20)
    // full-span fragmentation is the fixture's POINT: each file's [min, max] doc range must
    // cover most of the domain (golden-ratio strides start near 0 and end near n)
    val lo = f"doc-${n / 10}%010d"
    val hi = f"doc-${n - n / 10}%010d"
    assert(metas.forall(m => m.minDocId <= lo && m.maxDocId >= hi),
      s"a fragmented file failed to span the key domain: ${metas.map(m => (m.minDocId, m.maxDocId)).take(3)}")
  }
}
