package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.MergeInto
import graft.planner.GridConfig

/** Tags — named, retention-pinned snapshot refs: a tagged version (and every manifest/data file
  * it references) survives snapshot expiry on BOTH expiry paths until the tag is dropped; tags
  * ride table properties, so they are CAS-consistent and survive rollback.
  */
class TagSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"tag-$tag-").toString + "/t"

  private def hashAt(t: SeqTable, v: Long): (Long, Long) = {
    val h = SeqIO.readAt(spark, t, v).agg(
      count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"), lit(0L))).head()
    (h.getLong(0), h.getLong(1))
  }

  private def churn(t: SeqTable, rows: Long, n: Int): Unit =
    (1 to n).foreach { _ =>
      val c = SeqGen.changeSet(spark, rows, changes = 60, deletes = 20).persist()
      MergeInto.merge(spark, t, c, cfg, 500)
      c.unpersist()
    }

  test("a tagged version survives expiry (both paths) byte-identically; untag releases it") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("keep"), 600, 5)
    churn(table, 600, 1)
    val vRelease = table.currentVersion()
    val pinned = hashAt(table, vRelease)
    table.createTag("release-1", vRelease)
    assert(table.tags() === Map("release-1" -> vRelease))

    // churn far past keepLast, expire on the DRIVER path: the tagged version must stay readable
    churn(table, 600, 3)
    val (expired1, _) = table.expireSnapshots(keepLast = 2)
    assert(expired1.nonEmpty && !expired1.contains(vRelease),
      "expiry must skip the tagged version")
    assert(hashAt(table, vRelease) === pinned, "tagged content must be byte-identical")

    // more churn, DISTRIBUTED expiry: same contract
    churn(table, 600, 2)
    val (expired2, _) = SeqIO.expireSnapshotsDistributed(spark, table, keepLast = 2)
    assert(expired2.nonEmpty && !expired2.contains(vRelease))
    assert(hashAt(table, vRelease) === pinned)
    // every version between the tag and the retention window is gone — the pin is surgical
    assert(table.snapshotVersions().contains(vRelease))
    assert(table.snapshotVersions().count(_ < table.currentVersion() - 1) === 1,
      "only the tagged version may outlive keepLast")

    // untag → the next expiry reclaims it
    table.dropTag("release-1")
    assert(table.tags().isEmpty)
    val (expired3, _) = table.expireSnapshots(keepLast = 2)
    assert(expired3.contains(vRelease), "a dropped tag releases its version to expiry")
    intercept[Exception](hashAt(table, vRelease))
  }

  test("tag namespace and lifecycle rules") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("rules"), 200, 2)
    table.createTag("gold")
    val vGold = table.tags()("gold")
    // duplicate create refused (CAS absent-property fence), unknown versions refused
    intercept[Exception](table.createTag("gold"))
    intercept[IllegalArgumentException](table.createTag("v99", 99L))
    intercept[IllegalArgumentException](table.createTag("bad name"))
    intercept[IllegalArgumentException](table.dropTag("nope"))
    // tags survive rollback (table configuration, like schema)
    churn(table, 200, 1)
    val vMid = table.currentVersion()
    churn(table, 200, 1)
    table.rollbackTo(vMid)
    assert(table.tags() === Map("gold" -> vGold))
    // re-create after drop is allowed and repoints
    table.dropTag("gold")
    table.createTag("gold")
    assert(table.tags()("gold") === table.currentVersion() - 1,
      "re-created tag pins the version current at creation (the create commit's base)")
  }
}
