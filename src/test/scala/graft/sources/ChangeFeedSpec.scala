package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.MergeInto
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

/** [[ChangeFeed]] — the replayable CDC consumer: the target mirrors the source exactly after
  * every consumption step, offsets advance atomically with the applied batch (crash replay can
  * never double-apply or skip), and concurrent/duplicate consumption is benign.
  */
class ChangeFeedSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"feed-$tag-").toString + "/t"

  private def contentHash(t: SeqTable): (Long, Long) = {
    val df = SeqIO.read(spark, t)
    val h = df.agg(
      count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"), lit(0L)))
      .head()
    (h.getLong(0), h.getLong(1))
  }

  test("consumeInto mirrors the source across merges, MoR deletes and rollback") {
    val srcRoot = fresh("src")
    val (source, _) = SeqGen.fragmentedTable(spark, srcRoot, 1000, 8)
    val target = SeqTable.create(fresh("dst"))

    // initial sync: (0, head] is the full content
    val r1 = ChangeFeed.consumeInto(spark, source, target, "mirror", cfg, 500)
    assert(r1.isDefined && r1.get._1 === 0L)
    assert(contentHash(target) === contentHash(source))

    // no new commits → nothing to consume, target untouched
    val before = contentHash(target)
    assert(ChangeFeed.consumeInto(spark, source, target, "mirror", cfg, 500).isEmpty)
    assert(contentHash(target) === before)

    // a COW merge, a MoR merge and a rollback on the source — one consume catches all three up
    val c1 = SeqGen.changeSet(spark, 1000, changes = 200, deletes = 60).persist()
    MergeInto.merge(spark, source, c1, cfg, 500)
    val vMid = source.currentVersion()
    val c2 = SeqGen.changeSet(spark, 1000, changes = 100, deletes = 30).persist()
    MergeInto.merge(spark, source, c2, cfg, 500, mor = true)
    source.rollbackTo(vMid) // undoes the MoR merge
    val r2 = ChangeFeed.consumeInto(spark, source, target, "mirror", cfg, 500)
    assert(r2.isDefined)
    assert(contentHash(target) === contentHash(source),
      "mirror must equal the source after consuming a merge+MoR+rollback range")
    c1.unpersist(); c2.unpersist()
  }

  test("crash replay: re-running a completed consume is a no-op; an interrupted one applies once") {
    val srcRoot = fresh("replay-src")
    val (source, _) = SeqGen.fragmentedTable(spark, srcRoot, 600, 5)
    val target = SeqTable.create(fresh("replay-dst"))
    ChangeFeed.consumeInto(spark, source, target, "c", cfg, 500)

    val changes = SeqGen.changeSet(spark, 600, changes = 120, deletes = 40).persist()
    MergeInto.merge(spark, source, changes, cfg, 500)

    // "crash between read and advance": the batch was READ but the apply+advance commit never
    // happened — nothing on the target moved, the offset is unchanged, so the replay delivers
    // the identical range and applies it exactly once
    val offsetBefore = ChangeFeed.offsetOf(target, "c")
    SeqIO.tableDiff(spark, source, offsetBefore, source.currentVersion()).count() // read, no apply
    assert(ChangeFeed.offsetOf(target, "c") === offsetBefore, "a bare read must not advance")
    val r = ChangeFeed.consumeInto(spark, source, target, "c", cfg, 500) // the replay
    assert(r.isDefined && r.get._1 === offsetBefore)
    assert(contentHash(target) === contentHash(source))

    // "crash after the commit": the offset advanced with the batch, so the replayed consume
    // finds nothing — NO duplicates, target byte-identical
    val settled = contentHash(target)
    assert(ChangeFeed.consumeInto(spark, source, target, "c", cfg, 500).isEmpty)
    assert(contentHash(target) === settled)
    // and a double application (simulating two racing consumers) is idempotent on content
    val vTarget = target.currentVersion()
    val batch = SeqIO.tableDiff(spark, source, offsetBefore, source.currentVersion())
      .withColumn("_op", when(col("change_type") === "D", lit("D")).otherwise(lit("U")))
      .drop("change_type")
    MergeInto.merge(spark, target, batch, cfg, 500)
    assert(target.currentVersion() > vTarget)
    assert(contentHash(target) === settled, "re-applying a net batch must not change content")
    changes.unpersist()
  }

  test("two independent consumers hold independent offsets on their own targets") {
    val srcRoot = fresh("multi-src")
    val (source, _) = SeqGen.fragmentedTable(spark, srcRoot, 400, 4)
    val tA = SeqTable.create(fresh("multi-a"))
    val tB = SeqTable.create(fresh("multi-b"))
    ChangeFeed.consumeInto(spark, source, tA, "a", cfg, 500)
    val changes = SeqGen.changeSet(spark, 400, changes = 80, deletes = 20).persist()
    MergeInto.merge(spark, source, changes, cfg, 500)
    ChangeFeed.consumeInto(spark, source, tB, "b", cfg, 500) // b syncs from scratch to head
    assert(contentHash(tB) === contentHash(source))
    assert(ChangeFeed.offsetOf(tA, "a") < ChangeFeed.offsetOf(tB, "b"))
    ChangeFeed.consumeInto(spark, source, tA, "a", cfg, 500) // a catches up
    assert(contentHash(tA) === contentHash(source))
    changes.unpersist()
  }

  test("at-least-once consume(): redelivery after a crash between process and advance") {
    val srcRoot = fresh("alo-src")
    val (source, _) = SeqGen.fragmentedTable(spark, srcRoot, 300, 3)
    val book = SeqTable.create(fresh("alo-book"))
    var delivered = 0L
    ChangeFeed.consume(spark, source, book, "x")(df => delivered += df.count())
    val full = delivered
    assert(full === 300L)
    // crash between process and advance: process ran, advance didn't — simulate by reading the
    // offset BEFORE a consume whose advance we never issue (process throws)
    val changes = SeqGen.changeSet(spark, 300, changes = 60, deletes = 0).persist()
    MergeInto.merge(spark, source, changes, cfg, 500)
    intercept[RuntimeException](
      ChangeFeed.consume(spark, source, book, "x") { df =>
        delivered += df.count(); throw new RuntimeException("crash before advance")
      })
    val afterCrash = delivered
    // replay REDELIVERS the same range (documented at-least-once), then advances
    ChangeFeed.consume(spark, source, book, "x")(df => delivered += df.count())
    assert(delivered - afterCrash === afterCrash - full, "replay must redeliver the same batch")
    assert(ChangeFeed.consume(spark, source, book, "x")(_ => fail("nothing left")).isEmpty)
    changes.unpersist()
  }
}
