package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.sources.Ingest

/** Write-audit-publish staged commits: invisibility before publish, exactly-once publish (incl.
  * the crash-between-commit-and-cleanup replay), discard reclamation, orphan-sweep shielding.
  */
class WapSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def fresh(tag: String): String =
    tempDir(s"wap-$tag-").toString + "/t"

  private def batch(n: Long, prefix: String) =
    SeqGen.table(spark, n, parts = 2).withColumn("doc_id", concat(lit(prefix), col("doc_id")))

  test("staged commits are invisible until published; audit reads them in isolation") {
    val root = fresh("vis")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 500, 4)
    val v1 = table.currentVersion()
    val id = Ingest.appendStaged(spark, table, batch(100, "wap-"))
    // nothing moved: head version, head content, time travel all unchanged
    assert(table.currentVersion() === v1, "staging must not advance the version chain")
    assert(SeqIO.read(spark, table).count() === 500)
    assert(SeqIO.read(spark, table).filter(col("doc_id").startsWith("wap-")).count() === 0)
    assert(table.stagedIds() === Seq(id))
    // the audit surface sees exactly the staged batch
    val staged = SeqIO.readStaged(spark, table, id)
    assert(staged.count() === 100)
    assert(staged.filter(!col("doc_id").startsWith("wap-")).count() === 0)
    // publish adopts it through the normal commit path
    val snap = table.publishStaged(id)
    assert(snap.operation === "append" && snap.summary("published-from-stage") === id)
    assert(SeqIO.read(spark, table).count() === 600)
    assert(table.stagedIds().isEmpty, "published stage must leave the audit queue")
    // and history still time-travels cleanly past the publish
    assert(SeqIO.readAt(spark, table, v1).count() === 500)
  }

  test("publish is exactly-once and idempotent: a replayed publish never double-appends") {
    val root = fresh("once")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    val id = Ingest.appendStaged(spark, table, batch(50, "wap-"))
    // simulate the crash window: commit succeeded but the staged file survived — resurrect it
    val staged = table.stagedSnapshot(id)
    val published = table.publishStaged(id)
    val metaDir = java.nio.file.Paths.get(root, "metadata")
    Files.writeString(metaDir.resolve(s"staged-$id.json"),
      org.json4s.jackson.Serialization.write(staged)(SeqTable.formats))
    val before = SeqIO.read(spark, table).count()
    val replay = table.publishStaged(id) // must finish the cleanup and return the head
    assert(replay.version === published.version)
    assert(SeqIO.read(spark, table).count() === before, "replayed publish must not double-append")
    assert(table.stagedIds().isEmpty, "replay must complete the interrupted cleanup")
    // and a replay after FULL cleanup (no staged file at all) is still an idempotent no-op
    assert(table.publishStaged(id).version === published.version)
    // an id that was never staged fails loudly
    intercept[table.CommitConflictException](table.publishStaged("nonexistent-id"))
  }

  test("publish rebases over concurrent commits like any append") {
    val root = fresh("race")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 400, 4)
    val id = Ingest.appendStaged(spark, table, batch(80, "wap-"))
    Ingest.append(spark, table, batch(60, "mid-")) // head moves while the batch is in audit
    table.publishStaged(id)
    val got = SeqIO.read(spark, table)
    assert(got.count() === 540)
    assert(got.filter(col("doc_id").startsWith("wap-")).count() === 80)
    assert(got.filter(col("doc_id").startsWith("mid-")).count() === 60)
  }

  test("two racing publishes of the same stage append exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = fresh("pubrace")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    for (round <- 1 to 3) {
      val id = Ingest.appendStaged(spark, table, batch(40, s"race$round-"))
      val before = SeqIO.read(spark, table).count()
      // both must RETURN a head ≥ the publish commit (winner commits; loser's fence trips on
      // rebase, adopts the winner's result) — and the batch lands exactly once
      val results = Await.result(
        Future.sequence(Seq(Future(table.publishStaged(id)), Future(table.publishStaged(id)))),
        2.minutes)
      assert(results.size === 2)
      assert(SeqIO.read(spark, table).count() === before + 40,
        s"round $round: racing publishes must append exactly once")
      assert(table.stagedIds().isEmpty)
      assert(table.currentSnapshot().properties.contains(s"wap.published.$id"))
    }
  }

  test("discard claims the stage through the CAS fence: a racing publish can never commit " +
      "a head that references deleted files") {
    val root = fresh("fence")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    val id = Ingest.appendStaged(spark, table, batch(40, "fence-"))
    val staged = table.stagedSnapshot(id)
    val entries = staged.manifests.flatMap(table.readManifest)
    table.discardStaged(id)
    assert(table.currentSnapshot().properties.contains(s"wap.discarded.$id"),
      "discard must record its claim in the table properties")
    // the exact race the fence exists for: a publish that read the staged entries BEFORE the
    // discard deleted anything is now at its commit — the claim property must refuse it
    intercept[table.CommitConflictException](
      table.commit(staged.operation, entries, Set.empty, Map.empty,
        propertyUpdates = Map(s"wap.published.$id" -> "x"),
        requireAbsentProperties = Seq(s"wap.published.$id", s"wap.discarded.$id")))
    // the public surface fails loudly too, and the head never references the deleted files
    intercept[table.CommitConflictException](table.publishStaged(id))
    assert(SeqIO.read(spark, table).filter(col("doc_id").startsWith("fence-")).count() === 0)
    table.liveFiles().foreach(f => assert(Files.exists(
      java.nio.file.Paths.get(table.absolutePath(f))), s"head references missing ${f.path}"))
  }

  test("concurrent publish vs discard: exactly one wins; live files always exist on disk") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try
    val root = fresh("pdrace")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    for (round <- 1 to 4) {
      val id = Ingest.appendStaged(spark, table, batch(40, s"pd$round-"))
      val before = SeqIO.read(spark, table).count()
      val Seq(p, d) = Await.result(Future.sequence(Seq(
        Future(Try(table.publishStaged(id))),
        Future(Try(table.discardStaged(id))))), 2.minutes)
      val props = table.currentSnapshot().properties
      val published = props.contains(s"wap.published.$id")
      val discarded = props.contains(s"wap.discarded.$id")
      assert(published ^ discarded,
        s"round $round: exactly one of publish/discard must claim the stage " +
          s"(published=$published discarded=$discarded, publish=$p discard=$d)")
      assert(SeqIO.read(spark, table).count() === (if (published) before + 40 else before),
        s"round $round: content must reflect the winner exactly")
      if (published) assert(p.isSuccess, s"round $round: winner publish reported failure: $p")
      else assert(d.isSuccess, s"round $round: winner discard reported failure: $d")
      // the invariant the fence exists for: the head NEVER references a deleted file
      table.liveFiles().foreach(f => assert(Files.exists(
        java.nio.file.Paths.get(table.absolutePath(f))),
        s"round $round: head references missing ${f.path}"))
      assert(table.stagedIds().isEmpty, s"round $round: stage must leave the audit queue")
    }
  }

  test("discard reclaims the staged files; removeOrphans shields undiscarded stages") {
    val root = fresh("gc")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    def dataFiles() = { val s = Files.list(table.dataDir); try s.count() finally s.close() }
    val base = dataFiles()
    val keep = Ingest.appendStaged(spark, table, batch(50, "keep-"))
    val drop = Ingest.appendStaged(spark, table, batch(50, "drop-"))
    assert(dataFiles() > base)
    // an aggressive orphan sweep must NOT eat staged data (they are referenced by their stage)
    assert(table.removeOrphans(olderThanMs = 0L).isEmpty,
      "orphan sweep deleted write-audit-publish staged files")
    assert(SeqIO.readStaged(spark, table, keep).count() === 50)
    table.discardStaged(drop)
    assert(table.stagedIds() === Seq(keep))
    val afterDiscard = dataFiles()
    val staged = table.stagedSnapshot(keep)
    table.publishStaged(keep)
    assert(SeqIO.read(spark, table).count() === 350)
    assert(dataFiles() === afterDiscard, "publish adopts files in place — no copy, no delete")
    // a discard of the (cleaned-up) published stage is a harmless no-op…
    table.discardStaged(keep)
    assert(SeqIO.read(spark, table).count() === 350)
    // …but a crash-window replay (staged file survived the publish) must REFUSE to delete what
    // is now live table content
    Files.writeString(java.nio.file.Paths.get(root, "metadata").resolve(s"staged-$keep.json"),
      org.json4s.jackson.Serialization.write(staged)(SeqTable.formats))
    intercept[IllegalStateException](table.discardStaged(keep))
    assert(SeqIO.read(spark, table).count() === 350, "published rows survived the replayed discard")
  }
}
