package graft.ops

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{KeyPrune, SeqIO, SeqTable}

/** Round-2 isolation + durability hardening:
  *  - MoR-vs-COW write skew: a COW rewrite planned BEFORE a concurrent MoR merge must not commit
  *    over its delete manifests (the rewritten files would resurrect deleted rows)
  *  - exact dedup must survive hash collisions between distinct payloads
  *  - delete application falls back to a shuffle join when the key set exceeds the broadcast cap
  *  - manifest rewrite retries through version races instead of surfacing raw filesystem errors
  *  - the conversion of equality deletes to deletion vectors commits only against the snapshot
  *    it collected its keys from: a MoR merge or a compaction inside that window wins
  */
class IsolationSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(rows: Long, files: Int): SeqTable = {
    val root = tempDir("iso-").toString + "/t"
    SeqGen.fragmentedTable(spark, root, rows, files)._1
  }

  test("COW commit planned before a concurrent MoR merge conflicts instead of resurrecting") {
    val table = fresh(2000, 8)
    val planSnap = table.currentSnapshot()
    val files = table.liveFiles(planSnap)
    // the stale rewrite materializes every current row — including keys about to be deleted
    val staleRewrite = Rewrite.clusteredWrite(spark, table,
      SeqIO.readWithDeletes(spark, table, planSnap, files), cfg, 1000, 2000)

    // concurrent MoR merge deletes 100 keys
    val changes = SeqGen.changeSet(spark, 2000, changes = 0, deletes = 100)
    MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    val deleted = table.currentSnapshot().deleteManifests
    assert(deleted.nonEmpty)

    // committing the stale rewrite with its planned (empty) delete-manifest set must conflict
    intercept[table.CommitConflictException] {
      table.commit("compact", staleRewrite, files.map(_.path).toSet,
        plannedDeleteManifests = Some(planSnap.deleteManifests.toSet))
    }
    staleRewrite.foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(table.absolutePath(f))))

    // the real op replans internally: after compactFiles the deletes stay applied
    val expected = SeqIO.read(spark, table).count()
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000)
    assert(SeqIO.read(spark, table).count() === expected, "compaction resurrected deleted rows")
  }

  /** (doc_id, token hash, n_tok, source) rows, compared as a multiset. */
  private def content(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(concat_ws("|", col("doc_id"), xxhash64(col("tokens")), col("n_tok"), col("source")))
      .collect().map(_.getString(0)).sorted.toSeq

  /** A change batch applied with plain DataFrames (`_op` = 'D' deletes, else upserts). */
  private def applied(state: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    state.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch.filter(col("_op") =!= "D").drop("_op"))

  private def dvFiles(table: SeqTable): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(table.root, "metadata"))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".dv")).toSeq
    finally s.close()
  }

  test("a MoR merge inside the delete-vector conversion's window keeps its keys") {
    val table = fresh(2000, 8)
    val first = SeqGen.changeSet(spark, 2000, changes = 0, deletes = 100).persist()
    MergeInto.merge(spark, table, first, cfg, 1000, mor = true)
    val snap = table.currentSnapshot()
    val keys = KeyPrune.KeySet.deletedIn(spark, table, snap)
    // the race: a MoR merge commits after the conversion collected its keys
    val second = SeqGen.changeSet(spark, 2000, changes = 80, deletes = 160)
      .withColumn("doc_id", when(col("_op") === "D",
        format_string("doc-%010d", (xxhash64(col("doc_id"), lit(7)) % 2000 + 2000) % 2000))
        .otherwise(col("doc_id"))).dropDuplicates("doc_id").persist()
    MergeInto.merge(spark, table, second, cfg, 1000, mor = true)
    val raced = SeqIO.keyManifestsOf(table.currentSnapshot()).toSet -- snap.deleteManifests
    assert(raced.nonEmpty)

    assert(MaterializeDeletes.toVectors(spark, table, snap, keys).isEmpty, "must conflict")
    assert(dvFiles(table).isEmpty, "the conflicted conversion must leave no .dv behind")
    val model = content(applied(applied(SeqGen.table(spark, 2000), first), second))
    assert(raced.subsetOf(table.currentSnapshot().deleteManifests.toSet))
    assert(content(SeqIO.read(spark, table)) === model)

    // the next conversion, from the new head, takes both merges' keys
    val head = table.currentSnapshot()
    val converted = MaterializeDeletes.toVectors(spark, table, head,
      KeyPrune.KeySet.deletedIn(spark, table, head))
    assert(converted.exists(s => SeqIO.keyManifestsOf(s).isEmpty))
    assert(content(SeqIO.read(spark, table)) === model)
    first.unpersist(); second.unpersist()
  }

  test("a compaction of a candidate file inside the conversion's window makes it conflict") {
    val table = fresh(2000, 8)
    val changes = SeqGen.changeSet(spark, 2000, changes = 0, deletes = 100).persist()
    MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    val snap = table.currentSnapshot()
    val keys = KeyPrune.KeySet.deletedIn(spark, table, snap)
    val candidates = KeyPrune.filesMayHold(spark, table, snap, Left(table.liveFiles(snap)), keys)
    assert(candidates.size >= 2)
    // the race: two candidate files are rewritten (their deletes applied) after the collect
    Rewrite.compactFiles(spark, table, candidates.take(2), cfg, 1000)

    assert(MaterializeDeletes.toVectors(spark, table, snap, keys).isEmpty, "must conflict")
    assert(dvFiles(table).isEmpty, "the conflicted conversion must leave no .dv behind")
    assert(content(SeqIO.read(spark, table)) ===
      content(applied(SeqGen.table(spark, 2000), changes)))
    changes.unpersist()
  }

  test("exact dedup keeps distinct payloads that collide on the candidate hash") {
    import spark.implicits._
    val root = tempDir("iso-dedup-").toString + "/t"
    val table = SeqTable.create(root)
    // 200 DISTINCT payloads + exact duplicates of 20 of them; hashBits=2 → 4 buckets, collisions
    // between distinct payloads are guaranteed
    val base = SeqGen.table(spark, 200, parts = 4)
    val dupes = base.filter(xxhash64(col("doc_id")) % 10 === 0)
      .withColumn("doc_id", concat(lit("dup-"), col("doc_id")))
    val nDupes = dupes.count()
    assert(nDupes > 0)
    table.commit("append", SeqIO.writeFiles(spark, table, base.unionByName(dupes)), Set.empty)

    val (deleted, _) = DedupTable.dedupExact(spark, table, cfg, 1000, hashBits = 2)
    assert(deleted === nDupes, "dedup must delete exactly the true duplicates")
    val after = SeqIO.read(spark, table)
    assert(after.count() === 200)
    assert(after.select("tokens").distinct().count() === 200,
      "every distinct payload must survive a forced hash collision")
  }

  test("delete application is identical through broadcast and shuffle join paths") {
    val table = fresh(2000, 8)
    MergeInto.merge(spark, table,
      SeqGen.changeSet(spark, 2000, changes = 200, deletes = 100), cfg, 1000, mor = true)
    val snap = table.currentSnapshot()
    val metas = table.liveFiles(snap)
    val broadcastRows = SeqIO.readWithDeletes(spark, table, snap, metas).count()
    val shuffleRows = SeqIO.readWithDeletes(spark, table, snap, metas, maxBroadcastBytes = 0).count()
    assert(broadcastRows === shuffleRows)
    // distributed manifest write must have produced valid (possibly multiple) manifests
    assert(snap.deleteManifests.nonEmpty)
    assert(snap.deleteManifests.forall(_.startsWith(s"delete-${snap.version}-")))
  }

  test("time travel reads pin both manifests and delete-manifests of their version") {
    val table = fresh(1000, 4)
    val v1 = table.currentVersion()
    val n1 = SeqIO.read(spark, table).count()
    MergeInto.merge(spark, table,
      SeqGen.changeSet(spark, 1000, changes = 0, deletes = 100), cfg, 500, mor = true)
    val v2 = table.currentVersion()
    val n2 = SeqIO.read(spark, table).count()
    assert(n2 < n1)
    assert(SeqIO.readAt(spark, table, v1).count() === n1, "v1 must not see v2's MoR deletes")
    assert(SeqIO.readAt(spark, table, v2).count() === n2)
  }

  test("removeOrphans deletes only old unreferenced data files") {
    val table = fresh(500, 2)
    val live = table.liveFiles().map(_.path).toSet
    // a crash leftover: materialized but never committed
    val orphan = Rewrite.clusteredWrite(spark, table,
      SeqIO.read(spark, table).limit(10), cfg, 100, 10)
    assert(orphan.nonEmpty)
    val deleted0 = table.removeOrphans(olderThanMs = 3600L * 1000)
    assert(deleted0.isEmpty, "fresh files must survive the age guard")
    val deleted = table.removeOrphans(olderThanMs = 0)
    assert(deleted.toSet === orphan.map(_.path).toSet)
    assert(table.liveFiles().map(_.path).toSet === live)
    assert(SeqIO.read(spark, table).count() === 500)
  }

  test("rewriteManifests survives losing the version race") {
    val table = fresh(1000, 4)
    val head = table.currentVersion()
    // steal the next version number — as a racing committer would
    val racer = table.currentSnapshot().copy(version = head + 1, parent = head)
    val m = table.writeManifest(table.liveFiles())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table.root, "metadata", s"v${head + 1}.json"),
      org.json4s.jackson.Serialization.write(racer.copy(manifests = Seq(m)))(graft.table.SeqTable.formats))
    val snap = table.rewriteManifests()
    assert(snap.version === head + 2)
    assert(snap.manifests.size === 1)
    assert(SeqIO.read(spark, table).count() === 1000)
  }
}
