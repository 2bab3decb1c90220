package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

/** COW-merge pruning + auto strategy routing. */
class MergePruneSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  /** doc-major table: 2000 rows across ~100 files with TIGHT doc_id ranges. */
  private def docMajorTable(): SeqTable = {
    val root = tempDir("prune-").toString + "/t"
    val t = SeqTable.create(root)
    val metas = Rewrite.clusteredWrite(spark, t, SeqGen.table(spark, 2000, parts = 8),
      cfg, targetRecordsPerFile = 20, totalRecords = 2000, docMajor = true)
    t.commit("append", metas, Set.empty)
    t
  }

  test("sparse merge on a doc-major-clustered table rewrites <20% of files") {
    val t = docMajorTable()
    val nFiles = t.liveFiles().size
    assert(nFiles >= 80, s"expected ~100 tight files, got $nFiles")
    val before = SeqIO.read(spark, t).persist()
    // 1% change set: 20 updates (existing keys) + 20 inserts (new keys, outside every doc range)
    val changes = SeqGen.changeSet(spark, 2000, changes = 40, deletes = 0).persist()
    val nUpd = changes.filter(col("doc_id").startsWith("doc-")).count()
    val mr = MergeInto.merge(spark, t, changes, cfg, targetRecordsPerFile = 20)
    assert(mr.filesRewritten <= nUpd, s"prune selected ${mr.filesRewritten} files for $nUpd keys")
    assert(mr.filesRewritten < nFiles / 5,
      s"prune selected ${mr.filesRewritten}/$nFiles files for a 1% change set")
    // semantics intact
    val upserts = changes.filter(col("_op") =!= "D")
    val expected = before.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upserts.select("doc_id", "tokens", "n_tok", "source"))
    val after = SeqIO.read(spark, t)
    val bad = expected.join(after, Seq("doc_id", "tokens"), "left_anti").count() +
      after.join(expected, Seq("doc_id", "tokens"), "left_anti").count()
    assert(bad === 0)
    before.unpersist(); changes.unpersist()
  }

  /** curve table: 2000 rows across ~100 files, each spanning ~the whole doc_id domain —
    * [min,max] range pruning is blind here; only the per-file doc_id blooms can prune.
    */
  private def curveTable(): SeqTable = {
    val root = tempDir("prune-curve-").toString + "/t"
    val t = SeqTable.create(root)
    val metas = Rewrite.clusteredWrite(spark, t, SeqGen.table(spark, 2000, parts = 8),
      cfg, targetRecordsPerFile = 20, totalRecords = 2000)
    t.commit("append", metas, Set.empty)
    t
  }

  test("sparse merge on a CURVE-clustered table prunes via per-file doc_id blooms") {
    val t = curveTable()
    val live = t.liveFiles()
    val nFiles = live.size
    assert(nFiles >= 50, s"expected many curve files, got $nFiles")
    assert(live.forall(_.docBloom.isDefined), "every written file must carry a doc_id bloom")
    val before = SeqIO.read(spark, t).persist()
    val changes = SeqGen.changeSet(spark, 2000, changes = 20, deletes = 0).persist()
    val nUpd = changes.filter(col("doc_id").startsWith("doc-")).count()
    val mr = MergeInto.merge(spark, t, changes, cfg, targetRecordsPerFile = 20)
    // range prune alone selects ~every file on this layout; blooms must get near the true count
    assert(mr.filesRewritten < nFiles / 5,
      s"bloom prune selected ${mr.filesRewritten}/$nFiles files for $nUpd update keys")
    val upserts = changes.filter(col("_op") =!= "D")
    val expected = before.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upserts.select("doc_id", "tokens", "n_tok", "source"))
    val after = SeqIO.read(spark, t)
    val bad = expected.join(after, Seq("doc_id", "tokens"), "left_anti").count() +
      after.join(expected, Seq("doc_id", "tokens"), "left_anti").count()
    assert(bad === 0)
    before.unpersist(); changes.unpersist()
  }

  test("MaterializeDeletes on a CURVE-clustered table rewrites only bloom-positive files") {
    val t = curveTable()
    val nFiles = t.liveFiles().size
    val before = SeqIO.read(spark, t).persist()
    val dels = SeqGen.changeSet(spark, 2000, changes = 0, deletes = 10).persist()
    val delKeys = dels.filter(col("_op") === "D").select("doc_id").persist()
    val nDel = delKeys.count()
    MergeInto.merge(spark, t, dels, cfg, targetRecordsPerFile = 20, mor = true)
    assert(t.currentSnapshot().deleteManifests.nonEmpty)
    val snap = MaterializeDeletes.run(spark, t, cfg, targetRecordsPerFile = 20)
    assert(snap.isDefined)
    val rewritten = snap.get.summary("removed-files").toLong
    assert(rewritten < nFiles / 5,
      s"materialization rewrote $rewritten/$nFiles files for $nDel delete keys")
    assert(t.currentSnapshot().deleteManifests.isEmpty)
    // content: exactly the deleted keys are gone, everything else byte-identical
    val after = SeqIO.read(spark, t)
    val expected = before.join(delKeys, Seq("doc_id"), "left_anti")
    val bad = expected.join(after, Seq("doc_id", "tokens"), "left_anti").count() +
      after.join(expected, Seq("doc_id", "tokens"), "left_anti").count()
    assert(bad === 0)
    before.unpersist(); dels.unpersist(); delKeys.unpersist()
  }

  private def contentOf(t: SeqTable) = SeqIO.read(spark, t)
    .select("doc_id", "tokens", "n_tok", "source")

  test("DISTRIBUTED merge: parity with the driver path, ZERO driver manifest parses") {
    val tA = curveTable()
    val rootB = cloneTable(tA.root)
    val changes = SeqGen.changeSet(spark, 2000, changes = 40, deletes = 10).persist()
    val mrA = MergeInto.merge(spark, tA, changes, cfg, targetRecordsPerFile = 20)

    // cold handle, forced distributed: prune, bloom probe AND the commit's manifest edit all
    // run on executors — the driver parses NOTHING, neither full nor narrow (at the 10^7-file
    // design point the full manifest is ~130 GB of docBloom payload)
    val tB = SeqTable.load(rootB)
    val mrB = MergeInto.merge(spark, tB, changes, cfg, targetRecordsPerFile = 20,
      distributedMetaFiles = 0L)
    assert(tB.manifestFileReads.get() === 0L,
      "distributed merge parsed a full manifest on the driver")
    assert(tB.manifestNarrowFileReads.get() === 0L,
      "distributed merge parsed a narrow manifest on the driver")
    assert(mrB.filesRewritten === mrA.filesRewritten, "identical prune on identical layout")
    assert(mrB.recordsWritten === mrA.recordsWritten)
    val bad = contentOf(tA).exceptAll(contentOf(tB)).count() +
      contentOf(tB).exceptAll(contentOf(tA)).count()
    assert(bad === 0, "distributed and driver merges must produce identical table content")
    // the distributed commit's summary bookkeeping stays exact (total-files feeds later commits)
    assert(tB.currentSnapshot().summary("total-files").toLong === tB.liveFiles().size.toLong)
    changes.unpersist()
  }

  test("DISTRIBUTED MaterializeDeletes: parity + zero driver manifest parses") {
    val tA = curveTable()
    val dels = SeqGen.changeSet(spark, 2000, changes = 0, deletes = 15).persist()
    MergeInto.merge(spark, tA, dels, cfg, targetRecordsPerFile = 20, mor = true)
    val rootB = cloneTable(tA.root) // clone AFTER the MoR merge: identical delete manifests
    val snapA = MaterializeDeletes.run(spark, tA, cfg, targetRecordsPerFile = 20)

    val tB = SeqTable.load(rootB)
    val snapB = MaterializeDeletes.run(spark, tB, cfg, targetRecordsPerFile = 20,
      distributedMetaFiles = 0L)
    assert(tB.manifestFileReads.get() === 0L,
      "distributed materialization parsed a full manifest on the driver")
    assert(tB.manifestNarrowFileReads.get() === 0L,
      "distributed materialization parsed a narrow manifest on the driver")
    assert(snapB.get.summary("removed-files") === snapA.get.summary("removed-files"))
    assert(tB.currentSnapshot().deleteManifests.isEmpty)
    val bad = contentOf(tA).exceptAll(contentOf(tB)).count() +
      contentOf(tB).exceptAll(contentOf(tA)).count()
    assert(bad === 0)
    dels.unpersist()
  }

  test("auto mode routes dense change sets to MoR and sparse ones to COW") {
    val tDense = docMajorTable()
    // 50% of keys changed → COW would rewrite ~everything → auto must choose MoR
    val dense = SeqGen.changeSet(spark, 2000, changes = 1000, deletes = 0)
    val mrDense = MergeInto.merge(spark, tDense, dense, cfg, 20, auto = true)
    assert(mrDense.filesRewritten === 0, "dense auto merge must take the MoR path")
    assert(tDense.currentSnapshot().deleteManifests.nonEmpty)

    val tSparse = docMajorTable()
    val sparse = SeqGen.changeSet(spark, 2000, changes = 20, deletes = 0)
    val mrSparse = MergeInto.merge(spark, tSparse, sparse, cfg, 20, auto = true)
    assert(mrSparse.filesRewritten > 0, "sparse auto merge must take the COW path")
    assert(tSparse.currentSnapshot().deleteManifests.isEmpty)
  }
}
