package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.SeqIO

/** The fully-distributed manifest-Dataset planner must plan exactly what the driver-side planner
  * plans (same tasks, same files) — the 10^12-scale path is semantics-identical.
  */
class PlannerParitySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("planCompactionDistributed == planCompaction") {
    val root = tempDir("parity-").toString + "/t"
    val (table, metas) = SeqGen.fragmentedTable(spark, root, 6000, 50)
    val cfg = GridConfig()
    val a = MaintenancePlanner.planCompaction(spark, metas, cfg, 8, 1.0, 600)
    val b = MaintenancePlanner.planCompactionDistributed(
      spark, SeqIO.fileMetaDS(spark, table), cfg, 8, 1.0, 600)
    assert(a.map(_.region) === b.map(_.region))
    assert(a.map(_.filePaths.toSet) === b.map(_.filePaths.toSet))
  }

  test("delete pressure: a delete-heavy cell outranks a merely-fragmented one") {
    val cfg = GridConfig()
    val target = 500L
    // a right-sized, clustered, single-cell file — fragScore 0 on layout alone
    val laden = graft.table.FileMeta("data/a.parquet", target, 1L << 20, 100, 110,
      "doc-0000000000", "doc-0000000499", Seq("src1"), addedAt = 1, clustered = true)
    // a small fragmented file: 30% of target (+0.7) spanning >1 cell (+0.5) = 1.2
    val frag = graft.table.FileMeta("data/b.parquet", 150, 1L << 18, 16, 4000,
      "doc-0000000500", "doc-0000000999", Seq("src1", "src2"), addedAt = 2, clustered = false)
    val pressure: graft.table.FileMeta => Double =
      f => if (f.path == laden.path) 0.9 else 0.0
    val ladenScore = MaintenancePlanner.fragScore(laden, cfg, target, pressure)
    val fragScore = MaintenancePlanner.fragScore(frag, cfg, target, pressure)
    assert(MaintenancePlanner.fragScore(laden, cfg, target) === 0.0) // invisible without pressure
    assert(ladenScore === MaintenancePlanner.DeleteWeight * 0.9)
    assert(ladenScore > fragScore, s"delete-heavy $ladenScore must outrank fragmented $fragScore")
  }

  test("the usefulness gate rewrites a file for its deletes only once they outweigh it") {
    val cfg = GridConfig()
    val target = 500L
    // two right-sized clustered files in one cell: no layout win, so only deletes can justify it
    val files = Seq("a", "b").map(n => graft.table.FileMeta(s"data/$n.parquet", target, 1L << 20,
      100, 110, "doc-0000000000", "doc-0000000999", Seq("src1"), addedAt = 1, clustered = true))
    def plan(pa: Double, pb: Double) = MaintenancePlanner.planCompaction(spark, files, cfg, 8,
      1.0, target, f => if (f.path == files.head.path) pa else pb)
    // the cell scores 2 × 2.0 × 0.3 = 1.2 ≥ the act threshold, but neither file's delete term
    // (0.6) reaches it: its deletes stay deletion vectors
    assert(plan(0.3, 0.3).isEmpty)
    assert(plan(0.49, 0.3).isEmpty)
    // half of one file deleted: its delete term reaches the threshold, the cell is rewritten
    assert(plan(0.5, 0.3).map(_.filePaths.toSet) === Seq(files.map(_.path).toSet))
  }

  test("DeletePressure.of estimates per-file deleted fraction from manifests + metadata only, " +
      "and pressure-weighted plans claim laden files (distributed parity holds)") {
    import org.apache.spark.sql.functions._
    val root = tempDir("presh-").toString + "/t"
    val cfg = GridConfig()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    // converge layout first: right-sized clustered files, no plannable work left
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    assert(MaintenancePlanner.planCompaction(
      spark, table.liveFiles(), cfg, 8, 1.0, 500).isEmpty)

    // MoR-delete ~2/3 of all keys: manifests appear, no data file is rewritten
    val changes = SeqGen.changeSet(spark, 3000, changes = 0, deletes = 2000)
    MergeInto.merge(spark, table, changes, cfg, 500, mor = true)
    val snap = table.currentSnapshot()
    assert(snap.deleteManifests.nonEmpty)

    val pressure = DeletePressure.of(spark, table, snap)
    val live = table.liveFiles()
    val maxP = live.map(pressure).max
    assert(maxP > 0.3 && maxP <= 1.0, s"expected heavy pressure, got $maxP")
    // a file added AT the delete sequence is immune (deletes apply to addedAt < seq only)
    val immune = live.head.copy(addedAt = snap.version)
    assert(pressure(immune) === 0.0)

    // without pressure the planner still sees nothing; with it, the laden files are claimed
    assert(MaintenancePlanner.planCompaction(spark, live, cfg, 8, 1.0, 500).isEmpty)
    val tasks = MaintenancePlanner.planCompaction(spark, live, cfg, 8, 1.0, 500, pressure)
    assert(tasks.nonEmpty)
    assert(tasks.forall(_.score >= 1.0))
    val distTasks = MaintenancePlanner.planCompactionDistributed(
      spark, SeqIO.fileMetaDS(spark, table), cfg, 8, 1.0, 500, pressure)
    assert(tasks.map(_.region) === distTasks.map(_.region))
    assert(tasks.map(_.filePaths.toSet) === distTasks.map(_.filePaths.toSet))
  }

  test("DeletePressure counts equality keys through each file's Bloom: on a curve layout it " +
      "reads the true deleted fraction plus the Bloom's false positives, not the range slice") {
    import org.apache.spark.sql.functions._
    val root = tempDir("presh-bloom-").toString + "/t"
    val cfg = GridConfig()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    // curve-clustered files: every doc_id range spans the key domain
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 250)
    // a 2 % MoR delete set
    val delKeys = SeqIO.read(spark, table).select("doc_id")
      .filter(pmod(xxhash64(col("doc_id")), lit(50)) === 0).persist()
    MergeInto.merge(spark, table, delKeys.withColumn("_op", lit("D")), cfg, 250, mor = true)
    val snap = table.currentSnapshot()
    val live = table.liveFiles(snap)
    assert(live.forall(_.docBloom.isDefined))
    val deleted = SeqIO.readFiles(spark, table, live)
      .select(element_at(split(col("_metadata.file_path"), "/"), -1).as("bn"), col("doc_id"))
      .join(delKeys, Seq("doc_id")).groupBy("bn").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pressure = DeletePressure.of(spark, table, snap)
    live.foreach { f =>
      val truth = deleted.getOrElse(SeqIO.fileBasename(f.path), 0L).toDouble / f.records
      val p = pressure(f)
      assert(p >= truth && p <= truth + 0.01, s"${f.path}: pressure $p, deleted $truth")
    }
    // narrow entries carry no Bloom: the range count, an upper bound that here spans every key
    val narrow = table.liveFilesNarrow(snap)
    assert(narrow.forall(f => pressure(f) >= pressure(live.find(_.path == f.path).get)))
    assert(narrow.map(pressure).min > live.map(pressure).max)
    delKeys.unpersist()
  }

  test("incremental planner with executor pre-merge FORCED (threshold 0) plans identical tasks " +
      "and keeps resumability (partials are never cached as node results)") {
    val root = tempDir("premerge-").toString + "/t"
    val cfg = GridConfig()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 6000, 50)
    // cold plan, both gates: direct collect vs pre-merge forced on — identical tasks
    val (a1, sa1) = MaintenancePlanner.planIncremental(
      spark, table, cfg, 8, 1.0, 600, None)
    val (b1, sb1) = MaintenancePlanner.planIncremental(
      spark, table, cfg, 8, 1.0, 600, None, preMergeMinRows = 0L)
    assert(a1.map(_.region) === b1.map(_.region))
    assert(a1.map(_.filePaths.toSet) === b1.map(_.filePaths.toSet))
    // bounded collect: the pre-merged state carries NO synthetic ids — only real nodes may be
    // cached (a fold of many nodes must not masquerade as one node's cache entry)
    assert(sb1.nodes.keySet.forall(_ >= 0))
    // distributed variant agrees under the same forced gate
    val (c1, sc1) = MaintenancePlanner.planIncrementalDistributed(
      spark, table, cfg, 8, 1.0, 600, None, preMergeMinRows = 0L)
    assert(a1.map(_.region) === c1.map(_.region))
    assert(sc1.nodes.keySet.forall(_ >= 0))
    // next cycle from the pre-merged state still plans correctly (uncached nodes just recompute)
    Rewrite.compactFiles(spark, table, a1.flatMap(_.filePaths).distinct
      .flatMap(p => table.liveFiles().find(_.path == p)), cfg, 600)
    val (a2, _) = MaintenancePlanner.planIncremental(
      spark, table, cfg, 8, 1.0, 600, Some(sa1))
    val (b2, _) = MaintenancePlanner.planIncremental(
      spark, table, cfg, 8, 1.0, 600, Some(sb1), preMergeMinRows = 0L)
    assert(a2.map(_.region) === b2.map(_.region))
    assert(a2.map(_.filePaths.toSet) === b2.map(_.filePaths.toSet))
  }
}
