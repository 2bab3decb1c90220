package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.SeqIO

/** Full maintenance cycles through the DISTRIBUTED planner path (manifest Dataset on executors,
  * parquet manifests, claimed-only meta fetch) must produce the same plans and the same table
  * content as the driver path on an identical fixture — the 10^7-file path is semantics-identical.
  */
class DistributedCycleSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def converge(table: graft.table.SeqTable, opts: MaintenanceOptions,
      ckpt: Checkpoint, beforeCycle: () => Unit = () => ()): Seq[CycleReport] = {
    val reports = scala.collection.mutable.ArrayBuffer.empty[CycleReport]
    var go = true
    while (go && reports.size < 15) {
      beforeCycle()
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      reports += r
      go = r.tasksExecuted > 0
    }
    reports.toSeq
  }

  test("distributed cycle path == driver cycle path: same plans, same content, parquet manifests") {
    val rootA = tempDir("dcyc-driver-").toString + "/t"
    // ONE deterministic fixture, cloned byte-for-byte: unclustered files scatter on the planner
    // grid by path hash, so the two paths must see identical physical paths to plan identically
    val (ta, _) = SeqGen.fragmentedTable(spark, rootA, 5000, 40)
    val rootB = cloneTable(rootA)
    val tb = graft.table.SeqTable.load(rootB)
    val base = MaintenanceOptions(k = 8, targetRecordsPerFile = 600)

    // at EVERY cycle of the driver-path run, the distributed planner must plan the identical
    // tasks from the same live state (rewritten file names are fresh UUIDs each run, so
    // cross-RUN report comparison is only valid for cycle 1 — plan parity is checked here)
    val planParity = () => {
      val d = MaintenancePlanner.planCompaction(spark, ta.liveFiles(), cfg,
        base.k, base.threshold, base.targetRecordsPerFile)
      val x = MaintenancePlanner.planCompactionDistributed(spark,
        SeqIO.fileMetaDS(spark, ta, narrow = true), cfg,
        base.k, base.threshold, base.targetRecordsPerFile)
      assert(d.map(t => (t.region, t.filePaths.toSet)) === x.map(t => (t.region, t.filePaths.toSet)))
      ()
    }
    val ra = converge(ta, base, new Checkpoint(s"$rootA/state"), planParity)
    val rb = converge(tb, base.copy(distributedPlanFiles = 0), new Checkpoint(s"$rootB/state"))

    assert(ra.size < 15 && rb.size < 15, "both paths must terminate")
    // identical physical fixture → identical first cycle end-to-end
    assert(ra.head.copy(finalVersion = 0) === rb.head.copy(finalVersion = 0))
    // identical final content
    val a = SeqIO.read(spark, ta).select("doc_id", "tokens", "n_tok", "source")
    val b = SeqIO.read(spark, tb).select("doc_id", "tokens", "n_tok", "source")
    assert(a.join(b, Seq("doc_id", "tokens", "n_tok", "source"), "left_anti").count() === 0)
    assert(b.join(a, Seq("doc_id", "tokens", "n_tok", "source"), "left_anti").count() === 0)
    assert(a.count() === 5000 && b.count() === 5000)
    // distributed path writes parquet manifests from its first commit on
    val manifests = tb.currentSnapshot().manifests
    assert(manifests.exists(_.endsWith(".parquet")),
      s"expected parquet manifests on the distributed path, got $manifests")
    // and the parquet carrier is read back faithfully (driver-side readManifest roundtrip)
    val pq = manifests.filter(_.endsWith(".parquet"))
    val roundtrip = pq.flatMap(tb.readManifest).map(_.path).toSet
    val viaDs = SeqIO.fileMetaDS(spark, tb).collect().map(_.path).toSet
    assert(roundtrip.subsetOf(viaDs))
  }

  test("distributed incremental plan == driver incremental plan across dirty phases") {
    val root = tempDir("dcyc-incr-").toString + "/t"
    val (t, _) = SeqGen.fragmentedTable(spark, root, 4000, 30)
    val opts = (8, 1.0, 500L) // (k, threshold, targetRecords)

    // phase 1: cold (no cached state) — both variants must plan identical tasks and state
    val (ta1, sa1) = MaintenancePlanner.planIncremental(spark, t, cfg, opts._1, opts._2, opts._3, None)
    val (tb1, sb1) = MaintenancePlanner.planIncrementalDistributed(
      spark, t, cfg, opts._1, opts._2, opts._3, None)
    assert(ta1.map(x => (x.region, x.filePaths.toSet)) === tb1.map(x => (x.region, x.filePaths.toSet)))
    assert(sa1.nodes === sb1.nodes && sa1.kPrime === sb1.kPrime && sa1.baseVersion === sb1.baseVersion)

    // dirty the table: append fresh files (plan-only calls above did not mutate it)
    val more = graft.table.SeqIO.writeFiles(spark, t,
      graft.fixtures.SeqGen.table(spark, 800, parts = 4).repartition(6))
    t.commit("append", more, Set.empty)

    // phase 2: warm — same answers AND the distributed variant recomputes only dirtied nodes
    var ranA = Set.empty[Int]; var ranB = Set.empty[Int]
    val (ta2, sa2) = MaintenancePlanner.planIncremental(
      spark, t, cfg, opts._1, opts._2, opts._3, Some(sa1), (n, _) => ranA ++= n)
    val (tb2, sb2) = MaintenancePlanner.planIncrementalDistributed(
      spark, t, cfg, opts._1, opts._2, opts._3, Some(sb1), (n, _) => ranB ++= n)
    assert(ta2.map(x => (x.region, x.filePaths.toSet)) === tb2.map(x => (x.region, x.filePaths.toSet)))
    assert(sa2.nodes === sb2.nodes)
    assert(ranB === ranA, "distributed dirty-node diff must match the driver diff")
    val allNodes = sb2.nodes.keySet
    assert(ranB.nonEmpty && ranB.size < allNodes.size,
      s"phase 2 must recompute a strict subset of nodes (ran ${ranB.size} of ${allNodes.size})")
  }

  test("narrow manifest scan nulls docBloom but keeps every layout stat") {
    val root = tempDir("dcyc-narrow-").toString + "/t"
    val (t, _) = SeqGen.fragmentedTable(spark, root, 1000, 8)
    Rewrite.compactFiles(spark, t, t.liveFiles(), cfg, 400)
    val full = SeqIO.fileMetaDS(spark, t).collect().sortBy(_.path)
    val narrow = SeqIO.fileMetaDS(spark, t, narrow = true).collect().sortBy(_.path)
    assert(full.exists(_.docBloom.isDefined), "fixture must have blooms to prune")
    assert(narrow.forall(_.docBloom.isEmpty))
    assert(full.map(f => (f.path, f.records, f.minNtok, f.maxNtok, f.sources, f.clustered)) ===
      narrow.map(f => (f.path, f.records, f.minNtok, f.maxNtok, f.sources, f.clustered)))
    // plan-level proof the bloom payload never leaves the parquet scan: the narrow read's
    // ReadSchema must not mention docBloom (it is re-attached as a null literal above the scan)
    val plan = SeqIO.fileMetaDS(spark, t, narrow = true).queryExecution.executedPlan.toString
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach(l => assert(!l.contains("docBloom"), s"bloom read in narrow scan: $l"))
  }
}
