package graft.ops

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.SeqIO

/** SURVEY.md §5.5: kill between phases, restart from checkpoint, identical final state, no
  * double-applied task.
  */
class ResumeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private final case class Boom(at: String) extends RuntimeException(s"injected failure at $at")

  private def run(root: String, failAt: Option[String], batch: Boolean): CycleReport = {
    val table = graft.table.SeqTable.load(root)
    val opts = MaintenanceOptions(k = 8, targetRecordsPerFile = 600, batchTasks = batch)
    MaintenanceRunner.runCycle(spark, table, cfg, opts, new Checkpoint(s"$root/state"),
      failpoint = at => failAt.foreach(f => if (at == f) throw Boom(at)))
  }

  private def freshTable(rows: Long = 5000, files: Int = 40): String = {
    val root = tempDir("resume-spec-").toString + "/t"
    SeqGen.fragmentedTable(spark, root, rows, files)
    root
  }

  test("crash right after planning → resume executes the planned tasks exactly once") {
    val root = freshTable()
    val before = SeqIO.read(spark, graft.table.SeqTable.load(root)).persist()
    intercept[Boom](run(root, Some("planned"), batch = true))
    // table untouched by the crash
    assert(graft.table.SeqTable.load(root).currentVersion() === 1)
    val report = run(root, None, batch = true)
    assert(report.tasksExecuted > 0 && report.tasksSkippedOnResume === 0)
    val after = SeqIO.read(spark, graft.table.SeqTable.load(root))
    assert(after.count() === before.count())
    before.unpersist()
  }

  test("crash mid-execution (per-task mode) → resume skips committed tasks, finishes the rest") {
    val root = freshTable()
    intercept[Boom](run(root, Some("task-0"), batch = false))
    val vAfterCrash = graft.table.SeqTable.load(root).currentVersion()
    assert(vAfterCrash >= 2, "task 0 must have committed before the crash")
    val report = run(root, None, batch = false)
    assert(report.tasksSkippedOnResume >= 1, s"committed task must not re-run: $report")
    assert(report.cycle === 1, "resume continues the SAME cycle")
    // no double-application: every maintenance-task tag appears in at most one snapshot
    val t = graft.table.SeqTable.load(root)
    val tags = t.snapshotVersions().map(t.snapshot).flatMap(_.summary.get("maintenance-task"))
    assert(tags.distinct.size === tags.size, s"double-applied tasks: $tags")
    assert(SeqIO.read(spark, t).count() === 5000)
  }

  test("crash after batch commit but before cycle end → resume is a no-op for content") {
    val root = freshTable(3000, 24)
    intercept[Boom](run(root, Some("batch"), batch = true))
    val rowsAfterCrash = SeqIO.read(spark, graft.table.SeqTable.load(root)).count()
    val report = run(root, None, batch = true)
    // the files claimed by the batch are gone from the live set → tasks skip, content unchanged
    assert(report.cycle === 1)
    assert(SeqIO.read(spark, graft.table.SeqTable.load(root)).count() === rowsAfterCrash)
  }

  test("crash right after the delete-vector conversion commit → the next cycle starts cleanly") {
    val root = freshTable(3000, 24)
    val t0 = graft.table.SeqTable.load(root)
    MergeInto.merge(spark, t0, SeqGen.changeSet(spark, 3000, changes = 40, deletes = 150), cfg,
      600, mor = true)
    val before = SeqIO.read(spark, t0).persist()
    val rows = before.count()
    intercept[Boom](run(root, Some("delete-vectors"), batch = true))
    val crashed = graft.table.SeqTable.load(root).currentSnapshot()
    assert(crashed.operation === "delete-vectors")
    assert(SeqIO.keyManifestsOf(crashed).isEmpty && SeqIO.dvManifestsOf(crashed).nonEmpty)
    // the crashed cycle logged no start: the rerun is a fresh cycle with nothing to skip
    val report = run(root, None, batch = true)
    assert(report.cycle === 1 && report.tasksSkippedOnResume === 0)
    val after = SeqIO.read(spark, graft.table.SeqTable.load(root))
    assert(after.count() === rows)
    assert(after.exceptAll(before).count() === 0 && before.exceptAll(after).count() === 0)
    before.unpersist()
  }

  test("clean second cycle starts a NEW cycle id") {
    val root = freshTable(2000, 16)
    val r1 = run(root, None, batch = true)
    val r2 = run(root, None, batch = true)
    assert(r2.cycle === r1.cycle + 1)
  }

  test("torn final log line (crash mid-append) is dropped; earlier corruption still throws") {
    val root = freshTable(2000, 16)
    run(root, None, batch = true)
    val log = java.nio.file.Paths.get(s"$root/state/maintenance-log.jsonl")
    val intact = new Checkpoint(s"$root/state").events()
    // crash tears the last append mid-write: resume must see exactly the intact prefix
    java.nio.file.Files.writeString(log, "{\"event\":\"TASK_COM",
      java.nio.file.StandardOpenOption.APPEND)
    val ck = new Checkpoint(s"$root/state")
    assert(ck.events() === intact, "torn tail must be ignored")
    val r = run(root, None, batch = true) // and a new cycle still runs on top of the torn log
    assert(r.cycle === intact.map(_.cycle).max + 1)
    // corruption in the MIDDLE is a real integrity failure → loud error
    val lines = java.nio.file.Files.readAllLines(log)
    lines.set(0, "NOT JSON")
    java.nio.file.Files.write(log, lines)
    assertThrows[IllegalStateException](new Checkpoint(s"$root/state").events())
  }
}
