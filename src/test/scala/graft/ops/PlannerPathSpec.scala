package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.{inGroup, jobGroups}
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.{GridConfig, IncrementalTopK, NodeResult, Region}
import graft.table.{SeqIO, SeqTable}

/** Properties of the one planner path that the parity specs cannot see: where the work runs
  * (driver or Spark), what the 10^7-file path keeps off the driver, and how an incomplete top-k
  * fails.
  */
class PlannerPathSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  test("small driver plans launch no Spark jobs: full, cold incremental, warm incremental") {
    val root = tempDir("ppath-jobs-").toString + "/t"
    val (table, metas) = SeqGen.fragmentedTable(spark, root, 6000, 50)
    val group = s"planner-${java.util.UUID.randomUUID()}"
    var full = Seq.empty[PlannedTask]
    var warm = Seq.empty[PlannedTask]
    val groups = jobGroups {
      full = inGroup(group)(MaintenancePlanner.planCompaction(spark, metas, cfg, 8, 1.0, 600))
      val (_, cold) = inGroup(group)(
        MaintenancePlanner.planIncremental(spark, table, cfg, 8, 1.0, 600, None))
      // the append's own jobs run outside the group
      val more = SeqIO.writeFiles(spark, table, SeqGen.table(spark, 800, parts = 4).repartition(6))
      table.commit("append", more, Set.empty)
      warm = inGroup(group)(
        MaintenancePlanner.planIncremental(spark, table, cfg, 8, 1.0, 600, Some(cold)))._1
    }
    assert(full.nonEmpty && warm.nonEmpty, "the fixture must plan work")
    assert(groups.count(_ == group) === 0, s"planner launched Spark jobs: $groups")
  }

  test("the distributed path parses no manifest on the driver, cold and warm") {
    val root = tempDir("ppath-parses-").toString + "/t"
    val writer = SeqTable.create(root)
    def append(n: Long, files: Int): Unit = {
      val metas = SeqIO.writeFiles(spark, writer,
        SeqGen.table(spark, n, parts = files).repartition(files))
      writer.commit("append", metas, Set.empty)
      ()
    }
    append(3000, 20)
    val cold = SeqTable.load(root)
    val full = MaintenancePlanner.planCompactionDistributed(
      spark, SeqIO.fileMetaDS(spark, cold, narrow = true), cfg, 8, 1.0, 600)
    val (inc, st) = MaintenancePlanner.planIncrementalDistributed(
      spark, cold, cfg, 8, 1.0, 600, None)
    assert(full.nonEmpty && full.map(_.filePaths.toSet) === inc.map(_.filePaths.toSet))
    append(500, 4)
    MaintenancePlanner.planIncrementalDistributed(spark, cold, cfg, 8, 1.0, 600, Some(st))
    assert(cold.manifestFileReads.get() === 0L)
    assert(cold.manifestNarrowFileReads.get() === 0L)
  }

  test("an incomplete top-k fails loudly instead of returning a short answer") {
    // every call returns one truncated partial: nothing above its threshold is provable, at any K′
    val truncated = (_: Set[Int], _: Int) =>
      Map(-1 -> NodeResult(Vector(Region(0, 0, 2, 5.0)), exhausted = false, minEmitted = 5.0))
    intercept[IllegalArgumentException] {
      IncrementalTopK.solve(truncated, Set(0), Set(0), None, 1L, k = 1, overlapAllowed = false)
    }
  }
}
