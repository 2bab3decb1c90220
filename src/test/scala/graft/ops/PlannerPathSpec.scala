package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.SeqGen
import graft.planner.{GridConfig, IncrementalTopK, NodeResult, Region}
import graft.table.{SeqIO, SeqTable}

/** Properties of the one planner path that the parity specs cannot see: where the work runs
  * (driver or Spark), what the 10^7-file path keeps off the driver, and how an incomplete top-k
  * fails.
  */
class PlannerPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  /** Job groups of every Spark job started while `body` runs. A sentinel job in its own group
    * runs last: the listener sees job starts in order, so once it has seen the sentinel it has
    * seen every job `body` started.
    */
  private def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filterNot(_ == sentinel)
  }

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, "planner path")
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("small driver plans launch no Spark jobs: full, cold incremental, warm incremental") {
    val root = Files.createTempDirectory("ppath-jobs-").toString + "/t"
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
    val root = Files.createTempDirectory("ppath-parses-").toString + "/t"
    val writer = SeqTable.create(root)
    writer.manifestFormat = "parquet"
    def append(n: Long, files: Int): Unit = {
      val metas = SeqIO.writeFiles(spark, writer,
        SeqGen.table(spark, n, parts = files).repartition(files))
      writer.commit("append", metas, Set.empty)
      ()
    }
    append(3000, 20)
    val cold = SeqTable.load(root)
    cold.manifestFormat = "parquet"
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
