package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.SeqIO

class CompactionSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"$tag-").toString + "/t"

  private def mismatches(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
    a.select("doc_id", "tokens").join(b.select("doc_id", "tokens"),
      Seq("doc_id", "tokens"), "left_anti").count() +
      b.select("doc_id", "tokens").join(a.select("doc_id", "tokens"),
        Seq("doc_id", "tokens"), "left_anti").count()

  test("T-frag end-to-end: cycles converge, reduce files, preserve every row byte-identically") {
    val root = fresh("tfrag")
    val (table, metas) = SeqGen.fragmentedTable(spark, root, 8000, 60)
    val before = SeqIO.read(spark, table).persist()
    val opts = MaintenanceOptions(k = 12, targetRecordsPerFile = 800)
    val ckpt = new Checkpoint(s"$root/state")
    var cycles = 0
    var go = true
    while (go && cycles < 15) {
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      go = r.tasksExecuted > 0
      cycles += 1
    }
    assert(cycles < 15, "maintenance cycles must terminate")
    val after = SeqIO.read(spark, table)
    assert(table.liveFiles().size < metas.size, "file count must shrink")
    assert(after.count() === 8000)
    assert(mismatches(before, after) === 0, "post-maintenance scan must be byte-identical")
    before.unpersist()
  }

  test("per-task (unbatched) execution produces the same converged content") {
    val root = fresh("unbatched")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 30)
    val before = SeqIO.read(spark, table).persist()
    val opts = MaintenanceOptions(k = 8, targetRecordsPerFile = 500, batchTasks = false)
    val ckpt = new Checkpoint(s"$root/state")
    var go = true
    var i = 0
    while (go && i < 15) {
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      go = r.tasksExecuted > 0; i += 1
    }
    assert(mismatches(before, SeqIO.read(spark, table)) === 0)
    before.unpersist()
  }

  test("clustered rewrite tightens stats: pruned scan reads a strict subset of files") {
    val root = fresh("prune")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 6000, 40)
    val (_, before) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
    assert(before.filesScanned === before.totalFiles) // fragmented: nothing prunable
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 300)
    val (df, after) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
    assert(after.filesScanned < after.totalFiles, s"pruning must skip files: $after")
    // pruned scan returns exactly the right rows
    val want = SeqIO.read(spark, table)
      .filter(col("source") === "src0" && col("n_tok").between(256, 1024)).count()
    assert(df.count() === want)
  }

  test("hilbert clustering also prunes") {
    val root = fresh("hilbert")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 4000, 30)
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 300, hilbert = true)
    val (_, st) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
    assert(st.filesScanned < st.totalFiles)
  }

  test("skewed source (T-skew): salted range partitioning spreads the hot key across files") {
    val root = fresh("tskew")
    val table = graft.table.SeqTable.create(root)
    // one source holds ~60% of rows
    val df = SeqGen.table(spark, 10000, parts = 8)
      .withColumn("source", when(pmod(xxhash64(col("doc_id")), lit(10L)) < 6, lit("hot"))
        .otherwise(col("source")))
    val metas = SeqIO.writeFiles(spark, table, df.repartition(20, col("doc_id")))
    table.commit("append", metas, Set.empty)
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    val hotFiles = table.liveFiles().filter(f => f.sources.isEmpty || f.sources.contains("hot"))
    assert(hotFiles.size >= 6, s"hot source must spread over many files, got ${hotFiles.size}")
    // and no output file is pathologically large: the partitioner balances BYTES (row counts vary
    // legitimately — short-sequence partitions pack more rows into the same byte budget)
    val bytes = table.liveFiles().map(_.bytes)
    val mean = bytes.sum.toDouble / bytes.size
    assert(bytes.max <= mean * 3,
      f"byte skew survived salting: max=${bytes.max} mean=$mean%.0f")
  }
}
