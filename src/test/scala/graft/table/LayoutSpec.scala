package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.Rewrite
import graft.planner.GridConfig

/** [[TableLayout]] — sort-order/partition-spec evolution as table metadata: the declared layout
  * is versioned with the snapshots, wins over caller defaults at every write, and data migrates
  * only when rewrites touch it (the Iceberg sort-order-evolution contract).
  */
class LayoutSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"layout-$tag-").toString + "/t"

  test("declare/read roundtrip; carried forward; versioned per snapshot; survives rollback") {
    val root = fresh("meta")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    val vBefore = table.currentVersion()
    assert(table.currentLayout().isEmpty, "undeclared tables have no layout")
    table.setLayout(TableLayout("hilbert", sourceBuckets = 32, ntokBinWidth = 256))
    assert(table.currentLayout().contains(TableLayout("hilbert", 32, 256)))
    // carried forward by unrelated commits
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 200)
    assert(table.currentLayout().contains(TableLayout("hilbert", 32, 256)))
    // versioned: the pre-declaration snapshot has none
    assert(table.layoutOf(table.snapshot(vBefore)).isEmpty)
    // rollback keeps the layout (table configuration, like schema and stream HWMs)
    table.rollbackTo(vBefore)
    assert(table.currentLayout().contains(TableLayout("hilbert", 32, 256)))
    // bad curve names fail loudly
    intercept[IllegalArgumentException](TableLayout("zorderish"))
  }

  test("declared doc-major layout re-routes writes: compaction yields disjoint doc_id ranges") {
    val root = fresh("docmajor")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    // default curve layout first: doc ranges overlap heavily (curve clusters by (source, n_tok))
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 300)
    def overlaps(): Int = {
      val fs = table.liveFiles().sortBy(_.minDocId)
      fs.sliding(2).count {
        case Seq(a, b) => b.minDocId <= a.maxDocId
        case _ => false
      }
    }
    val before = overlaps()
    assert(before > 0, s"premise: curve layout must overlap doc ranges (got $before)")
    // declare doc-major; the SAME compaction call (no flag changes) now writes doc-sorted files
    table.setLayout(TableLayout("doc-major"))
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 300)
    assert(overlaps() === 0,
      "declared doc-major layout must produce disjoint doc_id ranges through the default write path")
    // and the content is untouched by the migration
    assert(graft.table.SeqIO.read(spark, table).count() === 3000)
  }

  test("declared grid geometry wins over the caller's: scan pruning follows the table layout") {
    val root = fresh("grid")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    table.setLayout(TableLayout("z", sourceBuckets = 64, ntokBinWidth = 64))
    // caller passes a DIFFERENT grid — the declared one must be used for the write
    Rewrite.compactFiles(spark, table, table.liveFiles(),
      GridConfig(sourceBuckets = 2, ntokBinWidth = 100000), 300)
    val (_, stats) = SeqIO.scanPruned(spark, table, Some("src1"), Some(256), Some(1024))
    assert(stats.filesScanned < stats.totalFiles,
      s"declared layout must drive clustering (scanned ${stats.filesScanned}/${stats.totalFiles})")
  }
}
