package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

class DmlSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): (SeqTable, Long) = {
    val root = tempDir(s"dml-$tag-").toString + "/t"
    val (t, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    (t, 2000L)
  }

  test("deleteWhere removes exactly the predicate rows, transactionally") {
    val (table, n) = fresh("del")
    val cond = col("n_tok") < 512
    val want = SeqIO.read(spark, table).filter(!cond).count()
    val victims = n - want
    assert(victims > 0 && want > 0, "predicate must split the table")
    Dml.deleteWhere(spark, table, cond, cfg, 1000)
    val after = SeqIO.read(spark, table)
    assert(after.count() === want)
    assert(after.filter(cond).count() === 0, "a predicate row survived the delete")
  }

  test("updateWhere rewrites only the matched rows and keeps n_tok = size(tokens)") {
    val (table, n) = fresh("upd")
    val cond = col("source") === "src1"
    val matched = SeqIO.read(spark, table).filter(cond).count()
    assert(matched > 0 && matched < n)
    val beforeUnmatched = SeqIO.read(spark, table).filter(!cond)
      .agg(expr("bit_xor(xxhash64(doc_id, tokens))")).head.getLong(0)
    Dml.updateWhere(spark, table, cond,
      Map("tokens" -> slice(col("tokens"), 1, 8), "source" -> lit("redacted")),
      cfg, 1000)
    val after = SeqIO.read(spark, table)
    assert(after.count() === n, "update must not change row count")
    assert(after.filter(col("source") === "redacted").count() === matched)
    assert(after.filter(col("source") === "src1").count() === 0)
    assert(after.filter(col("n_tok") =!= size(col("tokens"))).count() === 0,
      "n_tok must stay derived from tokens")
    assert(after.filter(col("source") === "redacted")
      .filter(size(col("tokens")) > 8).count() === 0)
    val afterUnmatched = after.filter(!(col("source") === "redacted"))
      .agg(expr("bit_xor(xxhash64(doc_id, tokens))")).head.getLong(0)
    assert(afterUnmatched === beforeUnmatched, "unmatched rows must be byte-identical")
  }

  test("updateWhere refuses the merge key and derived columns") {
    val (table, _) = fresh("guard")
    intercept[IllegalArgumentException](
      Dml.updateWhere(spark, table, lit(true), Map("doc_id" -> lit("x")), cfg, 1000))
    intercept[IllegalArgumentException](
      Dml.updateWhere(spark, table, lit(true), Map("n_tok" -> lit(1)), cfg, 1000))
  }

  test("victim scan opens only the manifest-pruned subset on a clustered table") {
    val root = tempDir("dml-prune-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 4000, 20)
    // cluster the layout so (source, n_tok) manifest stats actually partition the key space
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 400)
    val cond = col("source") === "src1" && col("n_tok") >= 256 && col("n_tok") <= 1024
    val (victims, stats) = Dml.victimScan(spark, table, cond)
    assert(stats.filesScanned < stats.totalFiles,
      s"victim scan must prune on a clustered table (${stats.filesScanned}/${stats.totalFiles})")
    // the prune must be exactly what scanPruned does with the extracted hints
    val (_, oracle) = graft.table.SeqIO.scanPruned(spark, table, Some("src1"), Some(256), Some(1024))
    assert(stats.filesScanned === oracle.filesScanned)
    // and the pruned scan finds the same victims a full scan would
    val full = SeqIO.read(spark, table).filter(cond).count()
    assert(victims.count() === full)
    // end-to-end: the DELETE through the pruned scan removes exactly the predicate rows
    val keep = SeqIO.read(spark, table).filter(!cond).count()
    Dml.deleteWhere(spark, table, cond, cfg, 1000)
    assert(SeqIO.read(spark, table).count() === keep)
    assert(SeqIO.read(spark, table).filter(cond).count() === 0)
  }

  test("DV DELETE and UPDATE open only the files whose source zones can match, and stay exact") {
    // T-frag: every file holds all 20 sources, so its source list is unknown, while a small
    // source's few rows per file rarely reach a narrow n_tok band
    val root = tempDir("dml-zones-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 4000, 20)
    val live = table.liveFilesNarrow(table.currentSnapshot())
    assert(live.forall(f => f.sources.isEmpty && f.sourceZones.nonEmpty))
    val del = col("source") === "src10" && col("n_tok").between(1500, 1700)
    val hints = Dml.pruneHints(del)
    assert(hints === ((Some("src10"), Some(1500), Some(1700))))
    val zoned = SeqIO.pruneMetas(live, hints._1, hints._2, hints._3)
    val unzoned = SeqIO.pruneMetas(live.map(_.copy(sourceZones = None)), hints._1, hints._2,
      hints._3)
    assert(zoned.size < unzoned.size, s"${zoned.size} of ${unzoned.size} files")
    def read = SeqIO.read(spark, table)
    val keep = read.filter(!del).count()
    assert(read.filter(del).count() > 0)
    Dml.deleteWhere(spark, table, del, cfg, 1000, dv = true)
    assert(read.filter(del).count() === 0)
    assert(read.count() === keep)

    val upd = col("source") === "src12" && col("n_tok") <= 300
    val matched = read.filter(upd).count()
    assert(matched > 0)
    Dml.updateWhere(spark, table, upd, Map("source" -> lit("src12-short")), cfg, 1000, dv = true)
    assert(read.filter(upd).count() === 0)
    assert(read.filter(col("source") === "src12-short").count() === matched)
    assert(read.count() === keep)
  }

  test("pruneHints extracts source equality and n_tok bounds from AND conjuncts only") {
    import org.apache.spark.sql.Column
    def hints(c: Column) = Dml.pruneHints(c)
    assert(hints(col("source") === "src2" && col("n_tok").between(100, 200)) ===
      ((Some("src2"), Some(100), Some(200))))
    assert(hints(lit("src2") === col("source")) === ((Some("src2"), None, None)))
    assert(hints(col("n_tok") > 100 && col("n_tok") < 200) === ((None, Some(101), Some(199))))
    assert(hints(lit(100) <= col("n_tok")) === ((None, Some(100), None)))
    assert(hints(col("n_tok") === 512) === ((None, Some(512), Some(512))))
    // disjunctions and unrecognized shapes are conservatively hint-free
    assert(hints(col("source") === "a" || col("n_tok") < 10) === ((None, None, None)))
    assert(hints(length(col("doc_id")) > 3) === ((None, None, None)))
    // a hinted conjunct under AND with an unrecognized one still contributes
    assert(hints(col("source") === "b" && length(col("doc_id")) > 3) ===
      ((Some("b"), None, None)))
  }

  test("MoR deleteWhere leaves files untouched; changelog shows exactly the victims") {
    val (table, _) = fresh("mor")
    val v1 = table.currentVersion()
    val cond = col("n_tok") >= 4000
    val victims = SeqIO.read(spark, table).filter(cond).count()
    assert(victims > 0)
    val r = Dml.deleteWhere(spark, table, cond, cfg, 1000, mor = true)
    assert(r.filesRewritten === 0, "MoR delete must not rewrite files")
    assert(SeqIO.read(spark, table).filter(cond).count() === 0)
    val diff = SeqIO.tableDiff(spark, table, v1, table.currentVersion())
    assert(diff.filter(col("change_type") === "I").count() === 0)
    assert(diff.filter(col("change_type") === "D").count() === victims)
  }
}
