package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftSqlBridge
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
    val victims = SeqIO.read(spark, table).filter(cond)
    val selected = GraftSqlBridge.selectedFiles(victims)
    val live = table.liveFilesNarrow(table.currentSnapshot())
    assert(selected.size < live.size,
      s"victim scan must prune on a clustered table (${selected.size}/${live.size})")
    // the prune must be exactly what scanPruned does with the same bounds
    val (_, oracle) = graft.table.SeqIO.scanPruned(spark, table, Some("src1"), Some(256), Some(1024))
    assert(SeqIO.ScanStats(selected.size, live.size, selected.map(_.records).sum) === oracle)
    // and the pruned scan finds the same victims a full scan would (no scan sees count_if's test)
    val full = SeqIO.read(spark, table).agg(count_if(cond)).head.getLong(0)
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
    def selected(metas: Seq[graft.table.FileMeta]) =
      GraftSqlBridge.selectedFiles(SeqIO.readFiles(spark, table, metas).filter(del))
    val zoned = selected(live)
    val unzoned = selected(live.map(_.copy(sourceZones = None)))
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

  test("the file index prunes on source equality and n_tok bounds in AND conjuncts only") {
    import org.apache.spark.sql.{Column, DataFrame}
    val root = tempDir("dml-index-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 4000, 20)
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 400)
    val live = table.liveFilesNarrow(table.currentSnapshot()).map(_.path).sorted
    def paths(df: DataFrame) = GraftSqlBridge.selectedFiles(df).map(_.path).sorted
    def files(c: Column) = paths(SeqIO.read(spark, table).filter(c))
    def scan(src: Option[String], lo: Option[Int], hi: Option[Int]) =
      paths(SeqIO.scanPruned(spark, table, src, lo, hi)._1)
    // each predicate selects the files of the bounds it implies
    val table1 = Seq(
      (col("source") === "src2" && col("n_tok").between(100, 200), Some("src2"), Some(100), Some(200)),
      (lit("src2") === col("source"), Some("src2"), None, None),
      (col("n_tok") > 100 && col("n_tok") < 200, None, Some(101), Some(199)),
      (lit(100) <= col("n_tok"), None, Some(100), None),
      (col("n_tok") === 512, None, Some(512), Some(512)),
      // disjunctions and unrecognized shapes keep every file
      (col("source") === "a" || col("n_tok") < 10, None, None, None),
      (length(col("doc_id")) > 3, None, None, None),
      // a recognized conjunct under AND with an unrecognized one still prunes
      (col("source") === "src3" && length(col("doc_id")) > 3, Some("src3"), None, None))
    table1.foreach { case (c, src, lo, hi) =>
      val want = scan(src, lo, hi)
      assert(files(c) === want, c.toString)
      if (src.isEmpty && lo.isEmpty && hi.isEmpty) assert(want === live, c.toString)
      else if (src.nonEmpty || hi.nonEmpty)
        assert(want.size < live.size, s"$c must prune on a clustered table")
    }
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
