package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.Rewrite
import graft.planner.GridConfig

/** Pruned scans with per-file [[SourceZones]]: a manifest written before the field reads it as
  * None and prunes as it did, and on a table of curve-clustered, doc-major, T-frag and legacy
  * files a pruned scan returns exactly the filtered table and opens every file that holds a
  * matching row.
  */
class SourceZonesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  test("a table written before source zones reads them as None and prunes as it did") {
    val fixture = Paths.get(getClass.getResource("/legacy-zones-table").toURI)
    val t = SeqTable.load(cloneTable(fixture.toString))
    val snap = t.currentSnapshot()
    val live = t.liveFilesNarrow(snap).sortBy(_.path)
    assert(live.size === 10 && live.forall(_.sourceZones.isEmpty))
    assert(t.liveFiles(snap).forall(_.sourceZones.isEmpty))
    assert(SeqIO.fileMetaDSOf(spark, t, snap, narrow = true).collect()
      .forall(_.sourceZones.isEmpty))
    def opt(s: String) = Option(s).filter(_.nonEmpty)
    val expected = Files.readAllLines(fixture.resolve("expected-prune.txt")).asScala
      .filterNot(_.startsWith("#"))
    assert(expected.size === 96)
    expected.foreach { line =>
      val Array(s, lo, hi, rows, sel) = line.split("\\|", -1)
      val (src, ntokMin, ntokMax) = (opt(s), opt(lo).map(_.toInt), opt(hi).map(_.toInt))
      val want = opt(sel).fold(Seq.empty[String])(_.split(',').toSeq.map(i => live(i.toInt).path))
      val (df, st) = SeqIO.scanPruned(spark, t, src, ntokMin, ntokMax)
      assert(GraftSqlBridge.selectedFiles(df).map(_.path).sorted === want, line)
      assert(st.filesScanned === want.size, line)
      assert(df.count() === rows.toLong, line)
    }
  }

  /** Curve-clustered and doc-major files with zones, T-frag files (every source in every file,
    * some rows with a null n_tok or a null source) with zones, and T-frag files whose entries
    * were committed without them, as an older writer left them. */
  private lazy val table: SeqTable = {
    val t = SeqTable.create(tempDir("zones-").toString + "/t")
    val all = SeqGen.table(spark, 3000, parts = 8)
    def idIn(lo: Int, hi: Int) = col("doc_id").between(f"doc-$lo%010d", f"doc-${hi - 1}%010d")
    t.commit("append", Rewrite.clusteredWrite(spark, t, all.filter(idIn(0, 1000)), cfg, 50,
      1000), Set.empty)
    t.commit("append", Rewrite.clusteredWrite(spark, t, all.filter(idIn(1000, 2000)), cfg, 50,
      1000, docMajor = true), Set.empty)
    val id = substring(col("doc_id"), 5, 10).cast("int")
    val frag = all.filter(id >= 2000)
      .withColumn("n_tok", when(id % 17 === 0, lit(null).cast("int")).otherwise(col("n_tok")))
      .withColumn("source", when(id % 13 === 0, lit(null).cast("string"))
        .otherwise(col("source")))
      .repartition(8, col("doc_id"))
    val fragMetas = SeqIO.writeFiles(spark, t, frag)
    val (legacy, zoned) = fragMetas.splitAt(4)
    t.commit("append", zoned ++ legacy.map(_.copy(sourceZones = None)), Set.empty)
    t
  }

  /** Every live file's rows as (path, doc_id, source, n_tok). */
  private lazy val fileRows: Seq[(String, String, String, Option[Int])] = {
    val snap = table.currentSnapshot()
    val byName = table.liveFilesNarrow(snap).map(f => SeqIO.fileBasename(f.path) -> f.path).toMap
    SeqIO.readFiles(spark, table, table.liveFilesNarrow(snap))
      .select(element_at(split(col("_metadata.file_path"), "/"), -1), col("doc_id"),
        col("source"), col("n_tok"))
      .collect().toSeq
      .map(r => (byName(r.getString(0)), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_ => r.getInt(3))))
  }

  /** A fuzzed predicate: `source IN sources`, `n_tok BETWEEN lo AND hi` and `doc_id IN keys`,
    * each part optional. */
  private case class Pred(sources: Option[Seq[String]], lo: Option[Int], hi: Option[Int],
      keys: Option[Seq[String]] = None) {
    def column: Column = Seq(
      sources.map(s => if (s.size == 1) col("source") === s.head else col("source").isin(s: _*)),
      lo.map(col("n_tok") >= _), hi.map(col("n_tok") <= _),
      keys.map(k => col("doc_id").isin(k: _*))).flatten.foldLeft(lit(true))(_ && _)
    def matches(id: String, src: String, n: Option[Int]): Boolean =
      sources.forall(_.contains(src)) && lo.forall(l => n.exists(_ >= l)) &&
        hi.forall(h => n.exists(_ <= h)) && keys.forall(_.contains(id))
    /** The same predicate as [[SeqIO.scanPruned]]'s arguments, where it has that shape. */
    def scanArgs: Option[(Option[String], Option[Int], Option[Int])] =
      if (keys.nonEmpty || sources.exists(_.size != 1)) None
      else Some((sources.map(_.head), lo, hi))
  }

  test("pruned scans equal the filtered table and open every file holding a matching row") {
    val t = table
    val snap = t.currentSnapshot()
    val live = t.liveFilesNarrow(snap)
    assert(live.count(_.sourceZones.isEmpty) === 4 && live.count(_.sourceZones.nonEmpty) > 20)
    val rows = fileRows
    val sources = rows.flatMap(r => Option(r._3)).distinct.sorted
    val ids = rows.map(_._2)

    // predicates at a zone's edges: the bucket max of a file as the lower bound, its min as the
    // upper bound, the row there as the source (a zone compared exclusively misses that row)
    val rnd = new Random(1729)
    val edges = rows.filter(r => r._3 != null && r._4.nonEmpty)
      .groupBy(r => (r._1, SourceZones.bucket(r._3))).values.toSeq.sortBy(_.head._1)
      .flatMap { rs =>
        val lo = rs.maxBy(_._4.get)
        val hi = rs.minBy(_._4.get)
        Seq(Pred(Some(Seq(lo._3)), lo._4, None), Pred(Some(Seq(hi._3)), None, hi._4))
      }
    def bounds: (Option[Int], Option[Int]) = {
      def bound = if (rnd.nextInt(3) == 0) None
        else Some(if (rnd.nextBoolean()) rnd.nextInt(9000)
          else rows(rnd.nextInt(rows.size))._4.getOrElse(0))
      (bound, bound) match {
        case (Some(a), Some(b)) if a > b => (Some(b), Some(a))
        case ab => ab
      }
    }
    def source = if (rnd.nextInt(5) == 0) "no-such-source" else sources(rnd.nextInt(sources.size))
    val randoms = Seq.fill(60) {
      val (lo, hi) = bounds
      Pred(if (rnd.nextInt(4) == 0) None else Some(Seq(source)), lo, hi)
    }
    // IN lists, above Spark's IN-to-InSet threshold too, and doc_id keys, some of them absent
    val lists = Seq.fill(20) {
      val (lo, hi) = bounds
      Pred(Some(Seq.fill(2 + rnd.nextInt(12))(source).distinct), lo, hi)
    }
    val keyed = Seq.fill(20) {
      val (lo, hi) = if (rnd.nextBoolean()) bounds else (None, None)
      Pred(if (rnd.nextBoolean()) None else Some(Seq(source)), lo, hi,
        Some(Seq.fill(1 + rnd.nextInt(14))(
          if (rnd.nextInt(5) == 0) s"doc-absent-${rnd.nextInt(100)}" else ids(rnd.nextInt(ids.size)))))
    }
    val preds = rnd.shuffle(edges).take(60) ++ randoms ++ lists ++ keyed
    def selectedOf(metas: Seq[FileMeta], p: Pred) =
      GraftSqlBridge.selectedFiles(SeqIO.readFiles(spark, t, metas).filter(p.column))
        .map(_.path).toSet
    def docIds(df: DataFrame) = df.select("doc_id").collect().map(_.getString(0)).sorted.toSeq
    var zonesPruned = 0
    preds.foreach { p =>
      val want = rows.filter(r => p.matches(r._2, r._3, r._4)).map(_._2).sorted
      val filtered = SeqIO.read(spark, t).filter(p.column)
      assert(docIds(filtered) === want, p)
      val selected = GraftSqlBridge.selectedFiles(filtered).map(_.path).toSet
      p.scanArgs.foreach { case (s, lo, hi) =>
        val (df, st) = SeqIO.scanPruned(spark, t, s, lo, hi)
        assert(docIds(df) === want, p)
        assert(GraftSqlBridge.selectedFiles(df).map(_.path).toSet === selected, p)
        assert(st.filesScanned === selected.size, p)
      }
      val holding = rows.filter(r => p.matches(r._2, r._3, r._4)).map(_._1).toSet
      assert(holding.subsetOf(selected), s"$p misses ${holding -- selected}")
      val unzoned = selectedOf(live.map(_.copy(sourceZones = None)), p)
      assert(selected.subsetOf(unzoned))
      zonesPruned += unzoned.size - selected.size
    }
    assert(zonesPruned > 0, "the zones must prune files the source list and range keep")
    assert(keyed.exists(p => selectedOf(live, p).size < live.size),
      "doc_id keys must prune files whose key range holds none")
  }
}
