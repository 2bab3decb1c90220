package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.DataFrame
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
      assert(SeqIO.pruneMetas(live, src, ntokMin, ntokMax).map(_.path).sorted === want, line)
      val (df, st) = SeqIO.scanPruned(spark, t, src, ntokMin, ntokMax)
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

  /** Every live file's rows as (path, source, n_tok). */
  private lazy val fileRows: Seq[(String, String, Option[Int])] = {
    val snap = table.currentSnapshot()
    val byName = table.liveFilesNarrow(snap).map(f => SeqIO.fileBasename(f.path) -> f.path).toMap
    SeqIO.readFiles(spark, table, table.liveFilesNarrow(snap))
      .select(element_at(split(col("_metadata.file_path"), "/"), -1), col("source"), col("n_tok"))
      .collect().toSeq
      .map(r => (byName(r.getString(0)), r.getString(1), Option(r.get(2)).map(_ => r.getInt(2))))
  }

  private def matches(s: Option[String], lo: Option[Int], hi: Option[Int])(
      src: String, n: Option[Int]): Boolean =
    s.forall(x => src == x) && lo.forall(l => n.exists(_ >= l)) && hi.forall(h => n.exists(_ <= h))

  test("pruned scans equal the filtered table and open every file holding a matching row") {
    val t = table
    val snap = t.currentSnapshot()
    val live = t.liveFilesNarrow(snap)
    assert(live.count(_.sourceZones.isEmpty) === 4 && live.count(_.sourceZones.nonEmpty) > 20)
    val rows = fileRows
    val sources = rows.flatMap(r => Option(r._2)).distinct.sorted
    val read: DataFrame = SeqIO.read(spark, t).select("doc_id", "source", "n_tok").persist()
    val all = read.collect().toSeq
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)).map(_ => r.getInt(2))))
    read.unpersist()

    // predicates at a zone's edges: the bucket max of a file as the lower bound, its min as the
    // upper bound, the row there as the source (a zone compared exclusively misses that row)
    val rnd = new Random(1729)
    val edges = rows.filter(r => r._2 != null && r._3.nonEmpty)
      .groupBy(r => (r._1, SourceZones.bucket(r._2))).values.toSeq.sortBy(_.head._1)
      .flatMap { rs =>
        val lo = rs.maxBy(_._3.get)
        val hi = rs.minBy(_._3.get)
        Seq((Some(lo._2), lo._3, None), (Some(hi._2), None, hi._3))
      }
    val randoms = Seq.fill(60) {
      def bound = if (rnd.nextInt(3) == 0) None
        else Some(if (rnd.nextBoolean()) rnd.nextInt(9000)
          else rows(rnd.nextInt(rows.size))._3.getOrElse(0))
      val s = rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some("no-such-source")
        case _ => Some(sources(rnd.nextInt(sources.size)))
      }
      (bound, bound) match {
        case (Some(a), Some(b)) if a > b => (s, Some(b), Some(a))
        case (a, b) => (s, a, b)
      }
    }
    val preds = rnd.shuffle(edges).take(60) ++ randoms
    var zonesPruned = 0
    preds.foreach { case (s, lo, hi) =>
      val p = matches(s, lo, hi) _
      val (df, st) = SeqIO.scanPruned(spark, t, s, lo, hi)
      val got = df.select("doc_id").collect().map(_.getString(0)).sorted.toSeq
      assert(got === all.filter(r => p(r._2, r._3)).map(_._1).sorted, s"$s [$lo, $hi]")
      val selected = SeqIO.pruneMetas(live, s, lo, hi).map(_.path).toSet
      val holding = rows.filter(r => p(r._2, r._3)).map(_._1).toSet
      assert(holding.subsetOf(selected), s"$s [$lo, $hi] misses ${holding -- selected}")
      assert(st.filesScanned === selected.size)
      val unzoned = SeqIO.pruneMetas(live.map(_.copy(sourceZones = None)), s, lo, hi)
      assert(selected.subsetOf(unzoned.map(_.path).toSet))
      zonesPruned += unzoned.size - selected.size
    }
    assert(zonesPruned > 0, "the zones must prune files the source list and range keep")
  }
}
