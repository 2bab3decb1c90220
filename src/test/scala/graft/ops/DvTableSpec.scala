package graft.ops

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{KeyPrune, SeqIO, SeqTable}

/** End-to-end deletion-vector behavior: DV DELETE/UPDATE parity with the COW verbs, time
  * travel, multi-DV union on one file, the fallback anti-join path, the lost-update commit
  * fence, and materialization through the ordinary delete-aware rewrite.
  */
class DvTableSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String, n: Long = 2000, files: Int = 10): SeqTable = {
    val root = tempDir(s"dv-$tag-").toString + "/t"
    SeqGen.fragmentedTable(spark, root, n, files)._1
  }

  private def contentHash(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))")).head.getLong(0)

  test("dv delete hides exactly the predicate rows; metadata-only commit; parity with COW") {
    val table = fresh("parity")
    val cond = col("n_tok") < 512
    val before = SeqIO.read(spark, table)
    val keep = before.filter(!cond)
    val (wantCount, wantHash) = (keep.count(), contentHash(keep))
    assert(wantCount > 0 && wantCount < 2000)
    val filesBefore = table.liveFilesNarrow(table.currentSnapshot()).map(_.path).toSet

    val r = Dml.deleteWhere(spark, table, cond, cfg, 1000, dv = true)
    assert(r.filesRewritten == 0)
    val snap = table.currentSnapshot()
    assert(snap.operation == "delete-dv")
    assert(SeqIO.dvManifestsOf(snap).nonEmpty && SeqIO.keyManifestsOf(snap).isEmpty)
    // metadata-only: not one data file added or removed
    assert(table.liveFilesNarrow(snap).map(_.path).toSet == filesBefore)

    val after = SeqIO.read(spark, table)
    assert(after.count() == wantCount)
    assert(after.filter(cond).count() == 0)
    assert(contentHash(after) == wantHash, "DV read must equal the COW-delete result")
  }

  test("dv delete whose prune eliminates every file is a clean no-op") {
    val table = fresh("noop")
    val v = table.currentVersion()
    val r = Dml.deleteWhere(spark, table, col("source") === "no-such-source", cfg, 1000,
      dv = true)
    assert(r.filesRewritten == 0 && table.currentVersion() == v, "no-op must not commit")
    assert(SeqIO.read(spark, table).count() == 2000)
  }

  test("time travel: the pre-delete version still sees every row") {
    val table = fresh("tt")
    val v0 = table.currentVersion()
    Dml.deleteWhere(spark, table, col("source") === "src1", cfg, 1000, dv = true)
    assert(SeqIO.readAt(spark, table, v0).count() == 2000)
    assert(SeqIO.read(spark, table).filter(col("source") === "src1").count() == 0)
  }

  test("two dv deletes on overlapping files union; equality deletes compose on top") {
    val table = fresh("union")
    Dml.deleteWhere(spark, table, col("n_tok") < 300, cfg, 1000, dv = true)
    Dml.deleteWhere(spark, table, col("n_tok").between(250, 600), cfg, 1000, dv = true)
    // an equality-MoR delete over a third slice composes with both DVs at read time
    Dml.deleteWhere(spark, table, col("n_tok") > 1800, cfg, 1000, mor = true)
    val after = SeqIO.read(spark, table)
    assert(after.filter(col("n_tok") < 601 || col("n_tok") > 1800).count() == 0)
    val expect = 2000 - SeqIO.readAt(spark, table, 1)
      .filter(col("n_tok") < 601 || col("n_tok") > 1800).count()
    assert(after.count() == expect)
  }

  test("DV read plan: no join, filter inside WholeStageCodegen (the structural win vs MoR)") {
    val table = fresh("plan")
    Dml.deleteWhere(spark, table, col("n_tok") < 512, cfg, 1000, dv = true)
    val plan = SeqIO.read(spark, table).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"DV read must not plan a join:\n$plan")
    // the *(N) stage marker on the Filter = it runs inside WholeStageCodegen
    assert(plan.split("\n").exists(l => l.matches(""".*\*\(\d+\) Filter.*dv_hidden.*""")),
      s"DV filter must stay inside a codegen stage:\n$plan")
    // equality-MoR on the same table shape DOES pay a join — the contrast the DV path removes
    val table2 = fresh("plan2")
    Dml.deleteWhere(spark, table2, col("n_tok") < 512, cfg, 1000, mor = true)
    assert(SeqIO.read(spark, table2).queryExecution.executedPlan.toString.contains("Join"))
  }

  test("fallback anti-join path (bitmaps over the broadcast cap) matches the probe path") {
    val table = fresh("fallback")
    Dml.deleteWhere(spark, table, col("n_tok") % 7 === 0, cfg, 1000, dv = true)
    val snap = table.currentSnapshot()
    val metas = table.liveFilesNarrow(snap)
    val probe = SeqIO.readWithDeletes(spark, table, snap, metas)
    val joined = SeqIO.readWithDeletes(spark, table, snap, metas, maxBroadcastBytes = 0L)
    assert(probe.count() == joined.count())
    assert(contentHash(probe) == contentHash(joined))
  }

  test("dv update: one commit, old rows hidden, new rows visible, unmatched byte-identical") {
    val table = fresh("upd")
    val cond = col("source") === "src1"
    val matched = SeqIO.read(spark, table).filter(cond).count()
    assert(matched > 0)
    val beforeUnmatched = contentHash(SeqIO.read(spark, table).filter(!cond))
    val vBefore = table.currentVersion()
    val r = Dml.updateWhere(spark, table, cond,
      Map("tokens" -> slice(col("tokens"), 1, 8), "source" -> lit("redacted")),
      cfg, 1000, dv = true)
    assert(r.recordsWritten == matched)
    assert(table.currentVersion() == vBefore + 1, "dv update must be ONE commit")
    assert(table.currentSnapshot().operation == "update-dv")
    val after = SeqIO.read(spark, table)
    assert(after.count() == 2000)
    assert(after.filter(col("source") === "src1").count() == 0)
    assert(after.filter(col("source") === "redacted").count() == matched)
    assert(after.filter(col("n_tok") =!= size(col("tokens"))).count() == 0)
    assert(contentHash(after.filter(col("source") =!= "redacted")) == beforeUnmatched)
  }

  test("lost-update fence: a dv commit against a concurrently rewritten file is refused") {
    val table = fresh("fence")
    val snap = table.currentSnapshot()
    val victims = SeqIO.readWithDeletes(spark, table, snap,
      table.liveFilesNarrow(snap), keepPos = true)
      .filter(col("n_tok") < 512).select(col("_fn"), col("_pos"))
    val dvNames = SeqIO.writeDvManifests(spark, table, victims, snap.version + 1)
    val targeted = table.liveFilesNarrow(snap).map(_.path).toSet // every file targeted
    // concurrent compaction rewrites the table between our scan and our commit
    val rewritten = Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000)
    assert(rewritten.operation == "compact")
    intercept[table.CommitConflictException] {
      table.commit("delete-dv", Nil, Set.empty,
        addedDeleteManifests = dvNames, requireLivePaths = targeted)
    }
    // and the op-level retry loop handles the same race end-to-end (re-scan + commit)
    val r = Dml.deleteWhere(spark, table, col("n_tok") < 512, cfg, 1000, dv = true)
    assert(SeqIO.read(spark, table).filter(col("n_tok") < 512).count() == 0)
    assert(r.filesRewritten == 0)
  }

  test("CDC: tableDiff surfaces a DV delete on CARRIED files as exactly its D rows") {
    val table = fresh("cdc")
    val v0 = table.currentVersion()
    val cond = col("n_tok") < 512
    val expectD = SeqIO.read(spark, table).filter(cond)
    val (dCount, dHash) = (expectD.count(), contentHash(expectD))
    Dml.deleteWhere(spark, table, cond, cfg, 1000, dv = true)
    val diff = SeqIO.tableDiff(spark, table, v0, table.currentVersion())
    assert(diff.filter(col("change_type") === "I").count() == 0)
    val d = diff.filter(col("change_type") === "D")
    assert(d.count() == dCount)
    assert(contentHash(d) == dHash, "the D side must be exactly the deleted rows")
    // and a DV update surfaces as D(old) + I(new)
    val v1 = table.currentVersion()
    Dml.updateWhere(spark, table, col("source") === "src2",
      Map("source" -> lit("relabeled")), cfg, 1000, dv = true)
    val diff2 = SeqIO.tableDiff(spark, table, v1, table.currentVersion())
    val updated = diff2.filter(col("change_type") === "I").count()
    assert(updated > 0)
    assert(diff2.filter(col("change_type") === "D").count() == updated)
    assert(diff2.filter(col("change_type") === "I" && col("source") =!= "relabeled").count() == 0)
    assert(diff2.filter(col("change_type") === "D" && col("source") =!= "src2").count() == 0)
  }

  test("CDC: a DV delta composes with an equality-key delta in the same diff range") {
    val table = fresh("cdc2")
    val v0 = table.currentVersion()
    Dml.deleteWhere(spark, table, col("n_tok") < 300, cfg, 1000, dv = true)
    Dml.deleteWhere(spark, table, col("n_tok") > 1700, cfg, 1000, mor = true)
    val diff = SeqIO.tableDiff(spark, table, v0, table.currentVersion())
    val expect = SeqIO.readAt(spark, table, v0)
      .filter(col("n_tok") < 300 || col("n_tok") > 1700)
    assert(diff.filter(col("change_type") === "I").count() == 0)
    assert(diff.filter(col("change_type") === "D").count() == expect.count())
    assert(contentHash(diff.filter(col("change_type") === "D")) == contentHash(expect))
  }

  test("converting equality deletes to DVs: one metadata-only commit with its counts, an " +
      "empty changelog across it, history and lookups unchanged") {
    val table = fresh("tovec", 3000, 12)
    val gone = SeqIO.read(spark, table).select("doc_id")
      .filter(pmod(xxhash64(col("doc_id")), lit(20)) === 0).persist()
    MergeInto.merge(spark, table, gone.withColumn("_op", lit("D")), cfg, 1000, mor = true)
    val snap = table.currentSnapshot()
    val v = snap.version
    val before = contentHash(SeqIO.readAt(spark, table, v))
    val holders = SeqIO.readFiles(spark, table, table.liveFiles(snap))
      .select(col("doc_id"), col("_metadata.file_path").as("f")).join(gone, Seq("doc_id"))
      .select("f").distinct().count()

    val s = MaterializeDeletes.toVectors(spark, table, snap,
      KeyPrune.KeySet.deletedIn(spark, table, snap)).get
    assert(s.version === v + 1 && s.operation === "delete-vectors")
    assert(s.manifests === snap.manifests, "no data file may move")
    assert(SeqIO.keyManifestsOf(s).isEmpty && SeqIO.dvManifestsOf(s).size === 1)
    val n = gone.count()
    assert(s.summary("delete-keys-converted") === n.toString)
    assert(s.summary("dv-deleted-rows") === n.toString)
    assert(s.summary("dv-files-targeted") === holders.toString)
    assert(s.summary("dv-manifests") === "1")

    assert(SeqIO.tableDiff(spark, table, v, v + 1).count() === 0)
    assert(contentHash(SeqIO.readAt(spark, table, v)) === before, "history must not change")
    assert(contentHash(SeqIO.readAt(spark, table, v + 1)) === before)
    val keys = gone.limit(50).collect().map(_.getString(0)).toSeq
    assert(SeqIO.lookupKeys(spark, table, keys)._1.count() === 0)
    // nothing left to convert
    assert(MaterializeDeletes.toVectors(spark, table, s, KeyPrune.KeySet.deletedIn(spark, table, s))
      .isEmpty)
    gone.unpersist()
  }

  test("planner delete-pressure reads DV cardinalities exactly from manifest headers") {
    val table = fresh("pressure")
    Dml.deleteWhere(spark, table, col("n_tok") < 700, cfg, 1000, dv = true)
    val snap = table.currentSnapshot()
    import scala.jdk.CollectionConverters._
    val counts = SeqIO.dvManifestsOf(snap).flatMap { m =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table.deleteManifestPath(m))).asScala
        .map(graft.table.Dv.parseLineHeader)
    }.groupBy(_._1).map { case (bn, vs) => bn -> vs.map(_._2).sum }
    assert(counts.nonEmpty)
    val p = DeletePressure.of(spark, table, snap)
    table.liveFiles(snap).foreach { f =>
      val want = math.min(1.0,
        counts.getOrElse(SeqIO.fileBasename(f.path), 0L).toDouble / f.records)
      assert(math.abs(p(f) - want) < 1e-9,
        s"pressure(${f.path}) = ${p(f)}, want $want (dv count exact, no estimation)")
    }
    assert(table.liveFiles(snap).exists(f => p(f) > 0.2), "a laden file must score high")
  }

  test("concurrent dv deletes: four disjoint bands race through the CAS, union applied") {
    val table = fresh("race", n = 4000, files = 20)
    val bands = Seq((16, 200), (400, 600), (800, 1000), (1200, 1400))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bands.map { case (lo, hi) =>
      new Thread(() => {
        try Dml.deleteWhere(spark, table, col("n_tok").between(lo, hi), cfg, 1000, dv = true)
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"a metadata-only dv delete lost its race permanently: ${errs.peek()}")
    val bandPred = bands.map { case (lo, hi) => col("n_tok").between(lo, hi) }.reduce(_ || _)
    val after = SeqIO.read(spark, table)
    assert(after.filter(bandPred).count() == 0, "a raced dv delete was lost")
    assert(after.count() == 4000 - SeqIO.readAt(spark, table, 1).filter(bandPred).count())
  }

  test("dv deletes racing compaction: commits land cleanly or refuse loudly, never silent loss") {
    val table = fresh("race2", n = 4000, files = 40)
    val bands = Seq((16, 300), (600, 900), (1300, 1600))
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val deleter = new Thread(() => bands.foreach { case (lo, hi) =>
      try {
        Dml.deleteWhere(spark, table, col("n_tok").between(lo, hi), cfg, 1000, dv = true)
        landed.add((lo, hi)); ()
      } catch { case _: table.CommitConflictException => () } // loud refusal is a legal outcome
    })
    val compactor = new Thread(() => (1 to 3).foreach { _ =>
      try { Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000); () }
      catch { case _: table.CommitConflictException => () }
    })
    deleter.start(); compactor.start(); deleter.join(); compactor.join()
    import scala.jdk.CollectionConverters._
    val ok = landed.asScala.toSeq
    val after = SeqIO.read(spark, table)
    if (ok.nonEmpty) {
      val pred = ok.map { case (lo, hi) => col("n_tok").between(lo, hi) }.reduce(_ || _)
      assert(after.filter(pred).count() == 0,
        s"a COMMITTED dv delete's rows resurrected under a racing compaction: $ok")
      assert(after.count() == 4000 - SeqIO.readAt(spark, table, 1).filter(pred).count())
    } else assert(after.count() == 4000)
  }

  test("housekeeping retires a DEAD dv manifest individually while a live one keeps applying") {
    val table = fresh("retire")
    // DV1 over band1; then compact exactly DV1's target files → DV1's basenames all die
    Dml.deleteWhere(spark, table, col("n_tok") < 400, cfg, 1000, dv = true)
    val dv1 = SeqIO.dvManifestsOf(table.currentSnapshot())
    import scala.jdk.CollectionConverters._
    val dv1Targets = dv1.flatMap { m =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table.deleteManifestPath(m))).asScala
        .map(l => graft.table.Dv.parseLineHeader(l)._1)
    }.toSet
    val laden = table.liveFiles().filter(f => dv1Targets(SeqIO.fileBasename(f.path)))
    assert(laden.nonEmpty)
    Rewrite.compactFiles(spark, table, laden, cfg, 1000)
    // DV2 over a band of the rewritten (live) files → a LIVE dv manifest alongside dead DV1
    Dml.deleteWhere(spark, table, col("n_tok") > 1600, cfg, 1000, dv = true)
    val snap = table.currentSnapshot()
    assert(SeqIO.dvManifestsOf(snap).toSet.intersect(dv1.toSet) == dv1.toSet,
      "dead DV1 must still be carried before housekeeping")
    val want = SeqIO.read(spark, table).count()
    val s = MaterializeDeletes.dropObsolete(spark, table)
    assert(s.isDefined, "partial retirement must commit")
    val after = table.currentSnapshot()
    assert(SeqIO.dvManifestsOf(after).toSet.intersect(dv1.toSet).isEmpty, "DV1 must retire")
    assert(SeqIO.dvManifestsOf(after).nonEmpty, "live DV2 must survive")
    assert(SeqIO.read(spark, table).count() == want, "retirement must not change content")
    assert(SeqIO.read(spark, table)
      .filter(col("n_tok") < 400 || col("n_tok") > 1600).count() == 0)
  }

  test("housekeeping on the executor route retires the same DEAD dv manifest, parsing none") {
    val table = fresh("retire-dist")
    Dml.deleteWhere(spark, table, col("n_tok") < 400, cfg, 1000, dv = true)
    val dv1 = SeqIO.dvManifestsOf(table.currentSnapshot())
    val dv1Targets = graft.table.Dv.headers(table, dv1).map(_._1).toSet
    Rewrite.compactFiles(spark, table,
      table.liveFiles().filter(f => dv1Targets(SeqIO.fileBasename(f.path))), cfg, 1000)
    Dml.deleteWhere(spark, table, col("n_tok") > 1600, cfg, 1000, dv = true)
    val before = table.currentSnapshot().deleteManifests.toSet
    val cold = SeqTable.load(cloneTable(table.root))
    assert(MaterializeDeletes.dropObsolete(spark, table).isDefined)
    assert(MaterializeDeletes.dropObsolete(spark, cold, distributedMetaFiles = 0L).isDefined)
    assert(cold.manifestNarrowFileReads.get() === 0L, "parsed a narrow manifest on the driver")
    assert(cold.manifestFileReads.get() === 0L, "parsed a full manifest on the driver")
    val dropped = before -- table.currentSnapshot().deleteManifests
    assert(dropped === dv1.toSet)
    assert(before -- cold.currentSnapshot().deleteManifests === dropped)
    assert(SeqIO.read(spark, cold).count() === SeqIO.read(spark, table).count())
  }

  test("compaction materializes DVs (delete-aware rewrite) and reads stay correct") {
    val table = fresh("mat", n = 3000, files = 30)
    Dml.deleteWhere(spark, table, col("n_tok") < 700, cfg, 1000, dv = true)
    val want = SeqIO.read(spark, table).count()
    val wantHash = contentHash(SeqIO.read(spark, table))
    // full materialization drops every delete manifest in one atomic commit
    val s = MaterializeDeletes.run(spark, table, cfg, 1000)
    assert(s.isDefined)
    assert(table.currentSnapshot().deleteManifests.isEmpty)
    val after = SeqIO.read(spark, table)
    assert(after.count() == want && contentHash(after) == wantHash)
    assert(after.filter(col("n_tok") < 700).count() == 0)
  }
}
