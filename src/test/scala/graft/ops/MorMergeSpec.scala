package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

class MorMergeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def freshPair(rows: Long, files: Int): (SeqTable, SeqTable) = {
    val a = tempDir("mor-a-").toString + "/t"
    val b = tempDir("mor-b-").toString + "/t"
    (SeqGen.fragmentedTable(spark, a, rows, files)._1, SeqGen.fragmentedTable(spark, b, rows, files)._1)
  }

  private def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
    a.select("doc_id", "tokens").join(b.select("doc_id", "tokens"),
      Seq("doc_id", "tokens"), "left_anti").count() +
      b.select("doc_id", "tokens").join(a.select("doc_id", "tokens"),
        Seq("doc_id", "tokens"), "left_anti").count()

  test("merge-on-read produces exactly the same table state as copy-on-write") {
    val (tCow, tMor) = freshPair(3000, 15)
    val changes = SeqGen.changeSet(spark, 3000, changes = 500, deletes = 150).persist()
    MergeInto.merge(spark, tCow, changes, cfg, 1000)
    val r = MergeInto.merge(spark, tMor, changes, cfg, 1000, mor = true)
    assert(r.filesRewritten === 0, "MoR must not rewrite any target file")
    assert(tMor.currentSnapshot().deleteManifests.nonEmpty)
    assert(diff(SeqIO.read(spark, tCow), SeqIO.read(spark, tMor)) === 0)
    assert(SeqIO.read(spark, tCow).count() === SeqIO.read(spark, tMor).count())
    changes.unpersist()
  }

  test("pruned scans honor MoR deletes; updated keys show only the new payload") {
    val root = tempDir("mor-scan-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    val before = SeqIO.read(spark, table).persist()
    val changes = SeqGen.changeSet(spark, 2000, changes = 300, deletes = 100).persist()
    MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    val after = SeqIO.read(spark, table).persist()
    // no key appears twice (old version hidden by the delete seq rule)
    assert(after.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
    // deleted keys gone
    val delKeys = changes.filter(col("_op") === "D").select(col("doc_id"))
    assert(after.join(delKeys, Seq("doc_id"), "left_semi").count() === 0)
    // pruned scan agrees with full read under the same predicate
    val (df, _) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
    val want = after.filter(col("source") === "src0" && col("n_tok").between(256, 1024)).count()
    assert(df.count() === want)
    before.unpersist(); changes.unpersist(); after.unpersist()
  }

  test("sequential MoR merges: later delete sequences supersede earlier upserts") {
    val root = tempDir("mor-seq-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 1000, 5)
    import spark.implicits._
    val key = SeqIO.read(spark, table).select("doc_id").orderBy("doc_id").as[String].head()
    def upsert(tok: Int) = Seq((key, Seq(tok), 1, "srcX", "U"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    MergeInto.merge(spark, table, upsert(111), cfg, 1000, mor = true)
    MergeInto.merge(spark, table, upsert(222), cfg, 1000, mor = true)
    val rows = SeqIO.read(spark, table).filter(col("doc_id") === key).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[scala.collection.Seq[Int]]("tokens") === Seq(222))
  }

  test("materialize-deletes restores the no-delete fast path with identical content") {
    val root = tempDir("mor-mat-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    val changes = SeqGen.changeSet(spark, 2000, changes = 300, deletes = 100).persist()
    MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    val logical = SeqIO.read(spark, table).persist()
    val lcount = logical.count()
    val snap = MaterializeDeletes.run(spark, table, cfg, 1000)
    assert(snap.nonEmpty)
    assert(table.currentSnapshot().deleteManifests.isEmpty)
    val physical = SeqIO.read(spark, table)
    assert(physical.count() === lcount)
    assert(diff(logical, physical) === 0)
    // compaction after materialization keeps content stable too
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    assert(diff(logical, SeqIO.read(spark, table)) === 0)
    logical.unpersist(); changes.unpersist()
  }

  test("concurrent MoR merges both land via version-race retry") {
    val root = tempDir("mor-conc-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 8)
    val t1 = SeqTable.load(root)
    val t2 = SeqTable.load(root)
    val c1 = SeqGen.changeSet(spark, 2000, changes = 200).persist(); c1.count()
    val c2 = SeqGen.changeSet(spark, 2000, changes = 200)
      .withColumn("source", lit("m2")).persist(); c2.count()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val th = Seq((t1, c1), (t2, c2)).map { case (t, c) =>
      new Thread(() => {
        try { MergeInto.merge(spark, t, c, cfg, 1000, maxAttempts = 10, mor = true); () }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    th.foreach(_.start()); th.foreach(_.join())
    assert(errs.isEmpty, s"${errs.peek()}")
    val t = SeqTable.load(root)
    assert(t.currentSnapshot().deleteManifests.size === 2)
    assert(SeqIO.read(spark, t).groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
    c1.unpersist(); c2.unpersist()
  }

  test("dropObsolete reuses the planned delete keys until a MoR merge changes the .keys set") {
    import graft.SparkTestSession.{inGroup, jobGroups}
    import graft.table.KeyPrune
    val t = SeqGen.fragmentedTable(spark, tempDir("mor-drop-").toString + "/t", 2000, 10)._1
    MergeInto.merge(spark, t, SeqGen.changeSet(spark, 2000, changes = 40, deletes = 30), cfg,
      1000, mor = true)
    val planned = t.currentSnapshot()
    val keys = KeyPrune.KeySet.deletedIn(spark, t, planned)
    // rewrite every file an equality delete applies to: the planned keys now hit no live file
    Rewrite.compactFiles(spark, t,
      MaterializeDeletes.candidateFiles(spark, t, planned, Left(t.liveFiles(planned))), cfg, 1000)
    assert(SeqIO.keyManifestsOf(t.currentSnapshot()) === SeqIO.keyManifestsOf(planned))

    // unchanged `.keys` manifests: the planned set serves, and the driver route starts no job
    val copy = SeqTable.load(cloneTable(t.root))
    val collecting = SeqTable.load(cloneTable(copy.root))
    val group = s"drop-${java.util.UUID.randomUUID()}"
    var reused: Option[graft.table.Snapshot] = None
    val groups = jobGroups {
      reused = inGroup(group)(MaterializeDeletes.dropObsolete(spark, copy,
        planned = Some(planned -> keys)))
    }
    assert(groups.count(_ == group) === 0, s"jobs: $groups")
    assert(reused.map(_.deleteManifests) === Some(Nil))
    assert(MaterializeDeletes.dropObsolete(spark, collecting).map(_.deleteManifests) ===
      Some(Nil))

    // a MoR merge adds a `.keys` manifest after planning: the keys are collected afresh, so its
    // deletes (pending on files the stale set does not name) keep their manifest
    MergeInto.merge(spark, t, SeqGen.changeSet(spark, 1500, changes = 60, deletes = 40), cfg,
      1000, mor = true)
    val head = t.currentSnapshot()
    assert(SeqIO.keyManifestsOf(head).size === 2)
    val want = SeqIO.read(spark, t).count()
    assert(MaterializeDeletes.dropObsolete(spark, t, planned = Some(planned -> keys)).isEmpty)
    assert(t.currentSnapshot().deleteManifests === head.deleteManifests)
    assert(SeqIO.read(spark, t).count() === want)
  }
}
