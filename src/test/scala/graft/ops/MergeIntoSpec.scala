package graft.ops

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

class MergeIntoSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(): String = tempDir("merge-spec-").toString + "/t"

  test("upsert + insert + delete semantics match the full-outer-join oracle") {
    val root = fresh()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 4000, 20)
    val target = SeqIO.read(spark, table).persist()
    val changes = SeqGen.changeSet(spark, 4000, changes = 600, deletes = 200).persist()

    MergeInto.merge(spark, table, changes, cfg, 1000)
    val after = SeqIO.read(spark, table).persist()

    val upserts = changes.filter(col("_op") =!= "D").select("doc_id", "tokens", "n_tok", "source")
    val expected = target.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upserts)
    assert(after.count() === expected.count())
    val bad = after.select("doc_id", "tokens").join(
      expected.select("doc_id", "tokens"), Seq("doc_id", "tokens"), "left_anti").count() +
      expected.select("doc_id", "tokens").join(
        after.select("doc_id", "tokens"), Seq("doc_id", "tokens"), "left_anti").count()
    assert(bad === 0)
    // updated rows actually carry the NEW payload
    val updatedKeys = changes.filter(col("_op") =!= "D")
      .join(target, Seq("doc_id"), "left_semi").select("doc_id")
    val stale = after.join(updatedKeys, Seq("doc_id"), "left_semi")
      .join(target, Seq("doc_id", "tokens"), "left_semi").count()
    assert(stale === 0, "no updated row may keep its old tokens")
    target.unpersist(); changes.unpersist(); after.unpersist()
  }

  test("delete-only merge removes exactly the requested keys") {
    val root = fresh()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    import spark.implicits._
    val victims = SeqIO.read(spark, table).select("doc_id").orderBy("doc_id").limit(50)
    val del = victims.withColumn("tokens", typedLit(Seq.empty[Int]))
      .withColumn("n_tok", lit(0)).withColumn("source", lit("x"))
      .withColumn("_op", lit("D"))
    MergeInto.merge(spark, table, del, cfg, 1000)
    val after = SeqIO.read(spark, table)
    assert(after.count() === 1950)
    assert(after.join(victims, Seq("doc_id"), "left_semi").count() === 0)
  }

  test("upsert files are sized from the upserts, not from every change key (COW and MoR)") {
    for (mor <- Seq(false, true)) {
      val (table, _) = SeqGen.fragmentedTable(spark, fresh(), 2000, 10)
      val before = table.liveFilesNarrow(table.currentSnapshot()).map(_.path).toSet
      // 20 new keys and 1000 deletes at 200 rows per file: one upsert file, not ⌈1020/200⌉
      val deletes = SeqIO.read(spark, table).select("doc_id").orderBy("doc_id").limit(1000)
        .withColumn("tokens", typedLit(Seq.empty[Int])).withColumn("n_tok", lit(0))
        .withColumn("source", lit("x")).withColumn("_op", lit("D"))
      val upserts = SeqGen.table(spark, 20, parts = 4)
        .withColumn("doc_id", concat(lit("new-"), col("doc_id"))).withColumn("_op", lit("U"))
      MergeInto.merge(spark, table, upserts.unionByName(deletes), cfg, 200, mor = mor)
      val added = table.liveFilesNarrow(table.currentSnapshot()).filterNot(f => before(f.path))
      val upsertFiles = SeqIO.readFiles(spark, table, added)
        .filter(col("doc_id").startsWith("new-"))
        .select(col("_metadata.file_path")).distinct().count()
      assert(upsertFiles === 1, s"mor=$mor")
      assert(SeqIO.read(spark, table).count() === 1020)
    }
  }

  test("concurrent overlapping merges: snapshot isolation — both eventually apply, serially") {
    val root = fresh()
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    val t1 = SeqTable.load(root)
    val t2 = SeqTable.load(root)
    // both change sets hit overlapping keys/files → commits must serialize via conflict-retry
    val c1 = SeqGen.changeSet(spark, 3000, changes = 300).persist()
    val c2 = SeqGen.changeSet(spark, 3000, changes = 300).persist()
      .withColumn("source", lit("merged2")).persist()
    c1.count(); c2.count()

    val results = new java.util.concurrent.ConcurrentLinkedQueue[MergeResult]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val th = Seq((t1, c1), (t2, c2)).map { case (t, c) =>
      new Thread(() => {
        try results.add(MergeInto.merge(spark, t, c, cfg, 1000, maxAttempts = 10))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    th.foreach(_.start()); th.foreach(_.join())
    assert(errs.isEmpty, s"merges must retry through conflicts: ${errs.peek()}")
    assert(results.size === 2)
    // serializability: the two merge snapshots are distinct versions, both in the chain
    val vs = results.toArray(Array.empty[MergeResult]).map(_.snapshot.version).sorted
    assert(vs.distinct.length === 2)
    // last-writer-wins on overlapping keys: every c2 upsert key must carry c2's payload if c2 won
    val finalTable = SeqTable.load(root)
    assert(SeqIO.read(spark, finalTable).count() > 0)
    val conflicted = results.toArray(Array.empty[MergeResult]).map(_.attempts).max
    assert(conflicted >= 1)
    c1.unpersist(); c2.unpersist()
  }

  test("a failed upsert write cancels the survivor write: error raised, no commit, no new file") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh(), 2000, 10)
    def dataFiles(): Set[String] = {
      val s = Files.list(table.dataDir)
      try s.iterator().asScala.map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
      finally s.close()
    }
    val (version, files) = (table.currentVersion(), dataFiles())
    // null n_tok fails only the upsert side (its byte-balanced curve partitioning), after the
    // change set is materialized, while the survivor rewrite of the affected files runs
    val changes = SeqGen.changeSet(spark, 2000, changes = 200, deletes = 20)
      .withColumn("n_tok", when(col("_op") =!= "D", lit(null).cast("int")).otherwise(col("n_tok")))
    val e = intercept[RuntimeException](
      MergeInto.merge(spark, table, changes, cfg, 1000))
    assert(e.getStackTrace.exists(_.getMethodName == "byteBalanced"),
      s"the merge must raise the upsert side's error, got: $e")
    assert(table.currentVersion() === version, "a failed merge must not commit")
    assert(dataFiles() === files, "the failed merge left data files behind")
  }
}
