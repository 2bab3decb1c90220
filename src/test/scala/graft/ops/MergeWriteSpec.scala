package graft.ops

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{FileMeta, SeqIO, SeqTable}

/** The session's file commit protocol, counting the write jobs that instantiate it. */
class CountingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  CountingCommitProtocol.instances.incrementAndGet()
}

object CountingCommitProtocol {
  val instances = new AtomicInteger
}

/** A copy-on-write MERGE writes its survivors and its upserts with one write: one SQL execution
  * and one commit protocol, and the files the two separate writes would have written.
  */
class MergeWriteSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()
  private val target = 500L

  /** Merges a staged change set into `table` on a session of its own and checks the write count
    * and the committed files against the two-write reference, computed on a copy of the table.
    */
  private def checkOneWrite(table: SeqTable, n: Long): Unit = {
    val copy = cloneTable(table.root)
    // staged through parquet, as a change feed delivers it: nullable columns, like the survivors
    val staged = tempDir("merge-write-changes-").resolve("c").toString
    SeqGen.changeSet(spark, n, changes = 300, deletes = 60).write.parquet(staged)

    val session = spark.newSession()
    session.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[CountingCommitProtocol].getName)
    val writes = new AtomicInteger
    val counter = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "parquet") writes.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (funcName == "parquet") writes.incrementAndGet()
    }
    val before = table.liveFiles().map(_.path).toSet
    val committers0 = CountingCommitProtocol.instances.get
    session.listenerManager.register(counter)
    // the barrier job waits until the bus has delivered the merge's execution events
    val r = try SparkTestSession.withListener(new org.apache.spark.scheduler.SparkListener {})(
      MergeInto.merge(session, table, session.read.parquet(staged), cfg, target))
    finally session.listenerManager.unregister(counter)
    assert(r.attempts === 1)
    assert(writes.get === 1, "one write SQL execution per COW attempt")
    assert(CountingCommitProtocol.instances.get - committers0 === 1,
      "one commit protocol per COW attempt")

    val live = table.liveFiles()
    val removed = before -- live.map(_.path)
    // the merge's written files, in written order: one batch, numbered in write order
    val committed = live.filterNot(f => before(f.path)).sortBy(_.path)

    val ref = SeqTable.load(copy)
    val changes = spark.read.parquet(staged)
    val affected = ref.liveFiles().filter(f => removed(f.path))
    assert(affected.nonEmpty && affected.size === removed.size)
    val keys = changes.select(col("doc_id").as("c_doc_id")).distinct()
    val survivors = SeqIO.readWithDeletes(spark, ref, ref.currentSnapshot(), affected,
      shape = SeqIO.ScanShape.FilePerTask)
      .join(broadcast(keys), col("doc_id") === col("c_doc_id"), "left_anti")
    val upserts = changes.filter(col("_op") =!= "D")
      .select(ref.currentSchema().fieldNames.toSeq.map(col): _*)
    val expected =
      SeqIO.writeFiles(spark, ref, survivors, clustered = affected.forall(_.clustered)) ++
        Rewrite.clusteredWrite(spark, ref, upserts, cfg, target, keys.count())

    def content(fs: Seq[FileMeta]) = fs.map(_.copy(path = "", addedAt = 0L))
    assert(committed.size === expected.size)
    assert(content(committed) === content(expected))
    assert(committed.map(_.records).sum === r.recordsWritten)
  }

  test("a COW merge of unclustered files writes survivors and upserts as one write") {
    val (table, _) = SeqGen.fragmentedTable(spark, tempDir("merge-write-frag-").toString + "/t",
      3000, 12)
    checkOneWrite(table, 3000)
    // the survivors keep their sources' flag, the upserts are clustered: both flags were written
    val flags = table.liveFiles().map(_.clustered)
    assert(flags.contains(true) && flags.contains(false))
  }

  test("a COW merge of clustered files writes survivors and upserts as one write") {
    val table = SeqTable.create(tempDir("merge-write-clustered-").toString + "/t")
    table.commit("append", Rewrite.clusteredWrite(spark, table,
      SeqGen.table(spark, 3000, parts = 4), cfg, target, 3000), Set.empty)
    checkOneWrite(table, 3000)
    assert(table.liveFiles().forall(_.clustered))
  }
}
