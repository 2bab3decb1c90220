package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.MergeInto
import graft.planner.GridConfig
import graft.sources.Ingest

/** Branches — write-audit-publish generalized to a CHAIN: commits land on a branch's own CAS
  * lineage invisibly to main, the whole chain publishes atomically via fast-forward (refusing
  * loudly if main advanced past the fork), the fork-point version is retention-pinned like a
  * tag, and branch data files are orphan-protected until the branch is dropped.
  */
class BranchSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"branch-$tag-").toString + "/t"

  private def hashOf(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val h = df.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"), lit(0L))).head()
    (h.getLong(0), h.getLong(1))
  }

  private def batch(prefix: String, n: Long) = SeqGen.table(spark, n, parts = 1)
    .withColumn("doc_id", concat(lit(prefix), col("doc_id")))

  test("branch lifecycle: invisible multi-commit chain, fast-forward publishes atomically") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("life"), 600, 5)
    val vBase = table.currentVersion()
    val mainBefore = hashOf(SeqIO.read(spark, table))

    table.createBranch("audit")
    assert(table.branchNames() === Seq("audit"))
    Ingest.appendToBranch(spark, table, "audit", batch("a-", 40))
    Ingest.appendToBranch(spark, table, "audit", batch("b-", 30))
    // main: untouched in version AND content; branch: base ∪ both commits
    assert(table.currentVersion() === vBase, "branch commits must not advance main")
    assert(hashOf(SeqIO.read(spark, table)) === mainBefore)
    val br = SeqIO.readBranch(spark, table, "audit")
    assert(br.count() === 670)
    assert(table.branchHead("audit").version === vBase + 2)

    // publish: ONE main commit adopting the chain; content becomes the branch head's
    val ff = table.fastForward("audit")
    // an append-only chain publishes as an append-family commit (the changelog contract)
    assert(ff.version === vBase + 1 && ff.operation === "append" &&
      ff.summary.get("fast-forward-branch").contains("audit"))
    assert(hashOf(SeqIO.read(spark, table)) === hashOf(br))
    assert(table.currentVersion() === vBase + 1)

    // an empty branch fast-forwards as a no-op
    table.createBranch("empty")
    assert(table.fastForward("empty").version === table.currentVersion())
    table.dropBranch("audit"); table.dropBranch("empty")
    assert(table.branchNames().isEmpty)
    intercept[IllegalArgumentException](table.branchHead("audit"))
    intercept[IllegalArgumentException](table.dropBranch("audit"))
  }

  test("fast-forward refuses loudly when main advanced past the fork point") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("race"), 300, 3)
    table.createBranch("audit")
    intercept[Exception](table.createBranch("audit")) // EEXIST-atomic duplicate create
    Ingest.appendToBranch(spark, table, "audit", batch("x-", 20))
    Ingest.append(spark, table, batch("m-", 10)) // main moves on
    val e = intercept[IllegalArgumentException](table.fastForward("audit"))
    assert(e.getMessage.contains("advanced"), s"got: ${e.getMessage}")
    // recovery: re-fork from the new head and replay, then publish
    table.dropBranch("audit")
    table.createBranch("audit")
    Ingest.appendToBranch(spark, table, "audit", batch("x-", 20))
    table.fastForward("audit")
    assert(SeqIO.read(spark, table).filter(col("doc_id").startsWith("x-")).count() === 20)
  }

  test("publish re-stamps branch addedAt below the main head: later MoR deletes apply; " +
      "append-only publishes feed the append changelog") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("restamp"), 300, 3)
    val fork = table.currentVersion()
    table.createBranch("audit")
    Ingest.appendToBranch(spark, table, "audit", batch("p-", 30))
    Ingest.appendToBranch(spark, table, "audit", batch("q-", 20)) // branch stamps fork+1, fork+2
    val pub = table.fastForward("audit")
    // adopted entries must be stamped AT the publish version, never above the main head —
    // an addedAt > head breaks `_del_seq > _added` for the NEXT MoR commit
    val stamps = table.liveFiles(pub).map(_.addedAt).toSet
    assert(pub.version === fork + 1 && stamps.max === pub.version,
      s"adopted files must carry addedAt <= publish version, got $stamps")
    // an append-only publish IS an append: the incremental scan delivers exactly the chain
    val appended = SeqIO.readAppendedBetween(spark, table, fork, table.currentVersion())
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(appended.count(_.startsWith("p-")) === 30 && appended.count(_.startsWith("q-")) === 20
      && appended.size === 50, "append-only fast-forward must feed the append changelog")
    // the regression scenario: a MoR delete right after the publish must hide published rows
    val victims = SeqIO.read(spark, table).filter(col("doc_id").startsWith("p-"))
      .select("doc_id", "tokens", "n_tok", "source").withColumn("_op", lit("D"))
    MergeInto.merge(spark, table, victims, cfg, 500, mor = true)
    assert(SeqIO.read(spark, table).filter(col("doc_id").startsWith("p-")).count() === 0,
      "published-then-MoR-deleted rows must not resurrect (addedAt re-stamp)")
    table.dropBranch("audit")

    // a branch carrying its OWN delete manifests refuses publish loudly
    table.createBranch("mor")
    val delKeys = SeqIO.read(spark, table).select("doc_id").limit(5)
    val dms = SeqIO.writeDeleteManifests(spark, table, delKeys, table.currentVersion() + 2)
    table.commit("merge-mor", Nil, Set.empty, addedDeleteManifests = dms, ref = "mor")
    val e = intercept[IllegalArgumentException](table.fastForward("mor"))
    assert(e.getMessage.contains("delete manifests"), s"got: ${e.getMessage}")
    table.dropBranch("mor")
  }

  test("concurrent branch appends all land exactly once through the per-branch CAS rebase") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("cas"), 200, 2)
    val fork = table.currentVersion()
    table.createBranch("hot")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val done = new CountDownLatch(4)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 4).foreach { i =>
      val b = batch(s"c$i-", 10).persist(); b.count()
      pool.execute(() => {
        gate.await(30, TimeUnit.SECONDS)
        try Ingest.appendToBranch(spark, table, "hot", b)
        catch { case t: Throwable => failures.add(t) }
        finally { b.unpersist(); done.countDown() }
      })
    }
    gate.countDown()
    assert(done.await(300, TimeUnit.SECONDS), "branch appends must finish")
    pool.shutdown()
    assert(failures.isEmpty, s"concurrent branch appends must all succeed: ${failures.peek()}")
    assert(table.branchHead("hot").version === fork + 4,
      "each racer must land as its own branch commit (CAS rebase, no lost commits)")
    val ids = SeqIO.readBranch(spark, table, "hot")
      .filter(col("doc_id").rlike("^c[1-4]-")).count()
    assert(ids === 40, "every racer's batch lands exactly once")
    assert(table.currentVersion() === fork, "main must be untouched by the race")
    table.fastForward("hot")
    assert(SeqIO.read(spark, table).count() === 240)
  }

  test("the fork-point version is retention-pinned on both expiry paths; drop releases it") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("pin"), 500, 4)
    val vBase = table.currentVersion()
    table.createBranch("slow-audit")
    Ingest.appendToBranch(spark, table, "slow-audit", batch("s-", 25))
    val brHash = hashOf(SeqIO.readBranch(spark, table, "slow-audit"))

    // churn main way past keepLast, expire on BOTH paths: the fork version must survive
    (1 to 3).foreach { _ =>
      val c = SeqGen.changeSet(spark, 500, changes = 80, deletes = 20).persist()
      MergeInto.merge(spark, table, c, cfg, 500); c.unpersist()
    }
    val (e1, _) = table.expireSnapshots(keepLast = 1)
    assert(e1.nonEmpty && !e1.contains(vBase), "driver expiry must pin the fork version")
    val c = SeqGen.changeSet(spark, 500, changes = 40, deletes = 0).persist()
    MergeInto.merge(spark, table, c, cfg, 500); c.unpersist()
    val (e2, _) = SeqIO.expireSnapshotsDistributed(spark, table, keepLast = 1)
    assert(!e2.contains(vBase), "distributed expiry must pin the fork version")
    assert(hashOf(SeqIO.readBranch(spark, table, "slow-audit")) === brHash,
      "the branch must stay byte-identically readable through expiry churn")

    // orphan sweep must spare branch files while the branch lives, reap them after drop
    assert(table.removeOrphans(olderThanMs = 0L).isEmpty,
      "orphan sweep must spare live-branch files")
    table.dropBranch("slow-audit")
    assert(table.removeOrphans(olderThanMs = 0L).nonEmpty,
      "dropped-branch files must become reapable orphans")
    val (e3, _) = table.expireSnapshots(keepLast = 1)
    assert(e3.contains(vBase), "dropping the branch releases the fork version to expiry")
  }
}
